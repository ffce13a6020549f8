"""Parquet table registry for the driver's testdata star schema.

Columnar scans with Catalyst pushdown/pruning; one call registers temp views
so SQL-form queries work too. At cluster scale the same API reads
``s3a://bucket/prefix`` — path in, DataFrame out, no staging step (replaces
the reference's aws-cp + gunzip staging at /root/reference/build.sh:75-76).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..schemas import TESTDATA_TABLES

#: (table, column) pairs whose parquet type is TIMESTAMP_NS (arriving
#: as long under nanosAsLong) and must normalize to microsecond
#: TIMESTAMP in load_table
NANOS_TS_COLUMNS = {("events", "ts")}

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def widen_partitions(df: DataFrame) -> DataFrame:
    """Repartition up to the session's default parallelism when the input
    arrives narrow (single small parquet files plan as ONE partition
    locally, serializing downstream CPU-heavy work on one core).

    For use by CPU-bound operators (shingling, hashing, vector math) right
    above their scan — NOT as a blanket on every load: scan-bound queries
    only lose by paying an extra shuffle.

    Narrowness is detected via ``df.inputFiles`` — pure file-index
    metadata. Never use ``df.rdd.getNumPartitions()`` here: converting a
    DataFrame whose plan already contains an exchange to an RDD makes AQE
    finalize the plan, which EXECUTES every upstream query stage eagerly
    at plan-build time (measured: it silently re-ran a whole MinHash
    pipeline). At cluster scale inputs come pre-split into many files and
    this is a no-op.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        n_files = len(df.inputFiles())
    except Exception:
        return df
    if 0 < n_files < target:
        return df.repartition(target)
    return df


def _input_file_bytes(df: DataFrame) -> int:
    """Total size of the scan's input files — pure file-index metadata
    (the widen_partitions discipline: never touch df.rdd here).

    Returns 0 when the plan is not a file scan at all (derived/local
    frames), and -1 — UNKNOWN — when a scan exists but its sizes cannot
    be determined; callers sizing work from it must not read -1 as
    small. ``file:`` and bare paths stat locally; every other scheme
    (s3a://, hdfs://, viewfs://) stats through the Hadoop FileSystem
    API (metadata RPCs only; Hadoop caches one FS instance per scheme)."""
    try:
        files = df.inputFiles()
    except Exception:
        return -1  # cannot even enumerate: unknown
    total = 0
    remote: list[str] = []
    for f in files:
        if f.startswith("file:"):
            try:
                total += os.path.getsize(f.removeprefix("file:"))
            except OSError:
                return -1
        elif "://" not in f:  # bare local path
            try:
                total += os.path.getsize(f)
            except OSError:
                return -1
        else:
            remote.append(f)
    if remote:
        try:
            sess = df.sparkSession
            jvm = sess._jvm
            hconf = sess._jsc.hadoopConfiguration()
            for f in remote:
                p = jvm.org.apache.hadoop.fs.Path(f)
                fs = p.getFileSystem(hconf)
                total += fs.getFileStatus(p).getLen()
        except Exception:
            return -1  # unstatable remote scan: unknown
    return total


def load_table(spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    # nanosAsLong is a runtime-settable SQL conf; set it here (not only in
    # session.get_spark) so events.parquet (TIMESTAMP_NS) reads succeed even
    # when the caller hands us a bare SparkSession (e.g. the driver's oracle
    # harness builds its own session without our engine confs).
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass  # older Spark without the conf; the read below will surface it
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    # nanosecond-precision parquet timestamps arrive as long (see session.py
    # nanosAsLong); normalize to microsecond TIMESTAMP — same truncation
    # DuckDB applies when surfacing TIMESTAMP_NS values
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    for f in df.schema.fields:
        # keyed on the KNOWN nanos columns, not any LongType named ts:
        # a future table with a legitimate integer ts (epoch seconds, a
        # sequence counter) must not get silently divided by 1000
        if (
            (name, f.name) in NANOS_TS_COLUMNS
            and isinstance(f.dataType, T.LongType)
        ):
            # integer division: `/` would promote to double, which cannot
            # represent ~1.7e18 nanos exactly (off-by-1-microsecond drift)
            df = df.withColumn(
                "ts", F.timestamp_micros(F.expr("ts DIV 1000"))
            )
    return df


def load_tables(
    spark: SparkSession,
    sf_dir: str = DEFAULT_SF_DIR,
    names: list[str] | None = None,
    register_views: bool = False,
) -> dict[str, DataFrame]:
    out = {}
    # names=[] means NO tables (an empty dynamic selection), not all
    for name in names if names is not None else TESTDATA_TABLES:
        df = load_table(spark, name, sf_dir)
        if register_views:
            df.createOrReplaceTempView(name)
        out[name] = df
    return out
