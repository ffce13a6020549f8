"""The benchmark workloads.

Each workload has ``prepare`` (seeded inputs and expected outputs,
cached, untimed) and ``run_pass`` (one closed-loop pass through the
engine's public functions, untraced or with one span per public call,
followed by the output checks). A pass returns a ``PassResult`` with
its operations' outcomes.

Why these workloads:
  * region_build is the paper's own job: the reference's build.sh
    (long->wide pivot, extents, GEOID attribute join with decade slices,
    MVT tiles). Write-heavy; work sits in csv_io, pivot, extents,
    geojson and mvt, none in similarity or dedup.
  * llm_data runs the LLM-data operators region_build never touches, as
    two phases of one pass: corpus curation (read- and shuffle-heavy
    text work: Gopher, LM, dup-span and DSIR gates, MinHash-LSH and
    connected components, a JSONL sink), then ANN serving over a
    persisted IVF-PQ index with index writes (stream add, compaction)
    beside the query batches, so a change that trades query speed or
    recall against build or maintenance cost shows.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
from contextlib import nullcontext
from dataclasses import dataclass, field

import numpy as np
from pyspark import StorageLevel
from pyspark.sql import functions as F

import gen
import oracle
from spans import force

# Sizes are set by the run budget: 4 + 22 runs per workload must fit in
# 3420 s, so a run, JVM start included, gets about a minute on a 4-core
# box and measures one (cold) pass. Measured there, a region_build pass is
# mostly fixed per-job cost: a warm pass took 30 s at the tiny size (26
# places) and 33 s at this size (302 places). In a traced cold pass at
# this size the counties class's run_region phase took 42% of the pass
# and the states class's native tileset 26%.
SIZES = {
    "full": {
        "region_build": {
            "states": {"places": 52, "geoid_width": 2, "unmatched": 2,
                       "bbox": (-90.0, 30.0, -84.0, 35.0),
                       "run_region": False,
                       "tiles": {"bubble": (0, 5), "choropleth": (3, 5)}},
            "counties": {"places": 250, "geoid_width": 5, "unmatched": 5,
                         "bbox": (-100.0, 30.0, -80.0, 45.0),
                         "run_region": True, "tiles": None},
        },
        "llm_data": {
            "corpus_curation": {"docs": 1000},
            "ann_serve": {"base": 3000, "arrivals": 800, "dim": 32,
                          "queries": 128},
        },
    },
    "tiny": {
        "region_build": {
            "states": {"places": 6, "geoid_width": 2, "unmatched": 1,
                       "bbox": (-90.0, 30.0, -89.0, 31.0),
                       "run_region": False,
                       "tiles": {"bubble": (0, 2), "choropleth": (1, 2)}},
            "counties": {"places": 20, "geoid_width": 5, "unmatched": 2,
                         "bbox": (-100.0, 30.0, -98.0, 32.0),
                         "run_region": True, "tiles": None},
        },
        "llm_data": {
            "corpus_curation": {"docs": 400},
            "ann_serve": {"base": 600, "arrivals": 200, "dim": 16,
                          "queries": 4},
        },
    },
}

ANN_K = 10


@dataclass
class PassResult:
    wall_s: float = 0.0
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    recall_num: float = 0.0
    recall_den: float = 0.0

    def op(self, problems: list[str]) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems += problems


def _dir_bytes(path: str) -> int:
    total = 0
    for dp, _, fs in os.walk(path):
        for f in fs:
            total += os.path.getsize(os.path.join(dp, f))
    return total


def _persist(df):
    return force(df.persist(StorageLevel.MEMORY_AND_DISK))


class Workload:
    name = ""

    def __init__(self, spark, work: str, seed: int, size: str, corrupt: bool,
                 spec: dict | None = None):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.spec = spec if spec is not None else SIZES[size][self.name]
        # the spec's hash keeps a cache made under other sizes from being reused
        digest = hashlib.sha1(json.dumps(self.spec, sort_keys=True).encode()).hexdigest()
        self.key = f"{self.name}-{size}-{digest[:8]}-{seed}"
        self.corrupt = corrupt
        self.out = os.path.join(work, "out", f"{self.name}-{os.getpid()}")

    def fresh_out(self) -> str:
        shutil.rmtree(self.out, ignore_errors=True)
        os.makedirs(self.out)
        return self.out

    def output_bytes(self) -> int:
        return _dir_bytes(self.out)

    def cleanup(self) -> None:
        shutil.rmtree(self.out, ignore_errors=True)


# --------------------------------------------------------------------------

class RegionBuild(Workload):
    """The reference's build.sh loop over two region classes. The large
    class runs ``run_region`` (wide CSV, extents CSV, per-decade
    bubble/choropleth GeoJSONL); the small class builds its MVT tileset
    with ``build_tileset_native`` from the same pivot and attribute join
    (bubble from z0, choropleth over the class range)."""

    name = "region_build"

    def prepare(self) -> None:
        self.inp = gen.cached(
            os.path.join(self.work, "inputs"), self.key,
            lambda d: gen.region_inputs(d, self.seed, self.spec),
        )
        with open(os.path.join(self.inp, "meta.json")) as fh:
            self.meta = json.load(fh)
        for cls, spec in self.spec.items():
            if spec["run_region"]:
                gen.cached(
                    os.path.join(self.work, "expected"), f"{self.key}-{cls}",
                    lambda d, c=cls: oracle.region_expected(
                        os.path.join(self.inp, c, "long.csv"), d),
                )
        self.items = sum(s["places"] for s in self.spec.values())

    def _expected(self, cls: str, name: str) -> str:
        return os.path.join(self.work, "expected", f"{self.key}-{cls}", name)

    def run_pass(self, tracer=None) -> PassResult:
        from map_v2_etl_spark.plans.pipeline import build_wide, run_region, tile_layers
        from map_v2_etl_spark.plans.tileset import build_tileset_native
        from map_v2_etl_spark.sources.geojson import read_geojson

        out = self.fresh_out()
        res = PassResult()
        t0 = time.monotonic()
        produced = {}
        for cls, spec in self.spec.items():
            long_csv = os.path.join(self.inp, cls, "long.csv")
            shapes_path = os.path.join(self.inp, cls, "shapes.geojson")
            cls_out = os.path.join(out, cls)
            if tracer is not None:
                produced[cls] = self._traced_class(tracer, spec, long_csv, shapes_path, cls_out, cls)
                continue
            if spec["run_region"]:
                produced[cls] = run_region(
                    self.spark, long_csv, cls_out, "raw", geojson_path=shapes_path
                )
            if spec["tiles"]:
                wide = build_wide(self.spark, long_csv)
                shapes = read_geojson(self.spark, shapes_path, ["GEOID"])
                layers = tile_layers(wide, shapes, "raw")
                mb = os.path.join(out, f"{cls}.mbtiles")
                build_tileset_native(
                    self._tile_layers(cls, layers), mb, cls,
                    region="states", id_col="id",
                    layer_zooms=self._layer_zooms(cls, spec["tiles"]),
                )
                produced.setdefault(cls, {})["mbtiles"] = mb
            self.spark.catalog.clearCache()
        res.wall_s = time.monotonic() - t0
        if self.corrupt:
            self._corrupt(produced)
        res.op(self._check(produced, res))
        return res

    @staticmethod
    def _tile_layers(cls: str, layers: dict) -> dict:
        # the reference's merged tileset: choropleth layer = region name,
        # bubble layer = region-centers; latest decade slice
        return {cls: layers["choropleth/10-18"], f"{cls}-centers": layers["bubble/10-18"]}

    @staticmethod
    def _layer_zooms(cls: str, tiles: dict) -> dict:
        return {cls: tiles["choropleth"], f"{cls}-centers": tiles["bubble"]}

    def _traced_class(self, tracer, spec, long_csv, shapes_path, cls_out, cls) -> dict:
        from map_v2_etl_spark.operators.extents import column_extents
        from map_v2_etl_spark.operators.pivot import pivot_long_to_wide
        from map_v2_etl_spark.plans.pipeline import tile_layers
        from map_v2_etl_spark.plans.tileset import build_tileset_native
        from map_v2_etl_spark.schemas import long_schema
        from map_v2_etl_spark.sources.csv_io import read_long_csv, write_sorted_csv
        from map_v2_etl_spark.sources.geojson import read_geojson, write_geojsonl

        produced = {}
        with tracer.span("sources.csv_io.read_long_csv"):
            long_df = _persist(read_long_csv(self.spark, long_csv, long_schema("raw")))
        with tracer.span("operators.pivot.pivot_long_to_wide"):
            wide = _persist(pivot_long_to_wide(long_df, "raw"))
        if spec["run_region"]:
            os.makedirs(cls_out, exist_ok=True)
            produced["wide"] = os.path.join(cls_out, "data.wide.csv")
            with tracer.span("sources.csv_io.write_sorted_csv"):
                write_sorted_csv(wide, produced["wide"], ["GEOID"])
            with tracer.span("operators.extents.column_extents"):
                ext = _persist(column_extents(wide))
            produced["extents"] = os.path.join(cls_out, "extents.csv")
            with tracer.span("sources.csv_io.write_sorted_csv"):
                write_sorted_csv(ext, produced["extents"], None)
        with tracer.span("sources.geojson.read_geojson"):
            shapes = _persist(read_geojson(self.spark, shapes_path, ["GEOID"]))
        with tracer.span("plans.pipeline.tile_layers"):
            layers = {k: _persist(v) for k, v in tile_layers(wide, shapes, "raw").items()}
        if spec["run_region"]:
            for layer, df in layers.items():
                path = os.path.join(cls_out, "tiles", layer.replace("/", "_"))
                props = [c for c in df.columns if c != "geometry"]
                with tracer.span("sources.geojson.write_geojsonl"):
                    write_geojsonl(df, path, props, ["GEOID"])
                produced[layer] = path
        if spec["tiles"]:
            produced["mbtiles"] = os.path.join(os.path.dirname(cls_out), f"{cls}.mbtiles")
            with tracer.span("plans.tileset.build_tileset_native"):
                build_tileset_native(
                    self._tile_layers(cls, layers), produced["mbtiles"], cls,
                    region="states", id_col="id",
                    layer_zooms=self._layer_zooms(cls, spec["tiles"]),
                )
        self.spark.catalog.clearCache()
        return produced

    def _corrupt(self, produced: dict) -> None:
        for outs in produced.values():
            if "extents" in outs:
                with open(outs["extents"]) as fh:
                    lines = fh.read().splitlines()
                cells = lines[1].split(",")
                cells[2] = repr(float(cells[2] or 0) + 1.0)
                lines[1] = ",".join(cells)
                with open(outs["extents"], "w") as fh:
                    fh.write("\n".join(lines) + "\n")
                return

    def _check(self, produced: dict, res: PassResult) -> list[str]:
        bad = []
        for cls, spec in self.spec.items():
            outs = produced.get(cls, {})
            shape_ids = self.meta[cls]["shape_ids"]
            if spec["run_region"]:
                bad += oracle.check_wide(outs["wide"], self._expected(cls, "wide.parquet"))
                bad += oracle.check_extents(outs["extents"], self._expected(cls, "extents.parquet"))
                bad += oracle.check_geojsonl(
                    {k: v for k, v in outs.items() if "/" in k},
                    self._expected(cls, "wide.parquet"), shape_ids,
                )
            if spec["tiles"]:
                problems, share = oracle.check_mbtiles(
                    outs["mbtiles"], self._layer_zooms(cls, spec["tiles"]), shape_ids,
                )
                bad += problems
                res.recall_num += share
                res.recall_den += 1
        return bad


# --------------------------------------------------------------------------

class CorpusCuration(Workload):
    """Phase one of llm_data: the curation verdict (registry query
    ``curation_pipeline``), MinHash dup clusters (``dup_clusters``), then
    the kept cluster representatives written with ``write_jsonl``."""

    name = "corpus_curation"

    def prepare(self) -> None:
        n = self.spec["docs"]
        self.inp = gen.cached(
            os.path.join(self.work, "inputs"), self.key,
            lambda d: gen.corpus_inputs(d, self.seed, n),
        )
        self.docs_path = os.path.join(self.inp, "documents.parquet")
        exp = gen.cached(
            os.path.join(self.work, "expected"), self.key,
            lambda d: oracle.corpus_expected(self.docs_path, d),
        )
        self.verdict_path = os.path.join(exp, "verdict.parquet")
        with open(os.path.join(self.inp, "families.json")) as fh:
            self.families = json.load(fh)
        import pandas as pd

        docs = pd.read_parquet(self.docs_path, columns=["doc_id", "text"])
        self.texts = dict(zip(docs["doc_id"].tolist(), docs["text"].tolist()))
        self.items = n

    def run_pass(self, tracer=None) -> PassResult:
        from map_v2_etl_spark.operators.dedup import (
            connected_components,
            dup_clusters,
            minhash_lsh_pairs,
        )
        from map_v2_etl_spark.plans.queries_wave8 import q_curation_pipeline
        from map_v2_etl_spark.sources.jsonl import write_jsonl

        out = self.fresh_out()
        kept_path = os.path.join(out, "kept")
        res = PassResult()
        t0 = time.monotonic()
        docs = self.spark.read.parquet(self.docs_path)
        if tracer is None:
            verdict = q_curation_pipeline(self.spark, self.inp).collect()
            clusters = dup_clusters(docs, exact=False).collect()
        else:
            with tracer.span("plans.queries_wave8.curation_pipeline"):
                verdict = q_curation_pipeline(self.spark, self.inp).collect()
            with tracer.span("operators.dedup.minhash_lsh_pairs"):
                pairs = _persist(minhash_lsh_pairs(docs, 0.8))
            with tracer.span("operators.dedup.connected_components"):
                cc = _persist(connected_components(
                    None, pairs, id_col="id", src_col="id_a", dst_col="id_b"))
            clusters = (
                docs.select("doc_id")
                .join(cc.withColumnRenamed("id", "doc_id"), "doc_id", "left")
                .select("doc_id", F.coalesce("cluster", "doc_id").alias("cluster"))
                .collect()
            )
        cl = {int(r["doc_id"]): int(r["cluster"]) for r in clusters}
        keep = sorted(
            int(r["doc_id"]) for r in verdict
            if r["keep"] == 1 and cl.get(int(r["doc_id"])) == int(r["doc_id"])
        )
        ids = self.spark.createDataFrame([(d,) for d in keep], "doc_id long")
        kept = docs.join(ids, "doc_id")
        if tracer is None:
            write_jsonl(kept, kept_path)
        else:
            with tracer.span("sources.jsonl.write_jsonl"):
                write_jsonl(kept, kept_path)
        res.wall_s = time.monotonic() - t0
        self.spark.catalog.clearCache()

        rows = [tuple(r[c] for c in oracle.VERDICT_COLS) for r in verdict]
        if self.corrupt:
            rows[0] = rows[0][:-1] + (1 - rows[0][-1],)
        bad = oracle.check_verdict(rows, self.verdict_path)
        bad += oracle.check_clusters(cl, self.items, self.families)
        want = {int(r[0]) for r in rows if r[-1] == 1} & {d for d, c in cl.items() if d == c}
        bad += oracle.check_kept_jsonl(kept_path, want, self.texts)
        res.op(bad)
        return res


# --------------------------------------------------------------------------

class AnnServe(Workload):
    """Phase two of llm_data, over a persisted residual IVF-PQ index:
    build + write + read, one query batch, a maintenance cycle (stream
    add of held-back arrivals, then compaction), the same batch again."""

    name = "ann_serve"

    def prepare(self) -> None:
        s = self.spec
        self.inp = gen.cached(
            os.path.join(self.work, "inputs"), self.key,
            lambda d: gen.ann_inputs(
                d, self.seed, s["base"], s["arrivals"], s["dim"], s["queries"]),
        )
        vecs = np.load(os.path.join(self.inp, "vectors.npy"))
        with open(os.path.join(self.inp, "queries.json")) as fh:
            self.qids = json.load(fh)
        exp = gen.cached(
            os.path.join(self.work, "expected"), self.key,
            lambda d: oracle.ann_expected(vecs, self.qids, s["base"], d, ANN_K),
        )
        self.truth = {
            t: np.load(os.path.join(exp, f"truth_{t}.npy")) for t in ("before", "after")
        }
        self.unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
        self.qpos = {q: i for i, q in enumerate(self.qids)}

    def run_pass(self, tracer=None) -> PassResult:
        from map_v2_etl_spark.operators import similarity as S
        from map_v2_etl_spark.streaming.ann_maintenance import ann_index_stream_add

        out = self.fresh_out()
        idx = os.path.join(out, "index")
        res = PassResult()

        def span(name):
            return tracer.span(name) if tracer is not None else nullcontext()

        t0 = time.monotonic()
        base = self.spark.read.parquet(os.path.join(self.inp, "base.parquet"))
        arrivals = os.path.join(self.inp, "arrivals")
        with span("operators.similarity.ann_index_build"):
            index = S.ann_index_build(
                base, m=8, ksub=16, kmeans_cells=64, train_sample_mod=5)
            if tracer is not None:
                index["coded"] = _persist(index["coded"])
        with span("operators.similarity.ann_index_write"):
            S.ann_index_write(index, idx)
        index = S.ann_index_read(self.spark, idx)
        res.op([])
        n_before = self.spec["base"]
        self._query_batch(S, index, base, "before", n_before, res, span)
        with span("streaming.ann_maintenance.ann_index_stream_add"):
            ann_index_stream_add(self.spark, idx, arrivals)
        with span("operators.similarity.ann_index_compact"):
            index = S.ann_index_compact(self.spark, idx)
        n_after = n_before + self.spec["arrivals"]
        corpus = self.spark.read.parquet(os.path.join(self.inp, "base.parquet"), arrivals)
        self._query_batch(S, index, corpus, "after", n_after, res, span)
        res.wall_s = time.monotonic() - t0
        n_coded = index["coded"].count()
        res.op([] if n_coded == n_after else [f"index holds {n_coded} vectors, want {n_after}"])
        self.spark.catalog.clearCache()
        return res

    def _query_batch(self, S, index, corpus, tag, n_corpus, res, span) -> None:
        queries = corpus.filter(F.col("vec_id").isin(self.qids))
        with span("operators.similarity.ann_index_topk"):
            rows = S.ann_index_topk(
                index, queries, corpus, k=ANN_K, candidates=30, nprobe=4
            ).collect()
        if self.corrupt:
            rows = rows[1:]
        res.op(oracle.check_topk(rows, self.qids, self.unit, n_corpus, ANN_K))
        res.recall_num += oracle.recall_hits(rows, self.qids, self.truth[tag], self.qpos)
        res.recall_den += ANN_K * len(self.qids)


class LlmData(Workload):
    """The LLM-data operators in one closed loop: corpus curation, then
    ANN serving. One pass runs both phases; throughput counts the
    curated docs, and recall is the ANN recall@10 (the planted dup
    families are enforced exactly by the curation phase's cluster
    check)."""

    name = "llm_data"

    def __init__(self, spark, work, seed, size, corrupt):
        super().__init__(spark, work, seed, size, corrupt)
        self.phases = [
            cls(spark, work, seed, size, corrupt, self.spec[cls.name])
            for cls in (CorpusCuration, AnnServe)
        ]

    def prepare(self) -> None:
        for ph in self.phases:
            ph.prepare()
        self.items = self.phases[0].items

    def run_pass(self, tracer=None) -> PassResult:
        res = PassResult()
        for ph in self.phases:
            r = ph.run_pass(tracer)
            res.wall_s += r.wall_s
            res.attempted += r.attempted
            res.failed += r.failed
            res.problems += r.problems
            res.recall_num += r.recall_num
            res.recall_den += r.recall_den
        return res

    def output_bytes(self) -> int:
        return sum(ph.output_bytes() for ph in self.phases)

    def cleanup(self) -> None:
        for ph in self.phases:
            ph.cleanup()


WORKLOADS = {w.name: w for w in (RegionBuild, LlmData)}
