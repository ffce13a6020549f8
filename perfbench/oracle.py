"""Independent expected outputs and the output checks built on them.

Expected values are computed once per (workload, seed, size) and cached
beside the inputs: DuckDB for the pivot, extents and curation verdict,
NumPy for the ANN ground truth, the generator's own records for planted
duplicate families and tile features. Each check returns a list of
problems; an empty list means the output is correct.
"""

from __future__ import annotations

import glob
import gzip
import json
import math
import os
import sqlite3

import numpy as np

from map_v2_etl_spark.schemas import COL_MAPS, DECADES, ID_COLS, YEARS

_SHORT = {k: v for k, v in COL_MAPS["raw"].items() if k not in ID_COLS}
_YY = {y[-2:]: y for y in YEARS}


def _wide_columns() -> list[str]:
    return ["GEOID", "n", "pl"] + [
        f"{s}-{yy}" for s in _SHORT.values() for yy in _YY
    ]


# --------------------------------------------------------------------------
# region_build
# --------------------------------------------------------------------------

def region_expected(long_csv: str, out: str) -> None:
    """Wide table and extents of ``long_csv`` via DuckDB: one row per
    place sorted by GEOID, ``{short}-{yy}`` per metric-year, blank
    parent_location -> 'United States'; extents min/max and R-7
    (quantile_cont) 1st/99th percentiles per wide column."""
    import duckdb

    con = duckdb.connect()
    con.execute(
        f"CREATE TABLE l AS SELECT * FROM read_csv('{long_csv}', header=true,"
        " all_varchar=true)"
    )
    sel = [
        "id AS GEOID", "any_value(name) AS n",
        "coalesce(nullif(any_value(parent_location), ''), 'United States') AS pl",
    ]
    for long_name, short in _SHORT.items():
        for yy, year in _YY.items():
            sel.append(
                f"max(CASE WHEN year = '{year}' THEN "
                f"TRY_CAST(NULLIF({long_name}, '') AS DOUBLE) END) AS \"{short}-{yy}\""
            )
    con.execute(
        f"CREATE TABLE w AS SELECT {', '.join(sel)} FROM l GROUP BY id"
        " ORDER BY GEOID"
    )
    con.execute(f"COPY w TO '{out}/wide.parquet' (FORMAT parquet)")
    metric_cols = _wide_columns()[3:]
    parts = [
        f"SELECT {i} AS pos, '{c}' AS id, min(\"{c}\") AS min, max(\"{c}\") AS max,"
        f" quantile_cont(\"{c}\", 0.01) AS q1, quantile_cont(\"{c}\", 0.99) AS q99"
        " FROM w"
        for i, c in enumerate(metric_cols)
    ]
    con.execute(
        f"COPY (SELECT id, min, max, q1, q99 FROM ({' UNION ALL '.join(parts)})"
        f" ORDER BY pos) TO '{out}/extents.parquet' (FORMAT parquet)"
    )
    con.close()


def _num(cell: str) -> float:
    return math.nan if cell == "" else float(cell)


def _same(a: float, b: float, rel: float = 0.0) -> bool:
    if math.isnan(a) or math.isnan(b):
        return math.isnan(a) and math.isnan(b)
    return a == b or abs(a - b) <= rel * max(abs(a), abs(b))


def check_wide(path: str, expected: str) -> list[str]:
    import pandas as pd

    got = pd.read_csv(path, dtype=str, keep_default_na=False)
    want = pd.read_parquet(expected)
    if list(got.columns) != _wide_columns():
        return [f"{path}: header differs from the wide column list"]
    if list(got["GEOID"]) != list(want["GEOID"]):
        return [f"{path}: GEOID rows differ or are unsorted"]
    bad = []
    for c in ("n", "pl"):
        if list(got[c]) != list(want[c]):
            bad.append(f"{path}: column {c} differs")
    for c in got.columns[3:]:
        g = [_num(v) for v in got[c]]
        w = want[c].to_numpy(dtype="float64")
        if not all(_same(a, b) for a, b in zip(g, w)):
            bad.append(f"{path}: column {c} differs")
    return bad


def check_extents(path: str, expected: str) -> list[str]:
    import pandas as pd

    got = pd.read_csv(path, dtype=str, keep_default_na=False)
    want = pd.read_parquet(expected)
    if list(got.columns) != ["id", "min", "max", "q1", "q99"]:
        return [f"{path}: header is not id,min,max,q1,q99"]
    if list(got["id"]) != list(want["id"]):
        return [f"{path}: extents rows differ"]
    bad = []
    for c in ("min", "max", "q1", "q99"):
        g = [_num(v) for v in got[c]]
        w = want[c].to_numpy(dtype="float64")
        if not all(_same(a, b, 1e-9) for a, b in zip(g, w)):
            bad.append(f"{path}: extents column {c} differs")
    return bad


def check_geojsonl(
    layer_dirs: dict[str, str], expected: str, shape_ids: list[str],
) -> list[str]:
    """Each per-decade layer holds one feature per polygon, sorted by
    GEOID, carrying exactly its decade's variables with the wide
    table's values (null where the place has no data row)."""
    import pandas as pd

    from map_v2_etl_spark.schemas import BUBBLE_VARS, CHOROPLETH_VARS

    want = pd.read_parquet(expected).set_index("GEOID")
    bad = []
    for layer, d in layer_dirs.items():
        kind, dec = layer.split("/")
        vars_ = (BUBBLE_VARS if kind == "bubble" else CHOROPLETH_VARS)["raw"]
        cols = [f"{v}-{yy}" for v in vars_ for yy in DECADES[dec]]
        feats = []
        for p in sorted(glob.glob(os.path.join(d, "part-*"))):
            with open(p) as fh:
                feats += [json.loads(line) for line in fh if line.strip()]
        ids = [f["properties"]["GEOID"] for f in feats]
        if ids != sorted(shape_ids):
            bad.append(f"{d}: features differ from the polygons or are unsorted")
            continue
        for f in feats:
            props = f["properties"]
            gid = props["GEOID"]
            if set(props) != {"GEOID", "n", "pl", "id", *cols}:
                bad.append(f"{d}: {gid} carries the wrong properties")
                break
            row = want.loc[gid] if gid in want.index else None
            for c in cols:
                w = math.nan if row is None else float(row[c])
                g = math.nan if props[c] is None else float(props[c])
                if not _same(g, w):
                    bad.append(f"{d}: {gid} {c} differs")
                    break
            expect_kind = "Point" if kind == "bubble" else "Polygon"
            if f["geometry"]["type"] != expect_kind:
                bad.append(f"{d}: {gid} geometry is not a {expect_kind}")
            if bad:
                break
    return bad


def check_mbtiles(
    path: str, layer_zooms: dict[str, tuple[int, int]], shape_ids: list[str],
) -> tuple[list[str], float]:
    """Decode every tile with the engine's MVT decoder. Each layer must
    appear exactly at its zoom range, and at max zoom the feature ids of
    each layer must be the numeric GEOIDs of every polygon. Returns the
    problems and the share of (layer, feature) pairs found at max zoom."""
    from map_v2_etl_spark.sources.mvt import decode_tile

    want_ids = {int(g) for g in shape_ids}
    zooms: dict[str, set[int]] = {name: set() for name in layer_zooms}
    top: dict[str, set[int]] = {name: set() for name in layer_zooms}
    bad = []
    con = sqlite3.connect(path)
    try:
        rows = con.execute(
            "SELECT zoom_level, tile_data FROM tiles"
        ).fetchall()
    finally:
        con.close()
    for z, blob in rows:
        for layer in decode_tile(gzip.decompress(blob)):
            name = layer["name"]
            if name not in zooms:
                bad.append(f"{path}: unexpected layer {name}")
                continue
            zooms[name].add(z)
            if z == layer_zooms[name][1]:
                top[name].update(f["id"] for f in layer["features"])
    found = 0
    for name, (lo, hi) in layer_zooms.items():
        if zooms[name] != set(range(lo, hi + 1)):
            bad.append(f"{path}: layer {name} zooms {sorted(zooms[name])}")
        if top[name] != want_ids:
            bad.append(f"{path}: layer {name} feature ids differ at z{hi}")
        found += len(top[name] & want_ids)
    return bad, found / (len(want_ids) * len(layer_zooms))


# --------------------------------------------------------------------------
# corpus_curation
# --------------------------------------------------------------------------

VERDICT_COLS = ["doc_id", "keep_quality", "keep_dup", "keep_lm", "keep_domain", "keep"]


def corpus_expected(docs_parquet: str, out: str) -> None:
    """The registry's own DuckDB oracle SQL for curation_pipeline."""
    import duckdb

    import map_v2_etl_spark.plans.queries_wave8  # noqa: F401  (registers)
    from map_v2_etl_spark.plans.registry import REGISTRY

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs_parquet}')"
    )
    v = con.execute(REGISTRY["curation_pipeline"].oracle).df()
    con.close()
    v = v[VERDICT_COLS].sort_values("doc_id").astype("int64")
    v.to_parquet(os.path.join(out, "verdict.parquet"), index=False)


def check_verdict(rows: list[tuple], expected: str) -> list[str]:
    import pandas as pd

    want = pd.read_parquet(expected)
    got = sorted(tuple(int(x) for x in r) for r in rows)
    if got != [tuple(r) for r in want.itertuples(index=False)]:
        return ["curation verdict differs from the DuckDB oracle"]
    return []


def check_clusters(
    clusters: dict[int, int], n_docs: int, families: list[list[int]],
) -> list[str]:
    """Every planted family is one cluster named by its minimum doc id;
    every other doc is a singleton."""
    want = {d: d for d in range(n_docs)}
    for fam in families:
        for d in fam:
            want[d] = min(fam)
    return [] if clusters == want else ["dup clusters differ from the planted families"]


def check_kept_jsonl(path: str, want_ids: set[int], texts: dict[int, str]) -> list[str]:
    got = {}
    for p in glob.glob(os.path.join(path, "part-*")):
        opener = gzip.open if p.endswith(".gz") else open
        with opener(p, "rt") as fh:
            for line in fh:
                rec = json.loads(line)
                got[rec["doc_id"]] = rec["text"]
    if set(got) != want_ids:
        return [f"{path}: kept doc ids differ from the expected set"]
    if any(texts[d] != t for d, t in got.items()):
        return [f"{path}: kept doc text differs from the input"]
    return []


# --------------------------------------------------------------------------
# ann_serve
# --------------------------------------------------------------------------

def ann_expected(vectors: np.ndarray, qids: list[int], n_before: int, out: str, k: int) -> None:
    """Brute-force cosine top-k (self excluded) over the first
    ``n_before`` vectors (before maintenance) and over all of them
    (after), saved as ``truth_before.npy`` / ``truth_after.npy``."""
    unit = vectors / np.linalg.norm(vectors, axis=1, keepdims=True)
    for tag, n in (("before", n_before), ("after", len(vectors))):
        s = unit[qids] @ unit[:n].T
        s[np.arange(len(qids)), qids] = -np.inf
        top = np.argsort(-s, axis=1, kind="stable")[:, :k]
        np.save(os.path.join(out, f"truth_{tag}.npy"), top)


def check_topk(
    rows: list, qids: list[int], unit: np.ndarray, n_corpus: int, k: int,
) -> list[str]:
    """Every query gets k distinct in-corpus neighbours, itself excluded,
    ranked 1..k by non-increasing cosine, each cosine equal to the exact
    NumPy value."""
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(int(r["q_id"]), []).append(r)
    if set(by_q) != set(qids):
        return ["ann results do not cover exactly the batch's queries"]
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r["rank"])
        ids = [int(r["nn_id"]) for r in rs]
        cos = [float(r["cosine"]) for r in rs]
        if [r["rank"] for r in rs] != list(range(1, k + 1)):
            return [f"query {q}: ranks are not 1..{k}"]
        if len(set(ids)) != k or q in ids or not all(0 <= i < n_corpus for i in ids):
            return [f"query {q}: neighbour ids invalid"]
        if any(b > a + 1e-12 for a, b in zip(cos, cos[1:])):
            return [f"query {q}: cosines not ranked"]
        exact = unit[ids] @ unit[q]
        if not np.allclose(cos, exact, rtol=0, atol=1e-9):
            return [f"query {q}: cosine differs from NumPy"]
    return []


def recall_hits(rows: list, qids: list[int], truth: np.ndarray, qpos: dict[int, int]) -> int:
    got: dict[int, set[int]] = {}
    for r in rows:
        got.setdefault(int(r["q_id"]), set()).add(int(r["nn_id"]))
    return sum(len(got.get(q, set()) & set(truth[qpos[q]].tolist())) for q in qids)
