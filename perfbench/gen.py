"""Seeded input generators for the three benchmark workloads.

Every generator is a pure function of (seed, size): the same seed gives
byte-identical files. Outputs are cached on disk under
``<work>/inputs/<workload>-<size>-<seed>/`` and a ``done`` marker is
written last, so an interrupted generation is redone instead of reused.
Generation is never timed.
"""

from __future__ import annotations

import json
import math
import os
import shutil

import numpy as np

from map_v2_etl_spark.schemas import COL_MAPS, ID_COLS, YEARS

# long-CSV metric columns of the "raw" dataset: 30 metrics per place-year
METRICS = [c for c in COL_MAPS["raw"] if c not in ID_COLS]


def cached(root: str, key: str, build) -> str:
    """Directory ``root/key`` filled by ``build(dir)`` once per key."""
    out = os.path.join(root, key)
    if os.path.exists(os.path.join(out, "done")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    build(out)
    with open(os.path.join(out, "done"), "w") as fh:
        fh.write("ok\n")
    return out


# --------------------------------------------------------------------------
# region_build: long CSV + polygon GeoJSON per region class
# --------------------------------------------------------------------------

def region_class(
    out: str, rng: np.random.Generator, n_places: int, geoid_width: int,
    bbox: tuple[float, float, float, float], n_unmatched: int,
) -> dict:
    """Write ``long.csv`` (places x 19 years x 30 metrics, one unmapped
    column, ~3% blank cells, ~10% blank parent_location) and
    ``shapes.geojson`` (one square-ish polygon per place on a jittered
    grid inside ``bbox``, plus ``n_unmatched`` polygons with no data
    row). Returns the GEOIDs of the data rows and of the polygons."""
    start = 10 ** (geoid_width - 1)
    ids = [str(start + i).zfill(geoid_width) for i in range(n_places)]
    n_years = len(YEARS)
    vals = rng.uniform(0, 100, size=(n_places * n_years, len(METRICS)))
    scale = rng.choice([1.0, 10.0, 1000.0], size=len(METRICS))
    vals = np.round(vals * scale, 2)
    blank = rng.random(vals.shape) < 0.03
    plain = rng.random(n_places) < 0.10
    header = ["id", "year", "name", "parent_location", *METRICS, "unmapped"]
    lines = [",".join(header)]
    r = 0
    for p, gid in enumerate(ids):
        parent = "" if plain[p] else f"Parent {gid[:2]}"
        for y in YEARS:
            cells = [
                "" if blank[r, j] else repr(float(vals[r, j]))
                for j in range(len(METRICS))
            ]
            lines.append(
                f"{gid},{y},Place {gid},{parent},{','.join(cells)},x{r}"
            )
            r += 1
    with open(os.path.join(out, "long.csv"), "w") as fh:
        fh.write("\n".join(lines) + "\n")

    shape_ids = ids + [
        str(start + n_places + i).zfill(geoid_width)
        for i in range(n_unmatched)
    ]
    n = len(shape_ids)
    cols = math.ceil(math.sqrt(n))
    rows = math.ceil(n / cols)
    x0, y0, x1, y1 = bbox
    cw, ch = (x1 - x0) / cols, (y1 - y0) / rows
    feats = []
    for i, gid in enumerate(shape_ids):
        cx = x0 + (i % cols + 0.5) * cw
        cy = y0 + (i // cols + 0.5) * ch
        hw, hh = cw * rng.uniform(0.3, 0.45), ch * rng.uniform(0.3, 0.45)
        j = rng.uniform(-0.05, 0.05, size=5)
        ring = [
            [cx - hw, cy - hh], [cx + hw, cy - hh + j[0] * ch],
            [cx + hw + j[1] * cw, cy + hh], [cx + j[2] * cw, cy + hh + j[3] * ch],
            [cx - hw + j[4] * cw, cy + hh],
        ]
        ring = [[round(a, 6), round(b, 6)] for a, b in ring]
        ring.append(ring[0])
        feats.append({
            "type": "Feature",
            "properties": {"GEOID": gid},
            "geometry": {"type": "Polygon", "coordinates": [ring]},
        })
    with open(os.path.join(out, "shapes.geojson"), "w") as fh:
        json.dump({"type": "FeatureCollection", "features": feats}, fh)
    return {"data_ids": ids, "shape_ids": shape_ids}


def region_inputs(out: str, seed: int, classes: dict) -> None:
    rng = np.random.default_rng([seed, 1])
    meta = {}
    for name, spec in classes.items():
        d = os.path.join(out, name)
        os.makedirs(d)
        meta[name] = region_class(
            d, rng, spec["places"], spec["geoid_width"], spec["bbox"],
            spec["unmatched"],
        )
    with open(os.path.join(out, "meta.json"), "w") as fh:
        json.dump(meta, fh)


# --------------------------------------------------------------------------
# corpus_curation: documents.parquet with planted near-duplicate families
# --------------------------------------------------------------------------

_SYL = ["ka", "lo", "mi", "ne", "pu", "ra", "si", "to", "ve", "zu",
        "ba", "de", "fi", "go", "hu", "ja"]


def _vocab(rng: np.random.Generator, n: int, suffix: str) -> list[str]:
    words: set[str] = set()
    while len(words) < n:
        k = int(rng.integers(2, 4))
        words.add("".join(rng.choice(_SYL, size=k)) + suffix)
    return sorted(words)


def corpus_inputs(out: str, seed: int, n_docs: int) -> None:
    """Write ``documents.parquet`` (doc_id, text, lang, source, n_chars)
    and ``families.json`` (the planted near-duplicate families).

    Doc kinds, chosen so each curation gate rejects some docs:
      * structured English: a 5-successor Markov chain over a 150-word
        vocabulary — low bits/bigram (passes the LM gate) and
        target-like hashed bigrams (passes the DSIR domain gate);
      * random English: uniform words — fails the LM gate;
      * other languages: their own vocabularies — fail the domain gate;
      * too-short docs or docs half made of one word — fail the Gopher
        gate;
      * family members: a base doc with one word substituted per
        member — share most 8-grams, so they fail the dup-span gate, and
        land in one MinHash cluster (3-shingle Jaccard ~0.9 to the base).
    """
    import pandas as pd

    rng = np.random.default_rng([seed, 2])
    en = _vocab(rng, 150, "")
    succ = rng.integers(0, len(en), size=(len(en), 5))
    other = {lang: _vocab(rng, 150, sfx) for lang, sfx in
             (("de", "en"), ("fr", "eux"), ("es", "os"), ("zh", "xi"))}

    def markov(n: int) -> list[str]:
        w = int(rng.integers(len(en)))
        toks = []
        for _ in range(n):
            toks.append(en[w])
            w = int(succ[w, rng.integers(5)])
        return toks

    texts, langs = [], []
    families: list[list[int]] = []
    while len(texts) < n_docs:
        u = rng.random()
        n = int(rng.integers(40, 80))
        if u < 0.50:
            toks, lang = markov(n), "en"
        elif u < 0.62:
            toks, lang = list(rng.choice(en, size=n)), "en"
        elif u < 0.86:
            lang = str(rng.choice(list(other)))
            toks = list(rng.choice(other[lang], size=n))
        elif u < 0.90:
            toks, lang = list(rng.choice(en, size=int(rng.integers(5, 10)))), "en"
        elif u < 0.92:
            # half the tokens one word: fails the Gopher repetition gate
            toks, lang = markov(n), "en"
            toks[::2] = [en[int(rng.integers(len(en)))]] * len(toks[::2])
        else:
            base, lang = markov(n), "en"
            size = int(rng.integers(2, 6))
            fam = [len(texts)]
            texts.append(" ".join(base))
            langs.append(lang)
            for _ in range(size - 1):
                toks = list(base)
                toks[int(rng.integers(n))] = en[int(rng.integers(len(en)))]
                fam.append(len(texts))
                texts.append(" ".join(toks))
                langs.append(lang)
            families.append(fam)
            continue
        texts.append(" ".join(toks))
        langs.append(lang)
    texts, langs = texts[:n_docs], langs[:n_docs]
    families = [[d for d in f if d < n_docs] for f in families]
    families = [f for f in families if len(f) > 1]
    df = pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    df.to_parquet(os.path.join(out, "documents.parquet"), index=False)
    with open(os.path.join(out, "families.json"), "w") as fh:
        json.dump(families, fh)


# --------------------------------------------------------------------------
# ann_serve: clustered embeddings, query ids and held-back arrivals
# --------------------------------------------------------------------------

def ann_inputs(
    out: str, seed: int, n_base: int, n_arrivals: int, dim: int,
    n_queries: int,
) -> None:
    """Write ``base.parquet`` and ``arrivals/`` (two files, one stream
    micro-batch each) of (vec_id, embedding) drawn from a 64-centre
    Gaussian mixture, plus ``queries.json``: query ids sampled from the
    base set."""
    import pandas as pd

    rng = np.random.default_rng([seed, 3])
    n = n_base + n_arrivals
    centres = rng.normal(size=(64, dim))
    vecs = centres[rng.integers(64, size=n)] + 0.35 * rng.normal(size=(n, dim))

    def frame(lo: int, hi: int) -> "pd.DataFrame":
        return pd.DataFrame({
            "vec_id": np.arange(lo, hi, dtype=np.int64),
            "embedding": list(vecs[lo:hi]),
        })

    frame(0, n_base).to_parquet(os.path.join(out, "base.parquet"), index=False)
    arr = os.path.join(out, "arrivals")
    os.makedirs(arr)
    half = n_base + n_arrivals // 2
    frame(n_base, half).to_parquet(os.path.join(arr, "part-0.parquet"), index=False)
    frame(half, n).to_parquet(os.path.join(arr, "part-1.parquet"), index=False)
    np.save(os.path.join(out, "vectors.npy"), vecs)
    q = rng.choice(n_base, size=n_queries, replace=False)
    with open(os.path.join(out, "queries.json"), "w") as fh:
        json.dump(sorted(int(i) for i in q), fh)
