"""Similarity search over embedding columns (SURVEY.md §2.11).

North-star extension surface for the 100 TB pipeline:

  * cosine_topk       — exact brute-force top-k neighbors. The query set is
                        broadcast; the corpus is scanned once; per-query
                        top-k via window. Baseline / ground truth.
  * lsh_cosine_topk   — random-hyperplane (sign) LSH bucketing: corpus is
                        hashed into 2^planes buckets per table, queries
                        probe their own bucket in each of ``tables``
                        independent tables, and only same-bucket vectors
                        are scored. The scale path: scoring cost drops
                        from |corpus| x |queries| to bucket-local work;
                        recall is tunable via planes and tables.

Cosine math is double-precision JVM expressions (functions/vectors.py);
the projection matrix for LSH is a deterministic seeded constant folded
into the plan as literals — no UDF, no driver state shipped to executors.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from ..functions.vectors import (
    cosine_similarity,
    cosine_similarity_unrolled,
    l2_norm,
)


def _nonnull_queries(queries: DataFrame, vec_col: str) -> DataFrame:
    """Drop NULL-embedding QUERY rows at every family entry point — the
    r15 family-wide contract: a NULL query has no geometry, so it
    produces NO output rows (symmetric with the oracle builders' qu /
    iprobes NOT NULL clauses). Before this, a NULL query's all-NULL
    distances ordered differently across engines in the ASC candidate
    cuts (Spark windows put NULLs FIRST, DuckDB's ORDER BY ASC puts
    them LAST) — the latent corner documented in docs/ROUND14.md §9,
    unexercised at certified SFs but divergent on corpora with NULL
    embeddings at q_mod ids (pinned in tests/test_wave45.py)."""
    return queries.filter(F.col(vec_col).isNotNull())


def _topk_window(scored: DataFrame, k: int) -> DataFrame:
    w = W.partitionBy("q_id").orderBy(
        F.desc("cosine"), F.asc("nn_id")  # unique-id tie-break: deterministic
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "nn_id", "rank", "cosine")
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Exact top-k: (q_id, nn_id, rank, cosine), self-matches excluded.

    The query side is broadcast (queries << corpus by design), so the plan
    is one corpus scan + BroadcastNestedLoopJoin + per-query top-k; no
    corpus shuffle. Scales linearly in |corpus| x |queries| — and that
    product is the package's single hottest cosine site, so the fold is
    unrolled into codegen when the dimensionality is known or sniffable
    (bit-identical; functions/vectors.cosine_similarity_unrolled)."""
    from ..sources.registry import widen_partitions

    cos = _cos_fn(_vec_dim(corpus, vec_col, dim))
    q = _nonnull_queries(queries, vec_col).select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec")
    )
    # vector math is CPU-bound: widen a narrow local scan so the scoring
    # loop uses every core (no-op when the corpus arrives pre-split)
    c = widen_partitions(corpus).select(
        F.col(id_col).alias("nn_id"), F.col(vec_col).alias("nn_vec")
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("nn_id") != F.col("q_id"))
        .withColumn("cosine", cos(F.col("q_vec"), F.col("nn_vec")))
    )
    return _topk_window(scored, k)


def random_hyperplanes(dim: int, planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic Gaussian hyperplanes (classic sign-LSH for cosine)."""
    rs = np.random.RandomState(seed)
    return rs.randn(planes, dim).tolist()


def _signature(vec: Column, hyperplanes: list[list[float]]) -> Column:
    """Bucket id = sign bits of <vec, h_j> packed into a long.

    Built from literal arrays + zip_with/aggregate so the whole thing is
    one codegen'd expression; the planes are constant-folded."""
    if len(hyperplanes) > 64:
        # JVM shiftleft wraps the distance mod 64, so plane 64 would
        # silently alias onto bit 0 — distinct outcomes, same bucket
        raise ValueError(
            f"sign-LSH packs bits into one long: planes <= 64 "
            f"(got {len(hyperplanes)})"
        )
    sig = F.lit(0).cast("long")
    for j, h in enumerate(hyperplanes):
        dot = F.aggregate(
            F.zip_with(
                vec,
                F.array(*[F.lit(float(x)) for x in h]),
                lambda a, b: a.cast("double") * b,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        sig = sig.bitwiseOR(
            F.when(dot >= 0, F.shiftleft(F.lit(1).cast("long"), j)).otherwise(
                F.lit(0).cast("long")
            )
        )
    return sig


def _multi_table_buckets(vec: Column, dim: int, planes: int, tables: int,
                         seed: int) -> Column:
    """(tbl, bucket) struct array for ALL hash tables in one expression.

    Exploded inline by the caller, this computes every table's signature in
    a single projection over ONE scan of the input — the same single-pass
    trick minhash_lsh_pairs uses for its bands (dedup.py). The old
    per-table loop unioned ``tables`` plans, each re-reading and re-signing
    the corpus: 8 full passes where one suffices."""
    return F.array(*[
        F.struct(
            F.lit(t).cast("int").alias("tbl"),
            _signature(vec, random_hyperplanes(dim, planes, seed + t)).alias(
                "bucket"
            ),
        )
        for t in range(tables)
    ])


def _vec_dim(df: DataFrame, vec_col: str, dim: int | None) -> int | None:
    """Resolve embedding dimensionality: explicit param wins; otherwise one
    row is sampled (None on an empty input — callers must handle it rather
    than TypeError, per round-1 advice)."""
    if dim is not None:
        return dim
    # skip NULL embeddings: a null FIRST row must not masquerade as an
    # empty corpus (which would silently drop every real pair downstream)
    row = df.select(vec_col).filter(F.col(vec_col).isNotNull()).first()
    if row is None or row[vec_col] is None:
        return None
    return len(row[vec_col])


def lsh_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: int = 4,
    tables: int = 8,
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """Approximate top-k via multi-table sign-LSH.

    ``tables`` independent hash tables (different seeds) raise recall; a
    candidate is scored once (distinct before scoring). All table
    signatures are computed in ONE projection and exploded to (tbl,
    bucket) rows, so the physical plan has a single corpus FileScan
    (plan-contract-tested) — the candidate join is a broadcast equi-join
    on (tbl, bucket).

    Pass ``dim`` explicitly at scale; when omitted it is sniffed from one
    row (empty corpus => empty result, not an error).

    Tuning: P(neighbor collides per table) = (1 - theta/pi)^planes. For
    corpora with genuinely close neighbors (cosine >= 0.9, theta <= 26deg)
    8+ planes prune aggressively at ~full recall. The defaults here
    (4 planes x 8 tables) target the harder uniform-random regime (top
    neighbors at cosine ~0.5, theta ~60deg): per-table collision ~0.17,
    overall recall ~0.75, with ~2x scan pruning. More planes => more
    pruning, less recall; scale both with corpus size and similarity
    structure."""
    from ..sources.registry import widen_partitions

    c = widen_partitions(corpus).select(
        F.col(id_col).alias("nn_id"), F.col(vec_col).alias("nn_vec")
    )
    q = _nonnull_queries(queries, vec_col).select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec")
    )
    dim = _vec_dim(c, "nn_vec", dim)
    if dim is None:  # empty corpus: correct empty result via the exact plan
        return cosine_topk(corpus, queries, k, id_col, vec_col)
    ct = c.select(
        "nn_id",
        "nn_vec",
        F.explode(
            _multi_table_buckets(F.col("nn_vec"), dim, planes, tables, seed)
        ).alias("tb"),
    ).select("nn_id", "nn_vec", "tb.tbl", "tb.bucket")
    qt = q.select(
        "q_id",
        "q_vec",
        F.explode(
            _multi_table_buckets(F.col("q_vec"), dim, planes, tables, seed)
        ).alias("tb"),
    ).select("q_id", "q_vec", "tb.tbl", "tb.bucket")
    cand = ct.join(F.broadcast(qt), ["tbl", "bucket"]).select(
        "q_id", "q_vec", "nn_id", "nn_vec"
    )
    scored = (
        cand.dropDuplicates(["q_id", "nn_id"])
        .filter(F.col("nn_id") != F.col("q_id"))
        .withColumn("cosine", _cos_fn(dim)(F.col("q_vec"), F.col("nn_vec")))
    )
    return _topk_window(scored, k)


#: unroll gate for COSINE specifically — narrower than the 128 used for
#: the single-chain squared-distance unrolls, because a cosine is THREE
#: dim-term chains (dot + two norms) and the generated code grows 3x as
#: fast. Measured on the real protocols, not microbenches (stage reuse
#: makes a re-collected plan skip its shuffle stages and read as
#: instant): dim 16 unrolled is 5.5x FASTER than the interpreted HOF
#: fold (bench_scale ivf_pq 1x, 51.3 s -> 9.3 s); dim 64 unrolled is
#: ~2-3x SLOWER (bench_ab ivf_pq_topk 3.2 -> 6.5 s floor,
#: embedding_cosine_topk 0.7-1.1 -> 2.1 s) — the ~192-term tree crosses
#: a janino/JIT code-size cliff. The middle band was measured r14
#: (ivf_pq_topk, n=150k, nlist~512, dim 32, 4 interleaved reps with
#: rep 1 discarded, identical results across arms): HOF floor 73.98 s
#: (74.0/76.5/87.5 steady) vs unrolled floor 111.67 s
#: (111.7-116.3) — the ~96-term tree is already ~1.5x PAST the cliff
#: at dim 32, so the gate at 24 is placed correctly, not just
#: conservatively. Do not raise it without re-running that A/B.
_COS_UNROLL_DIM_MAX = 24


def _cos_fn(dim: int | None):
    """cosine_similarity, unrolled into a codegen-eligible static chain
    when the dimensionality is known and small enough — bit-identical
    (same left fold; see functions/vectors.cosine_similarity_unrolled).
    The IVF coarse-assignment pass evaluates |corpus| x n_cells cosines,
    and the interpreted HOF path made it the dominant cost of the
    bench_scale ivf_pq cell (51 s -> single digits at 150k x 512 with
    16-dim vectors). See _COS_UNROLL_DIM_MAX for why the gate is much
    narrower than the squared-distance unroll's."""
    if dim is not None and 0 < dim <= _COS_UNROLL_DIM_MAX:
        return lambda a, b: cosine_similarity_unrolled(a, b, dim)
    return cosine_similarity


def ivf_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_stride: int = 10,
    nprobe: int = 4,
    dim: int | None = None,
) -> DataFrame:
    """Approximate top-k via IVF (inverted-file) coarse quantization.

    Codebook: every ``centroid_stride``-th vector (deterministic sample —
    a k-means refinement would drop in without changing the plan shape).
    Corpus vectors are assigned to their nearest centroid in ONE pass
    (broadcast centroids + max_by partial aggregation, no window over the
    corpus); queries probe their ``nprobe`` nearest centroids and score
    only vectors in those cells.

    Scale: corpus scoring cost is |corpus| x k_centroids (broadcast, map-
    side) instead of |corpus| x |queries|; the candidate join is an
    equi-join on centroid id. With sqrt(N) centroids and nprobe cells the
    scored fraction is ~nprobe/sqrt(N) of brute force. Recall depends on
    the similarity structure; asserted against the exact twin in tests.
    """
    from ..sources.registry import widen_partitions

    dim = _vec_dim(corpus, vec_col, dim)
    cos = _cos_fn(dim)
    c = widen_partitions(corpus).select(
        F.col(id_col).alias("nn_id"), F.col(vec_col).alias("nn_vec")
    )
    cents = corpus.filter((F.col(id_col) % centroid_stride) == 0).select(
        F.col(id_col).alias("cent_id"), F.col(vec_col).alias("cent_vec")
    )
    if cents.limit(1).count() == 0:
        # `id % stride` needs dense NUMERIC ids: it is NULL on string
        # ids and can be empty on offset/sparse id spaces (pq_train's
        # hash-mod sampler is the robust alternative) — fail loudly
        # instead of returning an empty result for every query
        raise ValueError(
            "ivf_cosine_topk codebook is empty: id_col % "
            f"{centroid_stride} matched no rows (string or sparse ids? "
            "use a smaller centroid_stride or numeric dense ids)"
        )

    # nearest centroid per corpus vector: broadcast cross + max_by — a
    # single partial-aggregated pass, deterministic tie-break on cent_id
    c_scored = c.crossJoin(F.broadcast(cents)).withColumn(
        "cs", cos(F.col("nn_vec"), F.col("cent_vec"))
    )
    assign = c_scored.groupBy("nn_id").agg(
        F.max_by("cent_id", F.struct("cs", "cent_id")).alias("cent_id")
    )
    cells = c.join(assign, "nn_id")

    q = _nonnull_queries(queries, vec_col).select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec")
    )
    q_scored = q.crossJoin(F.broadcast(cents)).withColumn(
        "cs", cos(F.col("q_vec"), F.col("cent_vec"))
    )
    wq = W.partitionBy("q_id").orderBy(F.desc("cs"), F.asc("cent_id"))
    probes = (
        q_scored.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= nprobe)
        .select("q_id", "q_vec", "cent_id")
    )

    scored = (
        probes.join(cells, "cent_id")
        .filter(F.col("nn_id") != F.col("q_id"))
        .withColumn("cosine", cos(F.col("q_vec"), F.col("nn_vec")))
    )
    return _topk_window(scored, k)


def embedding_near_dup_pairs(
    corpus: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: int = 8,
    tables: int = 8,
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via the same sign-LSH buckets.

    High-similarity pairs collide with probability (1 - theta/pi)^planes
    per table; 8 tables of 8 planes gives >0.99 recall at cosine >= 0.95.
    Candidates verified exactly. All table signatures come from ONE
    projection + explode (single corpus scan; self-join on (tbl, bucket)),
    not a per-table plan union. Pass ``dim`` at scale; empty corpus =>
    empty result."""
    from ..sources.registry import widen_partitions

    c = widen_partitions(corpus).select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("vec")
    )
    dim = _vec_dim(c, "vec", dim)
    if dim is None:
        # empty corpus: empty (id_a, id_b, cosine) with correct types
        return (
            c.select(
                F.col("id").alias("id_a"),
                F.col("id").alias("id_b"),
                F.lit(0.0).alias("cosine"),
            ).limit(0)
        )
    ct = c.select(
        "id",
        "vec",
        F.explode(
            _multi_table_buckets(F.col("vec"), dim, planes, tables, seed)
        ).alias("tb"),
    ).select("id", "vec", "tb.tbl", "tb.bucket")
    a = ct.select(
        F.col("id").alias("id_a"), F.col("vec").alias("vec_a"), "tbl", "bucket"
    )
    b = ct.select(
        F.col("id").alias("id_b"), F.col("vec").alias("vec_b"), "tbl", "bucket"
    )
    cand = (
        a.join(b, ["tbl", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "vec_a", "id_b", "vec_b")
    )
    return (
        cand.dropDuplicates(["id_a", "id_b"])
        .withColumn("cosine", _cos_fn(dim)(F.col("vec_a"), F.col("vec_b")))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


# --------------------------------------------------------------------------
# k-means clustering + SemDeDup-style semantic dedup
# --------------------------------------------------------------------------

#: above this dimensionality the unrolled distance expression would
#: bloat the plan (one add+mul pair per element per centroid); the HOF
#: fold is the O(1)-plan-size fallback. 128 doubles is far past every
#: embedding dim in the testdata and keeps Catalyst analysis trivial.
_UNROLL_DIM_MAX = 128


def _sq_dist_cols(vec: Column, cent: Column, length: int | None) -> Column:
    """Squared L2 distance between two array<double> columns.

    When the dimensionality is statically known and small, the distance
    UNROLLS into a chain of adds/multiplies — the same left fold, in
    the same element order, with the same per-element cast as the
    zip_with+aggregate form (so results are BIT-IDENTICAL), but inside
    whole-stage codegen instead of the interpreted higher-order-function
    evaluator. try_element_at keeps the HOF form's null-on-short-vector
    semantics (plain indexing would THROW under ANSI mode).

    MEASURED REGIME BOUNDARY (r7 solo best-of-3, bench_scale shapes):
    unrolling pays ONLY where the distance appears ONCE per row — the
    crossJoin(broadcast)+min_by legs (pq_train 9.8 s -> 7.5 s at 1.1M x
    16-dim). Where k copies of the expression are folded into a single
    projection (the literal-centroid array_min path, k x dim terms) the
    giant expression tree costs MORE than the interpreted fold (Lloyd
    4.0 s HOF vs 8.8 s unrolled at k=8, dim=16) — so _sq_dist_to below
    passes length=None and keeps the fold. Callers choose per context,
    not per dimensionality alone."""
    if length is not None and 0 < length <= _UNROLL_DIM_MAX:
        acc = F.lit(0.0)
        for i in range(length):
            x = F.try_element_at(vec, F.lit(i + 1)).cast("double")
            y = F.try_element_at(cent, F.lit(i + 1))
            acc = acc + (x - y) * (x - y)
        return acc
    return F.aggregate(
        F.zip_with(
            vec, cent,
            lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _sq_dist_to(vec: Column, centroid: list[float]) -> Column:
    """Squared L2 distance from an array column to a constant centroid.

    The centroid is folded into the plan as literals (like the LSH
    hyperplanes above): no UDF, no broadcast variable, stays JVM-side.
    Deliberately length=None (HOF fold): this is the k-copies-in-one-
    projection path, where unrolling measured 2.2x SLOWER — see
    _sq_dist_cols' regime-boundary note."""
    c = F.array(*[F.lit(float(v)) for v in centroid])
    return _sq_dist_cols(vec, c, None)


#: above this k, literal-folded centroids are replaced by a broadcast join.
#: k x dim literal nodes blow up Catalyst analysis long before data moves
#: (the SemDeDup posture is k ~ sqrt(n) — 10^4-10^5 centroids at corpus
#: scale); below it, the zero-shuffle literal path wins.
BROADCAST_K_THRESHOLD = 64


def assign_clusters(
    emb: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Nearest-centroid assignment; ties break to the lowest cluster id.

    Two physical strategies with identical semantics (same double-sum
    evaluation order per centroid, same (dist, cid) lexicographic
    tie-break):

    * k <= BROADCAST_K_THRESHOLD: centroids folded into the plan as
      literals, array_min over (dist, cid) structs — a narrow map over
      the corpus, zero shuffle.
    * k >  threshold: centroids broadcast as a DataFrame; assignment is
      crossJoin(broadcast) + min_by partial aggregation (the
      ivf_cosine_topk pattern) — plan size is O(1) in k, the shuffle
      carries only (id, cluster) pairs, and the cluster column is joined
      back broadcast-free on the unique id.

    NULL-id rows get a NULL cluster in BOTH regimes: the join-back leg
    can never match a NULL key, so the literal leg masks them
    explicitly — without the mask the two strategies would disagree
    (literal assigns, broadcast used to silently DROP the row via the
    inner join) purely as a function of k."""
    if len(centroids) <= BROADCAST_K_THRESHOLD:
        best = F.array_min(
            F.array(*[
                F.struct(
                    _sq_dist_to(F.col(vec_col), c).alias("d"),
                    F.lit(i).alias("cid"),
                )
                for i, c in enumerate(centroids)
            ])
        )
        return emb.withColumn(
            "cluster",
            F.when(F.col(id_col).isNotNull(), best["cid"]),
        )

    spark = emb.sparkSession
    cents = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(centroids)],
        "cid INT, cent ARRAY<DOUBLE>",
    )
    # unrolled (codegen) distance — dim is known from the driver-held
    # centroids; bit-identical to the HOF fold (see _sq_dist_cols)
    d = _sq_dist_cols(F.col(vec_col), F.col("cent"), len(centroids[0]))
    assign = (
        emb.select(id_col, vec_col)
        .crossJoin(F.broadcast(cents))
        .withColumn("d", d)
        .groupBy(id_col)
        .agg(F.min_by("cid", F.struct("d", "cid")).alias("cluster"))
    )
    # LEFT join: a NULL-id row never matches the join-back key; it must
    # surface with a NULL cluster (matching the literal regime's mask),
    # not vanish from the output
    return emb.join(assign, id_col, "left")


def kmeans_assignments(
    emb: DataFrame,
    k: int = 8,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic Lloyd's k-means over an embedding column.

    Init: the k lowest-id vectors (no RNG — reruns are bit-identical).
    Per iteration: one narrow assignment pass + ONE shuffle of partial
    per-(cluster, dim) sums (posexplode then hash agg with map-side
    combine: the shuffle carries k x dim rows per partition, never the
    corpus). Centroid means go through decimal so the update is
    partition-order independent — float avg would make assignments
    run-to-run unstable near Voronoi boundaries. Driver state is k x dim
    floats per iteration, exactly MLlib's centroid-broadcast pattern; the
    corpus is never collected. Empty clusters keep their old centroid.

    The reference has no clustering at all; this is north-star extension
    surface (SURVEY.md §2.11) — the clustering stage of SemDeDup-style
    semantic curation (see semdedup_removals).
    """
    cents = lloyd_centroids(emb, k, iters, id_col, vec_col)
    return assign_clusters(emb, cents, id_col, vec_col).select(id_col, "cluster")


def lloyd_centroids(
    emb: DataFrame,
    k: int,
    iters: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    gate_rows: int | None = None,
) -> list[list[float]]:
    """The training loop of kmeans_assignments, returning the centroids
    themselves (k x dim floats of driver state). Shared by k-means
    assignment and PQ codebook training.

    Regime switch, same contract as pq_train: when the corpus fits the
    ~128 MB gate, ONE Arrow transfer + a NumPy Lloyd whose exact-fold
    distances and integer-HALF_UP decimal means BIT-MATCH the
    distributed loop replaces iters x (assignment job + decimal-mean
    agg + collect) rounds — measured 2.97 s -> sub-second for the
    sf0.1 embedding_kmeans. Past the gate the distributed loop below is
    the 100 TB path (centroid state is k x dim floats either way)."""
    cents = [
        [float(x) for x in r[vec_col]]
        for r in emb.select(id_col, vec_col)
        .filter(F.col(vec_col).isNotNull())
        .orderBy(id_col)
        .limit(k)
        .collect()
    ]
    if len(cents) < k:
        # same loud contract as pq_train: short corpora crash both
        # regimes with opaque shape errors otherwise
        raise ValueError(
            f"k-means needs at least k={k} non-null vectors; "
            f"corpus has {len(cents)}"
        )
    dim = len(cents[0])
    if gate_rows is None:
        gate_rows = 16_000_000 // max(dim, 1)
    n_probe = emb.limit(gate_rows + 1).count()
    if n_probe <= gate_rows:
        local = _lloyd_local(emb, cents, k, iters, id_col, vec_col)
        if local is not None:
            return local
        # magnitude outside the exact-int64 envelope: fall through to
        # the distributed decimal loop, which is exact at any scale
    for _ in range(iters):
        assigned = assign_clusters(emb, cents, id_col, vec_col)
        rows = (
            assigned.select(
                "cluster", F.posexplode(F.col(vec_col)).alias("pos", "x")
            )
            .groupBy("cluster", "pos")
            .agg(F.avg(F.col("x").cast("decimal(27,12)")).alias("m"))
            .collect()
        )
        upd: dict[int, list[float]] = {}
        for r in rows:
            upd.setdefault(r["cluster"], [0.0] * dim)[r["pos"]] = float(r["m"])
        cents = [upd.get(c, cents[c]) for c in range(k)]
    return cents


def _lloyd_local(
    emb: DataFrame,
    cents: list[list[float]],
    k: int,
    iters: int,
    id_col: str,
    vec_col: str,
) -> list[list[float]] | None:
    """Gate-bounded NumPy twin of the distributed Lloyd loop, bit-exact:
    distances accumulate in the JVM fold's order (dim loop), argmin's
    first-occurrence rule is min_by's lowest-cluster tie-break, and
    means run the decimal(27,12)-input scale-16 HALF_UP pipeline in
    exact integer arithmetic (float(avg(cast(x as decimal(27,12))))).
    On RAW vectors — k-means does not normalize (unlike PQ). Returns
    None when the data sits outside the exact-int64 envelope (the
    caller then runs the distributed decimal loop): _quantize_e12
    packs x*1e12 into int64, so per-component SUMS stay exact only
    while max|x| * n_rows < 2^63/1e12 ~ 9.2e6 — raw k-means vectors
    are unbounded, and a silent overflow would corrupt centroids."""
    import numpy as np

    # drop NULL embeddings BEFORE the matrix build (np.array over a
    # None element raises): the distributed twin's posexplode emits no
    # rows for a NULL vector, so for TRAINING the regimes agree on
    # "null contributes nothing"
    pdf = (
        emb.select(id_col, vec_col)
        .filter(F.col(vec_col).isNotNull())
        .toPandas()
    )
    V = np.array(pdf[vec_col].tolist(), dtype=np.float64)
    amax = float(np.abs(V).max()) if V.size else 0.0
    if amax * max(len(V), 1) >= 9.2e6:
        return None
    Q = _quantize_e12(V)

    def dec_mean16(ssum: int, n: int) -> float:
        sign = -1 if ssum < 0 else 1
        q, r = divmod(abs(ssum) * 10**4, n)
        if 2 * r >= n:
            q += 1
        # q/1e16 matches the duck_vec.dec_mean oracle bit-for-bit
        # unconditionally (both do int->double then /1e16, identical
        # roundings). It also equals the distributed path's
        # float(decimal(31,16)) — a SINGLE rounding — whenever
        # q <= 2^53, i.e. |mean| <= 2^53/1e16 ~ 0.9007; above that the
        # int->double step can double-round 1 ulp away. Embedding
        # component means are ≪ 0.9 in magnitude, and the gate/fallback
        # pair is exercised against each other in tests at this scale;
        # the bound is documented rather than papered over.
        return sign * q / 1e16

    C = np.asarray(cents, dtype=np.float64)
    for _ in range(iters):
        d = np.zeros((len(V), k), dtype=np.float64)
        for j in range(V.shape[1]):
            diff = V[:, j, None] - C[None, :, j]
            d = d + diff * diff
        a = d.argmin(axis=1)
        C = C.copy()
        for c in range(k):
            mask = a == c
            if mask.any():  # empty cluster keeps the old centroid
                ssum = Q[mask].sum(axis=0)
                n_c = int(mask.sum())
                C[c] = [dec_mean16(int(v), n_c) for v in ssum]
    return [[float(x) for x in row] for row in C]


def semdedup_removals(
    emb: DataFrame,
    assignments: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic dedup: within each cluster, a vector is
    removed when a lower-id vector in the same cluster has cosine >=
    threshold; the survivor recorded as kept_id (the lowest such id, so
    output is deterministic). Returns (id, kept_id, n_dups) for removed
    vectors only.

    Scale: clustering first means the pairwise pass is cluster-local —
    cost sum(|c_i|^2) instead of |corpus|^2, and the join partitions by
    cluster id. This is the entire point of SemDeDup: k ~ sqrt(n) makes
    semantic dedup tractable at corpus scale."""
    cos = _cos_fn(_vec_dim(emb, vec_col, dim))
    a = emb.join(assignments, id_col)
    x = a.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("v_a"), "cluster"
    )
    y = a.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("v_b"), "cluster"
    )
    return (
        x.join(y, "cluster")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(cos(F.col("v_a"), F.col("v_b")) >= threshold)
        .groupBy(F.col("id_b").alias(id_col))
        .agg(F.min("id_a").alias("kept_id"), F.count("*").alias("n_dups"))
    )


# --------------------------------------------------------------------------
# product quantization (IVF-PQ-style ADC search)
# --------------------------------------------------------------------------

def _unit(vec: Column) -> Column:
    """L2-normalize an array<float|double> column (zero vector -> zeros).

    PQ approximates L2 distance; on unit vectors L2^2 = 2 - 2*cosine, so
    ADC ranking by L2 equals ranking by cosine — normalization is what
    makes a cosine ANN out of an L2 quantizer."""
    # the ONE norm expression (functions/vectors.l2_norm) — a second
    # copy drifting by a cast or fold order would break the bit-match
    # between the PQ paths and the cosine oracle twins
    n = l2_norm(vec)
    # bind the norm once (transform-over-singleton; see dedup.word_shingles
    # — embedding the aggregate inside the per-element lambda would
    # re-reduce the whole vector per element on the interpreted HOF path)
    return F.element_at(
        F.transform(
            F.array(n),
            lambda nn: F.transform(
                vec,
                lambda x: F.when(nn == 0.0, F.lit(0.0)).otherwise(
                    x.cast("double") / nn
                ),
            ),
        ),
        1,
    )


def pq_train(
    corpus: DataFrame,
    m: int = 4,
    ksub: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    train_sample_mod: int | None = None,
    gate_rows: int | None = None,
    normalize: bool = True,
) -> list[list[list[float]]]:
    """Train PQ codebooks: split dim into m subspaces, k-means each with
    ksub codewords. Deterministic end to end: init is the ksub lowest-id
    vectors' slices (no RNG), assignment ties break to the lowest code,
    centroid means go through decimal (partition-order independent).
    Returns codebooks[sub][code] = centroid (dim/m floats).

    ``normalize=False`` trains on the raw ``vec_col`` values (cast to
    double) instead of unit-normalized ones — the RESIDUAL regime
    (ivf_pq_residual_topk), whose inputs are already differences of
    unit vectors and must NOT be re-normalized (Faiss
    ``by_residual=True`` trains the PQ on coarse residuals verbatim).
    Components stay in [-2, 2], so the decimal(27,12) mean pipeline's
    exactness bounds hold unchanged (|sum|*1e12 << HUGEINT, quotient
    < 2^53 — see _pq_train_local.dec_mean).

    NULL ``vec_col`` rows are filtered out up front (r14): the sample
    gate, the regime-gate probe, and the loud ``< ksub`` raise all
    count NON-NULL vectors only, so a null-heavy corpus cannot slip a
    sub-ksub training set past the probe into a silently short
    codebook, and the fused/unfused residual regimes gate on the same
    frame.

    ALL m subspaces train together: the corpus explodes once into
    (id, sub, subvector) rows (persisted across iterations — m small
    arrays per vector), and each Lloyd iteration is ONE broadcast-join +
    min_by assignment + ONE (sub, code, pos) mean aggregation for every
    subspace at once. A per-subspace loop would pay m x iters full
    corpus passes and m x iters driver round-trips; this pays iters,
    independent of m — the difference between 8 jobs and 32+ at m=4,
    and between 1 and m corpus scans per iteration at 100 TB. Driver
    state stays m x ksub x dim/m floats."""
    dim = _vec_dim(corpus, vec_col, dim)
    if dim is None or dim % m != 0:
        raise ValueError(f"dim {dim} must be a multiple of m={m}")
    sublen = dim // m
    spark = corpus.sparkSession
    # NULL embeddings can never train (both regimes drop them before any
    # arithmetic), so neither the regime gate nor the >= ksub probes may
    # count them: a corpus whose RAW count passed the probe but whose
    # non-null count was below ksub previously reached _pq_train_local
    # with fewer than ksub rows and sliced SHORT codebooks silently (the
    # r13 hand-off subtlety, docs/ROUND13.md §9). Filtering up front
    # also aligns the fused and unfused residual regimes' gates on the
    # same frame — the fused sample gate already counts post-filter
    # (ivf_pq_residual_topk), while the unfused resid frame could still
    # carry NULL rvec rows from a NULL-embedding coarse centroid.
    corpus = corpus.filter(F.col(vec_col).isNotNull())
    # driver fast path — and the production architecture: Faiss trains
    # codebooks IN MEMORY on a bounded sample while encode/ADC stay
    # distributed. When the training set fits the gate (~128 MB of
    # doubles) one Arrow transfer + vectorized NumPy Lloyd replaces
    # iters x (broadcast join + min_by + decimal-mean agg + collect)
    # rounds of multi-stage jobs. Same init (ksub lowest-id slices),
    # same tie rule (argmin -> lowest code), empty clusters keep their
    # centroid; deterministic run-to-run (fixed row order via sort).
    # Books BIT-MATCH the distributed twin: both regimes snap every
    # centroid mean onto the decimal(27,12) grid (see _pq_train_local),
    # closing the r3-advice gap where float-noise codebooks could flip
    # a near-tie pq_encode argmin across the gate boundary.
    # Gate probe (r17, guide §1.2/§5 — fewer driver round-trips): ONE
    # limit-bounded Arrow collect both probes the size and, in the
    # gated regime, IS the training set — replacing the old separate
    # probe-count job, sample-gate count job, and _pq_train_local's own
    # full collect (3 jobs -> 1 on the training path every PQ caller
    # pays). The collect is bounded by gate_rows+1 rows (~128 MB of
    # doubles) regardless of corpus size; in the distributed regime
    # that bounded transfer replaces the old limit-count scan.
    if gate_rows is None:  # override exists so tests can force the
        # distributed regime on small data and assert the two regimes'
        # codebooks are IDENTICAL (the decimal-grid contract below)
        gate_rows = 16_000_000 // max(dim, 1)
    # probe at least ksub rows so the smallness check below stays valid
    # when gate_rows < ksub (the documented test override for forcing
    # the distributed regime must not reject a large corpus)
    probe_n = max(gate_rows + 1, ksub)
    probe_pdf = None
    if train_sample_mod and train_sample_mod > 1:
        # codebooks are always trained on a sample at corpus scale (the
        # Faiss practice); a deterministic HASH-modulus sample keeps the
        # books — and therefore codes and results — reproducible, and
        # works for any id type / sparse id space (round-2 advice:
        # `id % mod` returns NULL on string ids — silently empty
        # training set — and skews on offset/strided numeric ids)
        sample = corpus.filter(
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(train_sample_mod)) == 0
        )
        # guard: degenerate sample (< ksub vectors) would collapse the
        # codebooks; fall back to the full corpus rather than mistrain.
        # The gate probe doubles as the sample-size guard — no separate
        # count job.
        probe_pdf = sample.select(id_col, vec_col).limit(probe_n).toPandas()
        if len(probe_pdf) >= ksub:
            corpus = sample
        else:
            probe_pdf = None  # degenerate sample: re-probe full corpus
    if probe_pdf is None:
        probe_pdf = corpus.select(id_col, vec_col).limit(probe_n).toPandas()
    n_probe = len(probe_pdf)
    if n_probe < ksub:
        # fail LOUDLY on a training set that cannot fill the codebooks —
        # silently returning < ksub codewords would mistrain (and the
        # distributed loop would crash with an opaque IndexError). The
        # count is post-null-filter, so the raise fires identically in
        # BOTH regimes (local and distributed) and for both the fused
        # and unfused residual paths.
        raise ValueError(
            f"PQ training set has {n_probe} non-null vectors"
            f" < ksub={ksub} after null filter"
        )
    if n_probe <= gate_rows:
        # the probe rows ARE the full (post-filter, post-sample)
        # training set: limit(probe_n) returned fewer than probe_n rows
        return _pq_train_local(
            probe_pdf, id_col, vec_col, m, ksub, iters, sublen, normalize
        )
    # NULL embeddings are excluded from TRAINING up front: the init
    # collect below slices r["uvec"] (None is not subscriptable), and a
    # null row contributes nothing to the distributed sums anyway
    uexpr = (
        _unit(F.col(vec_col))
        if normalize
        # residual regime: values are already in training space; the
        # element cast keeps the double discipline for float inputs
        else F.transform(F.col(vec_col), lambda x: x.cast("double"))
    )
    unit = corpus.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col), uexpr.alias("uvec")
    )
    subs = unit.select(
        id_col,
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(s).alias("sub"),
                    F.slice("uvec", s * sublen + 1, sublen).alias("sv"),
                )
                for s in range(m)
            ])
        ).alias("e"),
    ).select(id_col, "e.sub", "e.sv")
    # load-bearing: every iteration re-reads this (and without it the
    # normalize+slice pipeline re-evaluates per reference)
    subs = subs.persist()
    try:
        init_rows = unit.orderBy(id_col).limit(ksub).collect()
        books: list[list[list[float]]] = [
            [
                [float(x) for x in r["uvec"][s * sublen : (s + 1) * sublen]]
                for r in init_rows
            ]
            for s in range(m)
        ]
        # unrolled (codegen) subvector distance: the HOF fold here was
        # bench_scale.py's hottest line — n x m x ksub evaluations per
        # iteration in the interpreted HOF evaluator (~14 s/iter at
        # 1.1M x 16-dim); the static chain is the same left fold in
        # codegen. NOTE the sv elements are already double (sliced from
        # the normalized uvec), so no per-element cast here — matching
        # the original zip_with lambda, which also didn't cast.
        def _d_unrolled() -> Column:
            acc = F.lit(0.0)
            for i in range(sublen):
                x = F.try_element_at(F.col("sv"), F.lit(i + 1))
                y = F.try_element_at(F.col("cent"), F.lit(i + 1))
                acc = acc + (x - y) * (x - y)
            return acc

        d_expr = (
            _d_unrolled()
            if sublen <= _UNROLL_DIM_MAX
            else F.aggregate(
                F.zip_with(
                    F.col("sv"), F.col("cent"),
                    lambda x, y: (x - y) * (x - y),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        )
        for _ in range(iters):
            cw = spark.createDataFrame(
                [
                    (s, c, book[c])
                    for s, book in enumerate(books)
                    for c in range(ksub)
                ],
                "sub INT, code INT, cent ARRAY<DOUBLE>",
            )
            assigned = (
                subs.join(F.broadcast(cw), "sub")
                .withColumn("d", d_expr)
                .groupBy(id_col, "sub")
                .agg(
                    F.min_by(
                        F.struct("code", "sv"), F.struct("d", "code")
                    ).alias("bc")
                )
            )
            means = (
                assigned.select(
                    "sub",
                    F.col("bc.code").alias("code"),
                    F.posexplode("bc.sv").alias("pos", "x"),
                )
                .groupBy("sub", "code", "pos")
                # avg over decimal(27,12) returns decimal(31,16); the
                # final cast snaps the mean back onto the 1e-12 grid so
                # BOTH training regimes (this loop and the NumPy fast
                # path) publish means on the same grid — codebooks no
                # longer differ by the ~1e-13 arithmetic gap across the
                # gate boundary, so a near-tie argmin in pq_encode
                # cannot flip a code when the data scales past the gate
                .agg(
                    F.avg(F.col("x").cast("decimal(27,12)"))
                    .cast("decimal(27,12)")
                    .alias("mn")
                )
                .collect()
            )
            upd: dict[tuple[int, int], list[float]] = {}
            for r in means:
                upd.setdefault((r["sub"], r["code"]), [0.0] * sublen)[
                    r["pos"]
                ] = float(r["mn"])
            books = [
                [
                    upd.get((s, c), books[s][c])  # empty cluster keeps old
                    for c in range(ksub)
                ]
                for s in range(m)
            ]
    finally:
        subs.unpersist()
    return books


def _quantize_e12(U):
    """Snap each float64 onto the decimal(27,12) grid EXACTLY as a SQL
    engine's CAST(x AS DECIMAL(27,12)) does: decimal HALF_UP on the
    value, not half-to-even on the binary product x*1e12.

    Vectorized fast path: floor(|x|*1e12 + 0.5). The float product
    carries ~1e-4 absolute error at the 1e12 scale, so any element
    whose product lands within 1e-3 of a half-integer is re-done
    exactly through Decimal(repr(x)) — a few per million elements, so
    the exact path's Python cost never matters. Returns int64 (values
    are unit-scale, so |scaled| <= 1e12 << 2^63)."""
    import decimal

    import numpy as np

    sign = np.sign(U)
    a = np.abs(U) * 1e12
    q = np.floor(a + 0.5)
    frac_from_half = np.abs((a - np.floor(a)) - 0.5)
    sus = np.argwhere(frac_from_half < 1e-3)
    twelve = decimal.Decimal(1).scaleb(-12)
    for idx in map(tuple, sus):
        d = decimal.Decimal(repr(float(abs(U[idx])))).quantize(
            twelve, rounding=decimal.ROUND_HALF_UP
        )
        q[idx] = float(d.scaleb(12))
    return (sign * q).astype(np.int64)


def _pq_train_local(
    pdf,
    id_col: str,
    vec_col: str,
    m: int,
    ksub: int,
    iters: int,
    sublen: int,
    normalize: bool = True,
) -> list[list[list[float]]]:
    """Gate-bounded NumPy Lloyd over the (already sampled and collected)
    training set — the Faiss in-memory training step. ``pdf`` is the
    pandas frame pq_train's gate probe already pulled over Arrow (r17:
    the probe IS the training set in this regime, so no second collect
    runs). Row order is pinned by an id sort so float reductions are
    run-to-run identical (the determinism the distributed twin gets
    from decimal means).

    Cross-regime contract (r3 advice): centroid means replicate the
    distributed twin's decimal pipeline EXACTLY — inputs quantized to
    the decimal(27,12) grid, summed as integers (exact), divided with
    HALF_UP at scale 16 (Spark's decimal Average), then cast back to
    scale 12 with HALF_UP — so both regimes emit the SAME codebook bits
    and a near-tie argmin in pq_encode cannot flip a code across the
    gate boundary as data scales. Means land exactly on half-grid
    points routinely (integer sums over grid inputs), which is why
    np.round's half-to-even was measurably insufficient (2/512
    components off by 1e-12 in the first cut). Residual caveat: input
    quantization here is np.round(x*1e12) on binary doubles vs Spark's
    HALF_UP on the shortest decimal repr — they differ only for values
    within one double-ulp of a half-grid boundary, measure-zero for
    unit-normalized embedding components."""
    import numpy as np

    # NULL embeddings were dropped before the collect (pq_train filters
    # isNotNull up front), mirroring the distributed training filter
    pdf = pdf.sort_values(id_col, kind="mergesort")
    V = np.array(pdf[vec_col].tolist(), dtype=np.float64)
    # EXACT LEFT-FOLD norms (loop over dims, vectorized over rows): the
    # distributed twin's _unit is F.aggregate's left fold with a 0.0
    # init, and NumPy's pairwise .sum() differs from it in final ulps —
    # enough to straddle the 1e-12 mean grid occasionally. dim
    # iterations of vectorized adds reproduce the fold's rounding
    # sequence per row at NumPy speed.
    if normalize:
        sq = np.zeros(len(V), dtype=np.float64)
        for j in range(V.shape[1]):
            sq = sq + V[:, j] * V[:, j]
        norms = np.sqrt(sq)
        norms[norms == 0] = 1.0  # zero vector stays zeros (matches _unit)
        U = V / norms[:, None]
    else:
        # residual regime: the Arrow transfer already carries the exact
        # JVM-computed doubles (residuals of unit vectors) — training
        # space IS the input space, no per-row rescale to reproduce
        U = V
    Q = _quantize_e12(U)

    def dec_mean(ssum: int, n: int) -> float:
        # Spark's pipeline, bit for bit: avg(decimal(27,12)) divides
        # with HALF_UP at scale 16 (decimal(31,16)), then our cast back
        # to decimal(27,12) rounds HALF_UP again. Integer arithmetic
        # throughout; the final /1e12 is correctly rounded (numerator
        # < 2^53 never holds for 1e12-scale? it does: |mean| <= 1 so
        # |q2| <= 1e12 < 2^53).
        sign = -1 if ssum < 0 else 1
        q, r = divmod(abs(ssum) * 10**4, n)
        if 2 * r >= n:
            q += 1
        q2, r2 = divmod(q, 10**4)
        if 2 * r2 >= 10**4:
            q2 += 1
        return sign * q2 / 1e12

    books = [
        U[:ksub, s * sublen : (s + 1) * sublen].copy() for s in range(m)
    ]
    for _ in range(iters):
        for s in range(m):
            X = U[:, s * sublen : (s + 1) * sublen]
            C = np.asarray(books[s], dtype=np.float64)
            # EXACT LEFT-FOLD squared L2 (dim-loop, vectorized over
            # (row, centroid) pairs): bit-matches the distributed
            # twin's d_expr — aggregate(zip_with((x-y)*(x-y)), 0.0) —
            # where the old GEMM form (x2 + c2 - 2x.c) rounded
            # differently and could flip a near-tie argmin across the
            # gate boundary. Ties -> argmin returns the LOWEST code,
            # matching min_by struct(d, code).
            d = np.zeros((len(X), len(C)), dtype=np.float64)
            for j in range(sublen):
                diff = X[:, j, None] - C[None, :, j]
                d = d + diff * diff
            a = d.argmin(axis=1)
            Qs = Q[:, s * sublen : (s + 1) * sublen]
            for c in range(ksub):
                mask = a == c
                if mask.any():  # empty cluster keeps the old centroid
                    ssum = Qs[mask].sum(axis=0)
                    n_c = int(mask.sum())
                    books[s][c] = np.array(
                        [dec_mean(int(v), n_c) for v in ssum]
                    )
    return [[[float(x) for x in cent] for cent in b] for b in books]


def pq_encode(
    corpus: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    normalize: bool = True,
) -> DataFrame:
    """(id, codes array<int>[m]) — nearest codeword per subspace, ties to
    the lowest code. ``normalize=False`` encodes the raw values (the
    residual regime — see pq_train).

    ONE narrow mapInPandas over the corpus: the codebook (m·ksub·dim/m
    floats — small by construction) ships in the task closure, and each
    Arrow batch assigns all m codes in vectorized NumPy whose dim-loop
    accumulation reproduces the JVM fold's rounding bit-for-bit (see
    the inline note). No explode, no join, no shuffle — this replaced
    a broadcast-join + interpreted-HOF-fold + min_by formulation that
    was the dominant cost of pq_cosine_topk (2.8 s of 4.7 s at sf0.1;
    whole query 3.3 s → 2.5 s after). The 8-16x compression (dim
    floats -> m codes) is what lets a 100 TB embedding corpus fit
    scan-speed ANN."""
    import numpy as np
    from pyspark.sql import types as T

    m = len(codebooks)
    sublen = len(codebooks[0][0])
    books = [np.asarray(b, dtype=np.float64) for b in codebooks]
    id_type = corpus.schema[id_col].dataType
    out_schema = T.StructType(
        [
            T.StructField(id_col, id_type),
            T.StructField("codes", T.ArrayType(T.IntegerType())),
        ]
    )

    # Arrow-batched exact-fold assignment. The previous formulation
    # (explode to (id, sub) rows, broadcast-join the codeword table,
    # HOF fold per joined row, min_by, re-assemble) was the dominant
    # cost of pq_cosine_topk (2.8 s of 4.7 s at sf0.1): Spark evaluates
    # higher-order-function lambdas interpreted, and the join touched
    # |corpus|·m·ksub rows. Here each Arrow batch normalizes and
    # assigns in vectorized NumPy whose dim-loop accumulation
    # reproduces the JVM fold's rounding sequence EXACTLY (the
    # _pq_train_local discipline), so codes are bit-identical to the
    # old plan and to the DuckDB oracle — ties to the lowest code via
    # argmin's first-occurrence rule. One narrow map over the corpus:
    # no explode, no join, no aggregation, no shuffle.
    import pandas as pd

    def run(batches):
        for pdf in batches:
            # NULL embeddings encode to no row (the pre-refactor
            # explode+join formulation dropped them the same way);
            # without the mask np.array raises on the ragged list
            pdf = pdf[pdf[vec_col].notna()]
            if not len(pdf):
                continue
            V = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            if normalize:
                sq = np.zeros(len(V), dtype=np.float64)
                for j in range(V.shape[1]):
                    sq = sq + V[:, j] * V[:, j]
                nrm = np.sqrt(sq)
                nrm[nrm == 0] = 1.0  # zero vector stays zeros (_unit)
                U = V / nrm[:, None]
            else:
                U = V  # residual regime: encode the exact input doubles
            codes = np.empty((len(V), m), dtype=np.int32)
            for s in range(m):
                X = U[:, s * sublen : (s + 1) * sublen]
                C = books[s]
                d = np.zeros((len(X), len(C)), dtype=np.float64)
                for j in range(sublen):
                    diff = X[:, j, None] - C[None, :, j]
                    d = d + diff * diff
                codes[:, s] = d.argmin(axis=1)
            yield pd.DataFrame(
                {id_col: pdf[id_col], "codes": list(codes.tolist())}
            )

    return corpus.select(id_col, vec_col).mapInPandas(run, out_schema)


def _pq_query_lut(
    queries: DataFrame,
    books: list[list[list[float]]],
    m: int,
    ksub: int,
    sublen: int,
    id_col: str,
    vec_col: str,
    probes: DataFrame | None = None,
    cents_u: DataFrame | None = None,
) -> DataFrame:
    """(q_id, lut) — each query's ADC lookup table folded into ONE flat
    array of m*ksub partial distances (ordered by sub, then code).
    Shared by pq_cosine_topk and ivf_pq_topk; extracted verbatim so both
    plans carry the identical expression tree (and the DuckDB `lutt`/
    `lut` CTEs stay a single twin).

    With ``probes`` (q_id, cent_id) and ``cents_u`` (cent_id, cent_uvec)
    set — the RESIDUAL regime (ivf_pq_residual_topk) — the LUT is per
    (query, probed cell): the ADC target is u(cent) + codeword, so
    part[s][c] = ||(u(q) - u(cent))_s - cw||^2 and the output carries
    cent_id. Both regimes live HERE so a fold-order or cast change
    cannot touch one twin and miss the other (the DuckDB residual
    `lutt` CTE mirrors the dslice branch exactly)."""
    spark = queries.sparkSession
    cw_rows = [
        (s, c, [float(v) for v in cw])
        for s, book in enumerate(books)
        for c, cw in enumerate(book)
    ]
    cw = spark.createDataFrame(
        cw_rows, "sub INT, code INT, cent ARRAY<DOUBLE>"
    )
    q_unit = queries.select(
        F.col(id_col).alias("q_id"), _unit(F.col(vec_col)).alias("q_uvec")
    )
    if probes is not None:
        # per-(query, probed cell) frame; broadcast-bounded by
        # |Q| x nprobe construction
        src = probes.join(q_unit, "q_id").join(F.broadcast(cents_u),
                                               "cent_id")
        dslice = F.zip_with(
            F.slice("q_uvec", F.col("sub") * sublen + 1, F.lit(sublen)),
            F.slice("cent_uvec", F.col("sub") * sublen + 1, F.lit(sublen)),
            lambda x, y: x - y,
        )
        part = F.aggregate(
            F.zip_with(
                dslice, F.col("cent"), lambda x, y: (x - y) * (x - y)
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        keys = ["q_id", "cent_id"]
    else:
        src = q_unit
        part = F.aggregate(
            F.zip_with(
                F.slice("q_uvec", F.col("sub") * sublen + 1, F.lit(sublen)),
                F.col("cent"),
                lambda x, y: (x - y) * (x - y),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        keys = ["q_id"]
    return (
        src.crossJoin(F.broadcast(cw))
        .groupBy(*keys)
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct("sub", "code", part.alias("part"))
                )
            ).alias("_l")
        )
        .select(
            *keys,
            F.transform(F.col("_l"), lambda s: s["part"]).alias("lut"),
        )
    )


def _adc_dist(m: int, ksub: int) -> Column:
    """Sum of m LUT lookups — the in-row ADC distance over `codes` and
    `lut` columns (no per-subspace explode, no re-aggregation)."""
    return F.aggregate(
        F.zip_with(
            F.col("codes"),
            F.sequence(F.lit(0), F.lit(m - 1)),
            lambda c, s: F.element_at(F.col("lut"), s * ksub + c + 1),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _exact_rerank(
    cand: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
    dim: int | None = None,
) -> DataFrame:
    """Exact cosine re-rank of (q_id, nn_id) candidates — output-bounded
    (touches `candidates` x |Q| vectors, never the corpus)."""
    c_vec = corpus.select(
        F.col(id_col).alias("nn_id"), F.col(vec_col).alias("nn_vec")
    )
    q_vec = queries.select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec")
    )
    scored = (
        cand.join(c_vec, "nn_id")
        .join(F.broadcast(q_vec), "q_id")
        .withColumn("cosine", _cos_fn(dim)(F.col("q_vec"), F.col("nn_vec")))
    )
    return _topk_window(scored, k)


#: fused full-corpus ADC gate: max queries whose LUTs ship driver-side
#: into the fused pass's task closure. 4096 LUTs x m*ksub doubles is
#: ~2 MB at (m=4, ksub=16) — broadcast-closure scale; the per-chunk
#: distance matrix is bounded separately (_FUSED_ADC_CHUNK rows x 4096
#: queries x 8 B = 64 MB float64). Above the gate the unfused plan runs
#: unchanged (its LUT frame is |Q|-sized and stays distributed).
_FUSED_ADC_MAX_Q = 4096
_FUSED_ADC_CHUNK = 2048


def _fused_adc_candidates(
    src: DataFrame,
    books: list[list[list[float]]],
    lut_rows: list,
    candidates: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """ONE Arrow-batched pass over ``src`` fusing PQ encode, the
    full-corpus ADC distance, and the per-task partial candidate cut —
    the full-scan twin of _fused_residual_pass (guide §4.2, VERDICT r17
    item 2's second half). Replaces pq_cosine_topk's unfused chain of
    pq_encode pass -> |corpus| x |Q| BroadcastNestedLoopJoin with the
    interpreted-HOF _adc_dist per pair -> corpus-sized exchange into
    the candidate window. Emits at most |tasks| x |Q| x ``candidates``
    rows of (q_id, nn_id, adist) — the exchange into the global
    candidate window becomes output-bounded instead of corpus-bounded,
    which is the term that matters at 10^9+ vectors.

    Bit-exactness contract with the unfused plan (fuzz-pinned in
    tests/test_wave39.py):

      * codes — pq_encode's arithmetic verbatim: Σx² in j order, zero
        norm -> 1.0 guard, per-subspace squared-distance fold in j
        order, argmin ties to the lowest code;
      * adist — the JVM _adc_dist left fold replayed on the COLLECTED
        lut doubles (the plan's own values, not a recomputation):
        acc = 0.0; for s ascending: acc += lut[s*ksub + codes[s]] —
        float64 adds in the identical order;
      * the ``nn_id != q_id`` drop happens before any cut, exactly as
        the unfused BNLJ's join condition; rows with NULL id drop as
        the unfused plan's isnotnull(nn_id) filter + null-safe
        inequality do, and a NULL q_id lut row is skipped (all its
        pairs fail ``nn_id != q_id`` in the unfused plan);
      * the partial cut keeps the ``candidates`` smallest by
        (adist, nn_id) per query PER TASK — a superset of every row
        the downstream global row_number() <= candidates window can
        keep, so the selection (not just the scores) is unchanged.

    Caller gates: integral id column (np.lexsort orders them exactly)
    and len(lut_rows) <= _FUSED_ADC_MAX_Q."""
    import pandas as pd
    from pyspark.sql import types as T

    m = len(books)
    ksub = len(books[0])
    sublen = len(books[0][0])
    nb_books = [np.asarray(b, dtype=np.float64) for b in books]
    # NULL q_id: every unfused candidate row dies at nn_id != q_id
    lut_rows = [r for r in lut_rows if r["q_id"] is not None]
    qids = np.array([r["q_id"] for r in lut_rows], dtype=np.int64)
    L = np.array(
        [r["lut"] for r in lut_rows], dtype=np.float64
    ).reshape(len(lut_rows), m * ksub)
    id_type = src.schema[id_col].dataType
    out_schema = T.StructType(
        [
            T.StructField("q_id", id_type),
            T.StructField("nn_id", id_type),
            T.StructField("adist", T.DoubleType()),
        ]
    )

    def run(batches):
        nQ = len(qids)
        if nQ == 0:
            return
        # per-task accumulators of already-cut (qix, nn_id, adist)
        acc_q: list = []
        acc_i: list = []
        acc_d: list = []

        def _cut(qx, ii, dd, limit):
            # smallest `limit` per query by (adist, nn_id) — argmin
            # order identical to the JVM sort (adist ASC, nn_id ASC;
            # neither is ever NULL here)
            order = np.lexsort((ii, dd, qx))
            qx, ii, dd = qx[order], ii[order], dd[order]
            # rank within query after the stable sort
            if len(qx):
                starts = np.r_[0, np.flatnonzero(qx[1:] != qx[:-1]) + 1]
                rank = np.arange(len(qx)) - np.repeat(
                    starts, np.diff(np.r_[starts, len(qx)])
                )
                keep = rank < limit
                qx, ii, dd = qx[keep], ii[keep], dd[keep]
            return qx, ii, dd

        for pdf in batches:
            pdf = pdf[pdf[vec_col].notna() & pdf[id_col].notna()]
            if not len(pdf):
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            V = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            # pq_encode's normalize+assign arithmetic, verbatim
            sq = np.zeros(len(V), dtype=np.float64)
            for j in range(V.shape[1]):
                sq = sq + V[:, j] * V[:, j]
            nrm = np.sqrt(sq)
            nrm[nrm == 0] = 1.0  # zero vector stays zeros (_unit)
            U = V / nrm[:, None]
            codes = np.empty((len(V), m), dtype=np.int32)
            for s in range(m):
                X = U[:, s * sublen : (s + 1) * sublen]
                C = nb_books[s]
                d = np.zeros((len(X), len(C)), dtype=np.float64)
                for j in range(sublen):
                    diff = X[:, j, None] - C[None, :, j]
                    d = d + diff * diff
                codes[:, s] = d.argmin(axis=1)
            # ADC in row chunks so the (rows x nQ) float64 matrix stays
            # bounded (guide §4.2 batch-memory caveat)
            for lo in range(0, len(V), _FUSED_ADC_CHUNK):
                hi = min(lo + _FUSED_ADC_CHUNK, len(V))
                c = codes[lo:hi]
                dmat = np.zeros((hi - lo, nQ), dtype=np.float64)
                for s in range(m):
                    # JVM fold order: s ascending, float64 adds
                    dmat = dmat + L[:, s * ksub + c[:, s]].T
                keep = ids[lo:hi, None] != qids[None, :]
                qx, rx = np.nonzero(keep.T)  # qx ascending
                if not len(qx):
                    continue
                qx2, ii2, dd2 = _cut(
                    qx.astype(np.int64),
                    ids[lo:hi][rx],
                    dmat[rx, qx],
                    candidates,
                )
                acc_q.append(qx2)
                acc_i.append(ii2)
                acc_d.append(dd2)
        if not acc_q:
            return
        qx, ii, dd = _cut(
            np.concatenate(acc_q),
            np.concatenate(acc_i),
            np.concatenate(acc_d),
            candidates,
        )
        yield pd.DataFrame(
            {"q_id": qids[qx], "nn_id": ii, "adist": dd}
        )

    return src.select(id_col, vec_col).mapInPandas(run, out_schema)


def pq_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 4,
    ksub: int = 16,
    iters: int = 2,
    candidates: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    train_sample_mod: int | None = None,
    fused: bool = True,
) -> DataFrame:
    """PQ/ADC approximate top-k with exact re-rank: (q_id, nn_id, rank,
    cosine), self-matches excluded — same shape as cosine_topk.

    Asymmetric distance computation (ADC): each query precomputes a
    (sub, code) -> partial-distance lookup table against the codebooks;
    a corpus vector's approximate distance is m LUT lookups summed —
    never a full dim-float multiply. The top `candidates` per query by
    ADC are re-ranked with exact cosine on the raw vectors.

    Scale: codes are ONE narrow projection of the corpus (pq_encode);
    each query's LUT folds to a flat m*ksub array and broadcasts, so
    the ADC scan is corpus-codes × |Q| rows with the distance computed
    inside the row (no per-subspace explode, no |C|·|Q|-group
    re-aggregation); the only shuffle is the per-query candidate
    ranking. Exact re-rank touches `candidates` x |Q| vectors —
    output-bounded, not corpus-bounded. Codebooks train on a
    deterministic id-modulus sample when `train_sample_mod` is set
    (the Faiss practice at corpus scale).
    Jegou et al., "Product Quantization for Nearest Neighbor Search"
    (TPAMI'11) is the public blueprint.

    ``fused=True`` (the r18 default) runs encode + ADC + partial
    candidate cut as ONE Arrow pass when the |Q| LUTs fit the
    driver gate (_FUSED_ADC_MAX_Q) and ids are integral — see
    _fused_adc_candidates for the bit-exactness contract. Results are
    BIT-IDENTICAL to the unfused plan (fuzz-pinned in
    tests/test_wave39.py; the DuckDB oracle replays the unfused
    expression chain and stays green).
    """
    from pyspark.sql import types as T

    from ..sources.registry import widen_partitions

    dim = _vec_dim(corpus, vec_col, dim)
    if dim is None:
        # empty corpus: correct empty result via the exact plan
        return cosine_topk(corpus, queries, k, id_col, vec_col)
    queries = _nonnull_queries(queries, vec_col)
    sublen = dim // m
    books = pq_train(
        corpus, m, ksub, iters, id_col, vec_col, dim, train_sample_mod
    )

    # Fold each query's LUT into ONE flat array of m*ksub partials
    # (ordered by sub, then code) — shared by both ADC regimes below.
    lut = _pq_query_lut(queries, books, m, ksub, sublen, id_col, vec_col)
    wnd = W.partitionBy("q_id").orderBy(F.asc("adist"), F.asc("nn_id"))

    if fused and isinstance(
        corpus.schema[id_col].dataType,
        (T.ByteType, T.ShortType, T.IntegerType, T.LongType),
    ):
        # FUSED regime (r18, guide §4.2 — the second half of VERDICT
        # r17 item 2): the |Q| LUTs collect driver-side through ONE
        # bounded transfer (limit probes the gate and, inside it, IS
        # the LUT set — the pq_train probe discipline), and encode +
        # ADC + per-task candidate cut run as one Arrow pass. The
        # |corpus| x |Q| interpreted-HOF BroadcastNestedLoopJoin and
        # the corpus-sized exchange into the candidate window are
        # gone; the window input is |tasks| x |Q| x candidates rows.
        # Past the gate (or on non-integral ids, which the NumPy cut
        # cannot order exactly) the unfused plan below runs unchanged.
        lut_rows = lut.limit(_FUSED_ADC_MAX_Q + 1).collect()
        if len(lut_rows) <= _FUSED_ADC_MAX_Q:
            adc = _fused_adc_candidates(
                widen_partitions(corpus), books, lut_rows,
                candidates, id_col, vec_col,
            )
            cand = (
                adc.withColumn("r", F.row_number().over(wnd))
                .filter(F.col("r") <= candidates)
                .select("q_id", "nn_id")
            )
            return _exact_rerank(
                cand, corpus, queries, k, id_col, vec_col, dim
            )

    # UNFUSED regime: pq_encode pass, then the ADC crossJoin of corpus
    # codes against |Q| broadcast LUT rows with the distance computed
    # INSIDE the row — Σ_s lut[s*ksub + codes[s]] — instead of
    # posexploding codes to m rows per vector and hash-aggregating
    # |C|·|Q| groups back together: m× fewer joined rows, zero
    # aggregation state, and the only shuffle left is the per-query
    # top-candidates ranking. Kept as the past-the-gate plan AND the
    # oracle-shaped twin (each stage has a same-shaped DuckDB CTE).
    codes = pq_encode(widen_partitions(corpus), books, id_col, vec_col)
    adc = (
        codes.select(F.col(id_col).alias("nn_id"), "codes")
        .crossJoin(F.broadcast(lut))
        .filter(F.col("nn_id") != F.col("q_id"))
        .select("q_id", "nn_id", _adc_dist(m, ksub).alias("adist"))
    )
    cand = (
        adc.withColumn("r", F.row_number().over(wnd))
        .filter(F.col("r") <= candidates)
        .select("q_id", "nn_id")
    )
    return _exact_rerank(cand, corpus, queries, k, id_col, vec_col, dim)


def _routed_plain_query(
    cents: DataFrame,
    books: list[list[list[float]]],
    coded: DataFrame,
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    m: int,
    ksub: int,
    sublen: int,
    candidates: int,
    nprobe: int,
    id_col: str,
    vec_col: str,
    dim: int | None,
) -> DataFrame:
    """QUERY side of NON-residual IVF-PQ (ivf_pq_topk), shared by the
    fused and unfused corpus regimes — _routed_residual_query's twin
    with the plain (per-query, cell-independent) LUT: probe selection,
    LUT fold, routed ADC (BroadcastHashJoin on cent_id), candidate cut,
    exact re-rank. ``corpus`` is touched only by the candidate-bounded
    exact re-rank."""
    cos = _cos_fn(dim)
    queries = _nonnull_queries(queries, vec_col)
    q = queries.select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec")
    )
    q_scored = q.crossJoin(F.broadcast(cents)).withColumn(
        "cs", cos(F.col("q_vec"), F.col("cent_vec"))
    )
    wq = W.partitionBy("q_id").orderBy(F.desc("cs"), F.asc("cent_id"))
    probes = (
        q_scored.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= nprobe)
        .select("q_id", "cent_id")
    )

    lut = _pq_query_lut(queries, books, m, ksub, sublen, id_col, vec_col)
    # (q_id, cent_id, lut): |Q| x nprobe rows — the broadcast probe
    # frame. The lut side is broadcast EXPLICITLY (r18): plut itself is
    # broadcast two lines down, so |Q|-bounded-ness is already a plan
    # assumption, and without the hint the planner size-estimates the
    # two windowed/aggregated inputs pessimistically and plans a
    # SortMergeJoin — two exchanges and two sorts on a frame that then
    # gets collected for broadcast anyway (the r18 plan diff removes
    # the last SMJ from this query).
    plut = probes.join(F.broadcast(lut), "q_id")
    # routed ADC scan: equi-join on cent_id prunes to probed lists
    # map-side (BHJ); distance is the in-row m-lookup sum
    adc = (
        coded.join(F.broadcast(plut), "cent_id")
        .filter(F.col("nn_id") != F.col("q_id"))
        .select("q_id", "nn_id", _adc_dist(m, ksub).alias("adist"))
    )
    wnd = W.partitionBy("q_id").orderBy(F.asc("adist"), F.asc("nn_id"))
    cand = (
        adc.withColumn("r", F.row_number().over(wnd))
        .filter(F.col("r") <= candidates)
        .select("q_id", "nn_id")
    )
    return _exact_rerank(cand, corpus, queries, k, id_col, vec_col, dim)


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 4,
    ksub: int = 16,
    iters: int = 2,
    candidates: int = 50,
    centroid_stride: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    train_sample_mod: int | None = None,
    fused: bool = True,
) -> DataFrame:
    """IVF-routed PQ/ADC top-k with exact re-rank — the standard Faiss
    IVF-PQ composition (Jegou et al., TPAMI'11 §V; non-residual variant,
    Faiss ``by_residual=False``): a coarse quantizer routes each query to
    ``nprobe`` inverted lists, and ONLY vectors in those lists are
    ADC-scanned against the query's PQ lookup table. Output shape
    (q_id, nn_id, rank, cosine), self-matches excluded — same as
    cosine_topk, so the exact twin doubles as the recall reference.

    Composition, reusing the audited pieces verbatim:

      * coarse codebook + corpus assignment — ivf_cosine_topk's strided
        centroids and broadcast+max_by nearest-centroid pass (identical
        tie rule: highest cosine, ties to the HIGHEST cent_id), so the
        DuckDB `iasg` twin is the proven `asg` CTE unchanged;
      * PQ codebooks / codes — pq_train + pq_encode (decimal-grid means,
        bit-exact Arrow encode);
      * query LUT + in-row ADC distance — _pq_query_lut/_adc_dist, the
        same expression trees pq_cosine_topk ships.

    What changes vs pq_cosine_topk is ONE join: the ADC scan is an
    equi-join of coded corpus rows against a broadcast
    (q_id, cent_id, lut) probe frame on ``cent_id`` — a broadcast hash
    join that drops non-probed cells map-side — instead of a crossJoin
    against every query's LUT. Scanned fraction per query falls from
    100% to ~nprobe/n_cells of the corpus, which is exactly the term
    that makes full-corpus ADC unaffordable at |corpus| = 10^9+.

    Scale: corpus-sized work is two narrow passes (the coarse-assign
    aggregation and the code/assignment equi-join, both over
    (id, small-payload) rows — the m-byte codes, never raw vectors) plus
    the pruned ADC scan; the probe frame is |Q| x nprobe rows of m*ksub
    doubles (broadcast-bounded by construction); exact re-rank touches
    candidates x |Q| vectors. At a real deployment n_cells ~ sqrt(N)
    with k-means-refined centroids drops in without changing the plan
    shape (the stride sample is the deterministic stand-in, as in
    ivf_cosine_topk).

    Reference parity: the reference engine has no ANN surface
    (build.sh:75-233 is tile ETL); this is part of the §2.11
    training-data-pipeline extension the engine adds on top.

    ``fused=True`` (the r18 default; guide §4.2, VERDICT r17 item 2) is
    the PRODUCTION encode architecture, the same shape the residual
    family and ann_index_build already ship: coarse centroids collect
    driver-side (bounded by n_cells — the boundedness every
    broadcast(cents) below already assumes) and assignment + encode run
    as ONE Arrow-batched pass over the corpus (_fused_residual_pass in
    its non-residual regime) — replacing the |corpus| x n_cells
    interpreted-HOF cosine crossJoin (dim 64 sits past the
    _COS_UNROLL_DIM_MAX codegen cliff, so that pass ran interpreted:
    the dominant measured cost of this query, ~56 executor-sec at
    sf0.1), the separate pq_encode corpus pass, and the codes ⨝
    assignment shuffle. The query side (probes/LUT/routed ADC/re-rank)
    is byte-identical between regimes (_routed_plain_query). Results
    are BIT-IDENTICAL (fuzz-pinned in tests/test_wave39.py, and the
    unchanged DuckDB oracle replays the unfused expression chain).
    Measured at sf0.1 (interleaved x4, min): 2.48 s fused vs 4.74 s
    unfused. The unfused plan stays available because each of its
    stages has a same-shaped DuckDB CTE twin.
    """
    from ..sources.registry import widen_partitions

    dim = _vec_dim(corpus, vec_col, dim)
    if dim is None:
        # empty corpus: correct empty result via the exact plan
        return cosine_topk(corpus, queries, k, id_col, vec_col)
    sublen = dim // m

    cents = corpus.filter((F.col(id_col) % centroid_stride) == 0).select(
        F.col(id_col).alias("cent_id"), F.col(vec_col).alias("cent_vec")
    )

    if fused:
        from pyspark.sql import types as T

        spark = corpus.sparkSession
        # ONE driver collect (bounded by n_cells) is both the loud
        # emptiness probe and the fused pass's in-memory centroids —
        # the deferred-probe discipline of _coarse_cents/r17
        cent_rows = _collect_cent_rows(
            cents,
            empty_msg=_empty_codebook_msg("ivf_pq_topk", centroid_stride),
        )
        # the query side re-reads the centroids from the collected rows
        # as a local relation (exact schema, exact doubles — the
        # ann_index_write(bda0c14) discipline) instead of re-running
        # the strided corpus scan, which never pushes down
        cents = spark.createDataFrame(
            [(cid, cv) for cid, cv, _ in cent_rows],
            T.StructType(
                [
                    T.StructField(
                        "cent_id", corpus.schema[id_col].dataType
                    ),
                    T.StructField(
                        "cent_vec", corpus.schema[vec_col].dataType
                    ),
                ]
            ),
        )
        books = pq_train(
            corpus, m, ksub, iters, id_col, vec_col, dim, train_sample_mod
        )
        coded = _fused_residual_pass(
            widen_partitions(corpus), cent_rows, books,
            id_col, vec_col, residual=False,
        )
        return _routed_plain_query(
            cents, books, coded, queries, corpus,
            k, m, ksub, sublen, candidates, nprobe, id_col, vec_col, dim,
        )

    if cents.limit(1).count() == 0:
        # same loud failure as ivf_cosine_topk: `id % stride` needs
        # dense numeric ids (NULL on string ids, empty on sparse spaces)
        raise ValueError(
            _empty_codebook_msg("ivf_pq_topk", centroid_stride)
        )

    # nearest centroid per corpus vector — ivf_cosine_topk's pass
    # verbatim (broadcast cross + max_by partial aggregation; one narrow
    # (id, cent_id) exchange, never the vectors)
    c = widen_partitions(corpus).select(
        F.col(id_col).alias("nn_id"), F.col(vec_col).alias("nn_vec")
    )
    cos = _cos_fn(dim)
    assign = (
        c.crossJoin(F.broadcast(cents))
        .withColumn("cs", cos(F.col("nn_vec"), F.col("cent_vec")))
        .groupBy("nn_id")
        .agg(F.max_by("cent_id", F.struct("cs", "cent_id")).alias("cent_id"))
    )

    books = pq_train(
        corpus, m, ksub, iters, id_col, vec_col, dim, train_sample_mod
    )
    codes = pq_encode(widen_partitions(corpus), books, id_col, vec_col)
    # inverted-list build: codes ⨝ assignment on id — BOTH sides are
    # narrow (id + m-byte codes / id + int cell), so this shuffle moves
    # the COMPRESSED corpus representation, not the raw vectors
    coded = codes.select(F.col(id_col).alias("nn_id"), "codes").join(
        assign, "nn_id"
    )
    return _routed_plain_query(
        cents, books, coded, queries, corpus,
        k, m, ksub, sublen, candidates, nprobe, id_col, vec_col, dim,
    )


def _fused_residual_pass(
    src: DataFrame,
    cent_rows: list,
    books: list[list[list[float]]] | None,
    id_col: str,
    vec_col: str,
    cent_id_type=None,
    residual: bool = True,
) -> DataFrame:
    """ONE Arrow-batched pass over ``src`` computing coarse assignment,
    residual, and (with ``books``) PQ codes — zero joins, zero shuffles:
    the production encode architecture (Faiss add(): coarse centroids
    and codebooks live in memory; the corpus streams through once).

    Bit-exactness contract with the unfused plan (fuzz-pinned in
    tests/test_wave41.py): every reduction replicates the JVM left fold
    via per-dimension vectorized adds (the _pq_train_local discipline) —
    Σx² and Σx·c in j order, den = sqrt(Σa²)*sqrt(Σb²), cosine NULL iff
    den == 0 or NaN (functions/vectors.cosine_similarity); assignment
    key is (valid, cs, cent_id) max — max_by's struct order, ties to
    the HIGHEST cent_id (processing centroids in ascending id with >=
    reproduces it); residual = U - ucent on the JVM-collected unit
    centroids; encode is pq_encode's fold-order argmin, ties to the
    lowest code.

    ``cent_rows``: (cent_id, raw cent_vec | None, unit cent_vec | None)
    ascending by cent_id — unit vectors collected from the JVM _unit
    expression, so the doubles are the plan's own. A NULL-embedding
    centroid (the documented missing-vector sentinel) scores NULL
    cosine against every row in the unfused plan, so here it is never
    `valid`; it can still WIN a row whose every cosine is invalid
    (max cent_id among all-NULL — the max_by struct rule), and such
    rows then carry a NULL residual and DROP, exactly as the unfused
    resid frame's NULL rvec rows vanish inside pq_train/pq_encode.

    ``cent_id_type``: Spark type for the emitted cent_id column —
    defaults to the id column's type; the kmeans regime passes
    LongType (cluster indices are 0..k-1 regardless of the corpus id
    type). Emits (id, rvec) when books is None, else
    (id, cent_id, codes).

    ``residual=False`` (r18, VERDICT r17 item 2) is the NON-residual
    regime (ivf_pq_topk, Faiss ``by_residual=False``): codes quantize
    the UNIT vector itself (pq_encode's normalize=True arithmetic —
    the identical Σx² fold, zero-norm guard, and argmin), and rows
    assigned to a NULL-embedding centroid are KEPT (the unfused plan
    computes codes independently of the assignment, so such rows carry
    valid codes there too — only the residual regime drops them, its
    residual being undefined). Requires ``books``.
    """
    import math

    import pandas as pd
    from pyspark.sql import types as T

    if not residual and books is None:
        raise ValueError(
            "_fused_residual_pass(residual=False) requires codebooks"
        )
    cent_ids = [cid for cid, _, _ in cent_rows]
    cvecs = [
        [float(x) for x in cv] if cv is not None else None
        for _, cv, _ in cent_rows
    ]
    # left-fold Σc² per centroid, then one sqrt — l2_norm's sequence
    sqrt_b = []
    for cv in cvecs:
        if cv is None:
            sqrt_b.append(None)
            continue
        acc = 0.0
        for x in cv:
            acc = acc + x * x
        sqrt_b.append(math.sqrt(acc))
    has_ucent = np.array(
        [u is not None for _, _, u in cent_rows], dtype=bool
    )
    dim0 = next(
        (len(u) for _, _, u in cent_rows if u is not None), 0
    )
    ucents = np.array(
        [
            (u if u is not None else [0.0] * dim0)
            for _, _, u in cent_rows
        ],
        dtype=np.float64,
    )
    if books is not None:
        m = len(books)
        sublen = len(books[0][0])
        nb_books = [np.asarray(b, dtype=np.float64) for b in books]
    id_type = src.schema[id_col].dataType
    cid_type = cent_id_type or id_type
    if books is None:
        out_schema = T.StructType(
            [
                T.StructField(id_col, id_type),
                T.StructField("rvec", T.ArrayType(T.DoubleType())),
            ]
        )
    else:
        out_schema = T.StructType(
            [
                T.StructField("nn_id", id_type),
                T.StructField("cent_id", cid_type),
                T.StructField("codes", T.ArrayType(T.IntegerType())),
            ]
        )

    def run(batches):
        for pdf in batches:
            pdf = pdf[pdf[vec_col].notna()]
            if not len(pdf):
                continue
            V = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            n = len(V)
            # Σa² in j order (shared by the cosine den and the unit norm)
            sqa = np.zeros(n, dtype=np.float64)
            for j in range(V.shape[1]):
                sqa = sqa + V[:, j] * V[:, j]
            sqrt_a = np.sqrt(sqa)
            best_valid = np.zeros(n, dtype=bool)
            best_cs = np.zeros(n, dtype=np.float64)
            best_ix = np.zeros(n, dtype=np.int64)
            for ix, cv in enumerate(cvecs):
                if cv is None:
                    # NULL-embedding centroid: never valid, but still
                    # wins all-invalid rows (later id beats earlier)
                    take = ~best_valid
                    best_ix[take] = ix
                    continue
                dot = np.zeros(n, dtype=np.float64)
                for j in range(V.shape[1]):
                    dot = dot + V[:, j] * cv[j]
                den = sqrt_a * sqrt_b[ix]
                with np.errstate(divide="ignore", invalid="ignore"):
                    cs = dot / den
                valid = (den != 0.0) & ~np.isnan(cs)
                # ascending cent_id + >= : ties go to the HIGHEST id,
                # and among all-invalid rows the last id wins — the
                # (valid, cs, cent_id) max key of the unfused max_by
                upgrade = valid & (~best_valid | (cs >= best_cs))
                take = upgrade | (~valid & ~best_valid)
                best_ix[take] = ix
                best_cs = np.where(upgrade, cs, best_cs)
                best_valid = best_valid | valid
            if residual:
                # rows assigned to a NULL-embedding centroid have no
                # unit centroid to subtract — the unfused plan's NULL
                # rvec, which vanishes in pq_train/pq_encode; drop them
                # here (non-residual codes never touch the centroid, so
                # that regime keeps them — see docstring)
                keep = has_ucent[best_ix]
                if not keep.all():
                    V = V[keep]
                    sqrt_a = sqrt_a[keep]
                    best_ix = best_ix[keep]
                    pdf = pdf[keep]
                    n = len(V)
                if not n:
                    continue
            nrm = sqrt_a.copy()
            nrm[nrm == 0] = 1.0  # zero vector stays zeros (_unit)
            U = V / nrm[:, None]
            R = U - ucents[best_ix] if residual else U
            if books is None:
                yield pd.DataFrame(
                    {id_col: pdf[id_col], "rvec": list(R.tolist())}
                )
                continue
            codes = np.empty((n, m), dtype=np.int32)
            for s in range(m):
                X = R[:, s * sublen : (s + 1) * sublen]
                C = nb_books[s]
                d = np.zeros((n, len(C)), dtype=np.float64)
                for j in range(sublen):
                    diff = X[:, j, None] - C[None, :, j]
                    d = d + diff * diff
                codes[:, s] = d.argmin(axis=1)
            assigned_ids = [cent_ids[i] for i in best_ix]
            yield pd.DataFrame(
                {
                    "nn_id": pdf[id_col],
                    "cent_id": assigned_ids,
                    "codes": list(codes.tolist()),
                }
            )

    return src.select(id_col, vec_col).mapInPandas(run, out_schema)


def _coarse_cents(
    corpus: DataFrame,
    centroid_stride: int,
    kmeans_cells: int | None,
    kmeans_iters: int,
    id_col: str,
    vec_col: str,
    caller: str,
    defer_empty_check: bool = False,
):
    """Coarse codebook shared by the residual IVF-PQ entry points:
    either every ``centroid_stride``-th vector (the deterministic
    stand-in) or ``kmeans_cells`` Lloyd-refined centroids (the Faiss
    default). Returns (cents DataFrame(cent_id, cent_vec), cent_id
    Spark type) — cluster indices are LongType regardless of the
    corpus id type."""
    from pyspark.sql import types as T

    if kmeans_cells is not None:
        cent_list = lloyd_centroids(
            corpus, k=kmeans_cells, iters=kmeans_iters,
            id_col=id_col, vec_col=vec_col,
        )
        cents = corpus.sparkSession.createDataFrame(
            [(i, c) for i, c in enumerate(cent_list)],
            "cent_id BIGINT, cent_vec ARRAY<DOUBLE>",
        )
        return cents, T.LongType()
    cents = corpus.filter(
        (F.col(id_col) % centroid_stride) == 0
    ).select(
        F.col(id_col).alias("cent_id"), F.col(vec_col).alias("cent_vec")
    )
    # ``defer_empty_check`` (r17, guide §1.2 — fewer driver jobs): a
    # caller that immediately collects the centroids driver-side
    # (_collect_cent_rows) gets the same loud emptiness raise from the
    # collect itself, so the limit(1) probe job here would be a pure
    # extra corpus-scan round-trip
    if not defer_empty_check and cents.limit(1).count() == 0:
        raise ValueError(_empty_codebook_msg(caller, centroid_stride))
    return cents, corpus.schema[id_col].dataType


def _empty_codebook_msg(caller: str, centroid_stride: int) -> str:
    return (
        f"{caller} coarse codebook is empty: id_col % "
        f"{centroid_stride} matched no rows (string or sparse "
        "ids? use a smaller centroid_stride or numeric dense ids)"
    )


def _fused_residual_index(
    corpus: DataFrame,
    cents: DataFrame,
    m: int,
    ksub: int,
    iters: int,
    id_col: str,
    vec_col: str,
    dim: int,
    train_sample_mod: int | None,
    cent_id_type,
    cents_empty_msg: str | None = None,
) -> tuple[list[list[list[float]]], DataFrame]:
    """The PRODUCTION encode architecture (Faiss add-time), shared by
    ivf_pq_residual_topk(fused=True) and ann_index_build: coarse
    centroids + unit centroids collect driver-side (bounded by
    n_cells — the same boundedness every broadcast(cents) already
    assumes), and assignment + residual + encode run as ONE
    Arrow-batched pass over the corpus — zero joins, zero shuffles, no
    checkpoint. Returns (codebooks, coded DataFrame(nn_id, cent_id,
    codes)). Bit-identical to the unfused plan (fuzz-pinned in
    tests/test_wave41.py).

    ONE driver collect carries both the raw and the unit form of every
    centroid (two separate collects would each re-run the strided
    corpus scan); the unit doubles come from the plan's own _unit
    expression, preserving the bit-exactness contract."""
    from ..sources.registry import widen_partitions

    cent_rows = _collect_cent_rows(cents, empty_msg=cents_empty_msg)
    # training source replicates pq_train's sample semantics: the
    # xxhash64-modulus filter runs BEFORE the fused pass (so only
    # sampled rows pay the residual math — at corpus scale this is
    # the whole point), with the same >= ksub degenerate-sample
    # fallback to the full corpus. The gate counts NON-NULL-embedding
    # rows only — aligned with pq_train's own post-null-filter gate.
    tr_src = corpus
    if train_sample_mod and train_sample_mod > 1:
        sample = corpus.filter(
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(train_sample_mod))
            == 0
        ).filter(F.col(vec_col).isNotNull())
        if sample.limit(ksub).count() >= ksub:
            tr_src = sample
    resid_tr = _fused_residual_pass(
        widen_partitions(tr_src), cent_rows, None,
        id_col, vec_col,
    )
    books = pq_train(
        resid_tr, m, ksub, iters, id_col, "rvec", dim,
        None, normalize=False,
    )
    coded = _fused_residual_pass(
        widen_partitions(corpus), cent_rows, books,
        id_col, vec_col, cent_id_type=cent_id_type,
    )
    return books, coded, cent_rows


def _collect_cent_rows(
    cents: DataFrame,
    empty_msg: str | None = None,
) -> list:
    """ONE driver collect carrying both the raw and the unit form of
    every centroid, ascending by cent_id (two separate collects would
    each re-run the centroid scan); the unit doubles come from the
    plan's own _unit expression, preserving the bit-exactness
    contract. Bounded by n_cells — the same boundedness every
    broadcast(cents) already assumes.

    ``empty_msg`` (r17): callers that built ``cents`` with
    ``defer_empty_check=True`` pass the loud-failure message here, so
    this collect doubles as the emptiness probe (one driver job instead
    of two)."""
    rows = [
        (r["cent_id"], r["cent_vec"], r["cent_uvec"])
        for r in cents.select(
            "cent_id",
            "cent_vec",
            _unit(F.col("cent_vec")).alias("cent_uvec"),
        )
        .orderBy("cent_id")
        .collect()
    ]
    if not rows and empty_msg is not None:
        raise ValueError(empty_msg)
    return rows


def _routed_residual_query(
    cents: DataFrame,
    cents_u: DataFrame,
    books: list[list[list[float]]],
    coded: DataFrame,
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    m: int,
    ksub: int,
    sublen: int,
    candidates: int,
    nprobe: int,
    id_col: str,
    vec_col: str,
    dim: int | None,
) -> DataFrame:
    """QUERY side of residual IVF-PQ, shared by ivf_pq_residual_topk
    and ann_index_topk: probe selection, per-(query, probed cell) LUT,
    routed ADC (BroadcastHashJoin on cent_id — a lut row exists only
    for probed pairs, so the join IS the routing), candidate cut,
    exact re-rank. Contains ZERO training or encode stages — the
    persisted-index query path reads (cents, books, coded) as built
    artifacts; ``corpus`` is touched only by the candidate-bounded
    exact re-rank."""
    cos = _cos_fn(dim)
    # query probes: nprobe nearest cells, ties to the LOWEST cent_id.
    # NULL-embedding queries drop HERE for the whole residual family
    # (ivf_pq_residual_topk and ann_index_topk both route through this
    # helper) — the r15 family contract (_nonnull_queries)
    queries = _nonnull_queries(queries, vec_col)
    q = queries.select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec")
    )
    q_scored = q.crossJoin(F.broadcast(cents)).withColumn(
        "cs", cos(F.col("q_vec"), F.col("cent_vec"))
    )
    wq = W.partitionBy("q_id").orderBy(F.desc("cs"), F.asc("cent_id"))
    probes = (
        q_scored.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= nprobe)
        .select("q_id", "cent_id")
    )

    # per-(query, probed cell) LUT: part = || (u(q) - u(cent))_s - cw ||^2
    # over |Q| x nprobe x m x ksub rows, folded to one flat m*ksub array
    # per (q_id, cent_id) — _pq_query_lut's residual regime
    plut = _pq_query_lut(
        queries, books, m, ksub, sublen, id_col, vec_col,
        probes=probes, cents_u=cents_u,
    )

    # routed ADC: equi-join on cent_id — a lut row exists only for
    # probed (q, cell) pairs, so the join IS the routing (BHJ drops
    # non-probed cells map-side); distance is the in-row m-lookup sum
    adc = (
        coded.join(F.broadcast(plut), "cent_id")
        .filter(F.col("nn_id") != F.col("q_id"))
        .select("q_id", "nn_id", _adc_dist(m, ksub).alias("adist"))
    )
    wnd = W.partitionBy("q_id").orderBy(F.asc("adist"), F.asc("nn_id"))
    cand = (
        adc.withColumn("r", F.row_number().over(wnd))
        .filter(F.col("r") <= candidates)
        .select("q_id", "nn_id")
    )
    return _exact_rerank(cand, corpus, queries, k, id_col, vec_col, dim)


def ivf_pq_residual_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 4,
    ksub: int = 16,
    iters: int = 2,
    candidates: int = 50,
    centroid_stride: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    train_sample_mod: int | None = None,
    fused: bool = False,
    kmeans_cells: int | None = None,
    kmeans_iters: int = 2,
) -> DataFrame:
    """Residual IVF-PQ top-k with exact re-rank — Faiss's DEFAULT IVF-PQ
    (``by_residual=True``, Jegou et al. TPAMI'11 §V.B): the PQ quantizes
    each vector's RESIDUAL from its coarse centroid, u(x) - u(c), rather
    than the vector itself. Residuals concentrate near the origin, so
    the same m x ksub code budget spends its resolution on the
    within-cell detail the coarse quantizer left behind — better ADC
    fidelity at identical code size than the non-residual ivf_pq_topk.
    Output shape (q_id, nn_id, rank, cosine), self-matches excluded —
    same as cosine_topk, so the exact twin is the recall reference.

    What changes vs ivf_pq_topk (everything else reused verbatim —
    coarse assignment tie rules, pq_train/pq_encode in their
    ``normalize=False`` regime, _adc_dist, _exact_rerank):

      * a residual pass joins each corpus vector's unit form with its
        assigned centroid's unit form (broadcast) and emits
        rvec = u(x) - u(c) — ONE corpus-wide shuffle of (id, dim-double)
        rows, the residual variant's intrinsic cost (Faiss pays it at
        add() time); a production deployment fuses assignment + residual
        + encode into pq_encode's mapInPandas pass with driver-held
        coarse centroids, which this stride-sampled stand-in keeps as
        separate audited stages instead;
      * the query LUT is PER (query, probed cell) — the ADC target is
        u(c) + codeword, so the partial distance needs the cell:
        part[s][c] = || (u(q) - u(cent))_s - codeword ||^2. The probe
        frame is |Q| x nprobe rows of m*ksub doubles, still
        broadcast-bounded; the routed ADC scan is the same equi-join on
        cent_id (BroadcastHashJoin, non-probed cells drop map-side).

    L2-on-unit-vectors still ranks by cosine: the ADC approximates
    ||u(q) - (u(c) + r_hat)||^2 where u(c) + r_hat ~ u(x).

    ``fused=True`` switches the corpus side to the PRODUCTION encode
    architecture: coarse + unit centroids collect driver-side (bounded
    by n_cells) and assignment + residual + encode run as ONE
    Arrow-batched mapInPandas pass — zero joins, zero shuffles, no
    checkpoint (Faiss's add() shape). Bit-identical output
    (fuzz-pinned); the unfused plan stays the default because each of
    its stages has a same-shaped DuckDB CTE twin.

    Regime-gate alignment (r14): pq_train counts NON-NULL training
    rows in both its sample gate and its ``< ksub`` raise, so the two
    regimes agree on trainability everywhere except one documented
    corner: when the hash SAMPLE holds >= ksub non-null embeddings but
    fewer than ksub of them survive the residual pass (zero vectors
    assigned to a NULL-embedding centroid), the fused path — which
    commits to the sample before residuals exist — raises the loud
    ``< ksub`` error, while the unfused path (sampling the residual
    frame itself) falls back to full-corpus training. Re-counting the
    fused sample post-residual would cost an extra Arrow pass per
    query; the corner needs a corpus that is mostly zero vectors
    inside the sample, so the loud raise is the better trade.

    ``kmeans_cells=k`` replaces the strided coarse codebook with
    ``kmeans_iters`` rounds of Lloyd refinement (lloyd_centroids — the
    certified k-means machinery, decimal-grid means, regime-gated) —
    the FULL Faiss default, whose coarse quantizer IS k-means. Cell ids
    become 0..k-1; every downstream tie rule is unchanged. The oracle
    twin composes plans/duck_vec.lloyd_ctes into the routing CTEs.

    Scale: corpus-sized work is the coarse-assign aggregation, the
    residual join, the narrow codes-side equi-joins, and the pruned ADC
    scan; training happens on the hash-modulus sample (the sample
    filter pushes through the residual join to the scans — group-key
    predicate). Exact re-rank touches candidates x |Q| raw vectors.

    Reference parity: the reference engine has no ANN surface
    (build.sh:75-233 is tile ETL); §2.11 training-pipeline extension.
    """
    from ..sources.registry import widen_partitions

    dim = _vec_dim(corpus, vec_col, dim)
    if dim is None:
        # empty corpus: correct empty result via the exact plan
        return cosine_topk(corpus, queries, k, id_col, vec_col)
    if dim % m != 0:
        raise ValueError(f"dim {dim} must be a multiple of m={m}")
    sublen = dim // m

    cents, cid_type = _coarse_cents(
        corpus, centroid_stride, kmeans_cells, kmeans_iters,
        id_col, vec_col, "ivf_pq_residual_topk",
    )
    cents_u = cents.select(
        "cent_id", _unit(F.col("cent_vec")).alias("cent_uvec")
    )

    if fused:
        # PRODUCTION encode architecture (Faiss add-time) — the shared
        # _fused_residual_index engine (also ann_index_build's):
        # bit-identical to the unfused plan (fuzz-pinned); the unfused
        # plan remains the default because its every stage has a DuckDB
        # CTE twin of the same shape.
        books, coded, _ = _fused_residual_index(
            corpus, cents, m, ksub, iters, id_col, vec_col, dim,
            train_sample_mod, cid_type,
        )
    else:
        cos = _cos_fn(dim)
        # nearest centroid per corpus vector — ivf_pq_topk's pass
        # verbatim (broadcast cross + max_by; ties to the HIGHEST
        # cent_id)
        c = widen_partitions(corpus).select(
            F.col(id_col).alias("nn_id"), F.col(vec_col).alias("nn_vec")
        )
        assign = (
            c.crossJoin(F.broadcast(cents))
            .withColumn("cs", cos(F.col("nn_vec"), F.col("cent_vec")))
            .groupBy("nn_id")
            .agg(
                F.max_by(
                    "cent_id", F.struct("cs", "cent_id")
                ).alias("cent_id")
            )
        )
        # ONE coarse-assignment pass: assign feeds the residual frame
        # (training gate probe + training transfer + encode) AND the
        # inverted-list join — without truncation each consumer re-runs
        # the |corpus| x n_cells cosine crossJoin (measured 17.6s ->
        # 7.5s at sf0.01 from this line alone). The checkpoint is
        # NARROW — (id, int32) rows, ~12 B/row at any corpus size; raw
        # vectors are never checkpointed.
        assign = assign.localCheckpoint(eager=True)

        # residual frame: rvec = u(x) - u(assigned centroid). The
        # zip_with subtraction runs on the two _unit folds' exact
        # doubles — the DuckDB twin reproduces both folds and the
        # subtraction bit-for-bit. DELIBERATELY not persisted: its two
        # full evaluations (training transfer on the SAMPLED side — the
        # hash filter pushes through the join — and encode on the full
        # side) each cost one narrow scan + one join off the
        # checkpointed assignment, while caching it would pin a
        # corpus-sized dim-double frame; at 100 TB recompute-from-
        # narrow beats memory. The fused=True regime is the production
        # end-state that removes even those passes.
        cu = corpus.filter(F.col(vec_col).isNotNull()).select(
            F.col(id_col).alias("nn_id"), _unit(F.col(vec_col)).alias("uvec")
        )
        resid = (
            cu.join(assign, "nn_id")
            .join(F.broadcast(cents_u), "cent_id")
            .select(
                F.col("nn_id").alias(id_col),
                "cent_id",
                F.zip_with(
                    "uvec", "cent_uvec", lambda x, y: x - y
                ).alias("rvec"),
            )
        )

        books = pq_train(
            resid, m, ksub, iters, id_col, "rvec", dim,
            train_sample_mod, normalize=False,
        )
        codes = pq_encode(resid, books, id_col, "rvec", normalize=False)
        # inverted-list build: narrow (id, codes) x (id, cell)
        # equi-join — the compressed corpus representation, never raw
        # vectors
        coded = codes.select(F.col(id_col).alias("nn_id"), "codes").join(
            assign, "nn_id"
        )

    return _routed_residual_query(
        cents, cents_u, books, coded, queries, corpus,
        k, m, ksub, sublen, candidates, nprobe, id_col, vec_col, dim,
    )


def ann_index_build(
    corpus: DataFrame,
    m: int = 4,
    ksub: int = 16,
    iters: int = 2,
    centroid_stride: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    train_sample_mod: int | None = None,
    kmeans_cells: int | None = None,
    kmeans_iters: int = 2,
) -> dict:
    """Build a PERSISTED residual IVF-PQ index: train/encode ONCE, query
    many — the amortization every real ANN deployment relies on (Faiss
    writes the trained quantizers + inverted lists to an index file; at
    10^9+ vectors the two corpus passes per query batch are the
    dominant cost of the in-query operators, and this split removes
    them from the query path entirely).

    The engine is _fused_residual_index — the zero-shuffle Arrow
    encode pass that ivf_pq_residual_topk(fused=True) certifies
    (bit-identical to the unfused audited plan, which is bit-identical
    to the DuckDB oracle). Returns the index as a handle dict:

      * ``cents``  — DataFrame(cent_id, cent_vec): the coarse codebook
        (every ``centroid_stride``-th vector, or ``kmeans_cells``
        Lloyd-refined centroids — the Faiss default);
      * ``books``  — m x ksub x (dim/m) PQ codebooks (driver floats,
        trained on coarse residuals, pq_train normalize=False);
      * ``coded``  — DataFrame(nn_id, cent_id, codes): the coded
        inverted lists, the corpus's compressed representation
        (m small ints per vector — the only corpus-sized artifact);
      * ``params`` — {m, ksub, dim}.

    Persist with ann_index_write / reload with ann_index_read; query
    with ann_index_topk. ann_index_topk(ann_index_read(write(build())))
    is bit-identical to ivf_pq_residual_topk on the same inputs
    (parquet round-trips doubles and ints exactly; pinned in
    tests/test_wave43.py).

    Reference parity: the reference engine has no ANN surface
    (build.sh:75-233 is tile ETL); §2.11 training-pipeline extension.
    """
    dim = _vec_dim(corpus, vec_col, dim)
    if dim is None:
        raise ValueError(
            "ann_index_build: corpus has no non-null vectors "
            "(cannot infer dim)"
        )
    if dim % m != 0:
        raise ValueError(f"dim {dim} must be a multiple of m={m}")
    # the emptiness probe is deferred into _fused_residual_index's
    # centroid collect (r17, guide §1.2): same loud ValueError, one
    # fewer driver job on every index build
    cents, cid_type = _coarse_cents(
        corpus, centroid_stride, kmeans_cells, kmeans_iters,
        id_col, vec_col, "ann_index_build", defer_empty_check=True,
    )
    books, coded, cent_rows = _fused_residual_index(
        corpus, cents, m, ksub, iters, id_col, vec_col, dim,
        train_sample_mod, cid_type,
        cents_empty_msg=_empty_codebook_msg(
            "ann_index_build", centroid_stride
        ),
    )
    return {
        "cents": cents,
        "books": books,
        "coded": coded,
        "params": {"m": m, "ksub": ksub, "dim": dim},
        # the centroids the build ALREADY collected driver-side (r17):
        # ann_index_write writes the centroid table from these bounded
        # rows instead of re-executing the cents plan — on a stride
        # codebook that plan is a FULL corpus scan (id % stride cannot
        # push down to parquet) just to emit n_cells rows. Bounded by
        # n_cells, the same boundedness every broadcast(cents) assumes.
        "cent_rows": cent_rows,
    }


def ann_index_encode_shard(
    index: dict,
    rows: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Encode ``rows`` against an index's FROZEN build artifacts into a
    SHARD handle: same centroids/codebooks/params, coded lists holding
    ONLY these rows — the parallel-ingest deployment shape (Faiss:
    train once, encode shards independently on separate workers, then
    ``merge_from`` the inverted lists; here each shard is one fused
    Arrow pass with zero joins/shuffles, so S shards are S independent
    jobs over disjoint row sets). Recombine with ann_index_merge;
    ann_index_merge(index, shard) is bit-identical to
    ann_index_add(index, rows) by construction (same encode pass, same
    union — pinned in tests/test_wave45.py)."""
    p = index["params"]
    dim = _vec_dim(rows, vec_col, None)
    if dim is not None and dim != p["dim"]:
        raise ValueError(
            f"ann_index_encode_shard: rows have dim {dim}, index has "
            f"dim {p['dim']}"
        )
    from ..sources.registry import widen_partitions

    coded = _fused_residual_pass(
        widen_partitions(rows),
        # build handles carry their collected centroids (r17): reuse
        # them — re-collecting a BUILD handle's cents plan re-scans the
        # corpus (stride filters never push down); read handles fall
        # back to the cheap bounded-parquet collect
        index.get("cent_rows") or _collect_cent_rows(index["cents"]),
        index["books"],
        id_col,
        vec_col,
        cent_id_type=index["coded"].schema["cent_id"].dataType,
    )
    return {**index, "coded": coded}


def ann_index_merge(a: dict, b: dict) -> dict:
    """MERGE two index handles that share build artifacts — Faiss
    ``merge_from``: the inverted lists union; centroids and codebooks
    must be THE SAME quantizers (codes are meaningless across different
    codebooks, so this validates artifact identity — params equal,
    codebook floats equal, centroid tables equal — and raises on any
    mismatch rather than silently mixing incompatible codes).

    The corpus-sized side is a metadata-only unionByName of the coded
    lists (no shuffle — union concatenates partitions); the validation
    collects only the bounded artifacts both handles already hold
    driver-side. The standard composition is
    merge(index, ann_index_encode_shard(index, shard_rows)) — the
    parallel-ingest path whose result is bit-identical to
    ann_index_add (pinned in tests/test_wave45.py)."""
    for key in ("m", "ksub", "dim"):
        if a["params"][key] != b["params"][key]:
            raise ValueError(
                f"ann_index_merge: params mismatch on {key!r}: "
                f"{a['params'][key]} != {b['params'][key]}"
            )
    if a["books"] != b["books"]:
        raise ValueError(
            "ann_index_merge: codebooks differ — these indexes were "
            "not built from the same training pass"
        )
    # handles that carry the build-time collected centroids (r17)
    # validate from those bounded rows — a handle WITHOUT them pays the
    # collect, which on a stride codebook is a full corpus scan
    ca = a.get("cent_rows") or _collect_cent_rows(a["cents"])
    cb = b.get("cent_rows") or _collect_cent_rows(b["cents"])
    if ca != cb:
        raise ValueError(
            "ann_index_merge: coarse centroids differ — these indexes "
            "were not built from the same training pass"
        )
    return {**a, "coded": a["coded"].unionByName(b["coded"])}


def ann_index_add(
    index: dict,
    new_rows: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """INCREMENTAL index update — Faiss ``add()`` after ``train()``:
    encode new vectors with the EXISTING coarse centroids and PQ
    codebooks (one fused Arrow pass — assignment + residual + codes,
    zero shuffles) and append them to the coded inverted lists. No
    retraining: the quantizers are frozen at build time, which is how
    every deployment absorbs daily arrivals without paying the
    training passes (and why codebooks/centroids persist separately
    from the lists).

    Returns a NEW index handle whose ``coded`` is the union; the input
    handle is not mutated. The result is bit-identical to encoding the
    combined corpus against the same build artifacts (encode is
    per-row; value-hash certified by the registered ann_index_add
    query, whose oracle trains on the BASE rows only and encodes
    base + added — pq_topk_ctes(base_table=...)).

    New rows with NULL vectors, or assigned to a NULL-embedding
    centroid, drop exactly as at build time (the fused pass's keep
    mask). Quantization drift is the deployment's tradeoff to watch:
    frozen codebooks encode far-from-training-distribution arrivals
    poorly — rebuild when the recall report degrades.
    """
    from ..sources.registry import widen_partitions

    p = index["params"]
    dim = _vec_dim(new_rows, vec_col, None)
    if dim is not None and dim != p["dim"]:
        raise ValueError(
            f"ann_index_add: new rows have dim {dim}, index has "
            f"dim {p['dim']}"
        )
    coded_new = _fused_residual_pass(
        widen_partitions(new_rows),
        # same reuse as ann_index_encode_shard (r17): a build handle's
        # collected centroids, else the bounded read-handle collect
        index.get("cent_rows") or _collect_cent_rows(index["cents"]),
        index["books"],
        id_col,
        vec_col,
        cent_id_type=index["coded"].schema["cent_id"].dataType,
    )
    return {**index, "coded": index["coded"].unionByName(coded_new)}


#: within-cell write-salt sizing for partition_by_cell coded writes:
#: one salt bucket per this many SOURCE bytes (codes are the ~10x
#: compressed corpus projection, so 1 GiB of raw input ≈ one
#: target-sized codes file); module-level so tests can force the
#: multi-bucket regime on small data
_CODED_SALT_TARGET_BYTES = 1 << 30


def ann_index_write(
    index: dict, path: str, partition_by_cell: bool = False,
    layout: str = "plain",
    versioned: bool = False,
) -> str:
    """Persist a built ANN index as four parquet tables under ``path``:
    ``centroids`` (cent_id, cent_vec), ``codebooks`` (sub, code, cent),
    ``coded`` (nn_id, cent_id, codes — the inverted lists), and a
    one-row ``params`` table. All-parquet so the index is a plain set
    of tables any engine (or the DuckDB oracle) can read; doubles and
    ints round-trip bit-exactly, so a reloaded index reproduces the
    in-memory index's results bit-for-bit.

    ``layout="manifest"`` (r16, r15 verdict #4) puts the CODED table —
    the one table that churns (stream adds, compactions) — on the
    manifest commit log (sources/manifest_log): ``coded/`` becomes a
    log table (``coded/data/`` immutable files + ``coded/_manifests/``
    versioned pointers) instead of a plain directory. What that
    upgrades, from "documented operational contract" to solved:

      * compaction vs concurrent append can lose nothing — both are
        CAS commits; the loser rebases (the plain layout documents
        "never compact while a stream is active" instead);
      * compaction vs concurrent READER is atomic — the commit is the
        swap, versus the plain layout's two-rename window in which a
        reader planning mid-swap sees no coded/ at all;
      * streaming replay stays a no-op ACROSS compactions (the
        manifest's stream_batches set survives; batchId-keyed file
        names die with the file when compaction absorbs it).

    Composes with ``partition_by_cell``: the log's data files carry
    the hive ``cent_id=*/`` subpath, log_read recovers the partition
    column via basePath, and the routed query keeps its DPP file skip
    (asserted in tests/test_wave47.py). Centroids/codebooks/params
    stay plain parquet — immutable build artifacts, rotated only by
    rebuild, needing no log.

    ``partition_by_cell=True`` hive-partitions the inverted lists BY
    ``cent_id`` — the literal Faiss inverted-list file layout. The
    routed ADC equi-join against the broadcast probe frame then
    triggers Spark's dynamic partition pruning: only PROBED cells'
    files are ever read (plan shows ``dynamicpruning`` in the coded
    scan's PartitionFilters; pinned in tests/test_wave43.py) — the
    map-side row drop becomes a FILE-level skip, which at 10^9+
    vectors is the difference between scanning nprobe/nlist of the
    bytes and all of them. Partition-column type inference is sidestepped
    by recording cent_id's exact Spark type in ``params`` and casting
    back on read (values like '42' would otherwise reload as int).

    Scale: ``coded`` is the only corpus-sized write — (id, int cell,
    m small ints) rows, written with the corpus's own partitioning
    (or one directory per cell with ``partition_by_cell``);
    centroids/codebooks/params are bounded driver-side artifacts.

    ``versioned=True`` (r17, r16 verdict #1 — the last non-atomic
    swap): the four tables land in a GENERATION subdirectory
    (``<path>/gen-<id>/``) and a tiny CAS pointer manifest at the
    index ROOT (``<path>/_manifests/`` — the manifest_log commit loop
    with zero data files, its meta naming the live generation) is
    what readers resolve through (_resolve_index_root). A rebuild
    then publishes generation N+1 with ONE CAS pointer flip instead
    of the legacy layout's two os.rename calls — readers planning
    mid-rebuild keep a complete index at every instant (Iceberg's
    metadata-pointer swap at index granularity). Writing versioned
    over an EXISTING versioned index appends a new generation and
    flips the pointer — the old generation stays on disk for
    in-flight readers until ann_index_vacuum reclaims it. Writing
    versioned over an existing FLAT index upgrades resolution (the
    pointer wins from then on) but leaves the flat tables at the
    root as inert bytes — delete them once no legacy-path reader
    remains."""
    if versioned:
        import os as _os
        import uuid as _uuid

        from ..sources import manifest_log as _ml

        gen = f"gen-{_uuid.uuid4().hex[:12]}"
        ann_index_write(
            index, _os.path.join(path, gen),
            partition_by_cell=partition_by_cell, layout=layout,
        )
        _ml.log_init(path)
        _ml.log_commit(
            path, [], meta={"index_generation": gen}, note="build",
        )
        return path
    spark = index["cents"].sparkSession
    p = index["params"]
    if layout not in ("plain", "manifest"):
        raise ValueError(
            f"ann_index_write: unknown layout {layout!r} "
            "(expected 'plain' or 'manifest')"
        )
    cent_rows = index.get("cent_rows")
    coded_df = index["coded"]
    if partition_by_cell:
        # Cluster the coded rows by (cent_id, within-cell salt) before
        # the hive write (r18, guide §6/§2.5 — VERDICT r17 item 5, the
        # same shape as the salted partitioned-events write): without
        # it every task of the corpus-partitioned coded frame opens a
        # file in EVERY cell directory it holds rows for — tasks x
        # n_cells files (~1-row files at sf0.1's 10-rows-per-cell
        # ratio). A bare repartition("cent_id") would bound files/cell
        # at 1 but cap write parallelism at n_cells and funnel a hot
        # cell through one task; the deterministic salt keeps <=k
        # files per cell with k sized from the SOURCE bytes (coded
        # rows are the ~10x-compressed corpus projection), and the
        # explicit count keeps at least session parallelism. At sf0.1
        # k=1 (one file per cell); unknown input size keeps k=1 —
        # layout stays valid, only the fan-out heuristic degrades.
        from ..sources.registry import _input_file_bytes

        src_bytes = _input_file_bytes(coded_df)
        k = max(1, -(-max(src_bytes, 0) // _CODED_SALT_TARGET_BYTES))
        n_tasks = max(spark.sparkContext.defaultParallelism, k)
        coded_df = coded_df.repartition(
            n_tasks,
            F.col("cent_id"),
            F.pmod(F.xxhash64(F.col("nn_id")), F.lit(k)),
        )

    def _write_centroids() -> None:
        if cent_rows is not None:
            # build-time indexes carry the centroids ALREADY collected
            # driver-side (r17): write the bounded table from those
            # rows — one slice, one task, one file — instead of
            # re-executing the cents plan, which on a stride codebook
            # re-scans the whole corpus (id % stride never pushes down)
            # to emit n_cells rows. Exact schema (cent_id type,
            # nullability) comes from the plan; doubles round-trip
            # bit-exactly through the collected rows.
            spark.createDataFrame(
                spark.sparkContext.parallelize(
                    [(cid, cv) for cid, cv, _ in cent_rows], 1
                ),
                index["cents"].schema,
            ).write.mode("overwrite").parquet(path + "/centroids")
        else:
            # read-back / externally assembled handles: the cents frame
            # is already a bounded parquet scan — write it as-is
            index["cents"].write.mode("overwrite").parquet(
                path + "/centroids"
            )

    def _write_codebooks() -> None:
        # bounded driver-side artifacts write as ONE file (r17, guide
        # §6): createDataFrame parallelizes m x ksub rows over
        # defaultParallelism slices, so the unguarded write emitted 32
        # near-empty part files — 32 task commits here and 32 file
        # opens on every ann_index_read. The single partition is
        # established AT parallelize time (one pickled batch, one
        # task): a coalesce(1) over the default 32 slices instead
        # funnels 32 pickled partitions through one task's sequential
        # Python-worker round-trips — measured 4.5-6s per write vs
        # 0.5s for the 1-slice form.
        spark.createDataFrame(
            spark.sparkContext.parallelize(
                [
                    (s, c, [float(x) for x in index["books"][s][c]])
                    for s in range(p["m"])
                    for c in range(p["ksub"])
                ],
                1,
            ),
            "sub INT, code INT, cent ARRAY<DOUBLE>",
        ).write.mode("overwrite").parquet(path + "/codebooks")

    cid_type = index["coded"].schema["cent_id"].dataType.simpleString()

    def _write_params() -> None:
        # the layout is part of the index contract (r15, ADVICE r14
        # #1): every later writer (ann_index_add's caller, the
        # streaming add) must write coded files in the SAME layout —
        # mixing flat part files into a hive-partitioned coded/ dir
        # (or vice versa) breaks partition discovery on the next read
        spark.createDataFrame(
            spark.sparkContext.parallelize(
                [(
                    p["m"], p["ksub"], p["dim"], cid_type,
                    bool(partition_by_cell), layout,
                )],
                1,
            ),
            "m INT, ksub INT, dim INT, cent_id_type STRING, "
            "partitioned_by_cell BOOLEAN, layout STRING",
        ).write.mode("overwrite").parquet(path + "/params")

    # the three bounded single-task writes overlap the corpus-sized
    # coded write instead of serializing after it (r17, guide §2.6 —
    # the driver was calling four independent actions sequentially;
    # Spark happily runs them as concurrent jobs and the tiny jobs
    # back-fill idle cores). No ordering contract is lost: the plain
    # layout's mid-write directory state was never reader-safe (the
    # versioned/pointer layout is the atomic-publish path), and every
    # writer joins before this function returns.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=3) as pool:
        futures = [
            pool.submit(_write_centroids),
            pool.submit(_write_codebooks),
            pool.submit(_write_params),
        ]
        if layout == "manifest":
            from ..sources import manifest_log as _ml
            import shutil as _sh

            coded_root = path + "/coded"
            # overwrite semantics, matching the plain branch's
            # mode("overwrite"): a fresh write replaces any previous log
            _sh.rmtree(coded_root, ignore_errors=True)
            _ml.log_init(coded_root)
            # the build commit records the coded table's logical schema
            # (r17): empty snapshots stay readable and every later read
            # plans without footer inference
            _ml.log_commit(
                coded_root,
                _ml.log_write_data(
                    coded_df,
                    coded_root,
                    partition_by=(
                        ["cent_id"] if partition_by_cell else None
                    ),
                ),
                note="build",
                schema=index["coded"].schema.json(),
            )
        else:
            coded_writer = coded_df.write.mode("overwrite")
            if partition_by_cell:
                coded_writer = coded_writer.partitionBy("cent_id")
            coded_writer.parquet(path + "/coded")
        for f in futures:
            f.result()
    # a rebuilt/overwritten index must not inherit the PREVIOUS index's
    # streaming-add source log: the default checkpoint under this path
    # would silently skip every arrivals file the old index already
    # consumed (r15, ADVICE r14 #2) — rotate it with the index
    import shutil as _shutil

    _shutil.rmtree(path + "/_stream_add_ckpt", ignore_errors=True)
    return path


def _resolve_index_root(path: str) -> str:
    """Resolve a VERSIONED index path (ann_index_write(versioned=True))
    to its live generation directory: the index root holds a pointer
    manifest log whose meta names the generation; legacy flat indexes
    (no ``_manifests/`` at the root) resolve to themselves. One JSON
    read — planning metadata, no data IO. The coded table's own
    manifest log lives at ``<gen>/coded/_manifests`` and is NOT a
    pointer — resolution only ever looks one level, at the root."""
    import os as _os

    if not _os.path.isdir(_os.path.join(path, "_manifests")):
        return path
    from ..sources.manifest_log import log_current

    gen = log_current(path)["meta"].get("index_generation")
    if gen is None:
        raise ValueError(
            f"_resolve_index_root: {path} has a manifest log but no "
            "index_generation in its meta — not a versioned index "
            "root (did a coded/ log path get passed as the index "
            "path?)"
        )
    return _os.path.join(path, gen)


def _read_index_params(spark: SparkSession, path: str) -> dict:
    """The one-row params table only — layout / partitioning flags for
    maintenance pre-checks (r16 self-review: rebuild and compact used a
    FULL ann_index_read here, which both collected the codebooks for
    nothing and made a corrupted live index un-rebuildable — the full
    read validates codebook completeness and non-empty coded lists,
    exactly what a repair rebuild must not require)."""
    path = _resolve_index_root(path)
    prow = spark.read.parquet(path + "/params").collect()[0]
    d = prow.asDict()
    return {
        "m": int(d["m"]), "ksub": int(d["ksub"]), "dim": int(d["dim"]),
        "partitioned_by_cell": bool(d.get("partitioned_by_cell", False)),
        "layout": d.get("layout", "plain") or "plain",
    }


def ann_index_read(spark: SparkSession, path: str) -> dict:
    """Reload a persisted ANN index written by ann_index_write. The
    codebooks table collects driver-side (m x ksub rows — bounded,
    exactly the state pq_train holds); centroids and coded stay
    DataFrames (coded is corpus-sized and never leaves the cluster).
    A VERSIONED index path resolves through its root pointer manifest
    to the live generation first (r17) — the whole read then plans
    against one immutable generation directory, so a concurrent
    rebuild flipping the pointer mid-read is invisible."""
    path = _resolve_index_root(path)
    # the two bounded collects (params: 1 row; codebooks: m x ksub
    # rows) are independent scans — overlap them instead of paying two
    # sequential driver jobs (r17, guide §2.6; same discipline as the
    # write side's threaded bounded writes). Assembly stays on this
    # thread: indexing the books grid needs m/ksub from params.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as _pool:
        _params_f = _pool.submit(
            lambda: spark.read.parquet(path + "/params").collect()[0]
        )
        _books_f = _pool.submit(
            lambda: spark.read.parquet(path + "/codebooks").collect()
        )
        prow = _params_f.result()
        _book_rows = _books_f.result()
    m, ksub, dim = int(prow["m"]), int(prow["ksub"]), int(prow["dim"])
    books: list[list[list[float] | None]] = [
        [None] * ksub for _ in range(m)
    ]
    for r in _book_rows:
        books[r["sub"]][r["code"]] = [float(x) for x in r["cent"]]
    if any(cw is None for b in books for cw in b):
        raise ValueError(
            f"ann_index_read: codebooks table at {path} is incomplete "
            f"for m={m}, ksub={ksub}"
        )
    # table layout (r16): pre-r16 params tables lack the column — all
    # of those are plain-directory writes
    table_layout = prow.asDict().get("layout", "plain") or "plain"
    if table_layout == "manifest":
        from ..sources.manifest_log import log_read

        coded = log_read(spark, path + "/coded")
    else:
        coded = spark.read.parquet(path + "/coded")
    # a partition_by_cell write turns cent_id into a hive partition
    # column whose type is re-INFERRED from directory names (long ids
    # come back int) — cast back to the recorded exact type so the
    # routed join and any downstream union stay bit-compatible with
    # the unpartitioned layout
    cid_type = prow["cent_id_type"]
    if coded.schema["cent_id"].dataType.simpleString() != cid_type:
        coded = coded.withColumn(
            "cent_id", F.col("cent_id").cast(cid_type)
        )
    # layout flag (r15): pre-r15 params tables lack the column — those
    # indexes were only ever written flat by the registered queries
    layout = bool(prow.asDict().get("partitioned_by_cell", False))
    return {
        "cents": spark.read.parquet(path + "/centroids"),
        "books": books,
        "coded": coded,
        "params": {
            "m": m, "ksub": ksub, "dim": dim,
            "partitioned_by_cell": layout,
            "layout": table_layout,
        },
    }


def ann_index_compact(
    spark: SparkSession, path: str, target_bytes: int = 128 << 20
) -> dict:
    """COMPACT a persisted index's coded inverted lists in place — the
    index-lifecycle twin of compact_small_files (queries_wave26):
    incremental and streaming adds leave one parquet file per
    batch (per cell under the partitioned layout), and at deployment
    cadence that is the classic small-file problem — every query-time
    scan pays per-file open/footer costs that dwarf the data read.

    Mechanics: read the coded table (through the same type-restoring
    path as ann_index_read), rewrite it at ``target_bytes`` per file —
    flat layout: ceil(bytes/target) output files; partitioned layout:
    clustered by cent_id so each cell lands in exactly ONE file (the
    Faiss inverted-list-per-cell shape) — then atomically swap the
    rewritten directory over the old one (stage → swap, the engine's
    WAP discipline). Content is bit-identical (ints round-trip; row
    order is not part of the table contract) — pinned with a file-count
    assertion in tests/test_wave45.py.

    Concurrency contract (plain-parquet honesty — BOTH caveats are
    solved, not documented, under ``layout="manifest"``, see below):
    run compaction only while NO streaming add is active — a stream
    restart that replays a mid-flight batch reconciles against its own
    batch-keyed files, which compaction has absorbed and removed — and
    only while no concurrent READER is planning: the "atomic" swap is
    two os.rename calls (stage in, old out), and a reader that lists
    the index between them sees no coded/ directory at all (r15 ADVICE
    #3). True single-pointer atomicity needs a pointer flip, which is
    exactly what the manifest layout provides.

    ``layout="manifest"`` indexes (ann_index_write): the rewrite is
    ONE CAS commit (sources/manifest_log.log_compact, same byte-target
    or per-cell shape) — readers plan from an immutable manifest so
    mid-compaction states are invisible, a racing append rebases and
    loses nothing, and a racing compaction surfaces as ConflictError
    instead of silent absorption.
    """
    import math
    import os
    import shutil

    # a versioned index compacts IN PLACE within its live generation —
    # compaction rewrites the coded table, not the build artifacts, so
    # it needs no generation flip
    path = _resolve_index_root(path)
    pre = _read_index_params(spark, path)
    if pre["layout"] == "manifest":
        from ..sources.manifest_log import log_compact

        log_compact(
            spark,
            os.path.join(path, "coded"),
            target_bytes=target_bytes,
            partition_by=(
                ["cent_id"] if pre["partitioned_by_cell"] else None
            ),
        )
        return ann_index_read(spark, path)
    index = ann_index_read(spark, path)
    coded_dir = os.path.join(path, "coded")
    total = 0
    for root, _dirs, files in os.walk(coded_dir):
        total += sum(
            os.path.getsize(os.path.join(root, f))
            for f in files
            if f.endswith(".parquet")
        )
    staging = os.path.join(path, "_coded_compacting")
    shutil.rmtree(staging, ignore_errors=True)
    if index["params"]["partitioned_by_cell"]:
        # one file per cell: clustering by cent_id puts each cell's
        # rows in exactly one task, and partitionBy splits per cell
        (
            index["coded"]
            .repartition(F.col("cent_id"))
            .write.partitionBy("cent_id")
            .mode("overwrite")
            .parquet(staging)
        )
    else:
        n_out = max(1, math.ceil(total / max(1, target_bytes)))
        index["coded"].repartition(n_out).write.mode(
            "overwrite"
        ).parquet(staging)
    old = os.path.join(path, "_coded_precompact")
    shutil.rmtree(old, ignore_errors=True)
    os.rename(coded_dir, old)
    os.rename(staging, coded_dir)
    shutil.rmtree(old)
    return ann_index_read(spark, path)


def ann_index_rebuild(
    spark: SparkSession,
    path: str,
    corpus: DataFrame,
    m: int = 4,
    ksub: int = 16,
    iters: int = 2,
    centroid_stride: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    train_sample_mod: int | None = None,
    kmeans_cells: int | None = None,
    kmeans_iters: int = 2,
    partition_by_cell: bool | None = None,
) -> dict:
    """REBUILD a persisted index from the current corpus and atomically
    swap it over the old one — the action ann_index_recall_report's
    drift signal calls for: quantizers frozen at build time encode
    far-from-training-distribution arrivals poorly, and the only cure
    is retrain + re-encode (Faiss retrains a new index and swaps the
    pointer; same shape here at the directory level).

    Mechanics (write-audit-publish, queries_wave37's discipline at
    directory granularity): the certified build pass
    (ann_index_build — the same fused engine the original build used)
    writes a COMPLETE new index to a sibling staging directory; the
    audit re-reads it through ann_index_read (which validates params
    and codebook completeness) and requires non-empty coded lists; only
    then is the new index published. A failed build or audit leaves
    the live index untouched and the staging directory on disk for
    inspection.

    Publication (r17, r16 verdict #1): on a VERSIONED index
    (ann_index_write(versioned=True)) the staged index IS the next
    generation directory and publishing is ONE CAS pointer-manifest
    flip (the manifest_log commit loop at the index root) — readers
    that resolved the pointer before the flip keep planning against
    their complete, immutable old generation; readers after it see
    the complete new one; there is NO instant with a missing index.
    The superseded generation stays on disk until ann_index_vacuum.
    On a LEGACY flat index the swap remains two os.rename calls with
    the documented reader race window — quiesce readers, or write
    the index versioned (the deployment shape). Either way the
    rebuilt index's streaming-add checkpoint starts fresh (it lives
    under the new generation / new directory), so a stream
    re-attached after a rebuild re-consumes the arrivals directory
    against the NEW quantizers instead of silently skipping files the
    old index had seen (ADVICE r14 #2's rebuild case).

    ``partition_by_cell=None`` preserves the live index's layout.
    Returns the reloaded rebuilt index handle.

    The LEGACY swap replaces the WHOLE index directory: anything a
    caller co-located inside it that is not part of the index contract
    (e.g. an arrivals directory parked there for scratch convenience)
    moves out with the old index and is deleted — keep arrivals
    outside the index path in a real deployment. (A versioned rebuild
    touches only ``gen-*`` subdirectories and the pointer manifest —
    co-located extras at the root survive.)
    """
    import os
    import shutil
    import uuid as _uuid

    # params-only read (r16 self-review): a rebuild is the prescribed
    # REPAIR action, so it must not require the live index to pass the
    # full read's codebook/coded validation — only the layout flags
    live_params = _read_index_params(spark, path)
    if partition_by_cell is None:
        partition_by_cell = bool(live_params["partitioned_by_cell"])
    # the table layout (plain directory vs manifest log) is preserved
    # across rebuilds — it is part of the index's deployment contract,
    # not a build parameter
    layout = live_params["layout"]
    norm = path.rstrip("/")
    versioned = os.path.isdir(os.path.join(norm, "_manifests"))
    if versioned:
        gen = f"gen-{_uuid.uuid4().hex[:12]}"
        staging = os.path.join(norm, gen)
    else:
        staging = norm + "__rebuild_staging"
    shutil.rmtree(staging, ignore_errors=True)
    rebuilt = ann_index_build(
        corpus, m=m, ksub=ksub, iters=iters,
        centroid_stride=centroid_stride, id_col=id_col, vec_col=vec_col,
        dim=dim, train_sample_mod=train_sample_mod,
        kmeans_cells=kmeans_cells, kmeans_iters=kmeans_iters,
    )
    ann_index_write(
        rebuilt, staging, partition_by_cell=partition_by_cell,
        layout=layout,
    )
    # audit: the staged index must reload cleanly (params + codebook
    # completeness validated inside ann_index_read) with non-empty lists
    staged = ann_index_read(spark, staging)
    if staged["coded"].limit(1).count() == 0:
        raise ValueError(
            f"ann_index_rebuild: staged index at {staging} has empty "
            "coded lists (corpus all-NULL?); live index left untouched"
        )
    if versioned:
        # ONE CAS flip: the pointer manifest now names the audited new
        # generation; the old generation stays on disk for in-flight
        # readers (ann_index_vacuum reclaims it later)
        from ..sources.manifest_log import log_commit

        log_commit(
            norm, [], meta={"index_generation": gen}, note="rebuild",
        )
        return ann_index_read(spark, norm)
    old = norm + "__pre_rebuild"
    shutil.rmtree(old, ignore_errors=True)
    os.rename(norm, old)
    os.rename(staging, norm)
    shutil.rmtree(old)
    return ann_index_read(spark, path)


def ann_index_vacuum(
    path: str, grace_sec: float = 3600.0
) -> list[str]:
    """Reclaim SUPERSEDED generations of a versioned index (r17): a
    rebuild leaves the previous ``gen-*`` directory on disk so
    in-flight readers finish against a complete index; this deletes
    every generation that (a) no pointer manifest still on disk
    references — expire old pointer versions first with
    sources.manifest_log.log_vacuum on the index root if time travel
    to them is no longer needed — and (b) is older than ``grace_sec``
    (the same in-flight-writer grace log_vacuum uses: a rebuild that
    has staged its generation but not yet won the pointer CAS must
    not lose it). Returns the deleted generation names. The liveness
    rule is the union-over-on-disk-manifests discipline from
    log_vacuum: any generation a still-openable pointer version names
    survives, so pinned time-travel readers stay valid."""
    import json as _json
    import os as _os
    import shutil as _shutil
    import time as _time

    mdir = _os.path.join(path, "_manifests")
    if not _os.path.isdir(mdir):
        return []  # legacy flat index: nothing generation-shaped
    referenced: set[str] = set()
    for fn in _os.listdir(mdir):
        if fn.startswith("v") and fn.endswith(".json"):
            with open(_os.path.join(mdir, fn)) as f:
                gen = _json.load(f)["meta"].get("index_generation")
            if gen:
                referenced.add(gen)
    horizon = _time.time() - grace_sec
    deleted = []
    for fn in sorted(_os.listdir(path)):
        fp = _os.path.join(path, fn)
        if (
            fn.startswith("gen-")
            and _os.path.isdir(fp)
            and fn not in referenced
            and _os.path.getmtime(fp) <= horizon
        ):
            _shutil.rmtree(fp, ignore_errors=True)
            deleted.append(fn)
    return deleted


def ann_index_topk(
    index: dict,
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    candidates: int = 50,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    corpus_filter: Column | str | None = None,
) -> DataFrame:
    """QUERY-ONLY residual IVF-PQ top-k against a persisted index —
    the plan contains ZERO training or encode stages (no Lloyd loop,
    no mapInPandas corpus pass, no pq_train; contract-pinned in
    tests/test_wave43.py): probe selection against the stored coarse
    codebook, per-(query, probed cell) LUT from the stored PQ
    codebooks, routed ADC over the stored inverted lists
    (BroadcastHashJoin on cent_id), candidate cut, exact re-rank.

    ``corpus`` supplies raw vectors for the candidate-bounded exact
    re-rank only (candidates x |Q| rows via an id equi-join — the
    standard deployment shape: codes answer the scan, a vector lookup
    store answers the re-rank). Results are bit-identical to
    ivf_pq_residual_topk with the same build parameters (same DuckDB
    oracle certifies both).

    ``corpus_filter`` (r14): a predicate over the coded rows
    (``nn_id``/``cent_id``) applied BEFORE the ADC scan and candidate
    cut — Faiss IDSelector-style PRE-filtering, the shape every vector
    store exposes as "filtered search". Pre- (not post-) filtering is
    the recall-preserving order: the top-k is computed within the
    allowed subset instead of filtering an already-cut candidate list
    down to fewer than k survivors. The filter composes with partition
    pruning and pushes to the coded parquet scan when it references
    partition/stats columns. Richer attribute filters pre-join their
    metadata onto the coded lists at build time (the lists are plain
    parquet — add columns and filter on them).

    Scale: per query batch the corpus-sized work is ONE pruned scan of
    the coded inverted lists — the index build's two raw-vector passes
    are paid once at build time, which is the whole point of the
    split."""
    p = index["params"]
    m, ksub, dim = p["m"], p["ksub"], p["dim"]
    cents = index["cents"]
    cents_u = cents.select(
        "cent_id", _unit(F.col("cent_vec")).alias("cent_uvec")
    )
    coded = index["coded"]
    if corpus_filter is not None:
        coded = coded.filter(corpus_filter)
    return _routed_residual_query(
        cents, cents_u, index["books"], coded, queries, corpus,
        k, m, ksub, dim // m, candidates, nprobe, id_col, vec_col, dim,
    )


def ann_multi_index_topk(
    indexes: dict[str, dict],
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    candidates: int = 50,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    merge_k: int | None = None,
    route: dict[str, Column] | None = None,
) -> DataFrame:
    """MULTI-INDEX fan-out search (r16 — the last named ANN roadmap
    item, r15 verdict missing #2): every query batch hits EVERY index
    and each index answers with its local top-k via the certified
    query-only path (ann_index_topk — zero train/encode stages, routed
    BHJ, DPP under partitioned layouts); results carry an ``index_id``
    column. The deployment shape is per-tenant / per-shard indexes that
    cannot share one coded table: different corpora, different frozen
    quantizers, different build cadences — Faiss sharded deployments
    and every multi-tenant vector store federate exactly this way
    (contrast ann_index_merge, which REQUIRES shared build artifacts
    and unions the lists into one index).

    ``merge_k`` additionally merges the per-index lists into a GLOBAL
    top-``merge_k`` per query — exact cosines are already computed by
    each index's re-rank, so the merge is one k-bounded window over
    |indexes| x k x |Q| rows (ties broken by nn_id, which is unique
    per corpus row), never a corpus-sized operation. Indexes with
    OVERLAPPING corpora (mid-reshard shards, a replica passed twice)
    return the same neighbor from several indexes with bit-identical
    cosine; the merge dedups (q_id, nn_id) first — keeping the
    lexicographically smallest index_id, deterministic — so one
    neighbor never occupies two of the merge_k slots (r16
    self-review). The un-merged frame keeps the duplicates: per-index
    result lists are exactly what each index answered.

    ``route`` (r16, the roadmap item's other half): per-index QUERY
    predicates — index ``name`` answers only ``queries.filter(
    route[name])``. This is tenancy routing (each tenant's queries hit
    only that tenant's index — the vector-store resident-shard shape),
    versus the default broadcast fan-out (every query hits every
    index — federated search). The predicates need not partition the
    query set: overlapping routes mean some queries legitimately fan
    out; an unmatched query simply returns no rows. A passed ``route``
    must be TOTAL over the index names (r17, r16 ADVICE #3): a missing
    entry raises ValueError up front instead of a bare KeyError
    mid-plan — tenancy isolation is exactly where a silently-defaulted
    index must not guess. To fan one index out explicitly under
    routing, map it to None (no predicate — every query hits it).

    Scale: the per-index plans are INDEPENDENT — Spark schedules their
    stages concurrently under the union, each keeping its own
    broadcast/DPP shape; the driver loop is bounded by the number of
    indexes (tenants), which is an operator-table-sized constant, not
    data."""
    from functools import reduce

    if not indexes:
        raise ValueError("ann_multi_index_topk: no indexes given")
    if route is not None:
        missing = sorted(n for n in indexes if n not in route)
        if missing:
            raise ValueError(
                "ann_multi_index_topk: route must map every index "
                f"name; missing {missing} (map an index to None to "
                "fan it out explicitly)"
            )
    parts = [
        ann_index_topk(
            idx,
            queries.filter(route[name])
            if route is not None and route[name] is not None
            else queries,
            corpus, k=k, candidates=candidates,
            nprobe=nprobe, id_col=id_col, vec_col=vec_col,
        ).select(
            F.lit(name).alias("index_id"),
            "q_id", "nn_id", "rank", "cosine",
        )
        for name, idx in indexes.items()
    ]
    out = reduce(lambda a, b: a.unionByName(b), parts)
    if merge_k is not None:
        dw = W.partitionBy("q_id", "nn_id").orderBy(
            F.col("index_id").asc()
        )
        w = W.partitionBy("q_id").orderBy(
            F.col("cosine").desc(), F.col("nn_id").asc()
        )
        out = (
            out.withColumn("_dup", F.row_number().over(dw))
            .filter(F.col("_dup") == 1)
            .drop("_dup")
            .withColumn("rank", F.row_number().over(w).cast("int"))
            .filter(F.col("rank") <= merge_k)
        )
    return out


def sq_train(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    train_sample_mod: int | None = None,
) -> tuple[list[float], list[float]]:
    """Train the 8-bit SCALAR quantizer — Faiss ScalarQuantizer
    QT_8bit's training step: per-dimension (vmin, vmax) over the UNIT
    forms of the (hash-sampled) corpus. MIN/MAX are exact, order-free
    aggregates, so unlike the k-means chains this needs no decimal
    machinery to be bit-reproducible: ONE corpus pass, 2*dim driver
    doubles.

    The xxhash64-modulus sample follows pq_train's discipline
    (deterministic, id-type-agnostic); an EMPTY non-null sample falls
    back to the full corpus (min/max are meaningful from one row, so
    the gate is presence, not ksub)."""
    dim = _vec_dim(corpus, vec_col, dim)
    if dim is None:
        raise ValueError("sq_train: corpus has no non-null vectors")
    src = corpus.filter(F.col(vec_col).isNotNull())
    if train_sample_mod and train_sample_mod > 1:
        sample = src.filter(
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(train_sample_mod))
            == 0
        )
        if sample.limit(1).count() >= 1:
            src = sample
    cu = src.select(_unit(F.col(vec_col)).alias("uvec"))
    aggs = []
    for j in range(dim):
        e = F.element_at(F.col("uvec"), j + 1)
        aggs.append(F.min(e).alias(f"mn{j}"))
        aggs.append(F.max(e).alias(f"mx{j}"))
    row = cu.agg(*aggs).first()
    vmin = [float(row[f"mn{j}"]) for j in range(dim)]
    vmax = [float(row[f"mx{j}"]) for j in range(dim)]
    return vmin, vmax


def _sq_code_col(vec: Column, vmin_arr: Column, vmax_arr: Column) -> Column:
    """8-bit scalar-quantize a unit vector against per-dimension
    (vmin, vmax) array literals:
    code = floor(clamp((x - vmin)/rng, 0, 1) * 255 + 0.5), zero-range
    dims code 0. Pure JVM expression (transform's indexed lambda) —
    the DuckDB cods CTE mirrors the term tree operation for
    operation."""

    def code(x, i):
        mn = F.element_at(vmin_arr, i + 1)
        mx = F.element_at(vmax_arr, i + 1)
        rng = mx - mn
        t = F.least(
            F.greatest((x - mn) / rng, F.lit(0.0)), F.lit(1.0)
        )
        return F.when(rng == F.lit(0.0), F.lit(0)).otherwise(
            F.floor(t * F.lit(255.0) + F.lit(0.5)).cast("int")
        )

    return F.transform(vec, code)


def _sq_dist_col(
    codes: Column, q_uvec: Column, vmin_arr: Column, vmax_arr: Column
) -> Column:
    """Asymmetric SQ distance: left fold (0.0 init) over dims of
    (u(q)_j - (vmin_j + code_j * (vmax_j - vmin_j) / 255))^2 — the
    codes never decode to a materialized vector, the reconstruction
    lives inside the fold term (the SQ analog of the PQ LUT lookup)."""

    def term(c, i):
        mn = F.element_at(vmin_arr, i + 1)
        mx = F.element_at(vmax_arr, i + 1)
        dec = mn + (c.cast("double") * (mx - mn)) / F.lit(255.0)
        d = F.element_at(q_uvec, i + 1) - dec
        return d * d

    return F.aggregate(
        F.transform(codes, term), F.lit(0.0), lambda a, x: a + x
    )


def ivf_sq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    candidates: int = 50,
    centroid_stride: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    train_sample_mod: int | None = None,
) -> DataFrame:
    """IVF-SQ8 approximate top-k with exact re-rank — Faiss
    ``IndexIVFScalarQuantizer`` (QT_8bit) shape, the OTHER production
    quantization family next to IVF-PQ: each unit vector stores dim
    8-bit codes (64 B at dim 64) instead of PQ's m sub-codes (4 B) —
    16x more memory than PQ but near-lossless fidelity and NO
    codebook/LUT machinery (training is one min/max pass). The
    standard deployment ladder is brute force -> SQ8 -> PQ as the
    corpus outgrows memory tiers; this completes that ladder
    (cosine_topk / ivf_sq_topk / ivf_pq_* are now all registered).
    Output shape (q_id, nn_id, rank, cosine), self-matches excluded —
    same as cosine_topk, so the exact twin is the recall reference.

    Composition, reusing the audited pieces: coarse routing =
    ivf_pq_topk's strided centroids + broadcast/max_by assignment
    (identical tie rules, so the oracle shares _ivf_routing_parts);
    the scan is the same BroadcastHashJoin on cent_id against a
    broadcast (q_id, cent_id, q_uvec) probe frame — non-probed cells
    drop map-side; distance is an in-row fold that reconstructs each
    dimension INSIDE the term (no decoded vector materializes).

    Scale: corpus-sized work is the coarse-assign aggregation, one
    encode projection (pure codegen transform — no Arrow pass, no
    driver codebooks beyond 2*dim doubles), and the narrow
    codes/assignment equi-join; the pruned scan reads ~nprobe/n_cells
    of the codes. Exact re-rank touches candidates x |Q| raw vectors.

    Reference parity: the reference engine has no ANN surface
    (build.sh:75-233 is tile ETL); §2.11 training-pipeline extension.
    """
    from ..sources.registry import widen_partitions

    dim = _vec_dim(corpus, vec_col, dim)
    if dim is None:
        # empty corpus: correct empty result via the exact plan
        return cosine_topk(corpus, queries, k, id_col, vec_col)
    cents, _ = _coarse_cents(
        corpus, centroid_stride, None, 2, id_col, vec_col, "ivf_sq_topk"
    )
    cos = _cos_fn(dim)
    # nearest centroid per corpus vector — ivf_pq_topk's pass verbatim
    # (broadcast cross + max_by; ties to the HIGHEST cent_id)
    c = widen_partitions(corpus).select(
        F.col(id_col).alias("nn_id"), F.col(vec_col).alias("nn_vec")
    )
    assign = (
        c.crossJoin(F.broadcast(cents))
        .withColumn("cs", cos(F.col("nn_vec"), F.col("cent_vec")))
        .groupBy("nn_id")
        .agg(F.max_by("cent_id", F.struct("cs", "cent_id")).alias("cent_id"))
    )

    vmin, vmax = sq_train(corpus, id_col, vec_col, dim, train_sample_mod)
    # exact doubles relayed as literals (min/max PICK input values —
    # no float arithmetic happens on the driver)
    vmin_arr = F.array(*[F.lit(v) for v in vmin])
    vmax_arr = F.array(*[F.lit(v) for v in vmax])

    cu = corpus.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("nn_id"), _unit(F.col(vec_col)).alias("uvec")
    )
    codes = cu.select(
        "nn_id", _sq_code_col(F.col("uvec"), vmin_arr, vmax_arr).alias("codes")
    )
    coded = codes.join(assign, "nn_id")

    # query probes: nprobe nearest cells, ties to the LOWEST cent_id;
    # the probe frame carries u(q) so the distance fold reads it in-row
    queries = _nonnull_queries(queries, vec_col)
    q = queries.select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec")
    )
    q_scored = q.crossJoin(F.broadcast(cents)).withColumn(
        "cs", cos(F.col("q_vec"), F.col("cent_vec"))
    )
    wq = W.partitionBy("q_id").orderBy(F.desc("cs"), F.asc("cent_id"))
    probes = (
        q_scored.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= nprobe)
        .select("q_id", "cent_id")
    )
    q_unit = queries.select(
        F.col(id_col).alias("q_id"), _unit(F.col(vec_col)).alias("q_uvec")
    )
    pframe = probes.join(q_unit, "q_id")

    sqd = (
        coded.join(F.broadcast(pframe), "cent_id")
        .filter(F.col("nn_id") != F.col("q_id"))
        .select(
            "q_id",
            "nn_id",
            _sq_dist_col(
                F.col("codes"), F.col("q_uvec"), vmin_arr, vmax_arr
            ).alias("adist"),
        )
    )
    wnd = W.partitionBy("q_id").orderBy(F.asc("adist"), F.asc("nn_id"))
    cand = (
        sqd.withColumn("r", F.row_number().over(wnd))
        .filter(F.col("r") <= candidates)
        .select("q_id", "nn_id")
    )
    return _exact_rerank(cand, corpus, queries, k, id_col, vec_col, dim)
