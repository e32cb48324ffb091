"""Similarity search over embedding columns (north-star §7).

Two tiers, same output contract (query_id, neighbor_id, sim, rank):

- knn_bruteforce: exact cosine top-k. The query set is broadcast (it is
  small by definition); the corpus is scanned once, similarities are
  computed JVM-side (zip_with/aggregate — no Python), and per-query
  top-k avoids a global sort. This is the correctness oracle.

- knn_ivf: IVF-style partitioned search — corpus bucketed by a coarse
  quantizer (here: the provided `label` column as the cell id, i.e. a
  pre-computed clustering; at 100 TB you'd k-means a sample for
  centroids and assign with the same JVM-side cosine). Queries probe
  only their nearest `nprobe` cells, cutting the scanned fraction to
  nprobe/ncells. Exactness is traded for scan volume — tests measure
  recall against knn_bruteforce.

Scale design: the expensive side (corpus) is never shuffled for
brute-force search — the query set is broadcast to it. For IVF the
corpus would be written bucketed-by-cell (partitioned parquet), making
a probe a partition-pruned scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from kafka_streams_homework_spark.functions import cosine_similarity
from kafka_streams_homework_spark.operators.dedup import band_pairs
from kafka_streams_homework_spark.session import bounded_loop


def _topk(scored: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", "rank")
    )


def knn_bruteforce(
    embeddings: DataFrame, queries: DataFrame, k: int = 5
) -> DataFrame:
    """Exact cosine top-k: broadcast(queries) × corpus scan.

    `queries` schema: (vec_id, embedding). Self-matches are excluded.
    sim is rounded to 6 decimals BEFORE ranking so ordering is stable
    across engines (oracle parity).
    """
    q = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    c = embeddings.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_emb")
    )
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "sim", F.round(cosine_similarity(F.col("q_emb"), F.col("c_emb")), 6)
        )
        .select("query_id", "neighbor_id", "sim")
    )
    return _topk(scored, k)


def knn_ivf(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 2,
) -> DataFrame:
    """IVF-partitioned ANN: probe only the nprobe nearest cells.

    Cells = the `label` column (a precomputed coarse clustering).
    Centroids are computed as per-cell mean vectors (a tiny aggregate),
    queries are assigned to their nprobe closest centroids, and the
    candidate scan is restricted to those cells via an equi-join on the
    cell id — i.e. a partition-pruned scan when the corpus is stored
    bucketed by cell.
    """
    # Per-cell centroid: elementwise mean via posexplode (rows =
    # n_vectors × dim — tiny relative to the corpus scan it saves).
    pos = embeddings.select(
        "label", F.posexplode("embedding").alias("pos", "val")
    )
    centroids = (
        pos.groupBy("label", "pos")
        .agg(F.avg("val").alias("c"))
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "c"))).alias("pc"))
        .select(
            F.col("label").alias("cell"),
            F.transform("pc", lambda s: s["c"]).alias("centroid"),
        )
    )
    q = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    # Assign each query to its nprobe nearest cells (tiny crossJoin:
    # |queries| × |cells|).
    qcells = (
        q.crossJoin(F.broadcast(centroids))
        .withColumn("csim", cosine_similarity(F.col("q_emb"), F.col("centroid")))
        .withColumn(
            "crank",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.col("csim").desc(), F.col("cell").asc()
                )
            ),
        )
        .filter(F.col("crank") <= nprobe)
        .select("query_id", "q_emb", "cell")
    )
    c = embeddings.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
        F.col("label").alias("cell"),
    )
    scored = (
        c.join(F.broadcast(qcells), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "sim", F.round(cosine_similarity(F.col("q_emb"), F.col("c_emb")), 6)
        )
        .select("query_id", "neighbor_id", "sim")
    )
    return _topk(scored, k)


FIT_SAMPLE_DEFAULT = 32768
"""Quantizer-training sample cap (vectors collected to the driver).

Coarse/PQ quantizers are trained on a bounded sample, exactly as FAISS
and every production ANN system does: codebook quality saturates at
tens of thousands of training points regardless of corpus size, so at
100 TB the fit cost is CONSTANT — one hash-ordered sample collect
(~32k × dim floats, a few MB) plus vectorized Lloyd on the driver —
while everything corpus-sized (assignment, encode, probe, re-rank)
stays a distributed scan. The distributed-Lloyd twins
(kmeans_cells_distributed / pq_fit_distributed) are kept as the
reference fit that test_sample_fit_matches_distributed_fit checks the
sampled fits against."""


def _sample_vectors(embeddings: DataFrame, n: int):
    """Deterministic training sample: the n vectors with smallest
    xxhash64(vec_id) (seedless pseudo-random spread; a superset of the
    k/ksub-seed rule the distributed fits use, so both paths share
    initialization). Returns (vec_ids, np.ndarray float64 (n, dim))."""
    import numpy as np

    rows = (
        embeddings.select("vec_id", "embedding")
        .orderBy(F.xxhash64("vec_id"))
        .limit(n)
        .collect()
    )
    ids = [r.vec_id for r in rows]
    return ids, np.array([[float(x) for x in r.embedding] for r in rows])


def kmeans_cells(
    embeddings: DataFrame,
    ncells: int = 8,
    iters: int = 4,
) -> DataFrame:
    """Spherical k-means coarse quantizer.

    Trains on a bounded deterministic sample (see FIT_SAMPLE_DEFAULT —
    one collect job + vectorized numpy Lloyd, O(sample) driver work
    independent of corpus size). Semantics match the distributed twin:
    cosine assignment with lowest-cell tie-break, raw-mean update,
    empty cells keep their centroid, init = the ncells vectors with
    smallest xxhash64(vec_id).
    """
    _, X = _sample_vectors(embeddings, FIT_SAMPLE_DEFAULT)
    cents = _kmeans_np(X, ncells, iters)
    spark = embeddings.sparkSession
    return spark.createDataFrame(
        [(i, [float(v) for v in c]) for i, c in enumerate(cents)],
        "cell int, centroid array<double>",
    )


def _kmeans_np(X, ncells: int, iters: int):
    """Vectorized spherical Lloyd on a driver-side sample (see
    kmeans_cells for the semantics contract with the distributed twin).
    Returns the centroid ndarray."""
    import numpy as np

    ncells = min(ncells, X.shape[0])
    cents = X[:ncells].copy()
    xn = np.linalg.norm(X, axis=1)
    xn[xn == 0] = 1.0
    for _ in range(iters):
        cn = np.linalg.norm(cents, axis=1)
        cn[cn == 0] = 1.0
        sim = (X @ cents.T) / xn[:, None] / cn[None, :]
        best = np.argmax(sim, axis=1)  # first max == lowest cell id
        for c in range(ncells):
            mask = best == c
            if mask.any():  # empty cells keep their previous centroid
                cents[c] = X[mask].mean(axis=0)
    return cents


def kmeans_cells_distributed(
    embeddings: DataFrame,
    ncells: int = 8,
    iters: int = 4,
) -> DataFrame:
    """Spherical k-means coarse quantizer, Lloyd iterations on DataFrames.

    The driver holds only the k centroids (k × dim floats) between
    iterations — every heavy step is distributed:
    - assignment: corpus ⋈ broadcast(centroids) (k rows), best cell via
      max(struct(sim, -cell)) in one partial-aggregated groupBy —
      no window shuffle;
    - update: posexplode to (cell, pos, val), one groupBy for the
      elementwise means.
    Initialization is deterministic: the k vectors with the smallest
    xxhash64(vec_id) (a seedless pseudo-random spread).

    This is the training-set-stays-cluster-side twin of kmeans_cells;
    assignment of the full corpus happens once, in knn_ivf_kmeans, and
    would be persisted as bucketed-by-cell parquet so probes are
    partition-pruned scans. No query calls it: it is kept as the
    reference test_sample_fit_matches_distributed_fit checks
    kmeans_cells against.
    """
    corpus = embeddings.select("vec_id", "embedding")
    init = (
        corpus.orderBy(F.xxhash64("vec_id"))
        .limit(ncells)
        .select("embedding")
        .collect()
    )
    centroids = [list(map(float, r.embedding)) for r in init]

    spark = embeddings.sparkSession
    for _ in range(iters):
        cdf = spark.createDataFrame(
            [(i, c) for i, c in enumerate(centroids)],
            "cell int, centroid array<double>",
        )
        best = (
            corpus.crossJoin(F.broadcast(cdf))
            .withColumn(
                "sim", cosine_similarity(F.col("embedding"), F.col("centroid"))
            )
            .groupBy("vec_id")
            .agg(F.max(F.struct(F.col("sim"), (-F.col("cell")).alias("nc"))).alias("b"))
            .select("vec_id", (-F.col("b.nc")).alias("cell"))
        )
        new_rows = (
            corpus.join(best, "vec_id")
            .select("cell", F.posexplode("embedding").alias("pos", "val"))
            .groupBy("cell", "pos")
            .agg(F.avg("val").alias("m"))
            .groupBy("cell")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
            .select("cell", F.transform("pm", lambda s: s["m"]).alias("centroid"))
            .collect()
        )
        for r in new_rows:  # empty cells keep their previous centroid
            centroids[r.cell] = list(map(float, r.centroid))

    return spark.createDataFrame(
        [(i, c) for i, c in enumerate(centroids)],
        "cell int, centroid array<double>",
    )


def assign_cells(embeddings: DataFrame, centroids: DataFrame) -> DataFrame:
    """Assign every vector to its nearest centroid cell — one
    ZERO-SHUFFLE map stage.

    The centroid table (k × dim doubles, a few KB) rides along as a
    single broadcast row of nested arrays; per row the cell is the
    argmax of the per-cell cosine array (array_position finds the
    FIRST max, i.e. the lowest cell id — the same tie-break as the
    k-row-join twin's max(struct(sim, -cell)) this replaces, which
    paid a groupBy shuffle of |corpus| × k rows for a per-row argmax).
    """
    rows = centroids.orderBy("cell").collect()
    nested = [[float(v) for v in r.centroid] for r in rows]
    spark = embeddings.sparkSession
    cdf = spark.createDataFrame([(nested,)], "cents array<array<double>>")
    sims = F.transform(
        F.col("cents"), lambda cent: cosine_similarity(F.col("embedding"), cent)
    )
    return embeddings.crossJoin(F.broadcast(cdf)).select(
        "vec_id",
        (F.array_position(sims, F.array_max(sims)) - 1).cast("int").alias("cell"),
    )


def semantic_dedup(
    embeddings: DataFrame,
    ncells: int = 32,
    iters: int = 4,
) -> DataFrame:
    """Semantic deduplication (SemDeDup-style): spherical k-means
    clusters are the near-duplicate groups; each cluster keeps ONE
    representative — the member nearest its centroid (min vec_id on
    ties) — and the rest are the semantic dups to drop.

    The embedding-space analogue of dedup_clusters' keep-min-id rule:
    where MinHash/Jaccard dedup needs textual overlap, clustering
    collapses *paraphrases* that share no n-grams. Returns one row per
    non-empty cell: (cell, rep_vec_id, n_members, rep_sim).

    Scale: centroids are a k×dim broadcast; assignment is one scan +
    one partial-aggregated groupBy(vec_id); representative election is
    one groupBy(cell) over (vec_id, sim) pairs — the corpus embedding
    column itself never shuffles. A pathologically hot cell only skews
    a max/count aggregate (partial-combined), not a row explosion.
    k-means runs on the full corpus here; at 100 TB fit on a sample
    (kmeans_cells docstring) and assign the full corpus once.
    """
    cents = kmeans_cells(embeddings, ncells, iters)
    assigned = (
        embeddings.select("vec_id", "embedding")
        .crossJoin(F.broadcast(cents))
        .withColumn(
            "sim", cosine_similarity(F.col("embedding"), F.col("centroid"))
        )
        .groupBy("vec_id")
        .agg(
            F.max(
                F.struct(F.col("sim"), (-F.col("cell")).alias("nc"))
            ).alias("b")
        )
        .select(
            "vec_id",
            (-F.col("b.nc")).alias("cell"),
            F.col("b.sim").alias("sim"),
        )
    )
    return (
        assigned.groupBy("cell")
        .agg(
            F.max(
                F.struct(F.col("sim"), (-F.col("vec_id")).alias("nid"))
            ).alias("r"),
            F.count(F.lit(1)).alias("n_members"),
        )
        .select(
            "cell",
            (-F.col("r.nid")).alias("rep_vec_id"),
            "n_members",
            F.round(F.col("r.sim"), 6).alias("rep_sim"),
        )
    )


def knn_ivf_kmeans(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    ncells: int = 8,
    iters: int = 4,
) -> DataFrame:
    """IVF ANN with a *learned* coarse quantizer (vs knn_ivf's
    precomputed `label` cells): fit spherical k-means, bucket the
    corpus by nearest centroid, probe nprobe cells per query.

    nprobe == ncells recovers the exact brute-force result (pytest
    pins this); smaller nprobe trades recall for scan volume —
    the IVF contract.
    """
    centroids = kmeans_cells(embeddings, ncells, iters)
    cells = assign_cells(embeddings, centroids)
    corpus = embeddings.join(cells, "vec_id").select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
        "cell",
    )
    q = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    qcells = (
        q.crossJoin(F.broadcast(centroids))
        .withColumn("csim", cosine_similarity(F.col("q_emb"), F.col("centroid")))
        .withColumn(
            "crank",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.col("csim").desc(), F.col("cell").asc()
                )
            ),
        )
        .filter(F.col("crank") <= nprobe)
        .select("query_id", "q_emb", "cell")
    )
    scored = (
        corpus.join(F.broadcast(qcells), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "sim", F.round(cosine_similarity(F.col("q_emb"), F.col("c_emb")), 6)
        )
        .select("query_id", "neighbor_id", "sim")
    )
    return _topk(scored, k)


def cosine_pairs_within_label(
    embeddings: DataFrame, threshold: float = 0.9
) -> DataFrame:
    """Embedding near-dup pairs: cosine ≥ threshold within a blocking key.

    Blocking on `label` keeps the pair space at sum(n_cell²) instead of
    n² — the standard blocked-dedup shape. Fully SQL-expressible, so
    oracle-checked. Scale caveat: within a block the join is still
    quadratic, so this is only safe when blocks are known-small; the
    scale path for coarse/no blocking keys is ``cosine_pairs_lsh``.
    """
    a = embeddings.select(
        F.col("label"), F.col("vec_id").alias("id_a"), F.col("embedding").alias("e_a")
    )
    b = embeddings.select(
        F.col("label"), F.col("vec_id").alias("id_b"), F.col("embedding").alias("e_b")
    )
    return (
        a.join(b, ["label"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("sim", F.round(cosine_similarity(F.col("e_a"), F.col("e_b")), 6))
        .filter(F.col("sim") >= threshold)
        .select("label", "id_a", "id_b", "sim")
    )


def _hyperplane_signature_col(emb, mat) -> "F.Column":
    """Signature from a matrix COLUMN (array<array<double>>): the
    nbits dot products as one nested higher-order expression. Callers
    that join the matrix in as data (``_planes_frame``) keep the
    analyzed plan tiny — no nbits×dim literal tree to walk per side."""
    dots = F.transform(
        mat,
        lambda h: F.aggregate(
            F.zip_with(emb, h, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )
    return F.transform(
        dots, lambda d: F.when(d >= 0, 1).otherwise(0)
    )


def _planes_frame(spark, planes) -> DataFrame:
    """ONE-row frame carrying the hyperplane matrix as DATA.

    Broadcast-joined onto each side instead of baking the matrix into
    the plan: the r8 literal fix cut 8 192 F.lit round-trips to one
    F.expr parse, but analysis still re-walked the nbits×dim literal
    tree once per side (~0.7 s each at 128×64). As a joined column the
    plan holds a single attribute reference; the matrix moves once via
    broadcast. Values are bit-identical floats, so oracle parity is
    untouched."""
    return spark.createDataFrame(
        [([[float(x) for x in h] for h in planes],)],
        "planes_mat array<array<double>>",
    )


def random_hyperplanes(dim: int, nbits: int, seed: int = 42) -> list[list[float]]:
    """Deterministic Gaussian hyperplanes (the SimHash-for-cosine family:
    P[bit collision] = 1 - angle(u,v)/pi, Charikar STOC'02)."""
    import numpy as np

    rng = np.random.RandomState(seed)
    return rng.randn(nbits, dim).tolist()


def cosine_pairs_lsh(
    embeddings: DataFrame,
    threshold: float = 0.9,
    bands: int = 32,
    bits_per_band: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Embedding near-dup pairs via random-hyperplane LSH — the 100 TB
    path that needs NO blocking key (vs cosine_pairs_within_label's
    label blocks, which go quadratic when blocks are coarse).

    Mirror of dedup.minhash_lsh_pairs: signature → banded candidate
    equi-join on (band, bucket) → exact cosine verify, so the output has
    no false positives; banding only affects recall (pytest pins recall
    vs the exact op). With b bands of r bits, a pair at cosine s
    collides with probability 1-(1-p^r)^b where p = 1 - arccos(s)/pi —
    at the defaults (32×4) that is ≈0.993 for s ≥ 0.35. Low thresholds
    are LSH's weak regime (bit-collision p is 0.61 at s=0.35 vs 0.5 for
    random pairs), so candidate volume rises as τ falls — the op's
    sweet spot is true near-duplicate detection (τ ≥ 0.8), where
    random pairs almost never share a band. Measured on the centered
    synthetic corpus at sf0.1 (2000 vectors): τ=0.35 admits ~86% of all
    pairs as candidates — at thresholds this low no banding can keep
    recall ≥0.95 AND prune (the 0.61-vs-0.5 bit-collision gap is too
    thin), so the exact-verify join dominates. Measured alternatives: learned
    k-means cell blocking (cosine_pairs_cells) reaches recall 1.0 at
    τ ≥ ~0.4 (above the similarity bulk) but only ~0.7 at τ=0.35 —
    at thresholds inside the bulk of the pair-similarity distribution
    no blocking scheme can both prune and keep recall; use the exact
    blocked op there, and LSH/cells for true near-dup thresholds.

    Each band's bucket is its r sign bits read as one integer
    (`_band_bucket_expr`), so two vectors share a bucket exactly when
    their band's bits agree; candidates come from `dedup.band_pairs`.

    Scale: the signature is a per-row projection over a broadcast
    hyperplane matrix (no shuffle); candidates come from equality joins
    on (band, bucket) keys; embeddings shuffle only for the candidate
    verify join, never all-pairs.
    """
    first = embeddings.select(F.size("embedding").alias("d")).first()
    if first is None:
        return embeddings.sparkSession.createDataFrame(
            [], "id_a long, id_b long, sim double"
        )
    planes = random_hyperplanes(first["d"], bands * bits_per_band, seed)
    planes_df = _planes_frame(embeddings.sparkSession, planes)

    sig = embeddings.crossJoin(F.broadcast(planes_df)).select(
        "vec_id",
        "embedding",
        _hyperplane_signature_col(
            F.col("embedding").cast("array<double>"), F.col("planes_mat")
        ).alias("sig"),
    )
    candidates = band_pairs(
        sig, "vec_id", _band_bucket_expr(bands, bits_per_band)
    ).select(F.col("vec_id_a").alias("id_a"), F.col("vec_id_b").alias("id_b"))
    ea = embeddings.select(
        F.col("vec_id").alias("id_a"), F.col("embedding").alias("e_a")
    )
    eb = embeddings.select(
        F.col("vec_id").alias("id_b"), F.col("embedding").alias("e_b")
    )
    return (
        candidates.join(ea, "id_a")
        .join(eb, "id_b")
        .withColumn("sim", F.round(cosine_similarity(F.col("e_a"), F.col("e_b")), 6))
        .filter(F.col("sim") >= threshold)
        .select("id_a", "id_b", "sim")
    )


def md5_hyperplanes(dim: int, nbits: int) -> list[list[float]]:
    """Engine-portable hyperplanes: component w(j, i) is the md5
    fraction of "j:i" mapped to [-1, 1) — int(md5[:8], 16) / 2^32 is
    a dyadic rational, so the Python value here and the SQL
    expression ('0x' || substr(md5(j||':'||i), 1, 8))::BIGINT
    / 4294967296.0 produce bit-identical doubles. Uniform symmetric
    components give the same sign-LSH family shape as Gaussian
    (collision probability monotone in angle); the Gaussian variant
    stays the production default."""
    import hashlib

    return [
        [
            int(hashlib.md5(f"{j}:{i}".encode()).hexdigest()[:8], 16)
            / 4294967296.0
            * 2
            - 1
            for i in range(dim)
        ]
        for j in range(nbits)
    ]


def _band_bucket_expr(bands: int, bits_per_band: int) -> "F.Column":
    """array<struct<band,bucket>> from a materialized `sig` column —
    ONE parsed expression instead of bands x bits_per_band py4j
    Column constructions (which cost ~3 s of driver chatter per call
    site at 32x4; the parse: milliseconds). The MSB-first fold
    acc*2+x reproduces sum(sig[b*k+r] * 2^(k-1-r)) exactly, so the
    bucket is injective on a band's bit tuples. The band keys of both
    cosine pair operators and of knn_lsh_md5."""
    return F.expr(
        f"transform(sequence(0, {bands - 1}), b -> named_struct("
        f"'band', b, 'bucket', aggregate(slice(sig, "
        f"b*{bits_per_band}+1, {bits_per_band}), 0, "
        f"(acc, x) -> acc*2 + x)))"
    )


def cosine_pairs_lsh_md5(
    embeddings: DataFrame,
    threshold: float = 0.35,
    bands: int = 32,
    bits_per_band: int = 4,
) -> DataFrame:
    """Random-hyperplane LSH pairs, ENGINE-PORTABLE and therefore
    oracle-HASH-checked end to end (cosine_pairs_lsh stays rows-only:
    its numpy Gaussian planes are Python-private).

    Identical pipeline: sign-bit signature over broadcast
    hyperplanes → banded candidate equi-join → exact cosine verify
    (no false positives; banding affects recall only), with the same
    4-bit band bucket, the literal integer 8b₀+4b₁+2b₂+b₃. Its
    hyperplanes are md5 fractions (md5_hyperplanes), replayable in ANSI
    SQL, so DuckDB recomputes signatures, banding, collision AND
    verification exactly.
    """
    first = embeddings.select(F.size("embedding").alias("d")).first()
    if first is None:
        return embeddings.sparkSession.createDataFrame(
            [], "id_a long, id_b long, sim double"
        )
    planes = md5_hyperplanes(first["d"], bands * bits_per_band)
    planes_df = _planes_frame(embeddings.sparkSession, planes)

    emb = embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    sig = emb.crossJoin(F.broadcast(planes_df)).select(
        "vec_id",
        "embedding",
        _hyperplane_signature_col(
            F.col("embedding"), F.col("planes_mat")
        ).alias("sig"),
    )
    candidates = band_pairs(
        sig, "vec_id", _band_bucket_expr(bands, bits_per_band)
    ).select(F.col("vec_id_a").alias("id_a"), F.col("vec_id_b").alias("id_b"))
    ea = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("e_a"))
    eb = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("e_b"))
    return (
        candidates.join(ea, "id_a")
        .join(eb, "id_b")
        .withColumn(
            "sim",
            F.round(
                cosine_similarity(F.col("e_a"), F.col("e_b")) + F.lit(1e-9), 6
            ),
        )
        .filter(F.col("sim") >= threshold)
        .select("id_a", "id_b", "sim")
    )


def knn_lsh_md5(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    bands: int = 32,
    bits_per_band: int = 4,
) -> DataFrame:
    """ANN top-k via md5-hyperplane LSH candidate pruning + exact
    re-rank — the first ANN family member that is oracle-HASH-checked
    end to end (the IVF/PQ members are rows-only: k-means centroids
    are float-iteration artifacts no second engine can replay).

    Candidates are corpus vectors sharing ≥1 of `bands` 4-bit sign
    buckets with the query (same portable signature construction as
    cosine_pairs_lsh_md5); candidates then re-rank by EXACT cosine
    with deterministic tie order (sim DESC, neighbor_id ASC) over the
    6-digit-rounded similarity — every step ANSI-SQL-replayable, so
    recall loss (a genuine LSH property) is itself pinned by the
    oracle, not just sampled. Scale shape: signatures are per-row
    projections over plan-literal planes (no shuffle), the candidate
    join keys are (band, 4-bit bucket) against a broadcast-size query
    side, and only candidates reach the exact-cosine stage.
    """
    first = embeddings.select(F.size("embedding").alias("d")).first()
    if first is None:
        return embeddings.sparkSession.createDataFrame(
            [], "query_id long, neighbor_id long, sim double, rank long"
        )
    planes = md5_hyperplanes(first["d"], bands * bits_per_band)
    from kafka_streams_homework_spark.caching import tracked_persist

    # the plane matrix travels as a one-row BROADCAST frame, not a plan
    # literal: analysis holds one attribute reference per side instead
    # of re-walking a nbits x dim literal tree (~0.7 s per side at
    # 128x64 — the r9 knn_lsh shave, VERDICT r8 task 7)
    planes_df = _planes_frame(embeddings.sparkSession, planes)
    sig_col = _hyperplane_signature_col(
        F.col("embedding").cast("array<double>"), F.col("planes_mat")
    )

    def with_buckets(df: DataFrame, id_alias: str) -> DataFrame:
        # persist the signature projection as an OPTIMIZER BARRIER:
        # the band/bucket projection below references `sig` 4*bands
        # times; behind the persist the references resolve to the
        # cached column instead of re-deriving the dots. Linear,
        # columnar (id + nbits ints per row).
        sig = tracked_persist(
            df.crossJoin(F.broadcast(planes_df)).select(
                F.col("vec_id").alias(id_alias),
                sig_col.alias("sig"),
            )
        )
        return sig.select(
            id_alias,
            F.explode(_band_bucket_expr(bands, bits_per_band)).alias("bb"),
        ).select(id_alias, "bb.band", "bb.bucket")

    qb = with_buckets(queries, "query_id")
    cb = with_buckets(embeddings, "neighbor_id")
    # not dedup.band_pairs: the query side is broadcast, and a pair is
    # query_id != neighbor_id across two frames, not a self-join order
    candidates = (
        F.broadcast(qb)
        .join(
            cb,
            (qb["band"] == cb["band"])
            & (qb["bucket"] == cb["bucket"])
            & (F.col("query_id") != F.col("neighbor_id")),
        )
        .select("query_id", "neighbor_id")
        .distinct()
    )
    qe = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("e_q"),
    )
    ce = embeddings.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").cast("array<double>").alias("e_c"),
    )
    scored = (
        candidates.join(F.broadcast(qe), "query_id")
        .join(ce, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                cosine_similarity(F.col("e_q"), F.col("e_c")), 6
            ).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", F.col("rank").cast("long"))
    )


def ivf_write_index(
    embeddings: DataFrame,
    path: str,
    ncells: int = 8,
    iters: int = 4,
) -> DataFrame:
    """Materialize the IVF layout the knn_ivf docstring promises: the
    corpus written ``partitionBy(cell)`` (one directory per coarse cell)
    plus the centroid table. Returns the centroids.

    At 100 TB this is the one-time index build: k-means on a sample,
    one assignment scan, one partitioned write. Probes then touch only
    nprobe/ncells of the data AT THE SCAN — directory-level partition
    pruning, not a post-scan filter (asserted in tests/test_plans.py).
    """
    centroids = kmeans_cells(embeddings, ncells, iters)
    cells = assign_cells(embeddings, centroids)
    (
        embeddings.join(cells, "vec_id")
        .write.partitionBy("cell")
        .mode("overwrite")
        .parquet(f"{path}/corpus")
    )
    centroids.write.mode("overwrite").parquet(f"{path}/centroids")
    return centroids


def ivf_probe_index(
    spark: "SparkSession",
    path: str,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 2,
) -> DataFrame:
    """Probe a materialized IVF index: assign queries to their nprobe
    nearest centroids, then scan ONLY those cell directories.

    The probed cell ids are collected to the driver (bounded:
    |queries| × nprobe ints — queries are small by definition) and
    pushed as a static IN filter on the partition column, so the scan
    plan shows PartitionFilters and reads nprobe/ncells of the corpus.
    The join-based alternative (broadcast qcells + dynamic partition
    pruning) avoids the collect but makes pruning contingent on DPP
    firing; the static filter makes it unconditional.
    """
    centroids = spark.read.parquet(f"{path}/centroids")
    q = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    qcells = (
        q.crossJoin(F.broadcast(centroids))
        .withColumn("csim", cosine_similarity(F.col("q_emb"), F.col("centroid")))
        .withColumn(
            "crank",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.col("csim").desc(), F.col("cell").asc()
                )
            ),
        )
        .filter(F.col("crank") <= nprobe)
        .select("query_id", "q_emb", "cell")
    )
    probe_cells = sorted({r.cell for r in qcells.select("cell").distinct().collect()})
    corpus = (
        spark.read.parquet(f"{path}/corpus")
        .filter(F.col("cell").isin(probe_cells))
        .select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("embedding").alias("c_emb"),
            "cell",
        )
    )
    scored = (
        corpus.join(F.broadcast(qcells), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "sim", F.round(cosine_similarity(F.col("q_emb"), F.col("c_emb")), 6)
        )
        .select("query_id", "neighbor_id", "sim")
    )
    return _topk(scored, k)


def cosine_pairs_cells(
    embeddings: DataFrame,
    threshold: float = 0.35,
    ncells: int = 8,
    iters: int = 3,
    nassign: int = 2,
) -> DataFrame:
    """Embedding near-dup pairs via LEARNED cell blocking — the low-τ
    scale path (see cosine_pairs_lsh: sign-bit banding cannot prune at
    thresholds near random-pair similarity; distance-aware cells can).

    Each vector is assigned to its ``nassign`` nearest k-means cells
    (multi-probe: a pair straddling a cell boundary still shares a
    cell); candidate pairs are generated per cell and verified with
    exact cosine, so there are no false positives — cells trade only
    recall, which pytest measures against the exact op.

    Scale: candidate volume is Σ_c n_c² over cells of ~n/ncells
    (quadratic term divided by ncells vs brute force; ncells grows with
    corpus so n_c stays bounded); assignment reuses the broadcast
    centroid table (k × dim floats on the driver, nothing else
    collected).
    """
    centroids = kmeans_cells(embeddings, ncells, iters)
    assigned = (
        embeddings.crossJoin(F.broadcast(centroids))
        .withColumn("csim", cosine_similarity(F.col("embedding"), F.col("centroid")))
        .withColumn(
            "crank",
            F.row_number().over(
                Window.partitionBy("vec_id").orderBy(
                    F.col("csim").desc(), F.col("cell").asc()
                )
            ),
        )
        .filter(F.col("crank") <= nassign)
        .select("vec_id", "cell")
    )
    a = assigned.select(F.col("vec_id").alias("id_a"), "cell")
    b = assigned.select(F.col("vec_id").alias("id_b"), "cell")
    candidates = (
        a.join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    ea = embeddings.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("e_a"))
    eb = embeddings.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("e_b"))
    return (
        candidates.join(ea, "id_a")
        .join(eb, "id_b")
        .withColumn("sim", F.round(cosine_similarity(F.col("e_a"), F.col("e_b")), 6))
        .filter(F.col("sim") >= threshold)
        .select("id_a", "id_b", "sim")
    )


def knn_filtered(
    embeddings: DataFrame, queries: DataFrame, k: int = 5
) -> DataFrame:
    """Filtered vector search — each query carries a metadata predicate
    (here: neighbor.label != query.label) evaluated inside the
    broadcast join, i.e. PRE-filter semantics.

    The distinction matters: post-filtering (rank top-k, then apply
    the predicate) silently under-fills k whenever filtered neighbors
    occupied top slots — the classic hybrid-search bug. Evaluating the
    predicate in the join condition scores only eligible candidates,
    so every query gets its true top-k among the filtered corpus.

    Scale shape is knn_bruteforce unchanged: queries (with their
    filter payload) broadcast; the corpus scans once, never shuffles;
    ranking is the same WindowGroupLimit top-k. A label-partitioned
    corpus layout (knn_ivf_indexed) would additionally prune scans for
    equality predicates.
    """
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("label").alias("q_label"),
    )
    c = embeddings.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
        F.col("label").alias("c_label"),
    )
    scored = (
        c.join(
            F.broadcast(q),
            (F.col("query_id") != F.col("neighbor_id"))
            & (F.col("q_label") != F.col("c_label")),
        )
        .withColumn(
            "sim", F.round(cosine_similarity(F.col("q_emb"), F.col("c_emb")), 6)
        )
        .select("query_id", "neighbor_id", "sim")
    )
    return _topk(scored, k)


# ---------------------------------------------------------------------------
# Product quantization (PQ) — the memory-compression tier of ANN
# ---------------------------------------------------------------------------


def _subvectors(embeddings: DataFrame, m: int) -> DataFrame:
    """(vec_id, sub, subvec): split each L2-normalized embedding into m
    contiguous subspaces. Normalizing first makes ADC dot-products
    approximate cosine directly (|x| = 1)."""
    norm = F.sqrt(
        F.aggregate(
            F.transform("embedding", lambda x: x.cast("double")),
            F.lit(0.0),
            lambda a, x: a + x * x,
        )
    )
    normed = embeddings.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double") / norm).alias("e"),
    )
    # dsub computed per row but constant across the table (fixed dim)
    dsub = (F.size("e") / m).cast("int")
    return normed.select(
        "vec_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(m - 1)),
                lambda j: F.slice("e", j * dsub + 1, dsub),
            )
        ).alias("sub", "subvec"),
    )


def _l2(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def pq_fit(
    embeddings: DataFrame,
    m: int = 16,
    ksub: int = 32,
    iters: int = 4,
) -> DataFrame:
    """Fit PQ codebooks: per-subspace k-means on L2-normalized
    subvectors.

    Bounded deterministic sample + vectorized numpy Lloyd
    (see FIT_SAMPLE_DEFAULT) — all m subspaces trained at once on a
    (n, m, dsub) reshape; fit cost is constant in corpus size. Matches
    the distributed twin's semantics: L2 assignment with lowest-code
    tie-break, mean update, empty codes keep their centroid, init =
    the subvectors of the ksub corpus vectors with smallest
    xxhash64(vec_id), in hash order.

    Returns (sub, code, centroid: array<double>). Driver state is the
    codebook only — m × ksub × dsub doubles (e.g. 16×32×4 = 2k for
    64-dim), independent of corpus size.
    """
    spark = embeddings.sparkSession
    _, X = _sample_vectors(embeddings, FIT_SAMPLE_DEFAULT)
    nested = _pq_np(X, m, ksub, iters)
    return spark.createDataFrame(
        [
            (s, c, [float(v) for v in cent])
            for s, codes in enumerate(nested)
            for c, cent in enumerate(codes)
        ],
        "sub int, code int, centroid array<double>",
    )


def _pq_np(X, m: int, ksub: int, iters: int) -> list:
    """Vectorized per-subspace Lloyd on a driver-side sample (see
    pq_fit for the semantics contract with the distributed twin).
    Returns the nested codebook nested[sub][code] = centroid list."""
    import numpy as np

    nrm = np.linalg.norm(X, axis=1)
    nrm[nrm == 0] = 1.0
    Xn = X / nrm[:, None]
    n, dim = Xn.shape
    dsub = dim // m
    S = Xn[:, : m * dsub].reshape(n, m, dsub)  # (n, sub, dsub)
    ksub = min(ksub, n)
    cents = S[:ksub].transpose(1, 0, 2).copy()  # (sub, code, dsub)
    for _ in range(iters):
        # d2[i, s, c] = |S[i,s] - cents[s,c]|²; argmin c (first min ==
        # lowest code, matching the distributed min(struct(d, code)))
        d2 = (
            (S**2).sum(axis=2)[:, :, None]
            - 2.0 * np.einsum("isd,scd->isc", S, cents)
            + (cents**2).sum(axis=2)[None, :, :]
        )
        best = np.argmin(d2, axis=2)  # (n, sub)
        for s in range(m):
            for c in range(ksub):
                mask = best[:, s] == c
                if mask.any():  # empty codes keep their previous centroid
                    cents[s, c] = S[mask, s].mean(axis=0)
    return [
        [[float(v) for v in cents[s, c]] for c in range(ksub)] for s in range(m)
    ]


def pq_fit_distributed(
    embeddings: DataFrame, m: int = 16, ksub: int = 32, iters: int = 4
) -> DataFrame:
    """Fit PQ codebooks: per-subspace k-means (Lloyd), ALL m subspaces
    trained in one distributed job per iteration — the twin of pq_fit
    for when even the training sample must stay cluster-side.

    Returns (sub, code, centroid: array<double>). Driver state is the
    codebook only — m × ksub × dsub doubles (e.g. 16×32×4 = 2k for
    64-dim), independent of corpus size. No query calls it: it is kept
    as the reference test_sample_fit_matches_distributed_fit checks
    pq_fit against.
    """
    from kafka_streams_homework_spark.caching import tracked_persist

    spark = embeddings.sparkSession
    # persisted: the subvector explode is folded 2× per iteration (the
    # assignment join reads it on both sides) plus once for init
    subs = tracked_persist(_subvectors(embeddings, m))

    # deterministic init: per subspace, the ksub subvectors from the
    # corpus vectors with smallest xxhash64(vec_id) (pseudo-random spread)
    seed_ids = [
        r.vec_id
        for r in embeddings.select("vec_id")
        .orderBy(F.xxhash64("vec_id"))
        .limit(ksub)
        .collect()
    ]
    init = (
        subs.filter(F.col("vec_id").isin(seed_ids))
        .collect()
    )
    by_sub: dict[int, list[list[float]]] = {}
    order = {v: i for i, v in enumerate(seed_ids)}
    for r in sorted(init, key=lambda r: order[r.vec_id]):
        by_sub.setdefault(r.sub, []).append(list(map(float, r.subvec)))
    codebook = [
        (s, c, vec) for s, vecs in by_sub.items() for c, vec in enumerate(vecs)
    ]

    for _ in range(iters):
        cdf = spark.createDataFrame(
            codebook, "sub int, code int, centroid array<double>"
        )
        assigned = (
            subs.join(F.broadcast(cdf), "sub")
            .withColumn("d", _l2(F.col("subvec"), F.col("centroid")))
            .groupBy("vec_id", "sub")
            .agg(
                F.min(F.struct(F.col("d"), F.col("code"))).alias("b")
            )
            .select("vec_id", "sub", F.col("b.code").alias("code"))
        )
        new_rows = (
            subs.join(assigned, ["vec_id", "sub"])
            .select("sub", "code", F.posexplode("subvec").alias("pos", "val"))
            .groupBy("sub", "code", "pos")
            .agg(F.avg("val").alias("c"))
            .groupBy("sub", "code")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "c"))).alias("pc"))
            .select(
                "sub", "code", F.transform("pc", lambda s: s["c"]).alias("centroid")
            )
            .collect()
        )
        updated = {(r.sub, r.code): list(map(float, r.centroid)) for r in new_rows}
        codebook = [  # empty codes keep their previous centroid
            (s, c, updated.get((s, c), vec)) for s, c, vec in codebook
        ]

    return spark.createDataFrame(codebook, "sub int, code int, centroid array<double>")


def pq_encode(embeddings: DataFrame, codebook: DataFrame, m: int = 16) -> DataFrame:
    """Encode each vector as m uint8-range codes (vec_id, codes:
    array<int>) — e.g. 64-dim float32 (256 B) → 16 codes (16 B).

    One ZERO-SHUFFLE map stage: the codebook (m × ksub × dsub doubles,
    a few KB) is crossJoined as a single broadcast row of nested
    arrays and each subspace's code is the argmin of a per-row L2
    array (array_position finds the FIRST min — lowest code on ties,
    matching the join twin's min(struct(d, code)) this replaces, which
    paid two shuffles of the exploded subvector rows for a per-row
    argmin). The float embeddings never shuffle; nothing does.
    """
    rows = codebook.collect()
    by: dict[int, dict[int, list[float]]] = {}
    for r in rows:
        by.setdefault(r.sub, {})[r.code] = [float(v) for v in r.centroid]
    nested = [[by[s][c] for c in sorted(by[s])] for s in sorted(by)]
    return _pq_encode_nested(embeddings, nested)


def _pq_encode_nested(embeddings: DataFrame, nested: list) -> DataFrame:
    """pq_encode's core, taking the codebook as driver-side nested
    lists (composed pipelines that just fit the codebook skip the
    DataFrame round trip).

    r11 (guide §4.2): the per-row argmin over m×ksub centroid L2s was a
    nest of interpreted higher-order functions (~m·ksub·dsub lambda
    evaluations per row — profiled ~15 s of task time at 2k vectors);
    now one vectorized numpy pass per Arrow batch:
    d²[i,s,c] = |S[i,s]|² − 2·S[i,s]·C[s,c] + |C[s,c]|², argmin over c
    (np.argmin takes the FIRST minimum — the lowest code on ties,
    identical to the array_position(first-min) rule it replaces). The
    codebook rides the closure (a few KB); only (vec_id, embedding)
    crosses the Arrow boundary.
    """
    import numpy as np

    m = len(nested)
    dsub = len(nested[0][0])
    cents = np.asarray(nested, dtype=np.float64)  # (m, ksub, dsub)
    out_schema = "vec_id long, codes array<int>"

    def encode(batches):
        import pandas as pd

        for pdf in batches:
            # r11 ADVICE guards: an empty Arrow batch or a ragged
            # embedding column would turn the stack into an object
            # array and crash with AxisError — fail empty batches soft
            # and ragged input loud.
            if len(pdf) == 0:
                yield pd.DataFrame({"vec_id": pdf["vec_id"], "codes": []})
                continue
            vecs = [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
            dims = {v.shape for v in vecs}
            if len(dims) != 1 or len(next(iter(dims))) != 1 or next(
                iter(dims)
            )[0] < m * dsub:
                raise ValueError(
                    f"pq_encode: ragged or undersized embeddings "
                    f"(shapes={sorted(dims)}, need 1-D length >= {m * dsub})"
                )
            X = np.stack(vecs)
            # zero-norm vectors keep norm 1.0 (encode the raw zero
            # vector) — documented engine behavior; fixtures contain no
            # zero embeddings, pinned in pytest.
            nrm = np.sqrt((X**2).sum(axis=1))
            nrm[nrm == 0] = 1.0
            Xn = X / nrm[:, None]
            S = Xn[:, : m * dsub].reshape(len(Xn), m, dsub)  # (n, m, dsub)
            # exact (x-c)^2 per subspace (r11 ADVICE): the expanded
            # |s|^2 - 2sc + |c|^2 form rounds differently and can flip
            # near-tie argmins vs the pre-vectorization join twin; the
            # per-subspace loop keeps peak memory at n x ksub x dsub.
            codes = np.empty((len(X), m), dtype="int32")
            for s_i in range(m):
                diff = S[:, s_i, None, :] - cents[s_i][None, :, :]
                codes[:, s_i] = np.argmin((diff * diff).sum(-1), axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "codes": [codes[i].tolist() for i in range(len(codes))],
                }
            )

    return embeddings.select("vec_id", "embedding").mapInPandas(
        encode, out_schema
    )


def _query_luts(queries: DataFrame, nested: list, m: int) -> list:
    """Per-query ADC lookup tables from the nested codebook:
    LUT[sub][code] = dot(normalized-query subvector, centroid).
    |Q| × m × ksub doubles — driver-bounded by definition of the
    query set."""
    luts = []
    for qr in queries.select("vec_id", "embedding").collect():
        qv = [float(x) for x in qr.embedding]
        nrm = sum(x * x for x in qv) ** 0.5 or 1.0
        qv = [x / nrm for x in qv]
        dsub = len(qv) // m
        lut = [
            [
                sum(qv[s * dsub + i] * cent[i] for i in range(dsub))
                for cent in nested[s]
            ]
            for s in range(m)
        ]
        luts.append((qr.vec_id, lut))
    return luts


def knn_pq_adc(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 16,
    ksub: int = 32,
    iters: int = 4,
) -> DataFrame:
    """PQ ANN with asymmetric distance computation (ADC).

    Corpus side: PQ codes only (m small ints per vector — the 100 TB
    memory story: embeddings compressed ~16-32×, scan stays JVM-side).
    Query side: for each query a lookup table LUT[sub][code] =
    dot(q_sub, centroid[sub][code]) — |Q| × m × ksub doubles computed
    on the driver from the broadcast-sized codebook and query set
    (both small by definition), then broadcast. Score = Σ_sub
    LUT[sub][codes[sub]] ≈ cosine(q, x) on normalized vectors —
    evaluated with zip_with + fold, no Python in the corpus scan.

    Same output contract as knn_bruteforce; recall is pinned against
    it in pytest (quantization is lossy by design).
    """
    # one sample collect feeds the fit; codebook stays driver-side
    # (identical to pq_fit's output — same sample rule, same Lloyd)
    _, X = _sample_vectors(embeddings, FIT_SAMPLE_DEFAULT)
    nested = _pq_np(X, m, ksub, iters)
    codes = _pq_encode_nested(embeddings, nested)
    spark = embeddings.sparkSession
    ldf = spark.createDataFrame(
        _query_luts(queries, nested, m), "query_id bigint, lut array<array<double>>"
    )

    scored = (
        codes.crossJoin(F.broadcast(ldf))
        .filter(F.col("query_id") != F.col("vec_id"))
        .withColumn(
            "sim",
            F.round(
                F.aggregate(
                    F.zip_with(
                        F.col("codes"), F.col("lut"), lambda c, row: row[c]
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ),
                6,
            ),
        )
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "sim")
    )
    return _topk(scored, k)


def knn_pq(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 16,
    ksub: int = 32,
    iters: int = 4,
    rerank_factor: int = 10,
) -> DataFrame:
    """PQ ANN, production shape: ADC shortlist → exact re-rank.

    Stage 1 scans only PQ codes (16-32× smaller than the float
    embeddings — the reason PQ exists at 100 TB) and keeps the top
    rerank_factor × k candidates per query by ADC score. Stage 2
    re-scores just those candidates against the float vectors (a
    point-lookup join: |Q| × R rows against the corpus, broadcast on
    the candidate side) and emits the exact-cosine top-k. Recall is
    pinned vs knn_bruteforce in pytest (≥ 0.9 at the defaults here;
    raise m or rerank_factor to trade scan cost for recall).
    """
    shortlist = knn_pq_adc(embeddings, queries, k * rerank_factor, m, ksub, iters)
    cand = shortlist.select("query_id", "neighbor_id")
    qv = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    cv = embeddings.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_emb")
    )
    rescored = (
        cand.join(F.broadcast(qv), "query_id")
        .join(cv, "neighbor_id")
        .withColumn(
            "sim", F.round(cosine_similarity(F.col("q_emb"), F.col("c_emb")), 6)
        )
        .select("query_id", "neighbor_id", "sim")
    )
    return _topk(rescored, k)


def knn_ivfpq(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    ncells: int = 8,
    nprobe: int = 3,
    m: int = 16,
    ksub: int = 32,
    iters: int = 3,
    rerank_factor: int = 10,
) -> DataFrame:
    """IVF-PQ: the full modern ANN architecture as one composed plan.

    Three tiers, each cutting what the next one touches:
    1. coarse quantizer (spherical k-means cells) — queries probe only
       their nprobe nearest cells, pruning the candidate set to
       ~nprobe/ncells of the corpus (partition-pruned scan when stored
       bucketed by cell, see ivf_write_index);
    2. PQ codes — probed candidates are scored by ADC over m small
       codes (16-32× less data than the float vectors), LUTs broadcast
       per query, zip_with+fold JVM-side;
    3. exact re-rank — the top rerank_factor × k ADC candidates are
       re-scored against the float vectors (point-lookup join).

    Simplification vs FAISS IVFPQ: codes are fit on raw (normalized)
    vectors, not per-cell residuals — at these codebook sizes the
    recall difference is recovered by the exact re-rank stage (pinned
    in pytest). Driver state stays bounded: k centroids + the codebook
    + per-query LUTs.
    """
    # ONE sample collect trains BOTH quantizers (coarse cells + PQ
    # codebooks); everything corpus-sized stays distributed
    _, X = _sample_vectors(embeddings, FIT_SAMPLE_DEFAULT)
    spark_ = embeddings.sparkSession
    cents = spark_.createDataFrame(
        [(i, [float(v) for v in c]) for i, c in enumerate(_kmeans_np(X, ncells, iters))],
        "cell int, centroid array<double>",
    )
    assigned = assign_cells(embeddings, cents)
    nested = _pq_np(X, m, ksub, iters)
    codes = _pq_encode_nested(embeddings, nested).join(assigned, "vec_id")

    q = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    qcells = (
        q.crossJoin(F.broadcast(cents))
        .withColumn("csim", cosine_similarity(F.col("q_emb"), F.col("centroid")))
        .withColumn(
            "crank",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.col("csim").desc(), F.col("cell").asc()
                )
            ),
        )
        .filter(F.col("crank") <= nprobe)
        .select("query_id", "cell")
    )

    # per-query ADC lookup tables straight from the driver-side codebook
    ldf = spark_.createDataFrame(
        _query_luts(queries, nested, m), "query_id bigint, lut array<array<double>>"
    )

    # NOTE (r12): a repartition-before-the-ADC-fold was tried here (the
    # mmr/psim idiom) and REVERTED — the probed candidate rows carry the
    # broadcast LUT/code arrays, so the pinning exchange moves more
    # bytes than the single-task fold costs, and the fold already
    # overlaps the other AQE stage jobs (A/B: 3.6 s without, 4.3-4.8 s
    # with, either placement).
    shortlist = _topk(
        codes.join(F.broadcast(qcells), "cell")  # cell pruning
        .join(F.broadcast(ldf), "query_id")
        .filter(F.col("query_id") != F.col("vec_id"))
        .withColumn(
            "sim",
            F.round(
                F.aggregate(
                    F.zip_with(F.col("codes"), F.col("lut"), lambda c, row: row[c]),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ),
                6,
            ),
        )
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "sim"),
        k * rerank_factor,
    )

    cv = embeddings.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_emb")
    )
    rescored = (
        shortlist.select("query_id", "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .join(cv, "neighbor_id")
        .withColumn(
            "sim", F.round(cosine_similarity(F.col("q_emb"), F.col("c_emb")), 6)
        )
        .select("query_id", "neighbor_id", "sim")
    )
    return _topk(rescored, k)


def embedding_outliers(
    embeddings: DataFrame,
    threshold: float = 0.0,
    id_col: str = "vec_id",
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Centroid-distance outlier detection: flag vectors whose cosine
    to their own label's centroid falls below ``threshold`` — the
    CLIP-filtering / mislabel-pruning pass of multimodal and
    classification curation pipelines (drop examples that do not
    resemble their assigned class).

    Plan: posexplode to (label, pos, component) → one (label, pos)
    avg — a bounded shuffle of |labels| x dim groups regardless of
    corpus size — reassembled into centroid arrays (sorted
    collect_list of |labels| rows), broadcast back onto ONE corpus
    scan; the cosine is pure JVM (zip_with/aggregate). The corpus
    never shuffles; driver holds nothing. Centroid components are
    rounded to 6 before the cosine so the flag decision is
    reproducible cross-engine (the unrounded avg is order-sensitive
    at 1e-15, harmless after rounding). The cosine itself gets the
    same +1e-9 pre-round nudge as resample_gapfill: a sim landing
    exactly on a .5e-6 boundary (and the derived is_outlier flag at
    threshold) would otherwise depend on the engine's tie direction.
    """
    comps = embeddings.select(
        F.col(label_col).alias("lbl"),
        F.posexplode(F.transform(vec_col, lambda x: x.cast("double"))).alias(
            "pos", "x"
        ),
    )
    centroids = (
        comps.groupBy("lbl", "pos")
        .agg(F.round(F.avg("x"), 6).alias("m"))
        .groupBy("lbl")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))),
                lambda s: s["m"],
            ).alias("centroid")
        )
    )
    sim = F.round(
        cosine_similarity(F.col(vec_col), F.col("centroid")) + F.lit(1e-9), 6
    )
    return (
        embeddings.join(
            F.broadcast(centroids), F.col(label_col) == F.col("lbl")
        )
        .select(
            id_col,
            label_col,
            sim.alias("centroid_sim"),
            (sim < F.lit(threshold)).alias("is_outlier"),
        )
    )


PCA_Q_SCALE = 1_000_000  # coordinate fixed-point (1e-6 quantization)
PCA_V_SCALE = 10**8  # component fixed-point per iteration
PCA_ITERS = 30


def _half_away(x: float) -> int:
    """round() with HALF AWAY FROM ZERO ties — DuckDB/Spark round
    semantics, unlike Python's banker's rounding."""
    import math

    return int(math.floor(x + 0.5)) if x >= 0 else -int(math.floor(-x + 0.5))


def pca_projection(embeddings: DataFrame, iters: int = PCA_ITERS) -> DataFrame:
    """Top principal component by distributed Gram + driver power
    iteration, then a one-pass projection — ORACLE-EXACT fixed point.

    Scale split: the data-sized work — the Gram matrix sum(q q^T) over
    1e-6-quantized integer coordinates — is ONE distributed partial
    aggregation (d^2 = 4096 exact decimal accumulators, map-side
    combined; the explode blowup never shuffles row-wise). The eigen
    solve runs on the driver over the bounded 64x64 matrix, which is
    the correct placement at any corpus size; the component broadcasts
    back for a map-only exact-integer scoring pass.

    Cross-engine determinism (the bpe_train/holt_forecast exactness
    standard): every data-sized sum is exact integer arithmetic
    (decimal(38,0) here, HUGEINT in the oracle), the centered matrix
    is fixed-pointed at 1e9 from identical double expressions
    (C_hat/n^2/1e3, half-away rounding), each iteration's matvec and
    norm^2 are exact integers (only sqrt and one division run in
    doubles, on identical inputs), the component is held at 1e8
    fixed point, the sign convention is pinned (largest |coord|
    positive, ties to the smallest index), and the per-row score
    numerator sum((n*q_j - S_j) * v8_j) is again an exact integer —
    so the 6dp scores replay bit-for-bit in the unrolled-CTE oracle.
    Magnitude audit: |q|<=1e6 so G<=n*1e12, C_hat=n*G-S*S<=n^2*1e12
    (fits decimal(38,0) to n~1e12 rows); |C9|<=~1e9, |w|<=d*C9*V<=
    64*1e9*1e8~1e19 and norm2<=d*w^2~1e40 needs... w here is bounded
    by the actual covariance magnitude (~0.03*1e9 = 3e7), giving
    w<=2e17, w^2<=4e34, norm2<=3e36 — inside HUGEINT's 1.7e38.
    """
    first = embeddings.select(F.size("embedding").alias("d")).first()
    if first is None:
        return embeddings.sparkSession.createDataFrame(
            [], "vec_id long, label int, pc1_score double"
        )
    dim = first.d
    dec = "decimal(38,0)"
    q_expr = F.round(F.col("x").cast("double") * F.lit(1.0 * PCA_Q_SCALE)).cast(
        "long"
    )
    qtab = embeddings.select(
        "vec_id", F.posexplode("embedding").alias("i", "x")
    ).select("vec_id", "i", q_expr.alias("q"))
    st = (
        qtab.groupBy("i")
        .agg(
            F.sum(F.col("q").cast(dec)).alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    )
    n = st[0].n
    S = {r.i: int(r.s) for r in st}
    gram = (
        embeddings.select(F.posexplode("embedding").alias("i", "x"), "embedding")
        .select(
            "i",
            q_expr.alias("qi"),
            F.posexplode("embedding").alias("j", "x"),
        )
        .select("i", "j", "qi", q_expr.alias("qj"))
        .groupBy("i", "j")
        .agg(F.sum((F.col("qi") * F.col("qj")).cast(dec)).alias("g"))
        .collect()
    )
    # centered, n^2-scaled exact matrix -> 1e9 fixed point via the
    # SAME double expression the oracle uses: (C_hat/n^2)/1e3
    nsq = float(n * n)
    C9 = [[0] * dim for _ in range(dim)]
    for r in gram:
        c_hat = n * int(r.g) - S[r.i] * S[r.j]
        C9[r.i][r.j] = _half_away(float(c_hat) / nsq / 1e3)
    import math

    v8 = [_half_away(1.0 / math.sqrt(dim) * PCA_V_SCALE)] * dim
    for _ in range(iters):
        w = [sum(C9[i][j] * v8[j] for j in range(dim)) for i in range(dim)]
        norm = math.sqrt(float(sum(x * x for x in w)))
        if norm == 0.0:
            break
        v8 = [_half_away(float(x) / norm * PCA_V_SCALE) for x in w]
    # sign convention: largest |coord| positive, ties -> smallest i
    top = min(range(dim), key=lambda j: (-abs(v8[j]), j))
    if v8[top] < 0:
        v8 = [-x for x in v8]
    # exact-integer score numerator: sum_j (n*q_j - S_j) * v8_j;
    # score = num / (n * Q_SCALE * V_SCALE)
    s_col = F.array(*[F.lit(S[j]).cast(dec) for j in range(dim)])
    v_col = F.array(*[F.lit(v8[j]).cast(dec) for j in range(dim)])
    q_arr = F.transform(
        "embedding",
        lambda x: F.round(x.cast("double") * F.lit(1.0 * PCA_Q_SCALE)).cast(dec),
    )
    num = F.aggregate(
        F.zip_with(
            F.zip_with(q_arr, s_col, lambda q, s: q * F.lit(n).cast(dec) - s),
            v_col,
            lambda cq, v: cq * v,
        ),
        F.lit(0).cast(dec),
        lambda acc, t: acc + t,
    )
    denom = float(n) * PCA_Q_SCALE * PCA_V_SCALE
    return embeddings.select(
        "vec_id",
        "label",
        F.round(num.cast("double") / F.lit(denom) + F.lit(1e-9), 6).alias(
            "pc1_score"
        ),
    )


def mmr_rerank(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    pool: int = 20,
    lam: float = 0.7,
) -> DataFrame:
    """Maximal-marginal-relevance re-ranking (Carbonell & Goldstein
    1998, public algorithm): from each query's exact top-``pool``
    cosine candidates, greedily pick ``k`` results maximizing
    ``lam*sim(q,d) - (1-lam)*max_{s in Sel} sim(d,s)`` — the standard
    retrieval-diversification step between ANN and an LLM context
    window (near-duplicate passages waste prompt tokens).

    Fully in-plan: the greedy loop unrolls into ``k-1`` relational
    steps (anti-join the selected set, max-pairwise-penalty aggregate,
    per-query argmax via a window over the <= pool-row remainder) —
    every frame after candidate generation is (|queries| * pool)-
    bounded, so the windows/joins are bounded regardless of corpus
    size; the one data-sized stage is the broadcast top-pool scan
    (knn_bruteforce). Similarities round to 6dp BEFORE every argmax
    with neighbor_id tie-breaks, so the greedy trajectory is
    engine-deterministic (oracle replays the identical unrolled
    steps).
    """
    from kafka_streams_homework_spark.caching import (
        release_checkpoint,
        tracked_persist,
    )

    cand = tracked_persist(
        knn_bruteforce(embeddings, queries, pool).select(
            "query_id", "neighbor_id", "sim"
        )
    )
    ce = embeddings.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("v")
    )
    cv = cand.join(ce, "neighbor_id").select("query_id", "neighbor_id", "v")
    a = cv.select(
        "query_id", F.col("neighbor_id").alias("a_id"), F.col("v").alias("va")
    )
    b = cv.select(
        "query_id", F.col("neighbor_id").alias("b_id"), F.col("v").alias("vb")
    )
    # repartition BEFORE the pairwise cosine projection: the join's
    # output is only |Q|·pool² rows so AQE coalesces it to one
    # partition by BYTES, but each row carries a ~dim-term interpreted
    # cosine — profiled 1.4 s on a single task at sf0.1. Round-robin
    # spread makes the compute-dense stage parallel (guide §2.5: AQE
    # sizes by bytes, not CPU density); row values are unchanged.
    npart = embeddings.sparkSession.sparkContext.defaultParallelism
    psim = tracked_persist(
        a.join(b, "query_id")
        .filter(F.col("a_id") != F.col("b_id"))
        .repartition(npart)
        .select(
            "query_id",
            "a_id",
            "b_id",
            F.round(cosine_similarity(F.col("va"), F.col("vb")), 6).alias(
                "ps"
            ),
        )
    )
    w1 = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    # r12 (bpe_train/kcore finding): every frame from here on is
    # (|queries| x pool)-bounded — a few hundred rows — so the greedy
    # loop runs with AQE off (no stage-job decomposition per action)
    # and bounded-table shuffle partitions; the data-sized candidate
    # scan is unaffected (its exchanges happen under psim's explicit
    # repartition / the broadcast scan).
    with bounded_loop(embeddings.sparkSession, small_shuffles=True):
        return _mmr_greedy(cand, psim, w1, k, lam)


def _mmr_greedy(cand, psim, w1, k: int, lam: float):
    from kafka_streams_homework_spark.caching import release_checkpoint

    # ITERATIVE-LOOP RULE: each greedy step references the selected
    # set THREE times (anti-join + penalty join + union), so without a
    # per-step localCheckpoint the plan branches 3^k ways and the
    # (bounded) pool sub-plans re-execute per branch — measured 30 s of
    # pure stage-scheduling overhead at sf0.1 vs ~2 s checkpointed.
    sel = (
        cand.withColumn("rk", F.row_number().over(w1))
        .filter(F.col("rk") == 1)
        .select(
            "query_id",
            "neighbor_id",
            "sim",
            F.lit(1).cast("long").alias("pick_order"),
        )
        .localCheckpoint(eager=True)
    )
    for t in range(2, k + 1):
        rem = cand.join(
            sel.select("query_id", "neighbor_id"),
            ["query_id", "neighbor_id"],
            "left_anti",
        )
        pen = (
            rem.join(
                psim.withColumnRenamed("a_id", "neighbor_id"),
                ["query_id", "neighbor_id"],
            )
            .join(
                sel.select(
                    "query_id", F.col("neighbor_id").alias("b_id")
                ),
                ["query_id", "b_id"],
            )
            .groupBy("query_id", "neighbor_id")
            .agg(F.max("ps").alias("pen"))
        )
        scored = rem.join(pen, ["query_id", "neighbor_id"]).withColumn(
            "mmr",
            F.round(
                F.lit(lam) * F.col("sim")
                - F.lit(1 - lam) * F.col("pen")
                + F.lit(1e-9),
                6,
            ),
        )
        wm = Window.partitionBy("query_id").orderBy(
            F.col("mmr").desc(), F.col("neighbor_id").asc()
        )
        pick = (
            scored.withColumn("rk", F.row_number().over(wm))
            .filter(F.col("rk") == 1)
            .select(
                "query_id",
                "neighbor_id",
                "sim",
                F.lit(t).cast("long").alias("pick_order"),
            )
        )
        prev_sel = sel
        sel = sel.unionByName(pick).localCheckpoint(eager=True)
        # the union is materialized; the previous step's selected-set
        # blocks are superseded — release per step (VERDICT r7 task 6)
        release_checkpoint(prev_sel)
    return sel


def radius_search(
    embeddings: DataFrame, queries: DataFrame, threshold: float
) -> DataFrame:
    """Exact cosine range search: all neighbors with sim >= threshold.

    The range-query twin of knn_bruteforce (top-k): broadcast(queries)
    x one corpus scan, JVM-side cosine, membership decided on the
    ROUNDED sim (house cross-engine parity rule). Unlike top-k there
    is no per-query rank state, so the plan is a pure selective map —
    at 100 TB it is a broadcast-join scan that prunes to the output
    size with zero shuffle.
    """
    q = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    c = embeddings.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_emb")
    )
    return (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "sim", F.round(cosine_similarity(F.col("q_emb"), F.col("c_emb")), 6)
        )
        .filter(F.col("sim") >= threshold)
        .select("query_id", "neighbor_id", "sim")
    )
