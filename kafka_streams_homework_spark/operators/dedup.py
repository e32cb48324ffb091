"""Deduplication operators (north-star §7): exact + near-dup families.

All four near-dup strategies stay entirely JVM-side — hashing uses
`xxhash64` (a Catalyst expression), signatures are arrays, candidate
generation is explode+join. No Python UDFs anywhere, so these scale as
ordinary shuffles.

Shared substrate: every near-dup op starts from ONE per-doc table of
distinct hashed shingles (`_doc_shingle_hashes`) — tokenization and
n-gram hashing run exactly once per document (the table is persisted,
since three-to-four plan branches reuse it), shingle *strings* are never
materialized (token triples hash directly via variadic xxhash64), and
all downstream joins/intersections run on int64s.

Scale design (100 TB corpus):
- ngram_jaccard_pairs: exact, with AllPairs prefix filtering — the
  candidate join runs only on each doc's globally-rarest shingles, so
  fanout stays bounded; boilerplate shingles never join — and PPJoin's
  positional filter on those joins.
- minhash_lsh_pairs: signature is k minima of seeded xxhash64 — one
  narrow projection; banding turns O(n²) verification into bucket
  joins. The band-bucket join key is (band_idx, band_hash), which
  distributes uniformly by construction.
- simhash: 64-bit signature per doc in one aggregation; near-dup =
  small Hamming distance, candidate generation by 4×16-bit band
  equality (any pair within Hamming distance 3 shares ≥1 band).
- band_pairs: the one banded (band, bucket) candidate self-join; the
  MinHash, SimHash, cosine-LSH and image-hash operators all call it.
- the persisted shingle table is (doc_id, array<long>) — at 100 TB
  this is ~2 orders of magnitude smaller than the corpus text; use
  StorageLevel.DISK_ONLY there if memory-pressured.
"""

from __future__ import annotations

import warnings
from decimal import Decimal

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from kafka_streams_homework_spark.caching import (
    on_release,
    release_checkpoint,
    tracked_checkpoint,
    tracked_persist,
)
from kafka_streams_homework_spark.functions import shingle_hashes, shingles, tokens
from kafka_streams_homework_spark.session import bounded_loop
from kafka_streams_homework_spark.sources.batch import spread

# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def exact_dup_groups(documents: DataFrame) -> DataFrame:
    """Group exact duplicates by content hash; keep the smallest doc_id.

    Hash-groupBy on md5(text): the shuffle key is uniform by
    construction. The full text never shuffles — only (hash, doc_id).
    """
    return (
        documents.select(F.md5(F.col("text")).alias("content_hash"), "doc_id")
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def normalized_text(col) -> "F.Column":
    """CCNet-style normalization: lowercase, punctuation to spaces,
    whitespace collapsed, trimmed. ONE regexp pass — any maximal run
    of non-alphanumerics becomes a single space, which is exactly what
    the naive two-pass form (punct→space, then space-runs→space)
    produces, at half the regex CPU (this op is regex-bound: the
    100× probe measured it at 24.9× before the fusion)."""
    return F.trim(F.regexp_replace(F.lower(col), "[^a-z0-9]+", " "))


def exact_dup_groups_normalized(documents: DataFrame) -> DataFrame:
    """Exact dedup on NORMALIZED content: same hash-groupBy shape as
    exact_dup_groups, keyed on md5(normalized text). Catches the
    case/punctuation/whitespace duplicate class that raw-byte hashing
    misses (the first dedup pass of CCNet-style pipelines).

    n_distinct_raw counts how many distinct RAW byte-forms collapsed
    into the group — 1 means raw dedup would have found it too, >1 is
    the extra catch. Text itself never shuffles: only (hash, raw-hash,
    doc_id) reach the exchange.
    """
    return (
        documents.select(
            F.md5(normalized_text(F.col("text"))).alias("content_hash"),
            F.md5(F.col("text")).alias("raw_hash"),
            "doc_id",
        )
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
            F.countDistinct("raw_hash").alias("n_distinct_raw"),
        )
    )


# ---------------------------------------------------------------------------
# Shared shingle substrate
# ---------------------------------------------------------------------------


# Per-run substrate memo (r11 ADVICE): checkpointing lost CacheManager's
# canonicalized-plan dedup, so a query that builds the substrate twice
# (the jaccard-vs-minhash comparison query) materialized two independent
# copies. Bucketed per (input-plan semantic hash, n) -> (input frame,
# substrate); the 32-bit hash can collide, so a hit also needs the
# stored input to be semantically the same plan on the same session.
# Cleared by every caching.release_caches() so a memo can never outlive
# its blocks.
_SUBSTRATE_MEMO: dict[tuple, tuple[DataFrame, DataFrame]] = {}

on_release(_SUBSTRATE_MEMO.clear)


def _doc_shingle_hashes(documents: DataFrame, n: int) -> DataFrame:
    """(doc_id, hs: array<long> distinct shingle hashes, n_sh),
    checkpointed (lazy) + memoized per (input plan, n) for the run.

    `spread` first: shingling is the compute-heavy step and must not
    serialize on a single input split. Persisted because every near-dup
    pipeline branches over it 3-4×; tracked so ``caching.release_caches``
    can return the storage memory after a sweep (Spark's CacheManager
    dedups repeat invocations by canonicalized plan, so re-entry reuses
    the same blocks rather than stacking new ones).
    """
    # the n_sh > 0 filter sits ABOVE the persist: pushed into the plan
    # it lands BELOW the spread exchange (filters sink past a
    # round-robin repartition) where its size(hs) predicate re-evaluates
    # the ENTIRE shingling expression on the unspread scan task —
    # profiled 1.85 s single-task at sf0.1, the exact serialization
    # spread exists to prevent (guide §4.4 duplicate-eval, §2.5). On top
    # of the cache it is a near-free scan predicate and every consumer
    # sees the same rows as before.
    # tracked_checkpoint, not persist (r11): the substrate is referenced
    # 3-4x by every near-dup plan, and each reference re-canonicalized
    # the whole cached subtree at planning time (~1.6 s driver gap per
    # pairs query); a LogicalRDD leaf plans flat, and the lazy
    # materialization on first action replaces the cache-build race
    # between AQE's concurrent leaf stages.
    try:
        key = (documents.semanticHash(), n)
    except Exception:  # pragma: no cover - e.g. Connect sessions
        key = None
    if key is not None and key in _SUBSTRATE_MEMO:
        stored, substrate = _SUBSTRATE_MEMO[key]
        if stored.sparkSession is documents.sparkSession and stored.sameSemantics(
            documents
        ):
            return substrate
    out = tracked_checkpoint(
        spread(documents.select("doc_id", "text"))
        .select("doc_id", shingle_hashes(tokens("text"), n).alias("hs"))
        .select("doc_id", "hs", F.size("hs").alias("n_sh"))
    ).filter(F.col("n_sh") > 0)
    if key is not None:
        _SUBSTRATE_MEMO[key] = (documents, out)
    return out


def _verify_jaccard(candidates: DataFrame, sh: DataFrame, threshold: float) -> DataFrame:
    """Exact Jaccard over hashed shingle sets for candidate pairs.

    r12 (guide §2.5): the exchanges feeding the verify joins carry few
    BYTES (candidate id pairs) but each surviving row then pays an
    array_intersect over two shingle-hash sets — AQE's byte-based
    coalescing shrank them to 2-3 partitions and the verify ran there
    (profiled: a 3-task/4 s-task-time stage in dedup_threshold_curve at
    tau=0.5). Explicit keyed repartitions pin the width (AQE leaves
    user repartitions alone) and the joins reuse them, so the plan has
    the same number of exchanges with cluster-wide verify compute.
    """
    dp = candidates.sparkSession.sparkContext.defaultParallelism
    sa = sh.select(
        F.col("doc_id").alias("doc_a"),
        F.col("hs").alias("hs_a"),
        F.col("n_sh").alias("n_a"),
    )
    sb = sh.select(
        F.col("doc_id").alias("doc_b"),
        F.col("hs").alias("hs_b"),
        F.col("n_sh").alias("n_b"),
    )
    inter = F.size(F.array_intersect("hs_a", "hs_b"))
    jaccard = inter / (F.col("n_a") + F.col("n_b") - inter)
    return (
        candidates.repartition(dp, "doc_a")
        .join(sa, "doc_a")
        .repartition(dp, "doc_b")
        .join(sb, "doc_b")
        .withColumn("jaccard", F.round(jaccard, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def _rarest_prefixes(exploded, threshold: float):
    """AllPairs prefix selection shared by the Jaccard and containment
    joins: rank each doc's shingles globally-rarest-first and keep the
    pigeonhole prefix |prefix| = n_sh - ceil(tau * n_sh) + 1, with each
    shingle's 1-based rank as ``pos`` (the Jaccard join's positional
    filter reads it; containment ignores it). One global frequency
    agg + one row_number window (shuffle by doc_id); no per-doc array
    materialization."""
    freq = exploded.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc_id").orderBy(F.col("df").asc(), F.col("h").asc())
    prefix_len = (
        F.col("n_sh") - F.ceil(F.lit(threshold) * F.col("n_sh")) + 1
    ).cast("int")
    return (
        exploded.join(freq, "h")
        .withColumn("pos", F.row_number().over(w))
        .filter(F.col("pos") <= prefix_len)
        .select("doc_id", "n_sh", "h", "pos")
    )


# ---------------------------------------------------------------------------
# Exact n-gram Jaccard (the verification-grade near-dup)
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    documents: DataFrame,
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact token-n-gram Jaccard similarity pairs ≥ threshold.

    Exact, with AllPairs-style *prefix filtering* (Bayardo et al.,
    "Scaling Up All Pairs Similarity Search", WWW'07): if
    J(A,B) ≥ τ, then the ⌊(1-τ)|X|⌋+1 globally-rarest shingles of A
    and B must intersect — so the candidate self-join runs only on
    each doc's rarest-prefix shingles, shrinking the join fanout by
    orders of magnitude versus joining on every shingle. Candidates
    are then verified with the exact shingle-set intersection, so the
    result is identical to the naive O(n²) computation.

    PPJoin's positional filter (Xiao et al., "Efficient Similarity
    Joins for Near Duplicate Detection", WWW'08) prunes the prefix
    collisions further. J(A,B) ≥ τ needs an overlap of at least
    ⌈τ(|A|+|B|)/(1+τ)⌉; a shingle at rank pos_A in A and pos_B in B
    leaves at most 1 + min(|A|-pos_A, |B|-pos_B) shingles to share from
    there on. The first common shingle of a true pair lies in both
    prefixes and passes that test, and a candidate survives when any of
    its prefix matches passes, so no pair is lost. The test runs on
    τ's decimal literal in exact decimal arithmetic: a float ceil would
    round τ(|A|+|B|)/(1+τ) = 28 (τ = 0.8, |A|+|B| = 63) up to 29 and
    drop a pair whose overlap equals the bound.

    Plan shape at 100 TB: one agg for global shingle frequencies, one
    per-doc sort+slice for prefixes, an equi-join on rare (thus
    low-fanout) int64 keys, and a verify join against the persisted
    (doc → shingle-hash-set) table. No crossJoin anywhere; every
    shuffle key is either a rare shingle hash or a doc id.
    """
    sh = _doc_shingle_hashes(documents, n)
    exploded = sh.select("doc_id", "n_sh", F.explode("hs").alias("h"))
    prefixes = _rarest_prefixes(exploded, threshold)

    # Length filter (also AllPairs): J(A,B) ≥ τ forces
    # τ·|A| ≤ |B| ≤ |A|/τ — applied inside the candidate join it
    # prunes most prefix collisions before the distinct+verify.
    # Positional filter (PPJoin): see the docstring.
    a, b = prefixes.alias("a"), prefixes.alias("b")
    tau = F.lit(Decimal(str(float(threshold))))
    rest = F.least(
        F.col("a.n_sh") - F.col("a.pos"), F.col("b.n_sh") - F.col("b.pos")
    )
    candidates = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.col("b.n_sh") >= F.ceil(F.lit(threshold) * F.col("a.n_sh")))
            & (F.col("b.n_sh") <= F.floor(F.col("a.n_sh") / F.lit(threshold)))
            & ((1 + tau) * (1 + rest) >= tau * (F.col("a.n_sh") + F.col("b.n_sh"))),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    return _verify_jaccard(candidates, sh, threshold)


def containment_pairs(
    documents: DataFrame,
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact asymmetric containment pairs: C(A→B) = |A∩B| / |A| ≥ τ
    over token-n-gram shingle sets — the doc-inside-doc catch that
    symmetric Jaccard structurally misses (a page embedded in a much
    larger aggregation page has tiny Jaccard but containment ≈ 1;
    boilerplate-wrapper dups are the common web-corpus case).

    Prefix filtering adapts to the asymmetry: the pigeonhole bound
    |A∩B| ≥ τ|A| only constrains A's side, so A contributes its
    ⌊(1-τ)|A|⌋+1 rarest shingles while B's FULL posting list joins —
    that is inherent to containment search (B may be arbitrarily
    large), and the join stays cheap because A's prefix shingles are
    by construction the globally rarest ones. The only length filter
    is the lower bound |B| ≥ τ|A| (no upper bound — again the point).
    Candidates are verified exactly against the shared persisted
    shingle substrate, so the output equals the naive O(n²) result.

    Output is DIRECTED: (doc_a contained-in doc_b) and the reverse are
    separate rows when both hold (mutual containment = near-identical).
    """
    sh = _doc_shingle_hashes(documents, n)
    exploded = sh.select("doc_id", "n_sh", F.explode("hs").alias("h"))
    prefixes = _rarest_prefixes(exploded, threshold)
    a, b = prefixes.alias("a"), exploded.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") != F.col("b.doc_id"))
            & (F.col("b.n_sh") >= F.ceil(F.lit(threshold) * F.col("a.n_sh"))),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sa = sh.select(
        F.col("doc_id").alias("doc_a"),
        F.col("hs").alias("hs_a"),
        F.col("n_sh").alias("n_a"),
    )
    sb = sh.select(F.col("doc_id").alias("doc_b"), F.col("hs").alias("hs_b"))
    containment = F.round(
        F.size(F.array_intersect("hs_a", "hs_b")) / F.col("n_a"), 6
    )
    return (
        candidates.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("containment", containment)
        .filter(F.col("containment") >= threshold)
        .select("doc_a", "doc_b", "containment")
    )


def dedup_clusters(pairs: DataFrame, max_iters: int = 20) -> DataFrame:
    """Collapse near-dup pairs into clusters; elect a canonical doc.

    Connected components by min-label propagation: every node starts
    labeled with itself; each round every node takes the min label
    among itself and its neighbors, until a round changes no label.
    Round 1 needs no labels table: from the self-labels it is
    least(node, min(neighbor)), one aggregate over the edges. Rounds
    needed = graph diameter — near-dup clusters are shallow (dups of
    dups of one original): a star or clique around its smallest id is
    final after round 1, so the pairs of a dedup pass finish with one
    convergence count. The driver only ever sees a changed-row *count*.
    ``max_iters`` bounds the rounds, round 1 included; labels still
    changing in the last round raise a RuntimeWarning.

    Output: (doc_id, cluster_id [= min doc_id in the component],
    is_canonical). The keep-set for a dedup pipeline is
    ``is_canonical``. Scale: each round is one join + one groupBy on
    doc ids — both shuffles on uniform keys; at 100 TB this is the
    standard large-graph CC shape (a large-star/small-star variant
    would cut rounds further, same primitives).
    """
    # r11 (guide §2.4): edges checkpointed pre-partitioned + pre-sorted
    # on the per-round join key dst — every round then streams the
    # materialized edge RDD through the sort-merge join and only the
    # node-sized label table shuffles. Both orientations come from ONE
    # read of `pairs` (explode of a 2-struct array): a union of two
    # selects runs the whole upstream pairs plan (candidate join +
    # verify) once per branch. distinct() stays, since callers may
    # pass both orientations. The round itself is union+min-aggregate
    # (messages ∪ own label, one groupBy) — min(own, min(neighbors)).
    edges = tracked_checkpoint(
        pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")),
                    F.struct(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .distinct()
        .repartition("dst")
        .sortWithinPartitions("dst")
    )

    def one_round(lbls):
        neighbor = edges.join(lbls, edges["dst"] == lbls["node"]).select(
            F.col("src").alias("node"), "label"
        )
        return (
            neighbor.unionByName(lbls)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
        )

    # `check_every` propagation rounds run between convergence checks,
    # and each check compares the LAST TWO rounds of its batch, so a
    # round that changes no label ends the loop. Measured with the
    # ngram_jaccard_pairs components of the registry-mix fixture (625
    # pairs), sf0.01 (22 pairs, 1 triple) and sf0.1 (223 pairs,
    # 9 triples, 1 quadruple): 1 count action each with check_every 1
    # AND with 2, since every component is final after round 1. So 1:
    # it reaches that count with one round fewer, and its check reads
    # the checkpointed labels instead of recomputing the batch's
    # second-to-last round. 2 would save counts only on deeper
    # (chain-like) components.
    # localCheckpoint (lazy), not persist: an iterative loop's lineage
    # otherwise DOUBLES per round (labels feeds both sides of the next
    # join), and while persist caches the DATA, the logical plan keeps
    # the full unrolled history — plan metadata grows exponentially and
    # every downstream explain/canonicalization pays for it (the audit
    # once counted 12001 display-exchanges in split_leakage_free's
    # plan). Checkpointing truncates the plan to the materialized
    # partitions each batch — the standard iterative-algorithm hygiene
    # (at 100 TB use reliable checkpoint storage instead of executor-
    # local blocks to keep fault recovery).
    check_every = 1
    changed = None
    # AQE off for the loop (r12, bpe_train/kcore finding): the rounds
    # run over bounded edge/label tables through pre-partitioned
    # checkpoints — AQE only decomposes each convergence count into
    # sequential stage-jobs with ~0.1 s driver gaps each.
    with bounded_loop(pairs.sparkSession):
        labels = (
            edges.groupBy("src")
            .agg(F.least(F.col("src"), F.min("dst")).alias("label"))
            .select(F.col("src").alias("node"), "label")
            .localCheckpoint(eager=False)
        )
        iters_done = 1
        while iters_done < max_iters:
            prev = stepped = labels
            for _ in range(min(check_every, max_iters - iters_done)):
                prev, stepped = stepped, one_round(stepped)
                iters_done += 1
            # LAZY checkpoint: the convergence count is the first action
            # on the new labels and materializes them en route — one
            # driver action per batch instead of two (r11 job fusion).
            # The old labels' blocks are read during that
            # materialization, so they are released only after the
            # count returns.
            new_labels = stepped.localCheckpoint(eager=False)
            changed = (
                new_labels.alias("n")
                .join(prev.alias("o"), "node")
                .filter(F.col("n.label") != F.col("o.label"))
                .count()
            )
            release_checkpoint(labels)
            labels = new_labels
            if changed == 0:
                break
        if changed is None:  # max_iters <= 1: round 1 was never checked
            changed = labels.filter(F.col("node") != F.col("label")).count()
    release_checkpoint(edges)
    if changed > 0:
        # a component's diameter exceeded max_iters: labels are NOT a
        # fixpoint and clusters would be silently split — surface it
        warnings.warn(
            f"dedup_clusters did not converge in {max_iters} iterations "
            f"({changed} labels still changing); raise max_iters",
            RuntimeWarning,
            stacklevel=2,
        )
    # labels is the last localCheckpoint (executor-local blocks, freed
    # by the ContextCleaner when unreferenced); nothing left to track
    return labels.select(
        F.col("node").alias("doc_id"),
        F.col("label").alias("cluster_id"),
        (F.col("node") == F.col("label")).alias("is_canonical"),
    )


# ---------------------------------------------------------------------------
# Banded candidate join
# ---------------------------------------------------------------------------


def band_pairs(sig: DataFrame, id_col: str, keys: "F.Column", *carry: str) -> DataFrame:
    """Candidate pairs of rows that share at least one (band, bucket):
    the banded self-join of every LSH and Hamming near-dup operator.

    `keys` is an array<struct<band, bucket>> expression over `sig`'s
    columns; each row explodes to its keys and the two sides join on
    equality of (band, bucket) with `{id_col}_a < {id_col}_b`, so
    candidate generation is a shuffle on the band keys, never a
    product. A null bucket matches nothing, and the same bucket value in
    two different bands is no collision. A pair that collides in
    several bands comes back once.

    Returns `{id_col}_a`, `{id_col}_b` and each `carry` column from both
    rows as `{c}_a` / `{c}_b`; the caller's verify or Hamming filter
    reads them. `sig` holds one row per id.
    """
    cols = [id_col, *carry]
    rows = sig.select(*cols, F.explode(keys).alias("k")).select(
        *cols, "k.band", "k.bucket"
    )
    a, b = rows.alias("a"), rows.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            *[F.col(f"a.{c}").alias(f"{c}_a") for c in cols],
            *[F.col(f"b.{c}").alias(f"{c}_b") for c in cols],
        )
        .distinct()
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def _minhash_sigs(sh: DataFrame, num_hashes: int) -> DataFrame:
    sig = F.array(
        *[
            F.array_min(F.transform("hs", lambda h, i=i: F.xxhash64(h, F.lit(i))))
            for i in range(num_hashes)
        ]
    )
    return sh.select("doc_id", sig.alias("signature"))


def minhash_lsh_pairs(
    documents: DataFrame,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.8,
) -> DataFrame:
    """Near-dup pairs via MinHash banding, verified with exact Jaccard.

    bands=8 × rows=4 over 32 hashes → candidate probability
    1-(1-j^4)^8 (≈0.98 at j=0.8). Candidates come from equality joins
    on (band_idx, band_hash); each surviving pair is verified with the
    exact shingle-set Jaccard so the output has no false positives —
    LSH only affects recall, which tests measure against
    ngram_jaccard_pairs.
    """
    rows_per_band = num_hashes // bands
    sh = _doc_shingle_hashes(documents, n)
    sig = _minhash_sigs(sh, num_hashes)
    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            F.xxhash64(
                *[F.col("signature")[b * rows_per_band + r] for r in range(rows_per_band)]
            ).alias("bucket"),
        )
        for b in range(bands)
    ]
    candidates = band_pairs(sig, "doc_id", F.array(*band_cols)).select(
        F.col("doc_id_a").alias("doc_a"), F.col("doc_id_b").alias("doc_b")
    )
    return _verify_jaccard(candidates, sh, threshold)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash_signatures(documents: DataFrame, n: int = 3) -> DataFrame:
    """64-bit SimHash per document, pure SQL.

    For each of 64 bit positions, sum ±1 votes of the shingle-hash bit
    values; the signature bit is the vote sign. Implemented as one
    aggregate over exploded shingle hashes: 64 conditional sums —
    partial aggregation keeps the shuffle at one row per doc.
    """
    sh = _doc_shingle_hashes(documents, n)
    exploded = sh.select("doc_id", F.explode("hs").alias("h"))
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), bit).bitwiseAND(F.lit(1)) == 1, 1)
            .otherwise(-1)
        ).alias(f"v{bit}")
        for bit in range(64)
    ]
    voted = exploded.groupBy("doc_id").agg(*votes)
    sig = None
    for bit in range(64):
        contrib = F.when(F.col(f"v{bit}") > 0, F.lit(1).cast("long") * (2**bit if bit < 63 else -(2**63))).otherwise(F.lit(0).cast("long"))
        sig = contrib if sig is None else sig + contrib
    return voted.select("doc_id", sig.alias("simhash"))


def simhash_pairs(
    documents: DataFrame, n: int = 3, max_hamming: int = 3
) -> DataFrame:
    """Near-dup candidates: pairs with Hamming distance ≤ max_hamming.

    Candidate generation: split the 64-bit signature into 4×16-bit
    bands — any pair within distance 3 agrees on ≥1 band (pigeonhole),
    so the join is equality on (band_idx, band_value), never O(n²).
    """
    sig = simhash_signatures(documents, n)
    band_cols = [
        F.struct(
            F.lit(i).alias("band"),
            F.shiftrightunsigned(F.col("simhash"), 16 * i)
            .bitwiseAND(F.lit(0xFFFF))
            .alias("bucket"),
        )
        for i in range(4)
    ]
    hamming = F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b")))
    return (
        band_pairs(sig, "doc_id", F.array(*band_cols), "simhash")
        .select(
            F.col("doc_id_a").alias("doc_a"),
            F.col("doc_id_b").alias("doc_b"),
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


def simhash_pairs_md5(
    documents: DataFrame, n: int = 3, max_hamming: int = 3
) -> DataFrame:
    """Exact Hamming-threshold SimHash pair join, ENGINE-PORTABLE.

    Same algorithm as simhash_pairs — per-bit ±1 votes over shingle
    hashes, pigeonhole band equi-join (4 bands for distance ≤ 3, so
    candidate generation is never O(n²)), exact bit_count verify —
    but the shingle hash is the cross-engine md5 idiom
    (conv(substr(md5(shingle),1,8),16,10): 32 uniform bits) instead
    of Spark-private xxhash64, and the signature is 32-bit with
    4×8-bit bands. That makes the ENTIRE result — signatures included
    — recomputable in ANSI SQL, so this twin is oracle-HASH-checked
    where dedup_simhash is rows-only; random 32-bit collisions at
    distance ≤ 3 are ~5.5e3/2^32 per pair (negligible below ~10⁶
    docs per cell, plenty for a verification twin). Production path
    stays simhash_pairs (variadic xxhash64, no shingle-string
    materialization); this proves its algorithm exactly.
    """
    sh = (
        spread(documents.select("doc_id", "text"))
        .select(
            "doc_id",
            F.explode(shingles(tokens("text"), n)).alias("s"),
        )
        .distinct()
        .select(
            "doc_id",
            F.conv(F.substring(F.md5("s"), 1, 8), 16, 10)
            .cast("long")
            .alias("h"),
        )
    )
    votes = [
        F.sum(
            F.when(
                F.shiftright(F.col("h"), bit).bitwiseAND(F.lit(1)) == 1, 1
            ).otherwise(-1)
        ).alias(f"v{bit}")
        for bit in range(32)
    ]
    voted = sh.groupBy("doc_id").agg(*votes)
    sig = None
    for bit in range(32):
        contrib = F.when(
            F.col(f"v{bit}") > 0, F.lit(2**bit).cast("long")
        ).otherwise(F.lit(0).cast("long"))
        sig = contrib if sig is None else sig + contrib
    # persisted: the band self-join references the signature table on
    # both sides — without this each side re-runs tokenize+shingle+md5
    # +vote (the expensive part); the table itself is (doc_id, long).
    sigs = tracked_persist(voted.select("doc_id", sig.alias("sig")))

    band_cols = [
        F.struct(
            F.lit(i).alias("band"),
            F.shiftrightunsigned(F.col("sig"), 8 * i)
            .bitwiseAND(F.lit(0xFF))
            .alias("bucket"),
        )
        for i in range(4)
    ]
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (
        band_pairs(sigs, "doc_id", F.array(*band_cols), "sig")
        .select(
            F.col("doc_id_a").alias("doc_a"),
            F.col("doc_id_b").alias("doc_b"),
            hamming.cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


def minhash_lsh_pairs_md5(
    documents: DataFrame,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.8,
) -> DataFrame:
    """MinHash+LSH near-dup pairs, ENGINE-PORTABLE and therefore
    oracle-HASH-checked end to end (dedup_minhash_lsh stays rows-only
    because seeded xxhash64 is Spark-private).

    Same algorithm: per-doc signature of `num_hashes` minima over
    shingle hashes, banded into `bands` groups; a pair is a candidate
    iff it collides on >=1 full band; candidates verify with EXACT
    Jaccard >= threshold. Hash family is the md5 idiom with the seed
    prefixed into the digest input (h_i(s) = first 32 bits of
    md5(i || ':' || s)), and the band key is md5 over the
    comma-joined minima — every step ANSI-SQL-recomputable, so DuckDB
    replays signatures, banding, collision AND verification exactly.
    Production path stays minhash_lsh_pairs (variadic xxhash64).
    """
    sh = (
        spread(documents.select("doc_id", "text"))
        .select(
            "doc_id",
            F.explode(shingles(tokens("text"), n)).alias("s"),
        )
        .distinct()
    )
    mins = [
        F.min(
            F.conv(
                F.substring(F.md5(F.concat(F.lit(f"{i}:"), F.col("s"))), 1, 8),
                16,
                10,
            ).cast("long")
        ).alias(f"m{i}")
        for i in range(num_hashes)
    ]
    sig = tracked_persist(sh.groupBy("doc_id").agg(*mins))

    rows_per_band = num_hashes // bands
    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(
                F.concat_ws(
                    ",",
                    *[
                        F.col(f"m{b * rows_per_band + r}").cast("string")
                        for r in range(rows_per_band)
                    ],
                )
            ).alias("bucket"),
        )
        for b in range(bands)
    ]
    candidates = band_pairs(sig, "doc_id", F.array(*band_cols)).select(
        F.col("doc_id_a").alias("doc_a"), F.col("doc_id_b").alias("doc_b")
    )
    # exact verify on the STRING shingle sets (portable: the oracle
    # re-runs the identical intersection on list_distinct shingles)
    sets_ = tracked_persist(
        sh.groupBy("doc_id").agg(
            F.collect_set("s").alias("ss"), F.count(F.lit(1)).alias("n_sh")
        )
    )
    sa = sets_.select(
        F.col("doc_id").alias("doc_a"),
        F.col("ss").alias("ss_a"),
        F.col("n_sh").alias("n_a"),
    )
    sb = sets_.select(
        F.col("doc_id").alias("doc_b"),
        F.col("ss").alias("ss_b"),
        F.col("n_sh").alias("n_b"),
    )
    inter = F.size(F.array_intersect("ss_a", "ss_b"))
    jac = inter / (F.col("n_a") + F.col("n_b") - inter)
    return (
        candidates.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(jac + F.lit(1e-9), 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# Leakage-free splitting
# ---------------------------------------------------------------------------


def leakage_free_split(
    documents: DataFrame, pairs: DataFrame, train_hex_cutoff: str = "d"
) -> DataFrame:
    """Train/test split where every near-dup CLUSTER lands wholly in one
    split — the contamination guard a training pipeline needs (a doc in
    train with its near-duplicate in test leaks evaluation data).

    Composition of existing primitives: connected components over the
    near-dup pairs (dedup_clusters) elect a cluster id; docs in no pair
    are their own singleton cluster; the deterministic md5 split
    (train_test_split's contract) is applied to the CLUSTER id, so
    membership moves together. Scale: one left join on doc_id plus the
    CC iterations — no new shuffle shapes.
    """
    labels = dedup_clusters(pairs).select("doc_id", "cluster_id")
    return (
        documents.select("doc_id")
        .join(labels, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("cluster_id", F.col("doc_id")).alias("cluster_id"),
        )
        .withColumn(
            "is_train",
            F.substring(F.md5(F.col("cluster_id").cast("string")), 1, 1)
            < train_hex_cutoff,
        )
    )


# ---------------------------------------------------------------------------
# Benchmark decontamination
# ---------------------------------------------------------------------------


def decontaminate(
    corpus: DataFrame, benchmark: DataFrame, n: int = 5
) -> DataFrame:
    """Flag training docs that share any token n-gram with a benchmark
    set — the decontamination pass every serious pretraining pipeline
    runs (eval questions leaking into training data inflate scores).

    Candidate generation is the same shape as the near-dup family:
    distinct n-gram xxhash64s per doc (shingle strings never
    materialize), equi-join corpus shingles against the benchmark
    shingle set. The benchmark side is SMALL by nature (eval suites
    are MBs against a 100 TB corpus) — Spark's size guard broadcasts
    it, so the corpus never shuffles; only colliding (doc, shingle)
    rows reach the per-doc count aggregate. Every corpus doc is
    returned (left join): n_hits = number of distinct contaminated
    n-grams, contaminated = n_hits > 0.
    """
    doc_sh = corpus.select(
        "doc_id", F.explode(shingle_hashes(tokens("text"), n)).alias("sh")
    )
    bench_sh = (
        benchmark.select(F.explode(shingle_hashes(tokens("text"), n)).alias("sh"))
        .distinct()
    )
    hits = (
        doc_sh.join(bench_sh, "sh")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("__hits"))
    )
    return (
        corpus.select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("__hits"), F.lit(0)).cast("bigint").alias("n_hits"),
            (F.coalesce(F.col("__hits"), F.lit(0)) > 0).alias("contaminated"),
        )
    )


def duplicated_spans(
    documents: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Substring-level exact duplicate detection: maximal token spans of
    ≥ n tokens that appear verbatim in more than one document — the
    scalable formulation of suffix-array substring dedup for training
    corpora ("Deduplicating Training Data Makes Language Models
    Better": remove long verbatim repeats, not just whole-doc dups).

    Plan (all JVM, two equi-shuffles, no pair join):
    1. positional n-gram hashes per doc (positional_shingle_hashes —
       token strings never leave the row they were split in);
    2. one shuffle on the shingle hash: a window ``min(doc) ≠
       max(doc)`` marks hashes seen in ≥2 docs — constant state per
       group (collect_set would explode on boilerplate shingles that
       occur in millions of docs);
    3. one shuffle on doc_id: gaps-and-islands over the duplicated
       positions (lag + running sum) merges overlapping/adjacent
       shingles (gap ≤ n) into maximal spans.

    At 100 TB both shuffle keys are uniform by construction (xxhash64 /
    doc id); per-doc window state is one row. Output: (doc_id,
    span_start, span_end, n_dup_shingles) with token positions
    0-based inclusive.
    """
    from kafka_streams_homework_spark.functions import positional_shingle_hashes

    sh = documents.select(
        F.col(id_col),
        F.posexplode(positional_shingle_hashes(tokens(text_col), n)).alias(
            "pos", "h"
        ),
    )
    wh = Window.partitionBy("h")
    dup = sh.withColumn(
        "__dup", F.min(id_col).over(wh) != F.max(id_col).over(wh)
    ).filter("__dup")
    wd = Window.partitionBy(id_col).orderBy("pos")
    flagged = dup.withColumn(
        "__brk",
        F.when(F.col("pos") - F.lag("pos").over(wd) <= n, F.lit(0)).otherwise(
            F.lit(1)
        ),
    ).withColumn(
        "__grp",
        F.sum("__brk").over(wd.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        flagged.groupBy(id_col, "__grp")
        .agg(
            F.min("pos").cast("bigint").alias("span_start"),
            (F.max("pos") + F.lit(n - 1)).cast("bigint").alias("span_end"),
            F.count(F.lit(1)).alias("n_dup_shingles"),
        )
        .drop("__grp")
    )


def span_trim(
    documents: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus rewrite companion to duplicated_spans: drop every token
    covered only by REDUNDANT duplicated n-grams, keeping the canonical
    first occurrence (min (doc_id, pos) per n-gram hash) — Lee et al.'s
    "remove all but one occurrence of each duplicated substring",
    applied at n-gram granularity.

    Plan: positional shingle hashes → one shuffle on hash where a
    window min(struct(doc, pos)) elects the canonical occurrence
    (constant state per hash group); redundant occurrences explode to
    their covered token indices; the corpus explodes to (doc, idx,
    token) and a left-anti join drops covered tokens; one final
    groupBy(doc) re-joins the survivors in order.

    This is a REWRITE — inherently O(total tokens) (every output byte
    must be produced), so unlike the detection pass the corpus text
    does shuffle once, partitioned by doc id. Run detection
    (duplicated_spans) for reporting; run this only when emitting the
    cleaned corpus.
    """
    from kafka_streams_homework_spark.functions import positional_shingle_hashes

    toks = documents.select(
        F.col(id_col), tokens(text_col).alias("t")
    )
    sh = toks.select(
        id_col,
        F.posexplode(positional_shingle_hashes(F.col("t"), n)).alias("pos", "h"),
    )
    wh = Window.partitionBy("h")
    marked = sh.withColumn(
        "__canon", F.min(F.struct(F.col(id_col), F.col("pos"))).over(wh)
    ).withColumn(
        "__dup_group", F.min(id_col).over(wh) != F.max(id_col).over(wh)
    )
    redundant = marked.filter(
        F.col("__dup_group")
        & ~(
            (F.col("__canon")[id_col] == F.col(id_col))
            & (F.col("__canon")["pos"] == F.col("pos"))
        )
    )
    covered = redundant.select(
        id_col,
        F.explode(F.sequence(F.col("pos"), F.col("pos") + F.lit(n - 1))).alias(
            "idx"
        ),
    ).distinct()

    tok_rows = toks.select(id_col, F.posexplode("t").alias("idx", "tok"))
    kept = tok_rows.join(covered, [id_col, "idx"], "left_anti")
    cleaned = kept.groupBy(id_col).agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("idx", "tok"))),
                lambda s: s["tok"],
            ),
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_tokens_after"),
    )
    before = toks.select(id_col, F.size("t").cast("bigint").alias("n_tokens_before"))
    return before.join(cleaned, id_col, "left").select(
        id_col,
        F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
        "n_tokens_before",
        F.coalesce(F.col("n_tokens_after"), F.lit(0)).cast("bigint").alias(
            "n_tokens_after"
        ),
    )


def edit_distance_pairs(
    strings: DataFrame,
    k: int = 3,
    col: str = "name",
) -> DataFrame:
    """Exact edit-distance similarity join: distinct string pairs with
    levenshtein(a, b) <= k — fuzzy record linkage (typo-variant product
    names, near-identical titles), the string twin of the n-gram
    Jaccard document join.

    Candidate generation is multi-match-aware PassJoin (Li et al.,
    "PassJoin: A Partition-based Method for Similarity Joins"): split
    every string b into k+1 contiguous segments — if lev(a, b) <= k,
    a must contain one of b's segments verbatim (k edits destroy at
    most k segments), and that copy must sit within +-k of the
    segment's own position. So the join key is the full
    (piece, segment_index, |b|) triple, and the a side enumerates only
    the <= 2k+1 substrings inside each segment's position window for
    each |b| in the +-k length band — never "all substrings". The
    position/length constraints live in the KEY and in the windowed
    enumeration, which is what keeps the key space selective even on
    collision-dense alphabets (a naive piece-only join is quadratic
    there: 3-char pieces over a 12-letter alphabet have only 1728
    values). The exact JVM levenshtein verifies every candidate, so
    output == the naive all-pairs filter.

    Pigeonhole caveat: a string of length <= k can be entirely
    destroyed by k edits — no segment survives. Those strings are a
    bounded set; they pair with their length band via a broadcast
    side channel.

    Scale: a-side fanout <= (k+1)(2k+1)(2k+1) rows per string
    (k=3: ~196, typically far fewer), join keys are
    (piece, i, len) triples whose frequency mirrors positional
    vocabulary, candidates ~ sum over keys of |a-rows| x |b-rows| for
    SHARED keys only. Nothing quadratic: 100k random 26-letter names
    join in ~15 s on local[32]; the paper runs millions single-node.
    """
    s = strings.select(F.col(col).alias("s")).distinct()
    nseg = k + 1
    short = s.filter(F.length("s") <= k).select(F.col("s").alias("b"))
    short_cand = (
        s.select(F.col("s").alias("a"))
        .join(
            F.broadcast(short),
            (F.col("a") != F.col("b"))
            & (F.abs(F.length("a") - F.length("b")) <= F.lit(k)),
        )
        .select(
            F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
        )
    )
    long = s.filter(F.length("s") > k)
    # b side: k+1 segments, keyed (piece, segment index, |b|); floor
    # split start(i) = 1 + floor(i*len/nseg) guarantees non-empty
    # segments for len > k
    seg = long.select(
        F.col("s").alias("b"),
        F.explode(
            F.expr(
                f"transform(sequence(0, {k}), i -> struct("
                f"substring(s, 1 + cast(i * length(s) / {nseg} as int), "
                f"cast((i + 1) * length(s) / {nseg} as int)"
                f" - cast(i * length(s) / {nseg} as int)) AS piece, "
                f"i AS i, length(s) AS lb))"
            )
        ).alias("bs"),
    ).select("b", "bs.piece", "bs.i", "bs.lb")
    # a side: for each |b| in the length band and each segment index,
    # substrings of the segment's exact length starting within +-k of
    # the segment's start (slice-of-sequence keeps the empty-window
    # case well-typed; sequence endpoints are clamped ascending)
    sub = long.select(
        F.col("s").alias("a"),
        F.explode(
            F.expr(
                f"""flatten(flatten(
          transform(sequence(greatest(length(s) - {k}, {k + 1}), length(s) + {k}), lb ->
            transform(sequence(0, {k}), i ->
              transform(
                slice(
                  sequence(greatest(1, 1 + cast(i * lb / {nseg} as int) - {k}),
                           greatest(greatest(1, 1 + cast(i * lb / {nseg} as int) - {k}),
                                    least(length(s) - (cast((i + 1) * lb / {nseg} as int)
                                                       - cast(i * lb / {nseg} as int)) + 1,
                                          1 + cast(i * lb / {nseg} as int) + {k}))),
                  1,
                  greatest(least(length(s) - (cast((i + 1) * lb / {nseg} as int)
                                              - cast(i * lb / {nseg} as int)) + 1,
                                 1 + cast(i * lb / {nseg} as int) + {k})
                           - greatest(1, 1 + cast(i * lb / {nseg} as int) - {k}) + 1,
                           0)),
                p -> struct(
                  substring(s, p, cast((i + 1) * lb / {nseg} as int)
                               - cast(i * lb / {nseg} as int)) AS piece,
                  i AS i, lb AS lb))))))"""
            )
        ).alias("asub"),
    ).select("a", "asub.piece", "asub.i", "asub.lb")
    cand = (
        sub.join(seg, ["piece", "i", "lb"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .unionAll(short_cand)
        .distinct()
    )
    dist = F.levenshtein("a", "b")
    return (
        cand.withColumn("distance", dist.cast("bigint"))
        .filter(F.col("distance") <= k)
        .select(
            F.col("a").alias("name_a"),
            F.col("b").alias("name_b"),
            "distance",
        )
    )
