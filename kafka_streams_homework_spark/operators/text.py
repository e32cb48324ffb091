"""Text-analysis operators over the `documents` table (north-star §7).

All hot-path expressions are built-in SQL functions (JVM-side,
codegen); nothing here crosses into Python. Each operator has a DuckDB
oracle twin in queries.py using the SAME tokenization contract
(functions.tokens).

Scale stance: every operator is a narrow projection or a single
hash-aggregate — at 100 TB the only shuffle is the final groupBy where
one exists, and partial aggregation compresses it map-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from kafka_streams_homework_spark.caching import release_checkpoint, tracked_persist
from kafka_streams_homework_spark.functions import count_in_set, tokens
from kafka_streams_homework_spark.operators.multimodal import per_row
from kafka_streams_homework_spark.session import bounded_loop

# Stopword list for the heuristic language scorer. Tiny on purpose: the
# corpus is synthetic; the operator demonstrates the shape (per-doc
# JVM-side token scan), not linguistic quality.
EN_STOPWORDS = ["the", "a", "of", "and", "to", "in", "is"]


def text_stats(documents: DataFrame) -> DataFrame:
    """Per-document surface statistics (length / token counts)."""
    tok = tokens("text")
    return documents.select(
        "doc_id",
        F.length("text").alias("n_chars_calc"),
        F.size(tok).alias("n_tokens"),
        F.size(F.array_distinct(tok)).alias("n_uniq_tokens"),
    )


def token_frequencies(documents: DataFrame, top_n: int = 20) -> DataFrame:
    """Global token frequency table (explode → hash agg → top-n).

    Scale: explode multiplies rows ~100×, but partial aggregation
    collapses them map-side before the shuffle; the top-n is a single
    driver-free orderBy+limit (Spark executes TakeOrderedAndProject).
    """
    return (
        documents.select(F.explode(tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("token").asc())
        .limit(top_n)
    )


def lang_id_heuristic(documents: DataFrame, threshold: float = 0.1) -> DataFrame:
    """Heuristic language ID: English-stopword ratio per document.

    A real system would use n-gram profiles per language; the operator
    shape (per-doc token scan + ratio + classify) is identical and
    fully JVM-side.
    """
    tok = tokens("text")
    n_stop = count_in_set(tok, EN_STOPWORDS)
    ratio = n_stop.cast("double") / F.size(tok).cast("double")
    return documents.select(
        "doc_id",
        "lang",
        n_stop.alias("n_stopwords"),
        F.round(ratio, 6).alias("stopword_ratio"),
        (ratio > threshold).alias("looks_english"),
    )


def quality_score(documents: DataFrame, passthrough: tuple[str, ...] = ()) -> DataFrame:
    """Composite quality signal: length band + lexical diversity.

    Mirrors the usual LLM-data quality filters (length, repetition,
    stopword ratio) with deterministic, oracle-checkable arithmetic.
    ``passthrough`` columns ride along in the same projection so
    callers that need them (per-lang bucketing) don't pay a doc_id
    self-join to re-attach them.
    """
    tok = tokens("text")
    n_tok = F.size(tok)
    n_uniq = F.size(F.array_distinct(tok))
    diversity = n_uniq.cast("double") / n_tok.cast("double")
    stop_ratio = (
        count_in_set(tok, EN_STOPWORDS).cast("double") / n_tok.cast("double")
    )
    score = F.round(
        0.5 * diversity + 0.3 * F.least(n_tok / F.lit(100.0), F.lit(1.0))
        + 0.2 * (1.0 - stop_ratio),
        6,
    )
    return documents.select(
        "doc_id",
        *passthrough,
        F.round(diversity, 6).alias("lexical_diversity"),
        score.alias("quality"),
        ((n_tok >= 5) & (n_tok <= 1000) & (diversity > 0.3)).alias("keep"),
    )


def chunk_documents(
    documents: DataFrame, chunk_tokens: int = 64, stride: int = 48
) -> DataFrame:
    """Split documents into overlapping fixed-size token chunks — the
    LLM-training windowing step (context size `chunk_tokens`, overlap
    `chunk_tokens - stride`).

    Pure SQL: number of chunks per doc from the token count, posexplode
    of a chunk-index sequence, slice+concat per chunk. One narrow
    projection — the fanout rows carry only the chunk text, never the
    full document.
    """
    tok = tokens("text")
    n = F.size(tok)
    num_chunks = F.greatest(
        F.ceil((n - F.lit(chunk_tokens) + F.lit(stride)) / F.lit(stride)),
        F.lit(1),
    ).cast("int")
    with_idx = documents.select(
        "doc_id",
        tok.alias("tok"),
        F.posexplode(F.sequence(F.lit(0), num_chunks - 1)).alias("chunk_idx", "_i"),
    )
    sliced = F.slice(F.col("tok"), F.col("chunk_idx") * stride + 1, chunk_tokens)
    return with_idx.select(
        "doc_id",
        "chunk_idx",
        F.size(sliced).cast("long").alias("n_tokens"),
        F.concat_ws(" ", sliced).alias("chunk_text"),
    )


def pack_chunks(
    chunks: DataFrame, max_tokens: int = 512, shards: int = 16
) -> DataFrame:
    """Greedy contiguous sequence packing: assign chunks to training
    sequences of ~`max_tokens`, preserving (doc, chunk) order within a
    shard.

    seq_id = floor(tokens-before-this-chunk / max_tokens) over a
    running sum — a sequence may spill past the boundary by one chunk
    (standard approximate packing; the trainer truncates). Sharding by
    doc_id bounds the window partition: at 100 TB each shard packs
    independently in parallel, the only shuffle is by shard.
    """
    shard = (F.col("doc_id") % shards).alias("shard")
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id", "chunk_idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tokens").over(w)
    return (
        chunks.select(shard, "doc_id", "chunk_idx", "n_tokens")
        .withColumn("seq_id", F.floor((cum - F.col("n_tokens")) / max_tokens))
        .select("shard", "doc_id", "chunk_idx", "n_tokens", "seq_id")
    )


def doc_fingerprint(documents: DataFrame) -> DataFrame:
    """Deterministic content fingerprint: md5 of normalized text.

    Normalization = lowercase + collapse whitespace. md5 is identical
    across Spark and DuckDB, so exact-dup detection by fingerprint is
    oracle-checkable end to end.
    """
    normalized = F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")
    return documents.select(
        "doc_id",
        F.md5(normalized).alias("fingerprint"),
        F.length(normalized).alias("n_chars_norm"),
    )


# ---------------------------------------------------------------------------
# PII scrubbing
# ---------------------------------------------------------------------------

# Patterns chosen to behave identically under Java regex (Spark) and
# RE2 (DuckDB oracle): no backreferences, no lookaround.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\+?[0-9][0-9()\- ]{7,}[0-9]"
IPV4_RE = r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}"


def pii_scrub(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Redact emails / phone numbers / IPv4 addresses, keeping counts.

    Pure JVM regexp expressions (regexp_replace / regexp_extract_all)
    — a narrow projection, no shuffle, codegen-friendly; the standard
    pre-training scrub pass. Counts come from the ORIGINAL text so they
    survive the redaction; replacement order (emails first) prevents
    the phone pattern from eating redacted tokens.
    """
    t = F.col(text_col)
    n_emails = F.size(F.regexp_extract_all(t, F.lit(EMAIL_RE), F.lit(0)))
    n_ipv4 = F.size(F.regexp_extract_all(t, F.lit(IPV4_RE), F.lit(0)))
    scrubbed = F.regexp_replace(t, EMAIL_RE, "<EMAIL>")
    scrubbed = F.regexp_replace(scrubbed, IPV4_RE, "<IP>")
    n_phones = F.size(
        F.regexp_extract_all(
            F.regexp_replace(t, EMAIL_RE, " "), F.lit(PHONE_RE), F.lit(0)
        )
    )
    scrubbed = F.regexp_replace(scrubbed, PHONE_RE, "<PHONE>")
    return documents.select(
        "doc_id",
        scrubbed.alias("scrubbed_text"),
        n_emails.cast("long").alias("n_emails"),
        n_phones.cast("long").alias("n_phones"),
        n_ipv4.cast("long").alias("n_ipv4"),
    )


# ---------------------------------------------------------------------------
# Deterministic stratified sampling
# ---------------------------------------------------------------------------


def _hex_cutoff(frac: float) -> str:
    """Sampling fraction → 2-hex-char cutoff (granularity 1/256).

    Lowercase-hex string comparison orders identically to the numeric
    value, in every engine; frac ≥ 1 returns 'g', which every 2-char
    hex string sorts below (keep-all)."""
    if frac >= 1.0:
        return "g"
    return format(max(int(round(frac * 256)), 0), "02x")


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict[str, float],
    id_col: str = "doc_id",
    default_frac: float = 0.0,
) -> DataFrame:
    """Per-stratum deterministic sampling — the reproducible twin of
    ``df.sampleBy``.

    Keep predicate: the first two md5 hex chars of the row id sort
    below the stratum's cutoff (fraction quantized to 1/256). A pure
    function of (id, fraction): stable across runs, partitionings, and
    engines (oracle-checkable), unlike RNG-based sampleBy. One narrow
    filter — no shuffle, no added columns.

    At 100 TB this is how you downsample overrepresented strata
    (e.g. keep 10% of web crawl, 100% of reference text) without the
    sample depending on a seed + execution order.
    """
    prefix = F.substring(F.md5(F.col(id_col).cast("string")), 1, 2)
    expr = None
    for value, frac in fractions.items():
        cond = F.col(strata_col) == value
        cut = F.lit(_hex_cutoff(frac))
        expr = F.when(cond, cut) if expr is None else expr.when(cond, cut)
    cutoff = (
        expr.otherwise(F.lit(_hex_cutoff(default_frac)))
        if expr is not None
        else F.lit(_hex_cutoff(default_frac))
    )
    return df.filter(prefix < cutoff)


# ---------------------------------------------------------------------------
# Unigram-LM scoring (perplexity proxy)
# ---------------------------------------------------------------------------


def lm_score(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document unigram language-model score — the classic
    perplexity-proxy quality signal, without an external model.

    Two distributed passes over the SAME corpus:
    1. token frequencies: explode → groupBy(token) count (one shuffle on
       uniform token keys, partial-aggregated map-side);
    2. score: re-explode, join each token to its corpus probability,
       avg(-ln p) per doc (shuffles on token then doc_id).

    Deterministic and fully SQL-expressible (oracle-checked). Higher
    avg_neg_logp ⇒ rarer vocabulary ⇒ "surprising" doc (boilerplate and
    repetition score LOW — the dedup-adjacent signal real pipelines use
    to drop templated text). At 100 TB the frequency table is the
    corpus vocabulary (≪ corpus); if it fits executors, broadcast it to
    make pass 2 shuffle-free on the token side.

    The exploded token stream is persisted (MEMORY_AND_DISK via
    tracked_persist) so the frequency pass and the score pass fold the
    SAME materialization — without it each plan branch re-scans and
    re-tokenizes the corpus (the rollup-cascade lesson: a claimed
    "two passes" must show one scan in the plan).
    """
    toks = tracked_persist(
        documents.select("doc_id", F.explode(tokens(text_col)).alias("tok"))
    )
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("tf"))
    # corpus total as a broadcast 1-row aggregate — keeps the op fully
    # lazy (no driver-side action) and adds no shuffle to the score pass
    total = freq.agg(F.sum("tf").alias("total"))
    prob = freq.crossJoin(F.broadcast(total)).select(
        "tok", (F.col("tf") / F.col("total")).alias("p")
    )
    return (
        toks.join(prob, "tok")
        .withColumn("neg_logp", -F.log("p"))
        .groupBy("doc_id")
        .agg(
            F.round(F.avg("neg_logp"), 6).alias("avg_neg_logp"),
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
        )
    )


def lm_score_bigram(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document bigram conditional-LM score: avg(-ln P(w_i | w_{i-1}))
    with P(w|v) = c(v,w) / c(v,·) from corpus bigram counts.

    Strictly sharper than the unigram proxy (lm_score): templated text
    repeats token SEQUENCES, so its bigram transitions are corpus-
    frequent and score near zero even when individual tokens are rare.
    No smoothing needed — every bigram scored also contributed to the
    counts, so P > 0 by construction.

    Shape: bigram pairs come straight off the token array
    (slice + arrays_zip, the shingles() trick — no posexplode + window,
    no per-doc sort shuffle); counts are two hash-aggs over the pair
    stream; the (prev,cur)→p table is the corpus bigram vocabulary —
    ≪ corpus, broadcastable at scale like the unigram table. Docs with
    fewer than 2 tokens have no bigrams and drop out (inner join on an
    empty pair set), identically in the oracle. The pair stream is
    persisted so the count passes and the score pass fold ONE
    materialization instead of re-tokenizing the corpus per branch.
    """
    tok = tokens(text_col)
    m = F.size(tok) - 1
    zipped = F.arrays_zip(F.slice(tok, 1, m), F.slice(tok, 2, m))
    big = tracked_persist(
        documents.filter(F.size(tok) >= 2)
        .select("doc_id", F.explode(zipped).alias("bg"))
        .select(
            "doc_id", F.col("bg")["0"].alias("prev"), F.col("bg")["1"].alias("cur")
        )
    )
    c2 = big.groupBy("prev", "cur").agg(F.count(F.lit(1)).alias("c2"))
    c1 = big.groupBy("prev").agg(F.count(F.lit(1)).alias("c1"))
    prob = c2.join(c1, "prev").select(
        "prev", "cur", (F.col("c2") / F.col("c1")).alias("p")
    )
    return (
        big.join(prob, ["prev", "cur"])
        .groupBy("doc_id")
        .agg(
            F.round(F.avg(-F.log("p")), 6).alias("avg_neg_logp2"),
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        )
    )


def repetition_score(documents: DataFrame, n: int = 3) -> DataFrame:
    """Within-document repetition profile: the fraction of n-gram
    positions whose n-gram occurs more than once in the same doc
    (Gopher-style "duplicate n-gram fraction" — the strongest single
    predictor of degenerate/spammy text; pipelines drop docs above
    ~0.15 at n=3).

    Shape: explode n-gram positions WITH multiplicity (shingles(), no
    distinct), count per (doc, gram), then one more per-doc aggregate:
    dup_frac = Σ c·[c≥2] / Σ c. Both aggregates partial-combine
    map-side; nothing leaves the doc's partition except (doc_id, gram)
    counts. Docs shorter than n tokens have no n-grams and drop out —
    identically in the oracle.
    """
    from kafka_streams_homework_spark.functions import shingles

    sh = documents.select(
        "doc_id", F.explode(shingles(tokens("text"), n)).alias("g")
    )
    per = sh.groupBy("doc_id", "g").agg(F.count(F.lit(1)).alias("c"))
    return per.groupBy("doc_id").agg(
        F.round(
            F.sum(F.when(F.col("c") >= 2, F.col("c")).otherwise(0))
            / F.sum("c"),
            6,
        ).alias("dup_frac"),
        F.sum("c").cast("bigint").alias("n_ngrams"),
    )


def quality_buckets(documents: DataFrame) -> DataFrame:
    """Per-language quality tiers (head / middle / tail), CCNet-style:
    rank every document inside its language by the composite quality
    score and cut into three NTILE buckets.

    Scale shape: one scan to score (pure JVM expressions), one window
    shuffle partitioned by lang. Languages are the partition key, so a
    skewed language (English ~half a web corpus) concentrates — at
    100 TB swap NTILE for a two-pass percentile cut: aggregate
    per-lang score histograms (partial-merge, no row shuffle), derive
    the two cut points, then bucket with a broadcast map-side join —
    same output, no window. NTILE is kept here as the exact,
    oracle-checkable form.
    """
    withlang = quality_score(documents, passthrough=("lang",)).select(
        "doc_id", "lang", "quality"
    )
    w = Window.partitionBy("lang").orderBy(F.col("quality").desc(), F.col("doc_id"))
    tile = F.ntile(3).over(w)
    return withlang.select(
        "doc_id",
        "lang",
        "quality",
        tile.alias("tile"),
        F.element_at(F.array(F.lit("head"), F.lit("middle"), F.lit("tail")), tile)
        .alias("bucket"),
    )


def importance_sample(documents: DataFrame) -> DataFrame:
    """Deterministic quality-weighted sampling: keep a document with
    probability equal to its quality score, with the coin flip derived
    from the doc_id (Knuth multiplicative hash), not an RNG.

    The reproducibility contract of train_test_split extended to
    weighted sampling: identical keep-set across engines, runs, and
    repartitioning — re-running the pipeline on a grown corpus keeps
    every previously-kept document. Pure map-side expressions; the id
    is range-bounded (mod 1000003) before the multiply so the i64
    arithmetic can never overflow regardless of id magnitude.
    """
    u = (
        ((F.col("doc_id") % F.lit(1000003)) * F.lit(2654435761)) % F.lit(1000000)
    ).cast("double") / F.lit(1000000.0)
    scored = quality_score(documents).select("doc_id", "quality")
    return scored.select(
        "doc_id",
        F.round(u, 6).alias("u"),
        F.col("quality").alias("weight"),
        (u < F.col("quality")).alias("kept"),
    )


def quality_buckets_scalable(documents: DataFrame, bins: int = 1000) -> DataFrame:
    """The 100 TB twin of quality_buckets: histogram cut points instead
    of a per-document window.

    quality_buckets ranks every document inside its language with
    NTILE — a full row shuffle partitioned by lang, which concentrates
    on skewed languages (English is ~half of a web corpus). Here the
    corpus never shuffles at row level:
    1. one scan scores + bins each doc (fixed 1/bins-wide bins);
    2. a partial-merged (lang, bin) histogram — at most
       |langs| x bins rows ever shuffle;
    3. tertile cut bins derived from the descending cumulative (the
       windows run over the tiny histogram, not the corpus);
    4. cut points broadcast back; bucketing is a map-side expression.
    Buckets match NTILE up to bin resolution (ties inside one
    1/1000-quality bin may land one bucket over — pytest pins the
    agreement rate). All arithmetic is integer/deterministic, so the
    result is exactly reproducible cross-engine (DuckDB oracle).
    """
    withlang = quality_score(documents, passthrough=("lang",)).select(
        "doc_id", "lang", "quality"
    )
    binned = withlang.withColumn(
        "bin",
        F.least(F.floor(F.col("quality") * bins), F.lit(bins - 1)).cast("int"),
    )
    hist = binned.groupBy("lang", "bin").agg(F.count(F.lit(1)).alias("c"))
    w_cum = Window.partitionBy("lang").orderBy(F.col("bin").desc())
    w_all = Window.partitionBy("lang").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = hist.withColumn("cum", F.sum("c").over(w_cum)).withColumn(
        "total", F.sum("c").over(w_all)
    )
    cuts = cum.groupBy("lang").agg(
        F.max(
            F.when(F.col("cum") >= F.ceil(F.col("total") / 3.0), F.col("bin"))
        ).alias("t1"),
        F.max(
            F.when(F.col("cum") >= F.ceil(F.col("total") * 2 / 3.0), F.col("bin"))
        ).alias("t2"),
    )
    return binned.join(F.broadcast(cuts), "lang").select(
        "doc_id",
        "lang",
        "quality",
        F.when(F.col("bin") >= F.col("t1"), F.lit("head"))
        .when(F.col("bin") >= F.col("t2"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )


def classifier_score(
    documents: DataFrame,
    n_buckets: int = 4096,
    text_col: str = "text",
) -> DataFrame:
    """fastText-style linear text classifier over hashed n-gram
    features — the quality-filter architecture of CCNet/RefinedWeb-
    class pipelines (a learned linear model over hashed unigram+bigram
    features), expressed as pure JVM column expressions.

    Features: unigrams and token bigrams, hashed into ``n_buckets``
    via the first 8 hex digits of md5 (engine-portable, unlike
    xxhash64 which DuckDB lacks). The per-bucket weight here is a
    deterministic function of the bucket id ((b % 197)/197 - 0.5) —
    a stand-in for trained weights with the same plan shape: a real
    deployment swaps the inline expression for a broadcast
    ``array<double>`` literal of length n_buckets (fastText dims are
    a few MB — broadcast-trivial) and the rest of the plan is
    unchanged.

    Score = sigmoid(4 * mean feature weight), rounded to 6 so the
    keep/drop decision is identical cross-engine. Map-only: no
    shuffle, no Python, one pass over the corpus — at 100 TB this is
    scan-bound and embarrassingly parallel, exactly like the C4 /
    CCNet quality-filter pass it models.
    """
    from kafka_streams_homework_spark.functions import shingles

    # unigrams + token bigrams via the shared shingles() helper — the
    # slice/arrays_zip formulation keeps tokenization CSE-able (an
    # element_at-in-lambda expr re-evaluates split() per element,
    # measured ~15x slower; see functions.shingles docstring). Bigram
    # strings are identical to the oracle's tok[i] || ' ' || tok[i+1].
    toks = tokens(text_col)
    feats = F.concat(toks, shingles(toks, 2))
    bucket = lambda c: F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast(
        "long"
    ) % F.lit(n_buckets)
    weights = F.transform(
        feats, lambda t: (bucket(t) % 197).cast("double") / 197.0 - 0.5
    )
    raw = F.aggregate(
        weights, F.lit(0.0), lambda acc, w: acc + w
    ) / F.greatest(F.size(feats), F.lit(1)).cast("double")
    score = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-4.0 * raw)), 6)
    return documents.select(
        "doc_id",
        F.size(feats).cast("bigint").alias("n_features"),
        score.alias("clf_score"),
        (score >= 0.5).alias("kept"),
    )


def collocations_pmi(
    documents: DataFrame,
    min_count: int = 5,
    top_n: int = 100,
) -> DataFrame:
    """PMI-scored bigram collocations: adjacent token pairs that
    co-occur far more often than their unigram frequencies predict —
    the standard multi-word-expression miner (Church & Hanks 1990)
    used to find phrases worth protecting from tokenizer splits in
    LLM corpus prep.

    pmi = log2( (c_ab / N_bigrams) / ((c_a / N_tokens) * (c_b / N_tokens)) )

    Plan: tokens → adjacent pairs via a zip of the array with its own
    tail (a pure JVM array expression — no window, no self-join) →
    explode → two hash aggregates (bigrams; unigrams), both collapsed
    map-side by partial aggregation, with the bounded unigram table
    and the two scalar totals broadcast back onto the bigram counts.
    The corpus is scanned once; everything after the explode is
    vocabulary-sized.

    Scale: bigram vocabulary is the largest intermediate (Heaps-law
    sublinear in corpus size); the corpus itself never shuffles. The
    min_count cut is applied BEFORE the join/top-k, so the ranked
    stage sees only frequent pairs.
    """
    tok = tokens("text")
    pairs = F.zip_with(
        tok,
        F.slice(tok, 2, F.greatest(F.size(tok) - 1, F.lit(0))),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    # zip_with pads the shorter side with null b — drop the tail pair
    bigrams = tracked_persist(
        documents.select(F.explode(pairs).alias("p"))
        .filter(F.col("p.w2").isNotNull())
        .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    )
    unigrams = tracked_persist(
        documents.select(F.explode(tok).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cw"))
    )
    n_tokens = unigrams.select(F.sum("cw").alias("n_tok"))
    n_bigrams = bigrams.select(F.count(F.lit(1)).alias("n_big"))
    cab = (
        bigrams.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .filter(F.col("c_ab") >= min_count)
    )
    scored = (
        cab.join(
            F.broadcast(unigrams.select(F.col("w").alias("w1"), F.col("cw").alias("c_a"))),
            "w1",
        )
        .join(
            F.broadcast(unigrams.select(F.col("w").alias("w2"), F.col("cw").alias("c_b"))),
            "w2",
        )
        .crossJoin(F.broadcast(n_tokens))
        .crossJoin(F.broadcast(n_bigrams))
        .select(
            "w1",
            "w2",
            F.col("c_ab").cast("bigint").alias("c_ab"),
            F.round(
                F.log2(
                    (F.col("c_ab") / F.col("n_big"))
                    / ((F.col("c_a") / F.col("n_tok")) * (F.col("c_b") / F.col("n_tok")))
                )
                + F.lit(1e-9),
                6,
            ).alias("pmi"),
        )
    )
    return (
        scored.orderBy(F.col("pmi").desc(), "w1", "w2")
        .limit(top_n)
    )


def js_divergence_sources(
    documents: DataFrame,
    group_col: str = "source",
) -> DataFrame:
    """Pairwise Jensen-Shannon divergence (log2, in [0,1]) between the
    unigram token distributions of every pair of document groups — the
    corpus-drift / domain-shift monitor used to compare crawls,
    snapshots, or pipeline stages before mixing them into training
    data.

    Only SHARED tokens ever join: for a token held by one side only,
    the JS integrand collapses to p/2 (log2(p/(p/2)) == 1), so the
    disjoint mass enters through the closed form

        JS(P,Q) = sum_shared[ p/2 log2(2p/(p+q)) + q/2 log2(2q/(p+q)) ]
                  + (1 - sum_shared p)/2 + (1 - sum_shared q)/2

    and the all-pairs full-outer join a naive implementation needs
    disappears. Corollary: a pair with ZERO shared tokens emits no
    row (its JS is exactly 1 bit); absence from the output is that
    maximal-divergence signal, which callers can materialize with a
    cross join of the group list if they need explicit rows.

    Plan: one corpus scan → (group, token) counts (vocabulary-sized,
    partial-agg) → per-group totals broadcast → shared-token
    equi-join with group_a < group_b → one (pair) aggregate. Scale:
    pair-term volume is |shared vocab| x O(S^2) for S groups — the
    operator is meant for group counts in the tens/hundreds (crawl
    snapshots, domains); for larger S restrict to the pairs of
    interest before the join.
    """
    tok = tokens("text")
    freq = (
        documents.select(F.col(group_col).alias("g"), F.explode(tok).alias("w"))
        .groupBy("g", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    totals = freq.groupBy("g").agg(F.sum("c").alias("t"))
    dist = tracked_persist(
        freq.join(F.broadcast(totals), "g").select(
            "g", "w", (F.col("c") / F.col("t")).alias("p")
        )
    )
    a = dist.select(F.col("g").alias("ga"), "w", F.col("p").alias("pa"))
    b = dist.select(F.col("g").alias("gb"), "w", F.col("p").alias("pb"))
    shared = a.join(b, "w").filter(F.col("ga") < F.col("gb"))
    term = (
        F.col("pa") / 2 * F.log2(2 * F.col("pa") / (F.col("pa") + F.col("pb")))
        + F.col("pb") / 2 * F.log2(2 * F.col("pb") / (F.col("pa") + F.col("pb")))
    )
    return (
        shared.groupBy("ga", "gb")
        .agg(
            F.sum(term).alias("s_term"),
            F.sum("pa").alias("s_pa"),
            F.sum("pb").alias("s_pb"),
        )
        .select(
            F.col("ga").alias("source_a"),
            F.col("gb").alias("source_b"),
            F.round(
                F.col("s_term")
                + (1 - F.col("s_pa")) / 2
                + (1 - F.col("s_pb")) / 2
                + F.lit(1e-9),
                6,
            ).alias("js_div"),
        )
    )


COMPRESSION_LEVEL = 6  # production default; pinned for determinism
COMPRESSION_DUP_MAX = 0.4  # ratios below this read as boilerplate


def compression_ratio(documents: DataFrame) -> DataFrame:
    """zlib DEFLATE compression ratio per document (rows-only op).

    ratio = len(compress(utf8(text), level=6)) / len(utf8(text)) — the
    standard redundancy signal for boilerplate/near-dup filtering.
    Deterministic for a given zlib build and level, but no SQL engine
    can replay DEFLATE, so this is a rows-only entry; its
    oracle-checked sandwich is char_entropy (a lower bound on the
    achievable rate, asserted in pytest). Arrow-batched through
    `multimodal.per_row`, one Python crossing, no shuffle.
    """
    import zlib

    def comp(doc_id, text):
        raw = str(text).encode("utf-8")
        yield doc_id, len(raw), len(zlib.compress(raw, COMPRESSION_LEVEL))

    feats = per_row(
        documents,
        ["doc_id", "text"],
        comp,
        "doc_id long, raw_bytes long, compressed_bytes long",
    )
    ratio = F.round(
        F.col("compressed_bytes") / F.col("raw_bytes") + F.lit(1e-9), 6
    )
    return feats.select(
        "doc_id",
        "raw_bytes",
        "compressed_bytes",
        ratio.alias("ratio"),
        (ratio < COMPRESSION_DUP_MAX).alias("boilerplate"),
    )


def bpe_train_merges(
    words: DataFrame, n_merges: int = 20, return_segmentation: bool = False
) -> DataFrame:
    """Real byte-pair-encoding merge training (Sennrich et al. 2016,
    public algorithm) over a corpus word-frequency table — the learned
    counterpart of the regex "BPE-ish" subword counter.

    ``words`` is (w: string, freq: long) — one row per DISTINCT corpus
    word with its corpus frequency. Each word starts as its character
    sequence plus a word-final ``</w>`` marker; every iteration counts
    adjacent symbol pairs corpus-frequency-weighted, merges the argmax
    pair (ties broken (count desc, left asc, right asc)), and repeats.
    Merge application is the classic greedy left-to-right
    non-overlapping scan, expressed relationally: candidates are
    (sym, next-sym) matches via ``lead`` over each word's positions;
    overlapping candidates can only chain when left==right, and within
    a chain greedy keeps the odd-indexed ones — a run-parity window,
    no sequential UDF.

    Scale stance: this is the textbook split of BPE training — the
    corpus contributes exactly ONE data-sized pass (the word-frequency
    groupBy, done by the caller); the merge loop runs entirely over
    the VOCABULARY-cardinality segmentation table (|vocab| × avg word
    length rows — millions at web scale, independent of corpus row
    count). Each iteration is one bounded window + one bounded
    aggregate + two equi-joins on (word, pos); per-step
    ``localCheckpoint`` keeps lineage flat across iterations (the
    kcore/ipf discipline — each step references the previous
    segmentation several times). The two driver collects per step are
    a 1-row argmax and a 1-row applied-count — bounded scalars.

    Returns the merge table: (step, left_sym, right_sym, pair_count,
    n_merged, corpus_tokens_after) — n_merged is the greedy-applied
    corpus-weighted site count (< pair_count only for left==right
    chains), corpus_tokens_after the corpus token count (including
    ``</w>`` markers) after that merge. Loop exits early if the
    vocabulary runs out of pairs; both engines degrade identically.
    """
    spark = words.sparkSession
    # r12 (guide §1.2/§7.3): the merge loop is DRIVER-LATENCY bound —
    # every per-step action runs over the vocabulary-sized segmentation
    # (a few hundred k rows), but under AQE each action decomposes into
    # 3-4 sequential stage-jobs with ~0.1-0.15 s of driver coordination
    # gap each (profiled: 108 jobs, 5 s task time, 7 s of gaps). AQE
    # buys nothing here (no skew, no join planning, bounded data), so
    # the loop runs with it off: one job per action, stages pipelined
    # by the DAG scheduler without re-planning round-trips.
    # The loop's shuffles move only the vocabulary-sized segmentation
    # (|vocab| x avg word length rows — a few MB here, a few GB at web
    # scale): size their partition count to that table, not to the
    # session default meant for data-sized shuffles.
    with bounded_loop(spark, small_shuffles=True):
        return _bpe_train_merges_loop(
            spark, words, n_merges, return_segmentation
        )


def _bpe_train_merges_loop(
    spark, words: DataFrame, n_merges: int, return_segmentation: bool
) -> DataFrame:
    sym_arr = F.expr(
        "transform(sequence(1, length(w)), i -> substring(w, i, 1))"
    )
    seg = words.select(
        "w",
        "freq",
        F.posexplode(F.concat(sym_arr, F.array(F.lit("</w>")))).alias(
            "pos", "sym"
        ),
    ).localCheckpoint(eager=True)
    wspec = Window.partitionBy("w").orderBy("pos")
    merges: list[tuple] = []
    # r11 job fusion (the loop is driver-latency-bound at bounded
    # vocab): each step now pays ONE driver action — (a) the per-step
    # corpus token count rides the argmax collect (total = sum over the
    # pair groups with null-nsym groups kept), and the token total of
    # step t's input IS tokens_after of step t-1, so records close with
    # lag 1 (the final one from one post-loop aggregate); (b) the
    # segmentation checkpoint is LAZY — the next step's argmax collect
    # is the first action touching it and materializes it en route, so
    # there is no separate checkpoint job. Superseded checkpoint blocks
    # are released one step later (only after the collect that
    # materialized their successor — releasing earlier would free
    # blocks the successor's compute still reads).
    toks_before: int | None = None
    prev_seg = None
    for step in range(1, n_merges + 1):
        p = seg.select(
            "w",
            "freq",
            "pos",
            "sym",
            F.lead("sym").over(wspec).alias("nsym"),
            F.lead("pos").over(wspec).alias("npos"),
        )
        # keep the null-nsym (word-final) groups through the aggregate:
        # sum(cnt) over ALL groups then equals sum(freq) over all
        # segmentation rows = the corpus token count, so the total rides
        # the SAME single TakeOrdered collect as the argmax (a global
        # unbounded window over the vocab²-bounded pair table — no
        # second scan, no broadcast, still one job per collect)
        best = (
            p.groupBy("sym", "nsym")
            .agg(F.sum("freq").alias("cnt"))
            .withColumn("toks", F.sum("cnt").over(Window.partitionBy()))
            .filter(F.col("nsym").isNotNull())
            .orderBy(F.col("cnt").desc(), "sym", "nsym")
            .limit(1)
            .collect()
        )
        # the collect above materialized (lazy-checkpointed) seg — the
        # previous segmentation's blocks are now fully superseded
        if prev_seg is not None:
            release_checkpoint(prev_seg)
            prev_seg = None
        toks_now = (
            int(best[0].toks)
            if best
            else int(seg.agg(F.sum("freq")).first()[0] or 0)
        )
        if toks_before is not None:
            # close the previous step's record: n_applied = token drop
            s_, a_, b_, cnt_ = merges[-1]
            merges[-1] = (s_, a_, b_, cnt_, toks_before - toks_now, toks_now)
        toks_before = toks_now
        if not best:
            break
        a, b, cnt = best[0].sym, best[0].nsym, int(best[0].cnt)
        merges.append((step, a, b, cnt))  # open record, closed next step
        # Greedy non-overlap applied with WINDOWS ONLY — no self-joins.
        # (A join-based formulation is semantically fine but poisons
        # Catalyst's sizeInBytes estimate across the checkpoint chain:
        # localCheckpoint PRESERVES stats, and each self-join step
        # MULTIPLIES them, so the BigInteger size estimate cubes per
        # iteration and the optimizer ends up doing multi-megabit
        # Karatsuba multiplications — measured 4.5x slowdown per step
        # from step ~12. Window/filter stats stay linear.)
        # Candidates chain only when a == b (the next candidate's left
        # symbol is this one's consumed right partner); within each
        # maximal chain greedy keeps the odd-indexed candidates. Every
        # non-candidate row breaks a chain, so chain groups are
        # cumulative break counts and in-chain index is a row_number
        # over (word, group).
        is_cand = (F.col("sym") == a) & (F.col("nsym") == b)
        flags = (
            p.withColumn("is_cand", is_cand)
            .withColumn(
                "brk",
                F.when(~F.col("is_cand"), F.lit(1)).otherwise(
                    F.when(
                        F.lag("is_cand").over(wspec)
                        & (F.lag("npos").over(wspec) == F.col("pos")),
                        F.lit(0),
                    ).otherwise(F.lit(1))
                ),
            )
            .withColumn(
                "grp",
                F.sum("brk").over(
                    wspec.rowsBetween(
                        Window.unboundedPreceding, Window.currentRow
                    )
                ),
            )
            .withColumn(
                "ci",
                F.row_number().over(
                    Window.partitionBy("w", "grp").orderBy("pos")
                ),
            )
            .withColumn("kept", F.col("is_cand") & (F.col("ci") % 2 == 1))
            # the row after a kept candidate IS its consumed right
            # partner (lead(pos) of the kept row is by construction the
            # next existing position = this row's pos)
            .withColumn(
                "del",
                F.coalesce(F.lag("kept").over(wspec), F.lit(False)),
            )
        )
        prev_seg = seg
        seg = (
            flags.filter(~F.col("del"))
            .select(
                "w",
                "freq",
                "pos",
                F.when(F.col("kept"), F.lit(a + b))
                .otherwise(F.col("sym"))
                .alias("sym"),
            )
            # LAZY: materialized by the next step's argmax collect (or
            # the post-loop aggregate) — no dedicated checkpoint job
            .localCheckpoint(eager=False)
        )
    if merges and len(merges[-1]) == 4:
        # the loop ended (n_merges reached or vocabulary exhausted) with
        # the last record still open — one final bounded aggregate
        # closes it (and materializes the last lazy checkpoint)
        toks_now = int(seg.agg(F.sum("freq")).first()[0] or 0)
        s_, a_, b_, cnt_ = merges[-1]
        merges[-1] = (s_, a_, b_, cnt_, toks_before - toks_now, toks_now)
    if prev_seg is not None:
        # seg is materialized on every path that reaches here (argmax
        # collect, empty-vocab fallback aggregate, or the record-closing
        # aggregate above) — the penultimate blocks are superseded
        release_checkpoint(prev_seg)
    if return_segmentation:
        # the trained tokenizer itself: (w, freq, pos, sym) after all
        # merges — vocabulary-cardinality, the input to encode/apply
        return seg
    # merge-table callers never read the segmentation again: release
    # the final checkpoint too (the merge records are driver-side)
    release_checkpoint(seg)
    return spark.createDataFrame(
        merges,
        "step long, left_sym string, right_sym string, pair_count long, "
        "n_merged long, corpus_tokens_after long",
    )
