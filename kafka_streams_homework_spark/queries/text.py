"""Text quality, analysis, retrieval and corpus statistics.

Split from the original monolithic queries.py (r5 verdict task 5);
registration side effects populate the shared REGISTRY, and the
package __init__ fixes the driver-window order, so module
membership is organization only — zero semantic change.
"""
# ruff: noqa: F403, F405
from __future__ import annotations
from kafka_streams_homework_spark.queries._shared import *  # noqa



# ===========================================================================
# Text analysis (north-star §7, over documents)
# ===========================================================================



@register(
    "text_stats",
    oracle="""
        SELECT doc_id,
               CAST(length(text) AS BIGINT) AS n_chars_calc,
               CAST(len(str_split(lower(text), ' ')) AS BIGINT) AS n_tokens,
               CAST(len(list_distinct(str_split(lower(text), ' '))) AS BIGINT) AS n_uniq_tokens
        FROM documents
    """,
    description="Text surface stats per document (length / token counts), "
    "pure JVM-side expressions",
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    stats = T.text_stats(docs)
    return stats.select(
        "doc_id",
        F.col("n_chars_calc").cast("long").alias("n_chars_calc"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_uniq_tokens").cast("long").alias("n_uniq_tokens"),
    )


@register(
    "token_count",
    oracle="""
        SELECT token, CAST(count(*) AS BIGINT) AS n
        FROM (SELECT unnest(str_split(lower(text), ' ')) AS token FROM documents)
        GROUP BY token ORDER BY n DESC, token ASC LIMIT 20
    """,
    description="Global token frequency (explode → partial agg → top-20)",
)
def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return T.token_frequencies(docs, 20)


@register(
    "lang_id",
    oracle=f"""
        SELECT doc_id, lang,
               CAST(len(list_filter(str_split(lower(text), ' '),
                    x -> x IN ('{_STOPWORD_SQL}'))) AS BIGINT) AS n_stopwords,
               round(len(list_filter(str_split(lower(text), ' '),
                    x -> x IN ('{_STOPWORD_SQL}')))::DOUBLE
                     / len(str_split(lower(text), ' ')), 6) AS stopword_ratio,
               (len(list_filter(str_split(lower(text), ' '),
                    x -> x IN ('{_STOPWORD_SQL}')))::DOUBLE
                     / len(str_split(lower(text), ' '))) > 0.1 AS looks_english
        FROM documents
    """,
    description="Heuristic language ID: stopword-ratio scorer per doc",
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    out = T.lang_id_heuristic(docs, 0.1)
    return out.select(
        "doc_id",
        "lang",
        F.col("n_stopwords").cast("long").alias("n_stopwords"),
        "stopword_ratio",
        "looks_english",
    )


@register(
    "lang_id_auc",
    oracle=f"""
        WITH scored AS (
            SELECT (lang = 'en') AS label,
                   round(len(list_filter(str_split(lower(text), ' '),
                        x -> x IN ('{_STOPWORD_SQL}')))::DOUBLE
                         / len(str_split(lower(text), ' ')), 6) AS s
            FROM documents
        ), g AS (
            SELECT s, count(*) AS n,
                   SUM(CASE WHEN label THEN 1 ELSE 0 END) AS npos
            FROM scored GROUP BY s
        ), r AS (
            SELECT s, n, npos,
                   SUM(n) OVER (ORDER BY s) - n AS cum_lt
            FROM g
        ), tot AS (
            SELECT SUM(npos) AS p, SUM(n - npos) AS q,
                   SUM(npos * (cum_lt + (n + 1) / 2.0)) AS rpos
            FROM r
        )
        SELECT CAST(p AS BIGINT) AS n_pos, CAST(q AS BIGINT) AS n_neg,
               round((rpos - p * (p + 1) / 2.0) / (p * q) + 1e-9, 6)
                   AS auc
        FROM tot
    """,
    description="ROC-AUC of the lang_id scorer against its own labels "
    "(stopword_ratio vs lang='en'): exact tie-corrected rank-sum "
    "(Mann-Whitney) formulation — per distinct score, average rank = "
    "strictly-below count + (ties+1)/2, AUC = (R_pos - P(P+1)/2)/(PN). "
    "Aggregation state is |distinct scores| rows, never a per-doc "
    "sort at the driver; average-rank products are exact multiples of "
    "0.5 so the sum is order-independent in float64. The model-eval "
    "harness op a scoring pipeline runs before trusting a filter "
    "threshold; fixture AUC ≈0.53 honestly reflects the synthetic "
    "corpus's weak language signal",
)
def q_lang_id_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    scored = T.lang_id_heuristic(docs, 0.1).select(
        (F.col("lang") == "en").alias("label"),
        F.col("stopword_ratio").alias("s"),
    )
    g = scored.groupBy("s").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("label"), 1).otherwise(0)).alias("npos"),
    )
    w = Window.orderBy("s").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    r = g.withColumn("cum_lt", F.sum("n").over(w) - F.col("n"))
    tot = r.agg(
        F.sum("npos").alias("p"),
        F.sum(F.col("n") - F.col("npos")).alias("q"),
        F.sum(
            F.col("npos") * (F.col("cum_lt") + (F.col("n") + 1) / 2.0)
        ).alias("rpos"),
    )
    return tot.select(
        F.col("p").cast("long").alias("n_pos"),
        F.col("q").cast("long").alias("n_neg"),
        F.round(
            (F.col("rpos") - F.col("p") * (F.col("p") + 1) / 2.0)
            / (F.col("p") * F.col("q"))
            + F.lit(1e-9),
            6,
        ).alias("auc"),
    )


@register(
    "score_calibration",
    oracle=f"""
        WITH scored AS (
            SELECT (CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS label,
                   CAST(round(len(list_filter(str_split(lower(text), ' '),
                        x -> x IN ('{_STOPWORD_SQL}')))::DOUBLE
                         / len(str_split(lower(text), ' '))
                         * 1000000, 0) AS BIGINT) AS m
            FROM documents
        )
        SELECT CAST(least(m // 100000, 9) AS BIGINT) AS bucket,
               count(*) AS n,
               CAST(SUM(label) AS BIGINT) AS n_pos,
               round(SUM(m)::DOUBLE / (count(*) * 1000000.0) + 1e-9, 6)
                   AS mean_score,
               round(SUM(label)::DOUBLE / count(*) + 1e-9, 6) AS pos_rate,
               round(SUM((m - label * 1000000) * (m - label * 1000000))
                         ::DOUBLE
                     / (count(*) * 1000000000000.0) + 1e-9, 6) AS brier
        FROM scored GROUP BY 1
    """,
    description="Calibration table + per-bucket Brier for the lang_id "
    "scorer: equi-width decile buckets of stopword_ratio vs observed "
    "lang='en' rate. Scores quantize to integer micro-units (1e-6) "
    "FIRST, so bucket assignment, mean, rate and the Brier sum of "
    "squares are all exact BIGINT arithmetic until one final division "
    "— no float-summation order anywhere, the pattern for "
    "cross-engine-stable score aggregation. State is 10 buckets "
    "regardless of corpus size",
)
def q_score_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    scored = T.lang_id_heuristic(docs, 0.1).select(
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("label"),
        F.round(F.col("stopword_ratio") * 1000000, 0)
        .cast("long")
        .alias("m"),
    )
    err = F.col("m") - F.col("label") * 1000000
    return (
        scored.groupBy(
            F.least(F.floor(F.col("m") / 100000), F.lit(9))
            .cast("long")
            .alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("label").cast("long").alias("n_pos"),
            F.round(
                F.sum("m") / (F.count(F.lit(1)) * 1000000.0) + F.lit(1e-9),
                6,
            ).alias("mean_score"),
            F.round(
                F.sum("label") / F.count(F.lit(1)) + F.lit(1e-9), 6
            ).alias("pos_rate"),
            F.round(
                F.sum(err * err)
                / (F.count(F.lit(1)) * 1000000000000.0)
                + F.lit(1e-9),
                6,
            ).alias("brier"),
        )
    )



@register(
    "quality_score",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, str_split(lower(text), ' ') AS tok FROM documents
        ), m AS (
            SELECT doc_id,
                   len(tok) AS n_tok,
                   len(list_distinct(tok)) AS n_uniq,
                   len(list_filter(tok, x -> x IN ('{_STOPWORD_SQL}'))) AS n_stop
            FROM t
        )
        SELECT doc_id,
               round(n_uniq::DOUBLE / n_tok, 6) AS lexical_diversity,
               round(0.5 * (n_uniq::DOUBLE / n_tok)
                     + 0.3 * least(n_tok / 100.0, 1.0)
                     + 0.2 * (1.0 - n_stop::DOUBLE / n_tok), 6) AS quality,
               (n_tok >= 5 AND n_tok <= 1000
                AND n_uniq::DOUBLE / n_tok > 0.3) AS keep
        FROM m
    """,
    description="Composite quality score (diversity + length band + "
    "stopword ratio) — the standard LLM-data quality-filter shape",
)
def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return T.quality_score(docs)


@register(
    "lm_score",
    oracle="""
        WITH toks AS (
            SELECT doc_id, unnest(str_split(lower(text), ' ')) AS tok
            FROM documents
        ),
        freq AS (SELECT tok, count(*) AS tf FROM toks GROUP BY tok),
        total AS (SELECT sum(tf) AS total FROM freq)
        SELECT t.doc_id,
               round(avg(-ln(f.tf / (SELECT total FROM total))), 6)
                   AS avg_neg_logp,
               CAST(count(*) AS BIGINT) AS n_tokens
        FROM toks t JOIN freq f ON t.tok = f.tok
        GROUP BY t.doc_id
    """,
    description="Unigram-LM quality score (perplexity proxy): corpus "
    "token frequencies → per-doc avg(-ln p). Two hash-agg passes, "
    "vocabulary table broadcastable at scale; boilerplate/templated "
    "docs score LOW — the quality signal real pipelines threshold on",
)
def q_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return T.lm_score(docs)


@register(
    "lm_score_bigram",
    oracle="""
        WITH t AS (
            SELECT doc_id, str_split(lower(text), ' ') AS tok FROM documents
        ), big AS (
            SELECT doc_id,
                   tok[i] AS prev, tok[i + 1] AS cur
            FROM t, unnest(generate_series(1, len(tok) - 1)) AS u(i)
            WHERE len(tok) >= 2
        ),
        c2 AS (SELECT prev, cur, count(*) AS c2 FROM big GROUP BY prev, cur),
        c1 AS (SELECT prev, count(*) AS c1 FROM big GROUP BY prev)
        SELECT b.doc_id,
               round(avg(-ln(c2.c2 / CAST(c1.c1 AS DOUBLE))), 6)
                   AS avg_neg_logp2,
               CAST(count(*) AS BIGINT) AS n_bigrams
        FROM big b
        JOIN c2 ON b.prev = c2.prev AND b.cur = c2.cur
        JOIN c1 ON b.prev = c1.prev
        GROUP BY b.doc_id
    """,
    description="Bigram conditional-LM score: avg(-ln P(w|prev)) from "
    "corpus transition counts — sharper than unigram for catching "
    "templated/boilerplate text (repeated SEQUENCES score ~0). Bigram "
    "pairs lifted straight off the token array (no per-doc sort "
    "shuffle); transition table broadcastable at scale",
)
def q_lm_score_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return T.lm_score_bigram(docs)


@register(
    "repetition_score",
    oracle="""
        WITH t AS (
            SELECT doc_id, str_split(lower(text), ' ') AS tok FROM documents
        ), g AS (
            SELECT doc_id, array_to_string(tok[i : i + 2], ' ') AS g
            FROM t, unnest(generate_series(1, len(tok) - 2)) AS u(i)
        ),
        per AS (SELECT doc_id, g, count(*) AS c FROM g GROUP BY doc_id, g)
        SELECT doc_id,
               round(sum(CASE WHEN c >= 2 THEN c ELSE 0 END)
                     / CAST(sum(c) AS DOUBLE), 6) AS dup_frac,
               CAST(sum(c) AS BIGINT) AS n_ngrams
        FROM per GROUP BY doc_id
    """,
    description="Gopher-style duplicate-3-gram fraction per doc — the "
    "classic degenerate-text signal (threshold ~0.15). N-gram "
    "positions with multiplicity → two cascaded hash-aggs, both "
    "partial-combined map-side; nothing but (doc, gram) counts "
    "shuffles",
)
def q_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return T.repetition_score(docs, n=3)


BM25_QUERY_TERMS = ["spark", "window"]
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOP_N = 20


@register(
    "bm25_rank",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, str_split(lower(text), ' ') AS tok FROM documents
        ), dl AS (
            SELECT doc_id, len(tok) AS dl FROM t
        ), avgdl AS (
            SELECT avg(dl) AS avgdl, count(*) AS n_docs FROM dl
        ), tf AS (
            SELECT doc_id, term, count(*) AS tf
            FROM (SELECT doc_id, unnest(tok) AS term FROM t)
            WHERE term IN ('spark', 'window')
            GROUP BY doc_id, term
        ), df AS (
            SELECT term, count(*) AS df FROM tf GROUP BY term
        ), scored AS (
            SELECT tf.doc_id,
                   round(sum(
                       ln((n_docs - df + 0.5) / (df + 0.5) + 1)
                       * tf / (tf + {BM25_K1} * (1 - {BM25_B}
                               + {BM25_B} * dl.dl / avgdl.avgdl))
                   ), 6) AS score
            FROM tf, df, dl, avgdl
            WHERE tf.term = df.term AND tf.doc_id = dl.doc_id
            GROUP BY tf.doc_id
        )
        SELECT doc_id, score FROM scored
        ORDER BY score DESC, doc_id ASC LIMIT {BM25_TOP_N}
    """,
    description="§7 text retrieval: BM25 top-20 for a fixed term query "
    "(Lucene idf variant, k1=1.2 b=0.75). The token stream is filtered "
    "to the query terms BEFORE any shuffle — at 100 TB the tf table is "
    "|docs containing a query term| rows, not |corpus tokens|; df and "
    "avgdl are 1-row/tiny broadcasts; top-20 via "
    "TakeOrderedAndProject, no global sort",
)
def q_bm25_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.split(F.lower(F.col("text")), " ").alias("tok")
    )
    dl = toks.select("doc_id", F.size("tok").alias("dl"))
    stats = dl.agg(
        F.avg("dl").alias("avgdl"), F.count(F.lit(1)).alias("n_docs")
    )
    tf = (
        toks.select("doc_id", F.explode("tok").alias("term"))
        .filter(F.col("term").isin(*BM25_QUERY_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy(F.col("term").alias("df_term")).agg(
        F.count(F.lit(1)).alias("df")
    )
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1
    )
    denom = F.col("tf") + BM25_K1 * (
        1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl")
    )
    return (
        tf.join(F.broadcast(df), tf["term"] == F.col("df_term"))
        .join(dl.withColumnRenamed("doc_id", "dl_doc"), tf["doc_id"] == F.col("dl_doc"))
        .join(F.broadcast(stats))
        .groupBy(tf["doc_id"])
        .agg(F.round(F.sum(idf * F.col("tf") / denom), 6).alias("score"))
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(BM25_TOP_N)
    )


@register(
    "token_count_bpe",
    oracle="""
        SELECT doc_id,
               CAST(len(str_split(lower(text), ' ')) AS BIGINT)
                   AS n_tokens_ws,
               CAST(len(regexp_extract_all(lower(text),
                    '[a-z0-9]{1,4}|[^a-z0-9 ]')) AS BIGINT) AS n_subwords,
               round(len(regexp_extract_all(lower(text),
                         '[a-z0-9]{1,4}|[^a-z0-9 ]'))
                     / CAST(len(str_split(lower(text), ' ')) AS DOUBLE), 6)
                   AS fertility
        FROM documents
    """,
    description="§7 text — BPE-ish subword counting next to the "
    "whitespace count: greedy ≤4-char alnum runs + single "
    "non-alnum marks (one regexp_extract_all scan, identical greedy "
    "semantics under Java regex and DuckDB/RE2 — no lookaround). "
    "fertility = subwords per whitespace token, the tokenizer-QA "
    "metric that flags scripts/domains a tokenizer fragments; pure "
    "JVM, no UDF",
)
def q_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    sub = F.expr(
        "regexp_extract_all(lower(text), '[a-z0-9]{1,4}|[^a-z0-9 ]', 0)"
    )
    ws = F.split(F.lower(F.col("text")), " ")
    return docs.select(
        "doc_id",
        F.size(ws).cast("bigint").alias("n_tokens_ws"),
        F.size(sub).cast("bigint").alias("n_subwords"),
        F.round(F.size(sub) / F.size(ws).cast("double"), 6).alias("fertility"),
    )


TFIDF_TOP_K = 3


@register(
    "tfidf_top_terms",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, unnest(str_split(lower(text), ' ')) AS term
            FROM documents
        ), tf AS (
            SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
            FROM t GROUP BY doc_id, term
        ), nd AS (
            SELECT count(*) AS n_docs FROM documents
        ), df AS (
            SELECT term, count(*) AS df FROM tf GROUP BY term
        ), scored AS (
            SELECT tf.doc_id, tf.term, tf.tf,
                   round(tf * ln(CAST(n_docs AS DOUBLE) / df), 6) AS tfidf
            FROM tf JOIN df USING (term), nd
        )
        SELECT doc_id, term, tf, tfidf, CAST(rank AS BIGINT) AS rank
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rank
            FROM scored
        ) WHERE rank <= {TFIDF_TOP_K}
    """,
    description="§7 text — tf-idf keyword extraction: top-3 terms per "
    "document (idf = ln(N/df), rank on the ROUNDED score with term "
    "tiebreak for determinism). Two cascaded hash-aggs (term counts "
    "partial-combine map-side), df joined back as a broadcast (the "
    "vocabulary is sublinear in corpus size), per-doc top-k via "
    "WindowGroupLimit — no global sort, nothing but (doc, term) "
    "counts ever shuffles",
)
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.lower(F.col("text")), " ")).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    df = tf.groupBy(F.col("term").alias("df_term")).agg(
        F.count(F.lit(1)).alias("df")
    )
    scored = (
        tf.join(F.broadcast(df), tf["term"] == F.col("df_term"))
        .join(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf")
                * F.log(F.col("n_docs").cast("double") / F.col("df")),
                6,
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TFIDF_TOP_K)
        .select("doc_id", "term", "tf", "tfidf", F.col("rank").cast("long"))
    )


@register(
    "inverted_index",
    oracle="""
        WITH t AS (
            SELECT doc_id, unnest(str_split(lower(text), ' ')) AS term
            FROM documents
        ), tf AS (
            SELECT doc_id, term, count(*) AS tf FROM t GROUP BY doc_id, term
        )
        SELECT term, CAST(count(*) AS BIGINT) AS df,
               CAST(sum(tf) AS BIGINT) AS cf,
               string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)
                   AS postings
        FROM tf GROUP BY term HAVING count(*) >= 2
    """,
    description="§7 text retrieval — posting-list inverted index: "
    "term → (document frequency, collection frequency, doc_id-sorted "
    "posting list). Two cascaded hash-aggs; postings built by "
    "numeric-sorting the collected ids THEN stringifying (lexicographic "
    "order would corrupt the list). Hapax terms dropped (df ≥ 2). At "
    "100 TB the term key is the shard: each posting list lives on one "
    "reducer, stop-word-class terms get capped/split posting shards — "
    "the per-term state is the only thing that grows",
)
def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.lower(F.col("text")), " ")).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    return (
        tf.groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.sum("tf").alias("cf"),
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(F.collect_list("doc_id")),
                    lambda d: d.cast("string"),
                ),
            ).alias("postings"),
        )
        .filter(F.col("df") >= 2)
    )


@register(
    "quality_buckets",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, lang, str_split(lower(text), ' ') AS tok FROM documents
        ), m AS (
            SELECT doc_id, lang, len(tok) AS n_tok,
                   len(list_distinct(tok)) AS n_uniq,
                   len(list_filter(tok, x -> x IN ('{_STOPWORD_SQL}'))) AS n_stop
            FROM t
        ), q AS (
            SELECT doc_id, lang,
                   round(0.5 * (n_uniq::DOUBLE / n_tok)
                         + 0.3 * least(n_tok / 100.0, 1.0)
                         + 0.2 * (1.0 - n_stop::DOUBLE / n_tok), 6) AS quality
            FROM m
        )
        SELECT doc_id, lang, quality,
               CAST(NTILE(3) OVER (PARTITION BY lang
                    ORDER BY quality DESC, doc_id) AS INTEGER) AS tile,
               CASE CAST(NTILE(3) OVER (PARTITION BY lang
                    ORDER BY quality DESC, doc_id) AS INTEGER)
                    WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                    ELSE 'tail' END AS bucket
        FROM q
    """,
    description="CCNet-style per-language quality tiers: rank docs "
    "inside each lang by composite quality, cut into head/middle/tail "
    "NTILE(3) buckets. One scan + one lang-partitioned window; the "
    "100 TB variant (documented in operators/text.py) replaces the "
    "window with histogram cut points + broadcast bucketing",
)
def q_quality_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return T.quality_buckets(docs)


@register(
    "quality_buckets_scalable",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, lang, str_split(lower(text), ' ') AS tok FROM documents
        ), m AS (
            SELECT doc_id, lang, len(tok) AS n_tok,
                   len(list_distinct(tok)) AS n_uniq,
                   len(list_filter(tok, x -> x IN ('{_STOPWORD_SQL}'))) AS n_stop
            FROM t
        ), q AS (
            SELECT doc_id, lang,
                   round(0.5 * (n_uniq::DOUBLE / n_tok)
                         + 0.3 * least(n_tok / 100.0, 1.0)
                         + 0.2 * (1.0 - n_stop::DOUBLE / n_tok), 6) AS quality
            FROM m
        ), b AS (
            SELECT doc_id, lang, quality,
                   least(CAST(floor(quality * 1000) AS INTEGER), 999) AS bin
            FROM q
        ), h AS (
            SELECT lang, bin, count(*) AS c FROM b GROUP BY 1, 2
        ), cm AS (
            SELECT lang, bin,
                   sum(c) OVER (PARTITION BY lang ORDER BY bin DESC) AS cum,
                   sum(c) OVER (PARTITION BY lang) AS total
            FROM h
        ), cuts AS (
            SELECT lang,
                   max(CASE WHEN cum >= ceil(total / 3.0) THEN bin END) AS t1,
                   max(CASE WHEN cum >= ceil(total * 2 / 3.0) THEN bin END) AS t2
            FROM cm GROUP BY lang
        )
        SELECT doc_id, b.lang AS lang, quality,
               CASE WHEN bin >= t1 THEN 'head'
                    WHEN bin >= t2 THEN 'middle'
                    ELSE 'tail' END AS bucket
        FROM b JOIN cuts ON b.lang = cuts.lang
    """,
    description="quality_buckets at 100 TB: histogram cut points "
    "instead of a per-document NTILE window — the corpus never "
    "shuffles at row level (partial-merged (lang, bin) histogram, "
    "windows over n_langs x 1000 rows only, cut points broadcast "
    "back, bucketing map-side). Deterministic integer-bin arithmetic: "
    "exact cross-engine oracle; agreement with the NTILE form pinned "
    "in pytest",
)
def q_quality_buckets_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return T.quality_buckets_scalable(docs)


@register(
    "classifier_score",
    oracle="""
        WITH t AS (
            SELECT doc_id, str_split(lower(text), ' ') AS tok FROM documents
        ), f AS (
            SELECT doc_id,
                   list_concat(
                       tok,
                       list_transform(generate_series(1, len(tok) - 1),
                                      i -> tok[i] || ' ' || tok[i+1])
                   ) AS feats
            FROM t
        ), s AS (
            SELECT doc_id, len(feats) AS n_features,
                   list_sum(list_transform(feats,
                       x -> ((('0x' || substr(md5(x), 1, 8))::BIGINT % 4096)
                             % 197)::DOUBLE / 197.0 - 0.5))
                   / greatest(len(feats), 1)::DOUBLE AS raw
            FROM f
        )
        SELECT doc_id, CAST(n_features AS BIGINT) AS n_features,
               round(1.0 / (1.0 + exp(-4.0 * raw)), 6) AS clf_score,
               round(1.0 / (1.0 + exp(-4.0 * raw)), 6) >= 0.5 AS kept
        FROM s
    """,
    description="fastText-style quality filter: linear classifier over "
    "hashed unigram+bigram features (md5-bucketed, deterministic "
    "stand-in weights with the trained-weight plan shape) — map-only, "
    "no shuffle, scan-bound at 100 TB",
)
def q_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return T.classifier_score(docs)


@register(
    "ndcg_eval",
    # Composed from the member pipelines' own oracles (the
    # ann_recall_at_k pattern): the graded-relevance metrics are
    # exactly a join+agg over what those oracles define.
    oracle=f"""
        WITH exact AS (SELECT * FROM ({REGISTRY['knn_bruteforce'].oracle})),
             approx AS (SELECT * FROM ({REGISTRY['knn_lsh'].oracle})),
        i AS (
            SELECT query_id,
                   SUM(CAST(round(sim / log2(rank + 1.0), 6)
                            AS DECIMAL(18,6))) AS idcg
            FROM exact GROUP BY query_id
        ), s AS (
            SELECT query_id, count(*) AS n_sys,
                   SUM(CAST(round(sim / log2(rank + 1.0), 6)
                            AS DECIMAL(18,6))) AS dcg
            FROM approx GROUP BY query_id
        ), h AS (
            SELECT a.query_id, min(a.rank) AS mr
            FROM approx a JOIN exact e USING (query_id, neighbor_id)
            GROUP BY a.query_id
        )
        SELECT i.query_id,
               CAST(coalesce(s.n_sys, 0) AS BIGINT) AS n_sys,
               coalesce(CAST(s.dcg AS DOUBLE), 0.0) AS dcg,
               CAST(i.idcg AS DOUBLE) AS idcg,
               round(coalesce(CAST(s.dcg AS DOUBLE), 0.0)
                     / CAST(i.idcg AS DOUBLE) + 1e-9, 6) AS ndcg,
               coalesce(round(1.0 / h.mr, 6), 0.0) AS mrr
        FROM i LEFT JOIN s USING (query_id) LEFT JOIN h USING (query_id)
    """,
    description="Graded-relevance ranking eval of the LSH index: "
    "per-query NDCG@k (gain = exact cosine sim, discount log2(rank+1)) "
    "and MRR (first system hit inside the exact top-k), the metric "
    "pair a retrieval deployment tracks beyond plain recall "
    "(ann_recall_at_k). Both member pipelines are oracle-replayable "
    "and the oracle SQL is COMPOSED from their oracle strings (zero "
    "drift); each discounted gain is rounded to 6 then accumulated in "
    "DECIMAL so the DCG sums are order-free, and the one log2 per "
    "rank acts on small integers (cross-engine 1-ulp noise absorbed "
    "by the nudge)",
)
def q_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < KNN_QUERY_MAX_ID).select(
        "vec_id", "embedding"
    )
    exact = S.knn_bruteforce(emb, qs, KNN_K)
    approx = S.knn_lsh_md5(emb, qs, KNN_K, 32, 4)
    gain = F.round(
        F.col("sim") / F.log2(F.col("rank") + F.lit(1.0)), 6
    ).cast("decimal(18,6)")
    i = exact.groupBy("query_id").agg(
        F.sum(gain).cast("double").alias("idcg")
    )
    s = approx.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_sys"),
        F.sum(gain).cast("double").alias("dcg"),
    )
    h = (
        approx.join(
            exact.select("query_id", "neighbor_id"),
            ["query_id", "neighbor_id"],
        )
        .groupBy("query_id")
        .agg(F.min("rank").alias("mr"))
    )
    return (
        i.join(s, "query_id", "left")
        .join(h, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("n_sys"), F.lit(0))
            .cast("bigint")
            .alias("n_sys"),
            F.coalesce(F.col("dcg"), F.lit(0.0)).alias("dcg"),
            F.col("idcg"),
            F.round(
                F.coalesce(F.col("dcg"), F.lit(0.0)) / F.col("idcg")
                + F.lit(1e-9),
                6,
            ).alias("ndcg"),
            F.coalesce(F.round(1.0 / F.col("mr"), 6), F.lit(0.0)).alias(
                "mrr"
            ),
        )
    )


@register(
    "rake_keywords",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, str_split(lower(text), ' ') AS tok
            FROM documents
        ), tk0 AS (
            SELECT doc_id,
                   unnest(list_transform(generate_series(1, len(tok)),
                          i -> {{'i': i, 'w': tok[i]}})) AS s
            FROM t
        ), tk AS (
            SELECT doc_id, s.i AS i, s.w AS w FROM tk0
        ), cand AS (
            SELECT doc_id, i, w,
                   i - row_number() OVER (
                       PARTITION BY doc_id ORDER BY i) AS grp
            FROM tk
            WHERE w != '' AND w NOT IN ('{_STOPWORD_SQL}')
        ), ph AS (
            SELECT doc_id, grp, count(*) AS plen,
                   string_agg(w, ' ' ORDER BY i) AS phrase
            FROM cand GROUP BY 1, 2
        ), wst AS (
            SELECT c.doc_id, c.w,
                   count(*) AS freq, sum(p.plen) AS deg
            FROM cand c JOIN ph p USING (doc_id, grp)
            GROUP BY 1, 2
        ), ps AS (
            SELECT c.doc_id, c.grp,
                   round(sum(s.deg::DOUBLE / s.freq) + 1e-9, 6) AS score
            FROM cand c JOIN wst s ON s.doc_id = c.doc_id AND s.w = c.w
            GROUP BY 1, 2
        ), uniq AS (
            SELECT p.doc_id, p.phrase,
                   max(p.plen) AS phrase_len, max(ps.score) AS score
            FROM ph p JOIN ps ON ps.doc_id = p.doc_id AND ps.grp = p.grp
            GROUP BY 1, 2
        )
        SELECT doc_id, phrase,
               CAST(phrase_len AS BIGINT) AS phrase_len, score,
               CAST(rank AS BIGINT) AS rank
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY doc_id ORDER BY score DESC, phrase) AS rank
            FROM uniq
        ) WHERE rank <= 3
    """,
    description="RAKE keyword extraction, top-3 phrases per document: "
    "candidate phrases are maximal stopword-free token runs (the "
    "gaps-and-islands index-minus-row_number device, same as "
    "activity_streaks), per-doc word stats freq(w) and degree(w) = "
    "sum of lengths of phrases containing each occurrence, phrase "
    "score = sum of deg/freq over its words — the classic "
    "co-occurrence keyword scorer, expressed as three grouped joins "
    "with no UDF. Scores are rounded before the rank and ties break "
    "on phrase text, so the top-3 cut is engine-identical; all "
    "shuffles are doc-keyed (the corpus never leaves its document "
    "partitioning)",
)
def q_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", F.split(F.lower("text"), " ").alias("tok")
    )
    tk = t.select(
        "doc_id", F.posexplode("tok").alias("i0", "w")
    ).select("doc_id", (F.col("i0") + 1).alias("i"), "w")
    cand = (
        tk.filter((F.col("w") != "") & ~F.col("w").isin(*T.EN_STOPWORDS))
        .withColumn(
            "grp",
            F.col("i")
            - F.row_number().over(
                Window.partitionBy("doc_id").orderBy("i")
            ),
        )
    )
    ph = cand.groupBy("doc_id", "grp").agg(
        F.count(F.lit(1)).alias("plen"),
        F.array_join(
            F.array_sort(F.collect_list(F.struct("i", "w"))).getField("w"),
            " ",
        ).alias("phrase"),
    )
    wst = (
        cand.join(ph.select("doc_id", "grp", "plen"), ["doc_id", "grp"])
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("freq"), F.sum("plen").alias("deg"))
    )
    ps = (
        cand.join(wst, ["doc_id", "w"])
        .groupBy("doc_id", "grp")
        .agg(
            F.round(
                F.sum(F.col("deg").cast("double") / F.col("freq"))
                + F.lit(1e-9),
                6,
            ).alias("score")
        )
    )
    uniq = (
        ph.join(ps, ["doc_id", "grp"])
        .groupBy("doc_id", "phrase")
        .agg(
            F.max("plen").alias("phrase_len"), F.max("score").alias("score")
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), "phrase"
    )
    return (
        uniq.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select(
            "doc_id",
            "phrase",
            F.col("phrase_len").cast("bigint").alias("phrase_len"),
            "score",
            F.col("rank").cast("bigint").alias("rank"),
        )
    )


@register(
    "phrase_search",
    oracle="""
        WITH t AS (
            SELECT doc_id, str_split(lower(text), ' ') AS tok
            FROM documents WHERE len(str_split(lower(text), ' ')) >= 2
        ), bg0 AS (
            SELECT doc_id,
                   unnest(list_transform(generate_series(1, len(tok) - 1),
                          i -> {'w1': tok[i], 'w2': tok[i + 1]})) AS p
            FROM t
        ), bg AS (
            SELECT doc_id, p.w1 || ' ' || p.w2 AS bigram
            FROM bg0 WHERE p.w1 != '' AND p.w2 != ''
        ), top AS (
            SELECT bigram FROM (
                SELECT bigram, count(*) AS c FROM bg GROUP BY 1
            ) ORDER BY c DESC, bigram LIMIT 1
        )
        SELECT b.doc_id, b.bigram AS phrase,
               CAST(count(*) AS BIGINT) AS n_occurrences
        FROM bg b JOIN top USING (bigram)
        GROUP BY 1, 2
    """,
    description="Exact phrase (adjacent-bigram) search: the corpus's "
    "most frequent bigram is derived first (count desc, text "
    "tiebreak — deterministic), then every document containing it is "
    "returned with its occurrence count — the positional-adjacency "
    "retrieval primitive the flat inverted_index cannot answer. One "
    "doc-partitioned bigram explode feeds both the global top-1 agg "
    "(broadcast back) and the match scan; at 100 TB the phrase "
    "postings join replaces the explode-side rescan",
)
def q_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", F.split(F.lower("text"), " ").alias("tok")
    ).filter(F.size("tok") >= 2)
    bg = (
        t.select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(tok) - 1),"
                    " i -> concat(tok[i - 1], ' ', tok[i]))"
                )
            ).alias("bigram"),
        )
        .filter(
            (F.substring_index("bigram", " ", 1) != "")
            & (F.substring_index("bigram", " ", -1) != "")
        )
    )
    top = (
        bg.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), "bigram")
        .limit(1)
        .select("bigram")
    )
    return (
        bg.join(F.broadcast(top), "bigram")
        .groupBy("doc_id", F.col("bigram").alias("phrase"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_occurrences"))
        .select("doc_id", "phrase", "n_occurrences")
    )


@register(
    "feature_hashing",
    oracle="""
        WITH t AS (
            SELECT doc_id, unnest(str_split(lower(text), ' ')) AS w
            FROM documents
        ), h AS (
            SELECT doc_id, w,
                   ('0x' || substr(md5(w), 1, 8))::BIGINT % 32 AS bucket,
                   CASE WHEN ('0x' || substr(md5(w), 9, 1))::BIGINT % 2
                             = 0
                        THEN 1 ELSE -1 END AS sgn
            FROM t WHERE w != ''
        )
        SELECT doc_id, CAST(bucket AS BIGINT) AS bucket,
               CAST(SUM(sgn) AS BIGINT) AS feat
        FROM h GROUP BY 1, 2
    """,
    description="Hashing-trick vectorizer (32 buckets, signed): each "
    "token lands in an md5 bucket with an independent md5 sign bit, "
    "features are signed counts — the fixed-width, vocabulary-free "
    "featurization a 100 TB text pipeline uses when a fitted "
    "vocabulary is either too large or a training-serving skew risk. "
    "Sparse (doc, bucket) output rows; one token explode + one "
    "grouped sum, all integers, engine-portable hashes",
)
def q_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("w")
    ).filter(F.col("w") != "")
    h = t.select(
        "doc_id",
        (
            F.conv(F.substring(F.md5("w"), 1, 8), 16, 10).cast("bigint")
            % 32
        ).alias("bucket"),
        F.when(
            F.conv(F.substring(F.md5("w"), 9, 1), 16, 10).cast("bigint")
            % 2
            == 0,
            1,
        )
        .otherwise(-1)
        .alias("sgn"),
    )
    return h.groupBy("doc_id", "bucket").agg(
        F.sum("sgn").cast("bigint").alias("feat")
    )


@register(
    "collocations_pmi",
    oracle="""
        WITH t AS (
            SELECT str_split(lower(text), ' ') AS tok FROM documents
        ), bigp AS (
            SELECT unnest(list_transform(
                       generate_series(1, len(tok) - 1),
                       i -> {'w1': tok[i], 'w2': tok[i + 1]})) AS p
            FROM t
        ), big AS (
            SELECT p.w1 AS w1, p.w2 AS w2 FROM bigp
        ), uni AS (
            SELECT unnest(tok) AS w FROM t
        ), cu AS (
            SELECT w, count(*) AS cw FROM uni GROUP BY w
        ), tot AS (
            SELECT (SELECT count(*) FROM big) AS n_big,
                   (SELECT sum(cw) FROM cu) AS n_tok
        ), cab AS (
            SELECT w1, w2, count(*) AS c_ab FROM big
            GROUP BY 1, 2 HAVING count(*) >= 5
        )
        SELECT w1, w2, CAST(c_ab AS BIGINT) AS c_ab,
               round(log2((c_ab / n_big)
                          / ((a.cw / n_tok) * (b.cw / n_tok))) + 1e-9,
                     6) AS pmi
        FROM cab
        JOIN cu a ON a.w = cab.w1
        JOIN cu b ON b.w = cab.w2, tot
        ORDER BY pmi DESC, w1, w2 LIMIT 100
    """,
    description="PMI bigram collocations (Church & Hanks): adjacent "
    "token pairs scored log2(p(ab)/(p(a)p(b))), min count 5, top 100 "
    "— phrase mining for tokenizer/corpus prep. Pairs come from a "
    "JVM array zip (no window, no self-join); after the explode "
    "everything is vocabulary-sized with broadcast unigram marginals",
)
def q_collocations_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return T.collocations_pmi(docs, min_count=5, top_n=100)


RRF_K = 60  # the standard reciprocal-rank-fusion constant (Cormack 2009)
RRF_LEG_N = 50  # per-leg candidate depth
RRF_TOP_N = 20


@register(
    "rrf_hybrid_search",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, str_split(lower(text), ' ') AS tok FROM documents
        ), dl AS (
            SELECT doc_id, len(tok) AS dl FROM t
        ), avgdl AS (
            SELECT avg(dl) AS avgdl, count(*) AS n_docs FROM dl
        ), tf AS (
            SELECT doc_id, term, count(*) AS tf
            FROM (SELECT doc_id, unnest(tok) AS term FROM t)
            WHERE term IN ('spark', 'window')
            GROUP BY doc_id, term
        ), df AS (
            SELECT term, count(*) AS df FROM tf GROUP BY term
        ), lex AS (
            SELECT tf.doc_id AS doc_id, round(sum(
                       ln((n_docs - df + 0.5) / (df + 0.5) + 1)
                       * tf / (tf + {BM25_K1} * (1 - {BM25_B}
                               + {BM25_B} * dl.dl / avgdl.avgdl))
                   ), 6) AS score
            FROM tf, df, dl, avgdl
            WHERE tf.term = df.term AND tf.doc_id = dl.doc_id
            GROUP BY tf.doc_id
            ORDER BY score DESC, tf.doc_id ASC LIMIT {RRF_LEG_N}
        ), lexr AS (
            SELECT doc_id, row_number() OVER (
                ORDER BY score DESC, doc_id ASC) AS r FROM lex
        ), e AS (
            SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings
        ), q AS (
            SELECT v AS qv FROM e WHERE vec_id = 0
        ), vec AS (
            SELECT vec_id AS doc_id,
                   round(list_inner_product(v, qv)
                         / (sqrt(list_inner_product(v, v))
                            * sqrt(list_inner_product(qv, qv))), 6) AS sim
            FROM e, q WHERE vec_id != 0
            ORDER BY sim DESC, vec_id ASC LIMIT {RRF_LEG_N}
        ), vecr AS (
            SELECT doc_id, row_number() OVER (
                ORDER BY sim DESC, doc_id ASC) AS r FROM vec
        ), fused AS (
            SELECT coalesce(lexr.doc_id, vecr.doc_id) AS doc_id,
                   round(coalesce(1.0 / ({RRF_K} + lexr.r), 0.0)
                         + coalesce(1.0 / ({RRF_K} + vecr.r), 0.0),
                         6) AS rrf_score,
                   lexr.r AS lex_rank, vecr.r AS vec_rank
            FROM lexr FULL OUTER JOIN vecr ON lexr.doc_id = vecr.doc_id
        )
        SELECT doc_id, rrf_score,
               CAST(lex_rank AS BIGINT) AS lex_rank,
               CAST(vec_rank AS BIGINT) AS vec_rank
        FROM fused ORDER BY rrf_score DESC, doc_id ASC LIMIT {RRF_TOP_N}
    """,
    description="Hybrid retrieval with reciprocal-rank fusion "
    "(Cormack's RRF, k=60): BM25 top-50 for the fixed term query and "
    "cosine top-50 to a fixed query vector, fused by sum 1/(k+rank) — "
    "the RAG-stack pattern of merging lexical and semantic retrieval "
    "without score calibration. Corpus-side cost is one term-filtered "
    "BM25 pass + one JVM-cosine map scan, each cut to 50 rows by "
    "TakeOrdered BEFORE any window ranks or the full-outer fuse — "
    "the fusion stage touches <= 100 rows no matter the corpus size",
)
def q_rrf_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_homework_spark.functions import cosine_similarity

    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    # lexical leg: the bm25_rank plan at depth RRF_LEG_N
    toks = docs.select(
        "doc_id", F.split(F.lower(F.col("text")), " ").alias("tok")
    )
    dl = toks.select("doc_id", F.size("tok").alias("dl"))
    stats = dl.agg(
        F.avg("dl").alias("avgdl"), F.count(F.lit(1)).alias("n_docs")
    )
    tf = (
        toks.select("doc_id", F.explode("tok").alias("term"))
        .filter(F.col("term").isin(*BM25_QUERY_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy(F.col("term").alias("df_term")).agg(
        F.count(F.lit(1)).alias("df")
    )
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1
    )
    denom = F.col("tf") + BM25_K1 * (
        1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl")
    )
    lex = (
        tf.join(F.broadcast(dfreq), tf["term"] == F.col("df_term"))
        .join(
            dl.withColumnRenamed("doc_id", "dl_doc"),
            tf["doc_id"] == F.col("dl_doc"),
        )
        .join(F.broadcast(stats))
        .groupBy(tf["doc_id"])
        .agg(F.round(F.sum(idf * F.col("tf") / denom), 6).alias("score"))
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(RRF_LEG_N)
    )
    lexr = lex.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("score").desc(), F.col("doc_id").asc()))
        .alias("lex_rank"),
    )
    # vector leg: cosine to the query vector, corpus-side map scan
    qv = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q_emb")
    )
    vec = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qv))
        .select(
            F.col("vec_id").alias("doc_id"),
            F.round(
                cosine_similarity(F.col("embedding"), F.col("q_emb")), 6
            ).alias("sim"),
        )
        .orderBy(F.col("sim").desc(), F.col("doc_id").asc())
        .limit(RRF_LEG_N)
    )
    vecr = vec.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("sim").desc(), F.col("doc_id").asc()))
        .alias("vec_rank"),
    )
    fused = lexr.join(vecr, "doc_id", "full_outer").select(
        "doc_id",
        F.round(
            F.coalesce(1.0 / (RRF_K + F.col("lex_rank")), F.lit(0.0))
            + F.coalesce(1.0 / (RRF_K + F.col("vec_rank")), F.lit(0.0)),
            6,
        ).alias("rrf_score"),
        F.col("lex_rank").cast("bigint").alias("lex_rank"),
        F.col("vec_rank").cast("bigint").alias("vec_rank"),
    )
    return fused.orderBy(
        F.col("rrf_score").desc(), F.col("doc_id").asc()
    ).limit(RRF_TOP_N)


VOCAB_TARGETS = [100, 1000, 10000]


@register(
    "vocab_coverage",
    oracle=f"""
        WITH c AS (
            SELECT w, count(*) AS c
            FROM (SELECT unnest(str_split(lower(text), ' ')) AS w
                  FROM documents)
            GROUP BY w
        ), r AS (
            SELECT c,
                   row_number() OVER (ORDER BY c DESC, w ASC) AS rnk,
                   sum(c) OVER (ORDER BY c DESC, w ASC
                                ROWS UNBOUNDED PRECEDING) AS cum,
                   sum(c) OVER () AS total,
                   count(*) OVER () AS vocab_n
            FROM c
        )
        SELECT CAST(t.n AS BIGINT) AS vocab_size,
               CAST(least(t.n, r.vocab_n) AS BIGINT) AS n_tokens_used,
               round(r.cum::DOUBLE / r.total, 6) AS coverage
        FROM (VALUES {", ".join(f"({n})" for n in VOCAB_TARGETS)}) AS t(n)
        JOIN r ON r.rnk = least(t.n, r.vocab_n)
    """,
    description="Vocabulary coverage curve: fraction of corpus token "
    "mass covered by the top-N most frequent tokens (N = 100/1k/10k) "
    "— the Zipf diagnostic behind tokenizer vocab-size choices. One "
    "corpus scan to vocabulary-sized counts; the exact-rank cumsum "
    "window runs over the VOCABULARY (the scale knob: at web scale "
    "swap the exact rank for a count-threshold cut, same one-scan "
    "shape)",
)
def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    from kafka_streams_homework_spark.functions import tokens

    counts = (
        docs.select(F.explode(tokens("text")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = Window.orderBy(F.col("c").desc(), F.col("w").asc())
    ranked = counts.select(
        F.row_number().over(w).alias("rnk"),
        F.sum("c").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("cum"),
        F.sum("c").over(Window.partitionBy()).alias("total"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("vocab_n"),
    )
    targets = spark.range(1).select(
        F.explode(F.array(*[F.lit(n) for n in VOCAB_TARGETS])).alias("n")
    )
    return targets.join(
        ranked,
        ranked["rnk"] == F.least(F.col("n"), F.col("vocab_n")),
    ).select(
        F.col("n").cast("bigint").alias("vocab_size"),
        F.least(F.col("n"), F.col("vocab_n")).cast("bigint").alias(
            "n_tokens_used"
        ),
        F.round(F.col("cum") / F.col("total"), 6).alias("coverage"),
    )


@register(
    "vocab_growth",
    oracle="""
        WITH t AS (
            SELECT doc_id, str_split(lower(text), ' ') AS tok
            FROM documents
        ), pos AS (
            SELECT doc_id, unnest(tok) AS w,
                   doc_id * 1000000
                       + unnest(generate_series(1, len(tok))) AS ord
            FROM t
        ), firsts AS (
            SELECT w, MIN(ord) AS first_ord FROM pos GROUP BY w
        ), new_per_doc AS (
            SELECT first_ord // 1000000 AS doc_id,
                   COUNT(*) AS vocab_new
            FROM firsts GROUP BY 1
        ), toks_per_doc AS (
            SELECT doc_id, COUNT(*) AS n_tokens FROM pos GROUP BY 1
        )
        SELECT tp.doc_id,
               CAST(tp.n_tokens AS BIGINT) AS n_tokens,
               CAST(SUM(tp.n_tokens) OVER (ORDER BY tp.doc_id)
                    AS BIGINT) AS cum_tokens,
               CAST(COALESCE(np.vocab_new, 0) AS BIGINT) AS vocab_new,
               CAST(SUM(COALESCE(np.vocab_new, 0))
                        OVER (ORDER BY tp.doc_id) AS BIGINT) AS cum_vocab
        FROM toks_per_doc tp
        LEFT JOIN new_per_doc np ON np.doc_id = tp.doc_id
    """,
    description="Heaps'-law vocabulary-growth curve: cumulative "
    "distinct vocabulary vs cumulative token count in corpus order — "
    "the dedup/quality diagnostic that tells you when a crawl stops "
    "contributing new language. Token first-occurrence via one "
    "groupBy(min(global ordinal)) — no sort of the corpus, no "
    "collect; the cumulative step is a TWO-PHASE cumsum over the "
    "|docs| rollup (per-(doc_id div 1024) partial totals, broadcast "
    "prefix offsets, partitioned within-bucket windows — no "
    "unpartitioned window). Every column is an integer, so the whole curve "
    "hash-checks exactly. At 100 TB the ordinal stays a cheap "
    "composite key (doc_id * 1e6 + position) and the heavy groupBy "
    "shuffles (token) keys once",
)
def q_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    pos = docs.select(
        "doc_id",
        F.posexplode(F.split(F.lower("text"), " ")).alias("p", "w"),
    ).select(
        "doc_id",
        "w",
        (F.col("doc_id") * 1000000 + F.col("p") + 1).alias("ord"),
    )
    pos = tracked_persist(pos)
    firsts = pos.groupBy("w").agg(F.min("ord").alias("first_ord"))
    new_per_doc = firsts.groupBy(
        F.expr("first_ord div 1000000").alias("doc_id")
    ).agg(F.count(F.lit(1)).alias("vocab_new"))
    toks = pos.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_tokens"))
    # Inherently-sequential cumulative curve, but the PLAN need not be:
    # two-phase cumsum (per-(doc_id div 1024) partial totals, broadcast
    # prefix offsets, partitioned within-bucket windows) replaces the
    # unpartitioned corpus-ordered window (VERDICT r5 scale fix #5).
    per_doc = toks.join(new_per_doc, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        F.coalesce(F.col("vocab_new"), F.lit(0)).alias("vocab_new"),
    )
    cum = R.two_phase_cumsum(
        per_doc,
        F.col("doc_id"),
        F.expr("doc_id div 1024"),
        {"cum_tokens": "n_tokens", "cum_vocab": "vocab_new"},
    )
    return cum.select(
        "doc_id",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.col("cum_tokens").cast("bigint").alias("cum_tokens"),
        F.col("vocab_new").cast("bigint").alias("vocab_new"),
        F.col("cum_vocab").cast("bigint").alias("cum_vocab"),
    )


ZIPF_TOP_N = 200


@register(
    "zipf_fit",
    oracle=f"""
        WITH t AS (
            SELECT unnest(str_split(lower(text), ' ')) AS w
            FROM documents
        ), fr AS (
            SELECT w, COUNT(*) AS freq FROM t GROUP BY w
        ), rk AS (
            SELECT freq,
                   row_number() OVER (ORDER BY freq DESC, w ASC) AS rank
            FROM fr
        ), xy AS (
            SELECT ln(CAST(rank AS DOUBLE)) AS x,
                   ln(CAST(freq AS DOUBLE)) AS y
            FROM rk WHERE rank <= {ZIPF_TOP_N}
        ), s AS (
            SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
                   SUM(x * x) AS sxx, SUM(y * y) AS syy,
                   SUM(x * y) AS sxy
            FROM xy
        )
        SELECT CAST(n AS BIGINT) AS n_terms,
               round((n * sxy - sx * sy) / (n * sxx - sx * sx) + 1e-9, 6)
                   AS slope,
               round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx)
                     / n + 1e-9, 6) AS intercept,
               round((n * sxy - sx * sy) * (n * sxy - sx * sy)
                     / ((n * sxx - sx * sx) * (n * syy - sy * sy))
                     + 1e-9, 6) AS r2
        FROM s
    """,
    description="Zipf rank-frequency fit over the corpus vocabulary: "
    "OLS of ln(freq) on ln(rank) for the top 200 terms — slope near "
    "-1 is the healthy-natural-language signature, deviations flag "
    "boilerplate/spam crawls (the corpus-level cousin of "
    "repetition_score). Rank ties broken lexically so the rank "
    "assignment is engine-deterministic; the regression runs on a "
    "bounded 200-row table (one token groupBy + one windowed rank of "
    "the bounded vocab, then a scalar agg). ln/exp cross-engine "
    "parity has standing precedent (geomean_udaf, lm_score, bm25)",
)
def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    fr = (
        docs.select(F.explode(F.split(F.lower("text"), " ")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    rk = fr.select(
        "freq",
        F.row_number()
        .over(Window.orderBy(F.col("freq").desc(), F.col("w").asc()))
        .alias("rank"),
    ).filter(F.col("rank") <= ZIPF_TOP_N)
    xy = rk.select(
        F.log(F.col("rank").cast("double")).alias("x"),
        F.log(F.col("freq").cast("double")).alias("y"),
    )
    s = xy.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return s.select(
        n.cast("bigint").alias("n_terms"),
        F.round(slope + F.lit(1e-9), 6).alias("slope"),
        F.round((sy - slope * sx) / n + F.lit(1e-9), 6).alias("intercept"),
        F.round(
            (n * sxy - sx * sy)
            * (n * sxy - sx * sy)
            / ((n * sxx - sx * sx) * (n * syy - sy * sy))
            + F.lit(1e-9),
            6,
        ).alias("r2"),
    )


CHAR_ENTROPY_MIN = 2.5  # bits-e floor below which text reads as spammy


@register(
    "char_entropy",
    oracle=f"""
        WITH ch AS (
            SELECT doc_id, unnest(str_split(lower(text), '')) AS c
            FROM documents
        ), cc AS (
            SELECT doc_id, c, COUNT(*) AS k FROM ch GROUP BY doc_id, c
        ), s AS (
            SELECT doc_id, SUM(k) AS n,
                   SUM(k * ln(CAST(k AS DOUBLE))) AS sklnk
            FROM cc GROUP BY doc_id
        )
        SELECT doc_id, CAST(n AS BIGINT) AS n_chars,
               round(ln(CAST(n AS DOUBLE)) - sklnk / n + 1e-9, 6)
                   AS entropy,
               round(ln(CAST(n AS DOUBLE)) - sklnk / n + 1e-9, 6)
                   < {CHAR_ENTROPY_MIN} AS low_entropy
        FROM s
    """,
    description="Character-level Shannon entropy per document (nats), "
    "H = ln(n) - sum(k ln k)/n over the char histogram — the "
    "CCNet-family quality filter that flags keyboard-mash / repeated-"
    "boilerplate docs without any model. The low_entropy threshold "
    "applies to the ROUNDED value (cross-engine discipline). Char "
    "histogram per doc is a map-side-combinable groupBy; alphabet "
    "size bounds per-doc state. The SQL-checkable twin of "
    "compression_ratio (real zlib, rows-only) — entropy lower-bounds "
    "the achievable compression rate, pinned in pytest",
)
def q_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    cc = (
        docs.select(
            "doc_id", F.explode(F.split(F.lower("text"), "")).alias("c")
        )
        .groupBy("doc_id", "c")
        .agg(F.count(F.lit(1)).alias("k"))
    )
    s = cc.groupBy("doc_id").agg(
        F.sum("k").alias("n"),
        F.sum(F.col("k") * F.log(F.col("k").cast("double"))).alias("sklnk"),
    )
    ent = F.round(
        F.log(F.col("n").cast("double")) - F.col("sklnk") / F.col("n")
        + F.lit(1e-9),
        6,
    )
    return s.select(
        "doc_id",
        F.col("n").cast("bigint").alias("n_chars"),
        ent.alias("entropy"),
        (ent < CHAR_ENTROPY_MIN).alias("low_entropy"),
    )


@register(
    "compression_ratio",
    # No oracle: DuckDB cannot run zlib. Deterministic given the zlib
    # build (level pinned); bounds + ordering vs char_entropy pinned
    # in pytest, exact determinism pinned by a double-run test.
    description="zlib compression-ratio quality filter — the actual "
    "RedPajama/CCNet dedup-adjacent signal, not a proxy: each doc is "
    "DEFLATE-compressed (level 6, the production default) in an "
    "Arrow-batched mapInPandas and scored compressed/raw bytes; "
    "ratios below 0.4 flag near-duplicate boilerplate. Entropy "
    "(char_entropy, oracle-checked) lower-bounds this ratio, so the "
    "two together give a checked sandwich around text redundancy. "
    "One Python crossing, ~100 MB/s/core — scan-bound at 100 TB",
)
def q_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return T.compression_ratio(docs)


N_BPE_MERGES = 20


def _bpe_cte_chain(n_merges: int) -> str:
    """The shared unrolled-CTE chain of ``bpe_train_merges``: one CTE
    block per merge step (pair counts -> argmax -> run-parity greedy
    keep -> re-segmentation), chained N times. Generated mechanically
    so the per-step SQL is literally identical across steps. Every CTE
    is MATERIALIZED: each step references the previous segmentation
    several times, and a non-materialized chain INLINES exponentially
    in DuckDB (measured: EMFILE from thousands of duplicated parquet
    scans at N=20). Consumers append their own final SELECT over
    ``merge_1..merge_N`` / ``seg_N`` / ``tok0``.
    """
    head = """
        WITH words AS MATERIALIZED (
            -- w <> '' guard (ADVICE r7): split on ' ' yields empty
            -- words for leading/trailing/double spaces, and the two
            -- engines segment a zero-length word DIFFERENTLY (Spark's
            -- sequence(1,0) is descending [1,0] -> 3 symbol rows;
            -- DuckDB's generate_series(1,1) -> 1 row). Filtering on
            -- both sides keeps segmentation engine-identical for any
            -- corpus, not just the verified-clean fixtures.
            SELECT w, CAST(count(*) AS BIGINT) AS freq
            FROM (SELECT unnest(str_split(lower(text), ' ')) AS w
                  FROM documents)
            WHERE w <> ''
            GROUP BY w
        ), seg_0 AS MATERIALIZED (
            SELECT w, freq,
                   unnest(generate_series(1, length(w) + 1)) AS pos,
                   unnest(list_transform(
                       generate_series(1, length(w) + 1),
                       i -> CASE WHEN i <= length(w) THEN substr(w, i, 1)
                                 ELSE '</w>' END)) AS sym
            FROM words
        ), tok0 AS MATERIALIZED (SELECT sum(freq) AS t0 FROM seg_0)
    """
    steps = []
    for t in range(1, n_merges + 1):
        s = f"""
        , p_{t} AS MATERIALIZED (
            SELECT w, freq, pos, sym,
                   lead(sym) OVER (PARTITION BY w ORDER BY pos) AS nsym,
                   lead(pos) OVER (PARTITION BY w ORDER BY pos) AS npos
            FROM seg_{t - 1}
        ), best_{t} AS MATERIALIZED (
            SELECT sym AS a, nsym AS b, sum(freq) AS cnt
            FROM p_{t} WHERE nsym IS NOT NULL
            GROUP BY sym, nsym
            ORDER BY cnt DESC, a ASC, b ASC
            LIMIT 1
        ), cand_{t} AS MATERIALIZED (
            SELECT p.w, p.freq, p.pos, p.npos,
                   CASE WHEN lag(p.npos) OVER (PARTITION BY p.w
                                               ORDER BY p.pos) = p.pos
                        THEN 0 ELSE 1 END AS newchain
            FROM p_{t} p, best_{t} bt
            WHERE p.sym = bt.a AND p.nsym = bt.b
        ), ch_{t} AS MATERIALIZED (
            SELECT w, freq, pos, npos,
                   sum(newchain) OVER (PARTITION BY w ORDER BY pos
                                       ROWS UNBOUNDED PRECEDING) AS chain
            FROM cand_{t}
        ), keep_{t} AS MATERIALIZED (
            SELECT w, freq, pos, npos FROM (
                SELECT *, row_number() OVER (PARTITION BY w, chain
                                             ORDER BY pos) AS ci
                FROM ch_{t}
            ) WHERE ci % 2 = 1
        ), merge_{t} AS MATERIALIZED (
            SELECT {t} AS step, bt.a, bt.b, bt.cnt,
                   (SELECT COALESCE(sum(freq), 0) FROM keep_{t})
                       AS n_applied
            FROM best_{t} bt
        ), seg_{t} AS MATERIALIZED (
            SELECT s.w, s.freq, s.pos,
                   CASE WHEN kl.pos IS NOT NULL THEN bt.a || bt.b
                        ELSE s.sym END AS sym
            FROM seg_{t - 1} s
            CROSS JOIN best_{t} bt
            LEFT JOIN keep_{t} kl ON s.w = kl.w AND s.pos = kl.pos
            LEFT JOIN keep_{t} kr ON s.w = kr.w AND s.pos = kr.npos
            WHERE kr.pos IS NULL
        )
        """
        steps.append(s)
    return head + "".join(steps)


def _bpe_oracle(n_merges: int) -> str:
    """Merge-table oracle: the shared chain + the merge-record union."""
    union = " UNION ALL ".join(
        f"SELECT * FROM merge_{t}" for t in range(1, n_merges + 1)
    )
    tail = f"""
        SELECT CAST(step AS BIGINT) AS step,
               a AS left_sym, b AS right_sym,
               CAST(cnt AS BIGINT) AS pair_count,
               CAST(n_applied AS BIGINT) AS n_merged,
               CAST(t0 - sum(n_applied) OVER (ORDER BY step
                        ROWS UNBOUNDED PRECEDING) AS BIGINT)
                   AS corpus_tokens_after
        FROM ({union}) m, tok0
    """
    return _bpe_cte_chain(n_merges) + tail


def _bpe_encode_oracle(n_merges: int) -> str:
    """Per-document encode oracle: the shared chain + the final
    segmentation's per-word token count joined back onto the corpus."""
    return (
        _bpe_cte_chain(n_merges)
        + f"""
        , nsym AS MATERIALIZED (
            SELECT w, CAST(count(*) AS BIGINT) AS n_sym
            FROM seg_{n_merges} GROUP BY w
        ), tok AS (
            SELECT doc_id, unnest(str_split(lower(text), ' ')) AS w
            FROM documents
        )
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_words,
               CAST(sum(n_sym) AS BIGINT) AS n_tokens_bpe,
               round(sum(n_sym) / CAST(count(*) AS DOUBLE) + 1e-9, 6)
                   AS fertility_bpe
        FROM tok JOIN nsym USING (w)
        GROUP BY doc_id
    """
    )


def _corpus_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread: the tokenize+explode is compute-heavy per input row and a
    # single-row-group fixture scan otherwise serializes it on one core
    # (guide §2.5 input skew; no-op at real scan parallelism)
    docs = spread(_t(spark, sf_dir, "documents"))
    return (
        docs.select(
            F.explode(F.split(F.lower("text"), " ")).alias("w")
        )
        # mirror the oracle's w <> '' guard (ADVICE r7): empty words
        # from leading/trailing/double spaces segment differently
        # across engines (see the words CTE comment in _bpe_cte_chain)
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )


@register(
    "bpe_train",
    oracle=_bpe_oracle(N_BPE_MERGES),
    description="REAL byte-pair-encoding merge training (learned "
    "tokenization, Sennrich 2016) — iterative argmax-pair merging "
    "with classic greedy left-to-right application, replacing nothing: "
    "it complements the regex 'BPE-ish' token_count_bpe with actual "
    "learned merges. The corpus contributes ONE data-sized pass (the "
    "word-frequency groupBy); the 20-step loop runs over the "
    "vocabulary-cardinality segmentation table only, localCheckpoint "
    "per step (kcore/ipf discipline), two bounded scalar collects per "
    "step. Every output column is integer/string-exact, so the whole "
    "merge table hash-checks; the oracle is the identical algorithm "
    "as 20 unrolled CTE blocks (argmax tie-break (count desc, pair "
    "asc) and run-parity greedy keep are engine-deterministic)",
)
def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.bpe_train_merges(_corpus_words(spark, sf_dir), N_BPE_MERGES)


@register(
    "bpe_fertility",
    oracle=f"""
        WITH bpe AS ({_bpe_oracle(N_BPE_MERGES)}),
        final AS (
            SELECT corpus_tokens_after FROM bpe
            WHERE step = (SELECT max(step) FROM bpe)
        ),
        ws AS (
            SELECT CAST(sum(len(str_split(lower(text), ' '))) AS BIGINT)
                       AS n_words,
                   CAST(sum(len(regexp_extract_all(lower(text),
                        '[a-z0-9]{{1,4}}|[^a-z0-9 ]'))) AS BIGINT)
                       AS regex_subwords
            FROM documents
        )
        SELECT n_words,
               CAST(corpus_tokens_after AS BIGINT) AS bpe_tokens,
               round(corpus_tokens_after / CAST(n_words AS DOUBLE) + 1e-9,
                     6) AS bpe_fertility,
               regex_subwords,
               round(regex_subwords / CAST(n_words AS DOUBLE) + 1e-9, 6)
                   AS regex_fertility
        FROM ws, final
    """,
    description="Tokenizer-quality eval: corpus fertility (tokens per "
    "whitespace word, </w> markers included) of the LEARNED 20-merge "
    "BPE vocabulary vs the regex 'BPE-ish' subword proxy "
    "(token_count_bpe) — the comparison that tells you whether a "
    "learned tokenizer is worth its training cost on this corpus. "
    "Composable oracle: embeds the bpe_train oracle as a CTE "
    "(ann_recall_at_k pattern). One corpus scan for the word/subword "
    "totals + the vocabulary-bounded training loop",
)
def q_bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    merges = T.bpe_train_merges(_corpus_words(spark, sf_dir), N_BPE_MERGES)
    final = merges.orderBy(F.col("step").desc()).limit(1).select(
        F.col("corpus_tokens_after").alias("bpe_tokens")
    )
    sub = F.expr(
        "regexp_extract_all(lower(text), '[a-z0-9]{1,4}|[^a-z0-9 ]', 0)"
    )
    ws = docs.agg(
        F.sum(F.size(F.split(F.lower("text"), " ")))
        .cast("long")
        .alias("n_words"),
        F.sum(F.size(sub)).cast("long").alias("regex_subwords"),
    )
    return ws.crossJoin(F.broadcast(final)).select(
        "n_words",
        "bpe_tokens",
        F.round(
            F.col("bpe_tokens") / F.col("n_words").cast("double")
            + F.lit(1e-9),
            6,
        ).alias("bpe_fertility"),
        "regex_subwords",
        F.round(
            F.col("regex_subwords") / F.col("n_words").cast("double")
            + F.lit(1e-9),
            6,
        ).alias("regex_fertility"),
    )


@register(
    "bpe_encode",
    oracle=_bpe_encode_oracle(N_BPE_MERGES),
    description="Apply the LEARNED BPE tokenizer to the corpus — the "
    "encode half that completes bpe_train: the trained final "
    "segmentation gives each distinct word its token count (</w> "
    "included), and documents tokenize by a broadcast word->count "
    "lookup — the corpus is scanned ONCE and never re-segmented "
    "per-document (word-level BPE is word-closed, so the vocab table "
    "IS the tokenizer). Per-doc n_words / n_tokens_bpe / fertility, "
    "all integer-exact; oracle = the shared unrolled merge chain + "
    "the same join. At 100 TB the lookup is vocabulary-cardinality "
    "(broadcast or co-partitioned hash join on the word key)",
)
def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    seg = T.bpe_train_merges(
        _corpus_words(spark, sf_dir), N_BPE_MERGES, return_segmentation=True
    )
    nsym = seg.groupBy("w").agg(
        F.count(F.lit(1)).cast("long").alias("n_sym")
    )
    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("w")
    )
    return (
        tok.join(F.broadcast(nsym), "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("n_sym").cast("long").alias("n_tokens_bpe"),
        )
        .select(
            "doc_id",
            "n_words",
            "n_tokens_bpe",
            F.round(
                F.col("n_tokens_bpe") / F.col("n_words").cast("double")
                + F.lit(1e-9),
                6,
            ).alias("fertility_bpe"),
        )
    )


@register(
    "streaming_bpe_encode",
    oracle=_bpe_encode_oracle(N_BPE_MERGES),
    description="Apply the LEARNED BPE tokenizer at INGEST — the "
    "streaming twin of bpe_encode (VERDICT r7 task 7) that makes the "
    "tokenization family batch+streaming complete. Training stays a "
    "BATCH job (merges change rarely; the 20-merge loop runs once on "
    "the static corpus); the trained final segmentation collapses to "
    "a vocabulary-bounded word->token-count table that BROADCASTS "
    "onto the document stream — tokenize-on-arrival is a stateless "
    "stream-static equi-join (word-level BPE is word-closed, so the "
    "vocab table IS the tokenizer), and the per-doc rollup is a "
    "one-row-per-doc update-mode aggregation emitted through "
    "run_upsert keyed on doc_id. Same unrolled-merge-chain oracle as "
    "the batch twin (streaming/batch parity). At 100 TB/day ingest "
    "this is the production tokenizer-service shape: periodic batch "
    "retrain, broadcast refresh, stateless per-event encode. "
    "Registered here (not queries/streaming.py) because the oracle "
    "composes this module's _bpe_encode_oracle chain",
)
def q_streaming_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    seg = T.bpe_train_merges(
        _corpus_words(spark, sf_dir), N_BPE_MERGES, return_segmentation=True
    )
    nsym = seg.groupBy("w").agg(
        F.count(F.lit(1)).cast("long").alias("n_sym")
    )
    stream = _table_stream(spark, sf_dir, "documents")
    tok = stream.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("w")
    )
    agg = (
        tok.join(F.broadcast(nsym), "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("n_sym").cast("long").alias("n_tokens_bpe"),
        )
    )
    emitted = run_upsert(spark, agg, ["doc_id"])
    return emitted.select(
        "doc_id",
        "n_words",
        "n_tokens_bpe",
        F.round(
            F.col("n_tokens_bpe") / F.col("n_words").cast("double")
            + F.lit(1e-9),
            6,
        ).alias("fertility_bpe"),
    )


@register(
    "naive_bayes_lang",
    oracle=_NAIVE_BAYES_ORACLE,
    description="Multinomial naive-Bayes language classifier trained "
    "on the corpus itself (classes = lang, features = unigram tokens, "
    "Laplace +1 smoothing) and applied back to every doc — the "
    "learned-classifier primitive behind quality/domain filtering at "
    "scale (fastText-style pipelines), expressed as pure relational "
    "algebra: token-class counts and class totals are "
    "vocabulary-bounded broadcast tables, scoring is one "
    "(doc-token x 5 classes) expansion with map-side combine into "
    "per-(doc,class) log-posteriors, argmax via per-doc "
    "row_number on the ROUNDED score (house parity rule) with "
    "class-name tie-break",
)
def q_naive_bayes_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_homework_spark.functions import tokens

    docs = _t(spark, sf_dir, "documents")
    toks = tracked_persist(
        docs.select("doc_id", "lang", F.explode(tokens("text")).alias("tok"))
    )
    dt = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("n_dt"))
    tc = toks.groupBy("tok", F.col("lang").alias("cl")).agg(
        F.count(F.lit(1)).alias("c")
    )
    class_tot = tc.groupBy("cl").agg(F.sum("c").alias("tl"))
    vocab = toks.agg(F.countDistinct("tok").alias("v"))
    priors = docs.groupBy(F.col("lang").alias("cl")).agg(
        F.count(F.lit(1)).alias("nd")
    )
    ndocs = docs.agg(F.count(F.lit(1)).alias("n"))
    classes = (
        priors.join(class_tot, "cl")
        .crossJoin(vocab)
        .crossJoin(ndocs)
    )  # 5 rows: (cl, nd, tl, v, n)
    expanded = dt.crossJoin(F.broadcast(classes)).join(
        F.broadcast(tc.select(F.col("tok").alias("t2"), F.col("cl").alias("c2"), "c")),
        (F.col("tok") == F.col("t2")) & (F.col("cl") == F.col("c2")),
        "left",
    )
    contrib = F.col("n_dt") * F.log(
        (F.coalesce(F.col("c"), F.lit(0)) + 1)
        / (F.col("tl") + F.col("v")).cast("double")
    )
    scores = expanded.groupBy("doc_id", "cl", "nd", "n").agg(
        F.sum(contrib).alias("s")
    ).select(
        "doc_id",
        "cl",
        (
            F.log(F.col("nd").cast("double") / F.col("n")) + F.col("s")
        ).alias("score"),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.round(F.col("score") + F.lit(1e-9), 6).desc(), F.col("cl").asc()
    )
    ranked = scores.select(
        "doc_id", "cl", "score", F.row_number().over(w).alias("rn")
    ).filter(F.col("rn") == 1)
    truth = docs.select(F.col("doc_id").alias("d2"), F.col("lang"))
    return ranked.join(truth, ranked["doc_id"] == truth["d2"]).select(
        "doc_id",
        F.col("cl").alias("pred_lang"),
        F.round(F.col("score") + F.lit(1e-9), 6).alias("log_posterior"),
        (F.col("cl") == F.col("lang")).alias("is_correct"),
    )


CHI2_TOP_K = 10  # features kept per class


@register(
    "chi2_token_ranking",
    oracle=f"""
        WITH pres AS (
            SELECT DISTINCT doc_id, lang,
                   unnest(str_split(lower(text), ' ')) AS tok
            FROM documents
        ), nn AS (
            SELECT count(*) AS n FROM documents
        ), nc AS (
            SELECT lang AS cl, count(*) AS n_c FROM documents GROUP BY 1
        ), dft AS (
            SELECT tok, count(*) AS df_t FROM pres GROUP BY tok
        ), a AS (
            SELECT tok, lang AS cl, count(*) AS a
            FROM pres GROUP BY 1, 2
        ), grid AS (
            SELECT dft.tok, nc.cl, nc.n_c, dft.df_t, nn.n,
                   COALESCE(a.a, 0) AS a
            FROM dft CROSS JOIN nc CROSS JOIN nn
            LEFT JOIN a ON a.tok = dft.tok AND a.cl = nc.cl
        ), scored AS (
            SELECT cl, tok, a,
                   round(CAST(n AS DOUBLE)
                         * (CAST(a AS DOUBLE) * n - CAST(n_c AS DOUBLE) * df_t)
                         * (CAST(a AS DOUBLE) * n - CAST(n_c AS DOUBLE) * df_t)
                         / (CAST(n_c AS DOUBLE) * (n - n_c)
                            * df_t * (n - df_t))
                         + 1e-9, 6) AS chi2
            FROM grid WHERE df_t < n
        ), ranked AS (
            SELECT cl, tok, a, chi2,
                   row_number() OVER (PARTITION BY cl
                                      ORDER BY chi2 DESC, tok ASC) AS rank
            FROM scored
        )
        SELECT cl, tok, CAST(a AS BIGINT) AS df_in_class, chi2,
               CAST(rank AS BIGINT) AS rank
        FROM ranked WHERE rank <= {CHI2_TOP_K}
    """,
    description="Chi-square token-feature ranking per language class — "
    "the feature-selection stage in front of naive_bayes_lang "
    "(fastText-style pipelines prune the vocabulary to the most "
    "class-discriminative terms before training): token PRESENCE per "
    "doc (distinct doc-token pairs), then for every (token, class) "
    "2x2 contingency cell the chi-square simplifies to "
    "N(AN - n_c df_t)^2 / (n_c (N-n_c) df_t (N-df_t)) — the "
    "cross-product difference is EXACT integer arithmetic, one "
    "double conversion per cell with identical operands on both "
    "engines. The full grid is (vocab x classes) via the NB-style "
    "cross-join-with-defaults (A=0 cells score negative association "
    "honestly); top-10 per class by the ROUNDED score with token "
    "tie-break (house parity rule). Vocabulary-bounded everywhere; "
    "tokens appearing in EVERY doc are excluded (df_t = N makes the "
    "denominator zero and the feature useless)",
)
def q_chi2_token_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_homework_spark.functions import distinct_tokens

    docs = _t(spark, sf_dir, "documents")
    pres = docs.select(
        "doc_id", "lang", F.explode(distinct_tokens("text")).alias("tok")
    )
    nc = docs.groupBy(F.col("lang").alias("cl")).agg(
        F.count(F.lit(1)).alias("n_c")
    )
    nn = nc.agg(F.sum("n_c").alias("n"))  # no second docs scan
    # ONE corpus pass: the (tok, class) presence counts; df_t derives
    # from them (each doc has exactly one lang, so sum over classes =
    # docs containing the token) — vocabulary-bounded from here on
    a = tracked_persist(
        pres.groupBy("tok", F.col("lang").alias("cl")).agg(
            F.count(F.lit(1)).alias("a")
        )
    )
    dft = a.groupBy("tok").agg(F.sum("a").alias("df_t"))
    grid = (
        dft.crossJoin(F.broadcast(nc))
        .crossJoin(F.broadcast(nn))
        .join(
            a.select(
                F.col("tok").alias("t2"), F.col("cl").alias("c2"), "a"
            ),
            (F.col("tok") == F.col("t2")) & (F.col("cl") == F.col("c2")),
            "left",
        )
        .select(
            "cl",
            "tok",
            "n_c",
            "df_t",
            "n",
            F.coalesce(F.col("a"), F.lit(0)).alias("a"),
        )
        .filter(F.col("df_t") < F.col("n"))
    )
    d = (
        F.col("a").cast("double") * F.col("n")
        - F.col("n_c").cast("double") * F.col("df_t")
    )
    chi2 = F.round(
        F.col("n").cast("double")
        * d
        * d
        / (
            F.col("n_c").cast("double")
            * (F.col("n") - F.col("n_c"))
            * F.col("df_t")
            * (F.col("n") - F.col("df_t"))
        )
        + F.lit(1e-9),
        6,
    )
    w = Window.partitionBy("cl").orderBy(
        F.col("chi2").desc(), F.col("tok").asc()
    )
    return (
        grid.select("cl", "tok", F.col("a").alias("df_in_class"), chi2.alias("chi2"))
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= CHI2_TOP_K)
        .select(
            "cl",
            "tok",
            F.col("df_in_class").cast("bigint").alias("df_in_class"),
            "chi2",
            "rank",
        )
    )


OOV_TOP_V = 32  # deliberately small so the coverage metric is non-trivial


@register(
    "vocab_oov_rate",
    oracle=f"""
        WITH occ AS (
            SELECT lang, unnest(str_split(lower(text), ' ')) AS tok
            FROM documents
        ), tot AS (
            SELECT tok, count(*) AS ct FROM occ GROUP BY tok
        ), kept AS (
            SELECT tok FROM (
                SELECT tok, row_number() OVER (ORDER BY ct DESC, tok ASC)
                           AS rk
                FROM tot
            ) WHERE rk <= {OOV_TOP_V}
        )
        SELECT occ.lang,
               CAST(count(*) AS BIGINT) AS n_tokens,
               CAST(sum(CASE WHEN kept.tok IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_oov,
               round(sum(CASE WHEN kept.tok IS NULL THEN 1 ELSE 0 END)
                     * 1.0 / count(*) + 1e-9, 6) AS oov_rate
        FROM occ LEFT JOIN kept ON kept.tok = occ.tok
        GROUP BY occ.lang
    """,
    description="Out-of-vocabulary rate per language against a top-V "
    "frequency vocabulary (V=32, deliberately below the corpus vocab "
    "so the metric is non-degenerate) — the tokenizer-coverage "
    "metric that justifies streaming_naive_bayes' top-V cap and "
    "bpe_train's vocabulary budget: what fraction of token "
    "OCCURRENCES would fall to the OOV bucket? Top-V selection is "
    "two_phase_rank by (count DESC, token ASC) — the house "
    "no-single-task-sort rank over the vocabulary-bounded count "
    "table — and coverage is one broadcast semi-join back onto the "
    "occurrence stream. One corpus scan; everything else "
    "vocabulary-bounded",
)
def q_vocab_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_homework_spark.functions import tokens

    docs = _t(spark, sf_dir, "documents")
    occ = docs.select("lang", F.explode(tokens("text")).alias("tok"))
    tot = occ.groupBy("tok").agg(F.count(F.lit(1)).alias("ct"))
    kept = (
        R.two_phase_rank(
            tot, [F.col("ct").desc(), F.col("tok").asc()], -F.col("ct"), "rk"
        )
        .filter(F.col("rk") <= OOV_TOP_V)
        .select(F.col("tok").alias("k_tok"))
    )
    j = occ.join(F.broadcast(kept), F.col("tok") == F.col("k_tok"), "left")
    oov = F.when(F.col("k_tok").isNull(), 1).otherwise(0)
    return j.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        F.sum(oov).cast("bigint").alias("n_oov"),
        F.round(
            F.sum(oov) * F.lit(1.0) / F.count(F.lit(1)) + F.lit(1e-9), 6
        ).alias("oov_rate"),
    )


@register(
    "nb_class_metrics",
    oracle="""
        WITH preds AS (
            SELECT p.doc_id, p.pred_lang, d.lang AS true_lang
            FROM (""" + _NAIVE_BAYES_ORACLE + """) p
            JOIN documents d ON d.doc_id = p.doc_id
        ), classes AS (
            SELECT DISTINCT lang AS cl FROM documents
        ), m AS (
            SELECT cl,
                   (SELECT count(*) FROM preds WHERE true_lang = cl)
                       AS n_true,
                   (SELECT count(*) FROM preds WHERE pred_lang = cl)
                       AS n_pred,
                   (SELECT count(*) FROM preds
                    WHERE pred_lang = cl AND true_lang = cl) AS tp
            FROM classes
        )
        SELECT cl,
               CAST(n_true AS BIGINT) AS n_true,
               CAST(n_pred AS BIGINT) AS n_pred,
               CAST(tp AS BIGINT) AS tp,
               CASE WHEN n_pred = 0 THEN NULL
                    ELSE round(tp * 1.0 / n_pred + 1e-9, 6) END
                   AS precision,
               CASE WHEN n_true = 0 THEN NULL
                    ELSE round(tp * 1.0 / n_true + 1e-9, 6) END AS recall,
               CASE WHEN n_pred = 0 OR n_true = 0
                         OR tp * 1.0 / n_pred + tp * 1.0 / n_true = 0
                    THEN NULL
                    ELSE round(2 * (tp * 1.0 / n_pred) * (tp * 1.0 / n_true)
                               / (tp * 1.0 / n_pred + tp * 1.0 / n_true)
                               + 1e-9, 6) END AS f1
        FROM m
    """,
    description="Per-class precision/recall/F1 of the naive-Bayes "
    "language classifier against the labeled corpus — the evaluation "
    "leg of the learned-classifier family (map_at_k/ndcg_eval do "
    "this for retrieval; this does it for classification): composes "
    "the registered naive_bayes_lang plan, joins truth back, and "
    "folds (n_true, n_pred, tp) per class with NULL-guarded ratio "
    "metrics computed identically on both engines. Class-bounded "
    "state after the shared NB scoring pass",
)
def q_nb_class_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    # persist the doc-count prediction table: three class folds read
    # it, and unpersisted each re-ran the whole NB scoring plan
    preds = tracked_persist(
        q_naive_bayes_lang(spark, sf_dir)
        .select("doc_id", "pred_lang")
        .join(
            docs.select(
                F.col("doc_id").alias("d2"), F.col("lang").alias("true_lang")
            ),
            F.col("doc_id") == F.col("d2"),
        )
    )
    classes = docs.select(F.col("lang").alias("cl")).distinct()
    by_true = preds.groupBy(F.col("true_lang").alias("cl")).agg(
        F.count(F.lit(1)).alias("n_true")
    )
    by_pred = preds.groupBy(F.col("pred_lang").alias("cl")).agg(
        F.count(F.lit(1)).alias("n_pred")
    )
    tp = preds.filter(F.col("pred_lang") == F.col("true_lang")).groupBy(
        F.col("true_lang").alias("cl")
    ).agg(F.count(F.lit(1)).alias("tp"))
    m = (
        classes.join(F.broadcast(by_true), "cl", "left")
        .join(F.broadcast(by_pred), "cl", "left")
        .join(F.broadcast(tp), "cl", "left")
        .select(
            "cl",
            F.coalesce(F.col("n_true"), F.lit(0)).alias("n_true"),
            F.coalesce(F.col("n_pred"), F.lit(0)).alias("n_pred"),
            F.coalesce(F.col("tp"), F.lit(0)).alias("tp"),
        )
    )
    p = F.col("tp") * F.lit(1.0) / F.col("n_pred")
    r = F.col("tp") * F.lit(1.0) / F.col("n_true")
    return m.select(
        "cl",
        F.col("n_true").cast("bigint").alias("n_true"),
        F.col("n_pred").cast("bigint").alias("n_pred"),
        F.col("tp").cast("bigint").alias("tp"),
        F.when(F.col("n_pred") == 0, F.lit(None).cast("double"))
        .otherwise(F.round(p + F.lit(1e-9), 6))
        .alias("precision"),
        F.when(F.col("n_true") == 0, F.lit(None).cast("double"))
        .otherwise(F.round(r + F.lit(1e-9), 6))
        .alias("recall"),
        F.when(
            (F.col("n_pred") == 0) | (F.col("n_true") == 0) | (p + r == 0),
            F.lit(None).cast("double"),
        )
        .otherwise(F.round(2 * p * r / (p + r) + F.lit(1e-9), 6))
        .alias("f1"),
    )


TEXTRANK_TOPK = 20
TEXTRANK_DAMPING = 0.85
TEXTRANK_ITERS = 3
TEXTRANK_MIN_LEN = 4


def _textrank_keep_sql(col: str) -> str:
    return f"len({col}) >= {TEXTRANK_MIN_LEN} AND {col} NOT IN ('{_STOPWORD_SQL}')"


def _textrank_iter_sql(prev: str, k: int) -> str:
    return f"""
        pr{k} AS MATERIALIZED (
            SELECT p.b AS node,
                   0.15 + {TEXTRANK_DAMPING} * sum(p.w * r.pr / d.ow) AS pr
            FROM edges p JOIN {prev} r ON r.node = p.a
            JOIN deg d ON d.a = p.a
            GROUP BY p.b
        )"""


@register(
    "textrank_keywords",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, str_split(lower(text), ' ') AS tok FROM documents
        ), adj AS (
            SELECT tok[i] AS wa, tok[i + 1] AS wb
            FROM t, unnest(generate_series(1, len(tok) - 1)) AS u(i)
            WHERE len(tok) >= 2
              AND {_textrank_keep_sql("tok[i]")}
              AND {_textrank_keep_sql("tok[i + 1]")}
              AND tok[i] != tok[i + 1]
        ), edges AS (
            SELECT a, b, CAST(count(*) AS DOUBLE) AS w FROM (
                SELECT wa AS a, wb AS b FROM adj
                UNION ALL
                SELECT wb AS a, wa AS b FROM adj
            ) GROUP BY 1, 2
        ), deg AS (
            SELECT a, sum(w) AS ow FROM edges GROUP BY a
        ), pr0 AS (
            SELECT DISTINCT a AS node, 1.0 AS pr FROM edges
        ),{",".join(_textrank_iter_sql(f"pr{k - 1}", k) for k in range(1, TEXTRANK_ITERS + 1))}
        SELECT word, score, CAST(rank AS BIGINT) AS rank FROM (
            SELECT node AS word, round(pr, 6) AS score,
                   row_number() OVER (
                       ORDER BY round(pr, 6) DESC, node ASC) AS rank
            FROM pr{TEXTRANK_ITERS}
        ) WHERE rank <= {TEXTRANK_TOPK}
    """,
    description="TextRank keyword extraction: weighted PageRank over "
    "the word co-occurrence graph (adjacent content tokens — length "
    f">= {TEXTRANK_MIN_LEN}, stopwords excluded — undirected edge per "
    "adjacency, weight = corpus count), 3 fixed power iterations at "
    "damping 0.85, top-20 by rounded score with word tiebreak. The "
    "graph-centrality keyword ranker next to RAKE (degree-scored "
    "phrases) and chi2_token_ranking (class-supervised): TextRank "
    "needs no labels and no phrase segmentation. Scale shape = "
    "copurchase_pagerank's: the corpus collapses to a VOCAB-bounded "
    "edge list once (one token-pair agg), each iteration is one "
    "co-partitioned join + partial agg on the bounded graph, and the "
    "oracle unrolls the same 3 iterations (same expression shapes, "
    "same float discipline)",
)
def q_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    tok = F.split(F.lower(F.col("text")), " ")
    m = F.size(tok) - 1
    zipped = F.arrays_zip(F.slice(tok, 1, m), F.slice(tok, 2, m))

    def keep(c):
        return (F.length(c) >= TEXTRANK_MIN_LEN) & (
            ~c.isin(T.EN_STOPWORDS)
        )

    adj = (
        docs.filter(F.size(tok) >= 2)
        .select(F.explode(zipped).alias("bg"))
        .select(F.col("bg")["0"].alias("wa"), F.col("bg")["1"].alias("wb"))
        .filter(keep(F.col("wa")) & keep(F.col("wb")) & (F.col("wa") != F.col("wb")))
    )
    edges = tracked_persist(
        adj.select(F.col("wa").alias("a"), F.col("wb").alias("b"))
        .unionAll(adj.select(F.col("wb").alias("a"), F.col("wa").alias("b")))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("double").alias("w"))
    )
    deg = edges.groupBy("a").agg(F.sum("w").alias("ow"))
    pr = edges.select(F.col("a").alias("node")).distinct().withColumn(
        "pr", F.lit(1.0)
    )
    for _ in range(TEXTRANK_ITERS):
        pr = (
            edges.join(pr, edges["a"] == pr["node"])
            .join(deg, "a")
            .groupBy(F.col("b").alias("node2"))
            .agg(
                (
                    F.lit(0.15)
                    + F.lit(TEXTRANK_DAMPING)
                    * F.sum(F.col("w") * F.col("pr") / F.col("ow"))
                ).alias("pr")
            )
            .withColumnRenamed("node2", "node")
        )
    scored = pr.select(
        F.col("node").alias("word"),
        F.round(F.col("pr"), 6).alias("score"),
    )
    w = Window.orderBy(F.col("score").desc(), F.col("word").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= TEXTRANK_TOPK)
    )


@register(
    "flesch_reading_ease",
    oracle="""
        WITH s AS (
            SELECT doc_id,
                   len(str_split(lower(text), ' ')) AS n_words,
                   greatest(1, len(regexp_extract_all(text, '[.!?]+')))
                       AS n_sentences,
                   len(regexp_extract_all(lower(text), '[aeiouy]+'))
                   + len(list_filter(str_split(lower(text), ' '),
                         w -> NOT regexp_matches(w, '[aeiouy]')))
                       AS n_syllables
            FROM documents
        )
        SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
               CAST(n_sentences AS BIGINT) AS n_sentences,
               CAST(n_syllables AS BIGINT) AS n_syllables,
               round(206.835
                     - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
                     - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words)
                     + 1e-9, 6) AS flesch
        FROM s WHERE n_words > 0
    """,
    description="Flesch reading-ease score per document — the "
    "readability member of the quality battery (quality_score counts "
    "surface ratios; lm_score measures corpus surprise; flesch is the "
    "classic sentence-length x word-complexity readout used as an "
    "LLM-corpus quality feature). Syllables via the vowel-group "
    "heuristic (runs of [aeiouy], vowel-less tokens count 1), "
    "sentences via [.!?]+ runs clamped to >= 1 (the synthetic fixture "
    "has no punctuation, so the sentence leg clamps identically on "
    "both engines — documented, like the deliberately tiny stopword "
    "list). One JVM regex scan per doc, no shuffle at all — the "
    "integer counts make the 6dp score identical cross-engine",
)
def q_flesch_reading_ease(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.col("text")), " ")
    n_words = F.size(toks)
    n_sent = F.greatest(
        F.lit(1), F.size(F.regexp_extract_all(F.col("text"), F.lit("[.!?]+"), F.lit(0)))
    )
    vgroups = F.size(
        F.regexp_extract_all(F.lower(F.col("text")), F.lit("[aeiouy]+"), F.lit(0))
    )
    novowel = F.size(F.expr("filter(split(lower(text), ' '), w -> w NOT RLIKE '[aeiouy]')"))
    n_syll = vgroups + novowel
    flesch = F.round(
        F.lit(206.835)
        - F.lit(1.015) * (n_words.cast("double") / n_sent)
        - F.lit(84.6) * (n_syll.cast("double") / n_words)
        + F.lit(1e-9),
        6,
    )
    return docs.filter(n_words > 0).select(
        "doc_id",
        n_words.cast("bigint").alias("n_words"),
        n_sent.cast("bigint").alias("n_sentences"),
        n_syll.cast("bigint").alias("n_syllables"),
        flesch.alias("flesch"),
    )


@register(
    "pr_curve",
    oracle=f"""
        WITH scored AS (
            SELECT (lang = 'en') AS label,
                   round(len(list_filter(str_split(lower(text), ' '),
                        x -> x IN ('{_STOPWORD_SQL}')))::DOUBLE
                         / len(str_split(lower(text), ' ')), 6) AS s
            FROM documents
        ), g AS (
            SELECT s, count(*) AS n,
                   SUM(CASE WHEN label THEN 1 ELSE 0 END) AS npos
            FROM scored GROUP BY s
        ), c AS (
            SELECT s AS threshold,
                   SUM(npos) OVER (ORDER BY s DESC) AS tp,
                   SUM(n - npos) OVER (ORDER BY s DESC) AS fp,
                   (SELECT SUM(npos) FROM g) AS p
            FROM g
        )
        SELECT threshold, CAST(tp AS BIGINT) AS tp,
               CAST(fp AS BIGINT) AS fp,
               round(CAST(tp AS DOUBLE) / (tp + fp) + 1e-9, 6) AS precision,
               round(CAST(tp AS DOUBLE) / p + 1e-9, 6) AS recall
        FROM c
    """,
    description="Precision-recall curve of the lang_id scorer against "
    "its own labels (stopword_ratio vs lang='en') — the threshold-"
    "selection companion to lang_id_auc's single ROC scalar (PR is "
    "the right view under class imbalance, where ROC flatters). One "
    "point per DISTINCT rounded score: predict positive at s >= "
    "threshold, tp/fp from one descending cumulative window over the "
    "score-cardinality-bounded grid (exact integers; the two "
    "divisions are identical doubles cross-engine). Aggregation "
    "state is |distinct scores| rows, never a per-doc driver sort",
)
def q_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    scored = T.lang_id_heuristic(docs, 0.1).select(
        (F.col("lang") == "en").alias("label"),
        F.col("stopword_ratio").alias("s"),
    )
    g = scored.groupBy("s").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("label"), 1).otherwise(0)).alias("npos"),
    )
    w = Window.orderBy(F.col("s").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    c = g.select(
        F.col("s").alias("threshold"),
        F.sum("npos").over(w).alias("tp"),
        F.sum(F.col("n") - F.col("npos")).over(w).alias("fp"),
    ).crossJoin(F.broadcast(g.agg(F.sum("npos").alias("p"))))
    return c.select(
        "threshold",
        F.col("tp").cast("bigint").alias("tp"),
        F.col("fp").cast("bigint").alias("fp"),
        F.round(
            F.col("tp").cast("double") / (F.col("tp") + F.col("fp"))
            + F.lit(1e-9),
            6,
        ).alias("precision"),
        F.round(
            F.col("tp").cast("double") / F.col("p") + F.lit(1e-9), 6
        ).alias("recall"),
    )


@register(
    "rouge_n_pairs",
    oracle=f"""
        WITH pairs AS ({_NGRAM_PAIRS_SQL}),
        tk AS (
            SELECT doc_id, str_split(lower(text), ' ') AS tok
            FROM documents
        ), uni AS (
            SELECT doc_id, w, CAST(count(*) AS BIGINT) AS c
            FROM (SELECT doc_id, unnest(tok) AS w FROM tk)
            GROUP BY doc_id, w
        ), un AS (
            SELECT doc_id, CAST(sum(c) AS BIGINT) AS n FROM uni
            GROUP BY doc_id
        ), bi AS (
            SELECT doc_id, w, CAST(count(*) AS BIGINT) AS c
            FROM (
                SELECT doc_id,
                       unnest(list_transform(
                           generate_series(1, len(tok) - 1),
                           i -> tok[i] || ' ' || tok[i+1])) AS w
                FROM tk WHERE len(tok) >= 2
            )
            GROUP BY doc_id, w
        ), bn AS (
            SELECT doc_id, CAST(sum(c) AS BIGINT) AS n FROM bi
            GROUP BY doc_id
        ), i1 AS (
            SELECT p.doc_a, p.doc_b,
                   CAST(sum(least(a.c, b.c)) AS BIGINT) AS ov
            FROM pairs p
            JOIN uni a ON a.doc_id = p.doc_a
            JOIN uni b ON b.doc_id = p.doc_b AND b.w = a.w
            GROUP BY 1, 2
        ), i2 AS (
            SELECT p.doc_a, p.doc_b,
                   CAST(sum(least(a.c, b.c)) AS BIGINT) AS ov
            FROM pairs p
            JOIN bi a ON a.doc_id = p.doc_a
            JOIN bi b ON b.doc_id = p.doc_b AND b.w = a.w
            GROUP BY 1, 2
        )
        SELECT p.doc_a, p.doc_b,
               round(coalesce(i1.ov, 0) / CAST(na.n AS DOUBLE) + 1e-9, 6)
                   AS rouge1_recall,
               round(coalesce(i1.ov, 0) / CAST(nb.n AS DOUBLE) + 1e-9, 6)
                   AS rouge1_precision,
               round(CASE WHEN coalesce(i1.ov, 0) > 0
                          THEN 2.0 * i1.ov * i1.ov
                               / (CAST(na.n AS DOUBLE) * nb.n)
                               / (i1.ov / CAST(na.n AS DOUBLE)
                                  + i1.ov / CAST(nb.n AS DOUBLE))
                          ELSE 0 END + 1e-9, 6) AS rouge1_f,
               round(CASE WHEN coalesce(i2.ov, 0) > 0
                          THEN 2.0 * i2.ov * i2.ov
                               / (CAST(ba.n AS DOUBLE) * bb.n)
                               / (i2.ov / CAST(ba.n AS DOUBLE)
                                  + i2.ov / CAST(bb.n AS DOUBLE))
                          ELSE 0 END + 1e-9, 6) AS rouge2_f
        FROM pairs p
        JOIN un na ON na.doc_id = p.doc_a
        JOIN un nb ON nb.doc_id = p.doc_b
        JOIN bn ba ON ba.doc_id = p.doc_a
        JOIN bn bb ON bb.doc_id = p.doc_b
        LEFT JOIN i1 ON i1.doc_a = p.doc_a AND i1.doc_b = p.doc_b
        LEFT JOIN i2 ON i2.doc_a = p.doc_a AND i2.doc_b = p.doc_b
    """,
    description="ROUGE-1/ROUGE-2 summarization-eval scores over the "
    "exact trigram-Jaccard near-dup pairs (ref = doc_a, candidate = "
    "doc_b — the same pair set dedup_ngram_jaccard emits, so the "
    "metric grades exactly the pairs a dedup/summarization pipeline "
    "would compare): clipped n-gram multiset overlap per pair "
    "(sum of min counts — the standard ROUGE clipping), recall "
    "against the reference total, precision against the candidate "
    "total, F1 with zero-overlap guards. The engine computes n-gram "
    "count tables once per doc (one scan, vocabulary-bounded) and "
    "joins them to the BOUNDED pair set on (doc, gram) — never "
    "corpus x corpus; at 100 TB the pair set comes from the banded "
    "near-dup join and the per-doc count tables shard on doc_id. "
    "F1 is computed as 2pr/(p+r) in an algebraically expanded form "
    "identical on both engines; all three scores round to 6",
)
def q_rouge_n_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_streams_homework_spark.functions import shingles, tokens

    docs = _t(spark, sf_dir, "documents")
    # r12 (guide §8 "decide with small rows" + §5): the pair table is
    # tiny (threshold-filtered near-dups) but its plan is the WHOLE LSH
    # pipeline, and it used to be referenced three times — the plan
    # re-ran candidate generation + verify per reference. Checkpoint it
    # eagerly once; every later join reads the materialized rows.
    pairs = tracked_checkpoint(
        D.ngram_jaccard_pairs(docs, 3, NGRAM_JACCARD_THRESHOLD).select(
            "doc_a", "doc_b"
        ),
        eager=True,
    )
    # Only documents that appear in some pair contribute to any output
    # row (every output column comes from an inner join against pairs),
    # so restrict the unigram/bigram count tables to those docs BEFORE
    # tokenizing — the corpus-sized explode+groupBy collapses to the
    # pair-doc subset and the old persists become unnecessary. Counts
    # are per-doc, so the filter cannot change any retained value.
    pdocs = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .union(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    tk = docs.join(F.broadcast(pdocs), "doc_id", "left_semi").select(
        "doc_id", tokens("text").alias("tok")
    )
    uni = (
        tk.select("doc_id", F.explode("tok").alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    un = uni.groupBy("doc_id").agg(F.sum("c").cast("bigint").alias("n"))
    bi = (
        tk.filter(F.size("tok") >= 2)
        .select(
            "doc_id",
            F.explode(shingles(F.col("tok"), 2)).alias("w"),
        )
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    bn = bi.groupBy("doc_id").agg(F.sum("c").cast("bigint").alias("n"))

    def overlap(counts: DataFrame) -> DataFrame:
        a = counts.select(
            F.col("doc_id").alias("doc_a"), "w", F.col("c").alias("ca")
        )
        b = counts.select(
            F.col("doc_id").alias("doc_b"), "w", F.col("c").alias("cb")
        )
        return (
            pairs.join(a, "doc_a")
            .join(b, ["doc_b", "w"])
            .groupBy("doc_a", "doc_b")
            .agg(F.sum(F.least("ca", "cb")).cast("bigint").alias("ov"))
        )

    i1 = overlap(uni)
    i2 = overlap(bi)

    def f1(ov, n_ref, n_cand):
        ovz = F.coalesce(ov, F.lit(0))
        return F.when(
            ovz > 0,
            2.0
            * ovz
            * ovz
            / (n_ref.cast("double") * n_cand)
            / (ovz / n_ref.cast("double") + ovz / n_cand.cast("double")),
        ).otherwise(F.lit(0.0))

    na = un.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    nb = un.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    ba = bn.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("ba"))
    bb = bn.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("bb"))
    out = (
        pairs.join(na, "doc_a")
        .join(nb, "doc_b")
        .join(ba, "doc_a")
        .join(bb, "doc_b")
        .join(
            i1.select("doc_a", "doc_b", F.col("ov").alias("ov1")),
            ["doc_a", "doc_b"],
            "left",
        )
        .join(
            i2.select("doc_a", "doc_b", F.col("ov").alias("ov2")),
            ["doc_a", "doc_b"],
            "left",
        )
    )
    return out.select(
        "doc_a",
        "doc_b",
        F.round(
            F.coalesce(F.col("ov1"), F.lit(0)) / F.col("na").cast("double")
            + F.lit(1e-9),
            6,
        ).alias("rouge1_recall"),
        F.round(
            F.coalesce(F.col("ov1"), F.lit(0)) / F.col("nb").cast("double")
            + F.lit(1e-9),
            6,
        ).alias("rouge1_precision"),
        F.round(
            f1(F.col("ov1"), F.col("na"), F.col("nb")) + F.lit(1e-9), 6
        ).alias("rouge1_f"),
        F.round(
            f1(F.col("ov2"), F.col("ba"), F.col("bb")) + F.lit(1e-9), 6
        ).alias("rouge2_f"),
    )
