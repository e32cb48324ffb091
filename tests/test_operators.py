"""Operator-level unit tests (batch semantics)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from kafka_streams_homework_spark.functions import cosine_similarity, shingles, tokens
from kafka_streams_homework_spark.operators import relational as R
from tests.conftest import ts


def test_latest_by_key_picks_max_order_col(spark):
    df = spark.createDataFrame(
        [(1, ts(1), "a"), (1, ts(3), "b"), (1, ts(2), "c"), (2, ts(0), "d")],
        "k long, ts timestamp, v string",
    )
    out = {r.k: r.v for r in R.latest_by_key(df, ["k"], "ts").collect()}
    assert out == {1: "b", 2: "d"}


def test_latest_by_key_tiebreak_deterministic(spark):
    df = spark.createDataFrame(
        [(1, ts(1), 10, "lo"), (1, ts(1), 20, "hi")],
        "k long, ts timestamp, seq long, v string",
    )
    out = R.latest_by_key(df, ["k"], "ts", tiebreak_cols=["seq"]).collect()
    assert len(out) == 1 and out[0].v == "hi"


def test_tumbling_window_epoch_alignment(spark):
    df = spark.createDataFrame([(ts(7, 59),)], "ts timestamp")
    w = R.tumbling_window(df, "ts", "1 minute").select("window.*").collect()[0]
    assert w.start == dt.datetime(2024, 1, 1, 0, 7, 0)
    assert w.end == dt.datetime(2024, 1, 1, 0, 8, 0)


def test_windowed_sum_groups_by_key_and_window(spark):
    df = spark.createDataFrame(
        [(1, ts(1, 10), 5.0), (1, ts(1, 50), 7.0), (1, ts(2, 10), 11.0), (2, ts(1), 1.0)],
        "k long, ts timestamp, v double",
    )
    agg = R.windowed_sum(df, ["k"], "ts", F.col("v"))
    rows = {(r.k, r["window"].start.minute): r.total_sum_per_minute for r in agg.collect()}
    assert rows == {(1, 1): 12.0, (1, 2): 11.0, (2, 1): 1.0}


def test_topk_per_group_ties_break_on_id(spark):
    df = spark.createDataFrame(
        [("a", 1, 5.0), ("a", 2, 5.0), ("a", 3, 4.0), ("b", 4, 1.0)],
        "g string, id long, v double",
    )
    out = R.topk_per_group(df, ["g"], "v", 2, ["id"]).collect()
    got = {(r.g, r.id): r.rank for r in out}
    assert got == {("a", 1): 1, ("a", 2): 2, ("b", 4): 1}


def test_sessionize_gap_semantics(spark):
    # events at minute 0, 10, 50 with a 30-minute gap → sessions {0,10} and {50}
    df = spark.createDataFrame(
        [(1, ts(0)), (1, ts(10)), (1, ts(50))], "user_id long, ts timestamp"
    )
    sess = R.sessionize(df, ["user_id"], "ts", "30 minutes")
    starts = sorted(r["session_window"].start.minute for r in sess.collect())
    assert starts == [0, 50]


def test_dedup_exact_subset(spark):
    df = spark.createDataFrame(
        [(1, "x"), (2, "x"), (3, "y")], "id long, t string"
    )
    assert R.dedup_exact(df, ["t"]).count() == 2


def test_json_extract_typed(spark):
    df = spark.createDataFrame([(1, '{"k": 42}'), (2, "not json")], "id long, props string")
    out = {r.id: r.k for r in R.json_extract(df, "props", "k", "k", "long").collect()}
    assert out == {1: 42, 2: None}


def test_tokens_and_shingles(spark):
    df = spark.createDataFrame([("a b c d",), ("x y",), ("",)], "text string")
    out = df.select(
        F.size(tokens("text")).alias("nt"),
        shingles(tokens("text"), 3).alias("sh"),
    ).collect()
    assert out[0].nt == 4 and out[0].sh == ["a b c", "b c d"]
    assert out[1].sh == []  # shorter than n
    assert out[2].nt == 1  # split('') -> [''] — DuckDB str_split parity


def test_asof_join_picks_latest_at_or_before(spark):
    left = spark.createDataFrame(
        [(1, 100, ts(5)), (2, 100, ts(1)), (3, 200, ts(3)), (4, 300, ts(3))],
        "eid long, k long, ts timestamp",
    )
    right = spark.createDataFrame(
        # key 100: rows at minute 1 and 4; key 200: row exactly at 3 (inclusive)
        [(100, ts(1), "r1"), (100, ts(4), "r4"), (200, ts(3), "r3")],
        "rk long, rts timestamp, payload string",
    )
    out = {
        r.eid: r.payload
        for r in R.asof_join(
            left, right, ["k"], ["rk"], "ts", "rts", ["payload"]
        ).collect()
    }
    # eid=1: latest ≤ min5 is r4; eid=2: equal ts inclusive → r1;
    # eid=3: exact-ts match r3; eid=4: no right rows → null
    assert out == {1: "r4", 2: "r1", 3: "r3", 4: None}


def test_interval_join_band(spark):
    p = spark.createDataFrame([(1, 7, ts(10))], "pid long, k long, pts timestamp")
    c = spark.createDataFrame(
        [(10, 7, ts(1)), (11, 7, ts(5)), (12, 7, ts(10)), (13, 8, ts(9))],
        "cid long, ck long, cts timestamp",
    )
    out = R.interval_join(
        p,
        c,
        p["k"] == c["ck"],
        (F.col("cts") >= F.col("pts") - F.expr("INTERVAL 5 MINUTES"))
        & (F.col("cts") < F.col("pts")),
    ).collect()
    # cid=10 too old, cid=12 not strictly before, cid=13 wrong key
    assert [r.cid for r in out] == [11]


def test_salted_sum_matches_plain(spark):
    df = spark.createDataFrame(
        [(1, ts(1, 10), 5.0), (1, ts(1, 50), 7.0), (1, ts(2, 10), 11.0), (2, ts(1), 1.0)],
        "k long, ts timestamp, v double",
    )
    plain = {
        (r.k, r["window"].start): r.total_sum_per_minute
        for r in R.windowed_sum(df, ["k"], "ts", F.col("v")).collect()
    }
    salted = {
        (r.k, r["window"].start): r.total_sum_per_minute
        for r in R.windowed_sum_salted(df, ["k"], "ts", F.col("v"), salt_buckets=4).collect()
    }
    assert plain == salted


def test_frame_sample_fanout(spark):
    from kafka_streams_homework_spark.operators import multimodal as M

    docs = spark.createDataFrame(
        [(0, "x" * 1000), (1, "y" * 10), (2, "z" * 5000)], "doc_id long, text string"
    )
    frames = M.frame_sample(M.to_media(docs)).collect()
    by_doc = {}
    for r in frames:
        by_doc.setdefault(r.doc_id, []).append(r)
    # 1000 bytes → 3 frames; 10 bytes → 1 frame (min); 5000 → capped at 8
    assert {d: len(v) for d, v in by_doc.items()} == {0: 3, 1: 1, 2: 8}
    assert [r.byte_offset for r in sorted(by_doc[0], key=lambda r: r.frame_idx)] == [0, 256, 512]
    # every full-stride frame carries FRAME_SIZE bytes (tail beyond the
    # sampled strides is simply not sampled)
    assert all(r.frame_bytes == 256 for r in by_doc[0])
    assert by_doc[1][0].frame_bytes == 10


def test_fused_decode_resize_matches_chained(spark):
    """decode_and_resize (one Python crossing) must equal the unfused
    decode_stub → resize_thumbs composition row-for-row."""
    from kafka_streams_homework_spark.operators import multimodal as M

    docs = spark.createDataFrame(
        [(i, "x" * (17 * i + 1)) for i in range(50)], "doc_id long, text string"
    )
    media = M.to_media(docs)
    chained = {
        r.doc_id: (r.width, r.height, r.thumb_w, r.thumb_h)
        for r in M.resize_thumbs(M.decode_stub(media)).collect()
    }
    fused = {
        r.doc_id: (r.width, r.height, r.thumb_w, r.thumb_h)
        for r in M.decode_and_resize(media).collect()
    }
    assert fused == chained


def test_chunk_documents_coverage_and_overlap(spark):
    from kafka_streams_homework_spark.operators import text as T

    # 10 tokens, chunk 4, stride 3 → chunks at offsets 0,3,6 (ceil((10-4+3)/3)=3)
    docs = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(10))), (2, "a b")],
        "doc_id long, text string",
    )
    out = {(r.doc_id, r.chunk_idx): r for r in T.chunk_documents(docs, 4, 3).collect()}
    assert {k for k in out} == {(1, 0), (1, 1), (1, 2), (2, 0)}
    assert out[(1, 0)].chunk_text == "t0 t1 t2 t3"
    assert out[(1, 1)].chunk_text == "t3 t4 t5 t6"  # overlap of 1 token
    assert out[(1, 2)].chunk_text == "t6 t7 t8 t9"
    assert out[(2, 0)].chunk_text == "a b" and out[(2, 0)].n_tokens == 2
    # every token of doc 1 appears in ≥1 chunk
    covered = set(" ".join(out[(1, i)].chunk_text for i in range(3)).split())
    assert covered == {f"t{i}" for i in range(10)}


def test_pack_chunks_sequences_fill_in_order(spark):
    from kafka_streams_homework_spark.operators import text as T

    chunks = spark.createDataFrame(
        [(0, 0, 60), (0, 1, 60), (16, 0, 60), (16, 1, 10)],
        "doc_id long, chunk_idx int, n_tokens long",
    )
    # all docs land in shard 0; capacity 100 → seq 0 gets 60(+60 spills),
    # boundary chunk starts seq at floor(cum_before/100)
    out = {(r.doc_id, r.chunk_idx): r.seq_id for r in T.pack_chunks(chunks, 100, 16).collect()}
    assert out == {(0, 0): 0, (0, 1): 0, (16, 0): 1, (16, 1): 1}


def test_cosine_similarity_exact(spark):
    df = spark.createDataFrame(
        [([1.0, 0.0], [0.0, 1.0]), ([1.0, 2.0], [1.0, 2.0]), ([1.0, 0.0], [1.0, 1.0])],
        "a array<double>, b array<double>",
    )
    sims = [
        round(r.s, 9)
        for r in df.select(cosine_similarity(F.col("a"), F.col("b")).alias("s")).collect()
    ]
    assert sims[0] == 0.0
    assert sims[1] == 1.0
    assert abs(sims[2] - 0.707106781) < 1e-9


def test_pii_scrub_redacts_and_counts(spark):
    from kafka_streams_homework_spark.operators.text import pii_scrub

    docs = spark.createDataFrame(
        [
            (0, "contact alice.smith+x@example.org or bob@sub.domain.co today"),
            (1, "call +1 (555) 123-4567 now"),
            (2, "server at 192.168.0.1 and 10.0.0.255"),
            (3, "clean text, no pii at all"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in pii_scrub(docs).collect()}
    assert out[0].n_emails == 2
    assert "<EMAIL>" in out[0].scrubbed_text
    assert "alice" not in out[0].scrubbed_text
    assert out[1].n_phones == 1
    assert "<PHONE>" in out[1].scrubbed_text
    assert "4567" not in out[1].scrubbed_text
    assert out[2].n_ipv4 == 2
    assert out[2].scrubbed_text == "server at <IP> and <IP>"
    assert out[3].scrubbed_text == "clean text, no pii at all"
    assert (out[3].n_emails, out[3].n_phones, out[3].n_ipv4) == (0, 0, 0)


def test_stratified_sample_rates_and_determinism(spark, sf_dir):
    from kafka_streams_homework_spark.operators.text import stratified_sample
    from kafka_streams_homework_spark.sources.batch import load_table

    docs = load_table(spark, sf_dir, "documents")
    kept = stratified_sample(docs, "lang", {"en": 0.25}, default_frac=1.0)
    by_lang_all = {r.lang: r.n for r in docs.groupBy("lang").count().withColumnRenamed("count", "n").collect()}
    by_lang_kept = {r.lang: r.n for r in kept.groupBy("lang").count().withColumnRenamed("count", "n").collect()}
    # non-en strata kept whole
    for lang, n in by_lang_all.items():
        if lang != "en":
            assert by_lang_kept.get(lang) == n
    # en downsampled to ~25% (binomial tolerance on a small fixture)
    frac = by_lang_kept.get("en", 0) / by_lang_all["en"]
    assert 0.10 <= frac <= 0.40, frac
    # deterministic: identical result on re-evaluation after repartition
    again = {
        r.doc_id
        for r in stratified_sample(
            docs.repartition(7), "lang", {"en": 0.25}, default_frac=1.0
        ).collect()
    }
    assert again == {r.doc_id for r in kept.collect()}


def test_leakage_free_split_keeps_clusters_together(spark):
    from kafka_streams_homework_spark.operators.dedup import leakage_free_split

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(30)], "doc_id long, text string"
    )
    # clusters: {1,2,3} (chain), {7,9}, {20,21}; rest singletons
    pairs = spark.createDataFrame(
        [(1, 2, 0.9), (2, 3, 0.85), (7, 9, 0.95), (20, 21, 0.81)],
        "doc_a long, doc_b long, jaccard double",
    )
    out = leakage_free_split(docs, pairs).collect()
    assert len(out) == 30
    split_of = {r.doc_id: r.is_train for r in out}
    cluster_of = {r.doc_id: r.cluster_id for r in out}
    for cluster in ({1, 2, 3}, {7, 9}, {20, 21}):
        assert len({split_of[d] for d in cluster}) == 1, cluster
        assert len({cluster_of[d] for d in cluster}) == 1, cluster
    # singletons keep their own id as cluster
    assert cluster_of[0] == 0 and cluster_of[29] == 29
    # both splits populated on 30 docs (md5 'd'-cutoff ≈ 81/19)
    assert 0 < sum(split_of.values()) < 30


def test_lm_score_flags_boilerplate_low(spark):
    """Templated/repetitive docs must score LOWER (common tokens →
    small -ln p) than docs with rare vocabulary."""
    from kafka_streams_homework_spark.operators.text import lm_score

    docs = spark.createDataFrame(
        [
            (0, "common common common common common"),
            (1, "common common common common common"),
            (2, "common common common common common"),
            (3, "zyx qwv plk mnb common"),  # mostly rare tokens
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.avg_neg_logp for r in lm_score(docs).collect()}
    assert out[0] == out[1] == out[2]
    assert out[3] > out[0]
    assert all(r > 0 for r in out.values())


def test_compact_parquet_reduces_file_count(spark, tmp_path):
    import glob

    from kafka_streams_homework_spark.sources.sink import compact_parquet

    src = str(tmp_path / "many_small")
    # 40 tiny files (the streaming-sink accumulation pattern)
    spark.range(4000).withColumnRenamed("id", "v").repartition(40).write.parquet(src)
    assert len(glob.glob(f"{src}/part-*.parquet")) == 40

    out = str(tmp_path / "compacted")
    n = compact_parquet(spark, src, out, target_file_mb=128)
    assert n == 1
    files = glob.glob(f"{out}/part-*.parquet")
    assert len(files) == 1
    # row-for-row identical content
    assert spark.read.parquet(out).count() == 4000
    assert (
        spark.read.parquet(out).agg({"v": "sum"}).collect()[0][0]
        == spark.read.parquet(src).agg({"v": "sum"}).collect()[0][0]
    )


def test_udtf_chunker_matches_builtin(spark):
    """The SQL-callable UDTF twin must reproduce the pure-SQL
    chunk_documents output exactly — same token contract, same edge
    behavior (short docs → one chunk; stride overlap)."""
    from kafka_streams_homework_spark.functions.udtfs import register_udtfs
    from kafka_streams_homework_spark.operators.text import chunk_documents

    docs = spark.createDataFrame(
        [
            (1, "one tiny doc"),
            (2, " ".join(f"tok{i}" for i in range(200))),
            (3, " ".join(f"w{i}" for i in range(64))),  # exactly one window
            (4, ""),
        ],
        "doc_id long, text string",
    )
    register_udtfs(spark)
    docs.createOrReplaceTempView("v_udtf_docs")
    via_udtf = {
        (r.doc_id, r.chunk_idx): (r.n_tokens, r.chunk_text)
        for r in spark.sql(
            """SELECT c.* FROM v_udtf_docs d,
               LATERAL doc_chunk_udtf(d.doc_id, d.text, 64, 48) c"""
        ).collect()
    }
    via_builtin = {
        (r.doc_id, r.chunk_idx): (r.n_tokens, r.chunk_text)
        for r in chunk_documents(docs).collect()
    }
    assert via_udtf == via_builtin


def test_lm_score_bigram_flags_templated_sequences(spark):
    """The bigram score's edge over unigram: doc 3 reuses the SAME
    tokens as the template docs but in a novel ORDER — unigram can't
    tell it apart, the transition model can."""
    from kafka_streams_homework_spark.operators.text import (
        lm_score,
        lm_score_bigram,
    )

    docs = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog"),
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),
            (3, "dog the over quick lazy brown the jumps fox"),  # shuffled
        ],
        "doc_id long, text string",
    )
    uni = {r.doc_id: r.avg_neg_logp for r in lm_score(docs).collect()}
    bi = {r.doc_id: r.avg_neg_logp2 for r in lm_score_bigram(docs).collect()}
    # same bag of words → unigram scores are (near-)identical
    assert abs(uni[3] - uni[0]) < 1e-9
    # template transitions are corpus-frequent → low; novel order → high
    assert bi[0] == bi[1] == bi[2]
    assert bi[3] > bi[0]
    # every doc has len-1 bigrams
    n = {r.doc_id: r.n_bigrams for r in lm_score_bigram(docs).collect()}
    assert set(n.values()) == {8}


def test_scd2_history_intervals_tile(spark):
    """Per key: intervals must tile (each valid_to = next valid_from),
    exactly one open interval (is_current), and valid_from strictly
    before valid_to for closed rows."""
    from kafka_streams_homework_spark.operators.relational import scd2_history
    from tests.conftest import ts

    log = spark.createDataFrame(
        [
            (1, 10, ts(5, 0), 1.0),
            (1, 11, ts(6, 0), 2.0),
            (1, 12, ts(7, 0), 3.0),
            (2, 20, ts(5, 30), 9.0),
        ],
        "user_id long, event_id long, ts timestamp, value double",
    )
    rows = scd2_history(log, ["user_id"], "ts", "event_id", ["value"]).collect()
    by_key: dict = {}
    for r in rows:
        by_key.setdefault(r.user_id, []).append(r)
    assert {k: len(v) for k, v in by_key.items()} == {1: 3, 2: 1}
    for k, ivs in by_key.items():
        ivs.sort(key=lambda r: r.valid_from)
        assert sum(r.is_current for r in ivs) == 1 and ivs[-1].is_current
        for a, b in zip(ivs, ivs[1:]):
            assert a.valid_to == b.valid_from
            assert a.valid_from < a.valid_to


def test_quantile_hist_cascade_equals_binned_type1_quantile(spark, sf_dir):
    """The histogram-sketch cascade's daily estimate must equal
    floor(x_q) where x_q is the exact type-1 (lower) quantile — the
    bin containing the discrete quantile, exactly, by construction.
    (Against INTERPOLATED percentiles the gap between adjacent order
    statistics in a sparse tail is the error bound, not the bin
    width — which is why the invariant is pinned to type-1.)"""
    import math

    from pyspark.sql import functions as F

    from kafka_streams_homework_spark.queries import REGISTRY
    from kafka_streams_homework_spark.sources.batch import load_table

    est = {
        r.day: r
        for r in REGISTRY["quantile_rollup_hist"].fn(spark, sf_dir).collect()
    }
    per_day: dict = {}
    for r in (
        load_table(spark, sf_dir, "events")
        .select(F.date_trunc("day", "ts").alias("day"), "value")
        .collect()
    ):
        per_day.setdefault(r.day, []).append(r.value)
    assert set(est) == set(per_day) and est
    for day, vals in per_day.items():
        vals.sort()
        e = est[day]
        for q, got in [(0.50, e.p50_est), (0.95, e.p95_est), (0.99, e.p99_est)]:
            x_q = vals[math.ceil(q * len(vals)) - 1]
            assert got == math.floor(x_q), (day, q, got, x_q)


def test_funnel_steps_greedy_semantics(spark):
    """Pin the greedy-earliest contract: the user whose earliest view
    leads nowhere within the gap does NOT convert, even though a later
    view->click chain exists (the documented undercount); straight
    chains convert at each step."""
    import datetime as dt

    from kafka_streams_homework_spark.operators import relational as R

    t0 = dt.datetime(2024, 1, 1)
    m = lambda mins: t0 + dt.timedelta(minutes=mins)
    rows = [
        # user 1: clean chain view(0) -> click(10) -> purchase(20)
        (1, m(0), "view"), (1, m(10), "click"), (1, m(20), "purchase"),
        # user 2: earliest view at 0, but its only click is 2h later
        # (outside the 1h gap) even though view(90)->click(120) would
        # qualify under exists-any semantics — greedy says NO click
        (2, m(0), "view"), (2, m(90), "view"), (2, m(120), "click"),
        # user 3: view then click, purchase outside gap
        (3, m(0), "view"), (3, m(30), "click"), (3, m(300), "purchase"),
        # user 4: click with no view — never enters the funnel
        (4, m(0), "click"), (4, m(5), "purchase"),
    ]
    events = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_type string"
    )
    out = {r.step: r.n_users for r in R.funnel_steps(
        events, ["view", "click", "purchase"], gap="1 hours").collect()}
    assert out == {"view": 3, "click": 2, "purchase": 1}


def test_retention_cohorts_layout(spark):
    """Two cohorts, hand-checkable triangle: offsets count weeks since
    the signup week; users active before signup don't appear at
    negative offsets; n_active is distinct users."""
    import datetime as dt

    from kafka_streams_homework_spark.operators import relational as R

    w0 = dt.datetime(2024, 1, 1)  # a Monday
    d = lambda days: w0 + dt.timedelta(days=days)
    rows = [
        (1, d(0), "signup"), (1, d(2), "click"), (1, d(8), "view"),   # wk0, wk1
        (2, d(1), "signup"), (2, d(15), "click"),                      # wk0, wk2
        (3, d(7), "signup"), (3, d(9), "view"), (3, d(9), "click"),   # wk1 only
        (4, d(0), "view"),                                             # never signs up
    ]
    events = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_type string"
    )
    out = {(r.cohort.date().isoformat(), r.period_offset): r.n_active
           for r in R.retention_cohorts(events).collect()}
    assert out == {
        ("2024-01-01", 0): 2,  # users 1,2 active in signup week
        ("2024-01-01", 1): 1,  # user 1
        ("2024-01-01", 2): 1,  # user 2
        ("2024-01-08", 0): 1,  # user 3
    }


# ---------------------------------------------------------------------------
# Round-5 ops: normalized dedup, quality buckets, importance sampling,
# co-purchase pairs
# ---------------------------------------------------------------------------


def test_exact_dup_groups_normalized_collapses_case_punct_ws(spark):
    from kafka_streams_homework_spark.operators import dedup as D

    docs = spark.createDataFrame(
        [
            (1, "Hello, World!  How are you?"),
            (2, "hello world how are you"),      # same after normalization
            (3, "HELLO   WORLD\thow ARE you"),   # same after normalization
            (4, "entirely different content"),
        ],
        "doc_id long, text string",
    )
    groups = {r.keep_doc_id: r for r in D.exact_dup_groups_normalized(docs).collect()}
    assert set(groups) == {1, 4}
    assert groups[1].n_copies == 3
    # three distinct raw byte-forms collapsed — the catch raw hashing misses
    assert groups[1].n_distinct_raw == 3
    assert groups[4].n_copies == 1 and groups[4].n_distinct_raw == 1


def test_quality_buckets_tiles_and_ordering(spark, sf_dir):
    from kafka_streams_homework_spark.operators import text as T
    from kafka_streams_homework_spark.sources.batch import load_table

    docs = load_table(spark, sf_dir, "documents")
    out = T.quality_buckets(docs).collect()
    assert len(out) == docs.count()
    by_lang: dict[str, list] = {}
    for r in out:
        by_lang.setdefault(r.lang, []).append(r)
    for lang, rows in by_lang.items():
        # NTILE contract: bucket sizes differ by at most 1, first gets extra
        from collections import Counter

        c = Counter(r.tile for r in rows)
        sizes = [c.get(i, 0) for i in (1, 2, 3)]
        assert max(sizes) - min(s for s in sizes if s) <= 1, (lang, sizes)
        # every head-bucket doc outranks every tail-bucket doc
        heads = [r.quality for r in rows if r.bucket == "head"]
        tails = [r.quality for r in rows if r.bucket == "tail"]
        if heads and tails:
            assert min(heads) >= max(tails), lang
        assert all(
            r.bucket == {1: "head", 2: "middle", 3: "tail"}[r.tile] for r in rows
        )


def test_importance_sample_deterministic_and_consistent(spark, sf_dir):
    from kafka_streams_homework_spark.operators import text as T
    from kafka_streams_homework_spark.sources.batch import load_table

    docs = load_table(spark, sf_dir, "documents")
    a = {r.doc_id: r for r in T.importance_sample(docs).collect()}
    # repartitioning must not change a single coin flip
    b = {r.doc_id: r for r in T.importance_sample(docs.repartition(7)).collect()}
    assert len(a) == docs.count()
    for d, r in a.items():
        assert (r.u, r.weight, r.kept) == (b[d].u, b[d].weight, b[d].kept)
        assert r.kept == (r.u < r.weight) or abs(r.u - r.weight) < 1e-9
        assert 0.0 <= r.u < 1.0
    # the sample is genuinely weighted: some kept, some dropped
    kept = sum(1 for r in a.values() if r.kept)
    assert 0 < kept < len(a)


def test_copurchase_pairs_counts(spark):
    from kafka_streams_homework_spark import queries as Q
    import tempfile
    import os

    li = spark.createDataFrame(
        [
            # order 1: parts 10, 20, 30 -> pairs (10,20) (10,30) (20,30)
            (1, 10), (1, 20), (1, 30),
            # order 2: parts 10, 20 -> pair (10,20) again
            (2, 10), (2, 20),
            # order 3: part 40 alone -> no pair
            (3, 40),
        ],
        "l_orderkey long, l_partkey long",
    )
    with tempfile.TemporaryDirectory() as d:
        li.write.parquet(os.path.join(d, "lineitem.parquet"))
        out = {
            (r.part_a, r.part_b): r.n_pairs
            for r in Q.queries()["copurchase_topk"](spark, d).collect()
        }
    assert out == {(10, 20): 2, (10, 30): 1, (20, 30): 1}


def test_copurchase_pagerank_star_graph(spark):
    """Star graph (center part in every order, distinct leaves): the
    center accumulates rank strictly above every leaf; leaves tie by
    symmetry; total mass follows the 0.15/0.85 per-node form."""
    from kafka_streams_homework_spark import queries as Q
    import tempfile
    import os

    rows = []
    for i, leaf in enumerate([20, 30, 40, 50]):
        rows += [(i, 10), (i, leaf)]
    li = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    with tempfile.TemporaryDirectory() as d:
        li.write.parquet(os.path.join(d, "lineitem.parquet"))
        prs = {
            r.part: r.pagerank
            for r in Q.queries()["copurchase_pagerank"](spark, d).collect()
        }
    leaves = [prs[p] for p in (20, 30, 40, 50)]
    assert len(set(leaves)) == 1          # symmetric leaves tie exactly
    assert prs[10] > leaves[0] * 2        # hub dominates
    expected = 0.15 * 5 + 0.85 * 0.15 * 5 + 0.85**2 * 0.15 * 5 + 0.85**3 * 5
    # per-node output is rounded to 6dp → up to 5 × 0.5e-6 drift
    assert abs(sum(prs.values()) - expected) < 3e-6


def test_quality_buckets_scalable_agrees_with_ntile(spark, sf_dir):
    """The histogram-cut form matches the exact NTILE form except for
    documents whose 1/1000-wide quality bin straddles a tertile
    boundary: agreement must stay >=90% overall and per-lang head
    counts within the largest boundary-bin population."""
    from kafka_streams_homework_spark.operators import text as T
    from kafka_streams_homework_spark.sources.batch import load_table

    docs = load_table(spark, sf_dir, "documents")
    exact = {r.doc_id: r.bucket for r in T.quality_buckets(docs).collect()}
    fast = {r.doc_id: r.bucket for r in T.quality_buckets_scalable(docs).collect()}
    assert set(exact) == set(fast)
    agree = sum(1 for d in exact if exact[d] == fast[d])
    assert agree / len(exact) >= 0.9, agree / len(exact)
    # bucket totals stay near-thirds
    from collections import Counter

    c = Counter(fast.values())
    n = len(fast)
    for b in ("head", "middle", "tail"):
        assert abs(c[b] - n / 3) <= n * 0.15, (b, c)


def test_heavy_hitters_exact_and_partition_independent(spark):
    """MG summaries vary with arrival order; the thresholded exact
    recount must not: any key above n/(k+1) appears with its EXACT
    count under any partitioning, and nothing below the threshold
    leaks in."""
    from collections import Counter

    from kafka_streams_homework_spark.operators import sketches as SK

    # 3 hot keys + a long uniform tail; n = 3*500 + 1000 = 2500
    vals = [100] * 500 + [200] * 500 + [300] * 500 + list(range(1000))
    truth = Counter(vals)
    k = 16
    df = spark.createDataFrame([(v,) for v in vals], "k long")
    for parts in (1, 7, 32):
        out = {
            r.k: (r.cnt, r.n_total)
            for r in SK.heavy_hitters(df.repartition(parts), "k", k).collect()
        }
        expect = {
            v: (c, 2500) for v, c in truth.items() if c > 2500 / (k + 1)
        }
        assert out == expect, (parts, out)


# ---------------------------------------------------------------------------
# round-4 additions: resample_gapfill / triangle_count / classifier_score /
# embedding_outliers
# ---------------------------------------------------------------------------


def test_resample_gapfill_interpolates_interior_gaps(spark):
    df = spark.createDataFrame(
        [("a", ts(0), 10.0), ("a", ts(4), 50.0), ("a", ts(4, 30), 70.0)],
        "event_type string, ts timestamp, value double",
    )
    out = {
        r.bucket.minute: (r.value_filled, r.filled)
        for r in R.resample_gapfill(df).collect()
    }
    # grid is dense from min to max observed bucket; gap minutes 1-3
    # interpolate linearly between 10 (min 0) and avg(50,70)=60 (min 4)
    assert set(out) == {0, 1, 2, 3, 4}
    assert out[0] == (10.0, False)
    assert out[4] == (60.0, False)
    assert out[1] == (22.5, True)
    assert out[2] == (35.0, True)
    assert out[3] == (47.5, True)


def test_resample_gapfill_grid_is_per_key(spark):
    df = spark.createDataFrame(
        [("a", ts(0), 1.0), ("a", ts(2), 3.0), ("b", ts(10), 5.0)],
        "event_type string, ts timestamp, value double",
    )
    rows = R.resample_gapfill(df).collect()
    by_key = {}
    for r in rows:
        by_key.setdefault(r.event_type, []).append(r)
    # key b's grid is clamped to its own single observation — no rows
    # manufactured across the 10-minute distance to key a's range
    assert len(by_key["b"]) == 1 and by_key["b"][0].filled is False
    assert len(by_key["a"]) == 3


def test_triangle_count_matches_naive_enumeration(spark):
    from itertools import combinations

    from kafka_streams_homework_spark.operators.graph import triangle_count

    # K4 on 1-4 (4 triangles, 3 per node) plus a pendant edge
    edges = list(combinations(range(1, 5), 2)) + [(4, 9)]
    df = spark.createDataFrame(edges, "src long, dst long")
    out = {r.node: r.n_triangles for r in triangle_count(df).collect()}
    assert out == {1: 3, 2: 3, 3: 3, 4: 3}


def test_triangle_count_partitioning_independent(spark):
    from kafka_streams_homework_spark.operators.graph import triangle_count

    edges = [(1, 2), (2, 3), (1, 3), (3, 4), (1, 4), (5, 6)]
    a = spark.createDataFrame(edges, "src long, dst long")
    b = a.repartition(7)
    ra = sorted(map(tuple, triangle_count(a).collect()))
    rb = sorted(map(tuple, triangle_count(b).collect()))
    assert ra == rb == [(1, 2), (2, 1), (3, 2), (4, 1)]


def test_classifier_score_deterministic_and_bounded(spark):
    from kafka_streams_homework_spark.operators import text as T

    df = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, "lorem ipsum dolor"), (3, "x")],
        "doc_id long, text string",
    )
    r1 = {r.doc_id: r for r in T.classifier_score(df).collect()}
    r2 = {r.doc_id: r for r in T.classifier_score(df.repartition(5)).collect()}
    for d in (1, 2, 3):
        assert r1[d].clf_score == r2[d].clf_score
        assert 0.0 < r1[d].clf_score < 1.0
        assert r1[d].kept == (r1[d].clf_score >= 0.5)
    # unigrams + bigrams: 4 tokens -> 7 features; 1 token -> 1 feature
    assert r1[1].n_features == 7 and r1[3].n_features == 1


def test_embedding_outliers_flags_far_vector(spark):
    from kafka_streams_homework_spark.operators.similarity import (
        embedding_outliers,
    )

    rows = [
        (1, 0, [1.0, 0.0, 0.0]),
        (2, 0, [1.0, 0.1, 0.0]),
        (3, 0, [-1.0, 0.0, 0.0]),  # anti-aligned with its label centroid
        (4, 1, [0.0, 1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, label int, embedding array<float>")
    out = {r.vec_id: r for r in embedding_outliers(df, threshold=0.0).collect()}
    assert out[3].is_outlier and out[3].centroid_sim < 0
    assert not out[1].is_outlier and out[1].centroid_sim > 0.9
    # singleton label: vector IS the centroid
    assert out[4].centroid_sim == 1.0 and not out[4].is_outlier


def test_kmv_distinct_accuracy_and_partition_independence(spark):
    from kafka_streams_homework_spark.operators.sketches import kmv_distinct

    # 3000 distinct ids in one group, 40 in another (sub-k exact path)
    rows = [("big", i) for i in range(3000)] + [("small", i) for i in range(40)]
    rows *= 2  # duplicates must not change distinct estimates
    df = spark.createDataFrame(rows, "event_type string, user_id long")
    out = {r.event_type: r for r in kmv_distinct(df, k=64).collect()}
    # sub-k group: the sketch IS the distinct set — exact
    assert out["small"].n_sketch == 40 and out["small"].est_distinct == 40.0
    # estimator group: rsd ~ 1/sqrt(62) ~ 12.7%; allow 4x
    assert abs(out["big"].est_distinct - 3000) / 3000 < 0.51
    # deterministic under repartitioning (portable hashes, min-k merge)
    out7 = {r.event_type: r for r in kmv_distinct(df.repartition(7), k=64).collect()}
    assert {k: (v.n_sketch, v.est_distinct) for k, v in out.items()} == {
        k: (v.n_sketch, v.est_distinct) for k, v in out7.items()
    }


# ---------------------------------------------------------------------------
# round-5 additions: skyline_2d / activity_streaks / rolling_zscore /
# ewma_smooth / collocations_pmi / neighbor_jaccard
# ---------------------------------------------------------------------------


def test_skyline_2d_matches_naive_dominance(spark):
    pts = [(1.0, 9.0), (5.0, 5.0), (9.0, 1.0), (4.0, 4.0), (5.0, 5.0),
           (2.0, 8.0), (9.0, 1.0), (0.5, 0.5)]
    df = spark.createDataFrame(pts, "x double, y double")
    out = sorted((r.x, r.y) for r in R.skyline_2d(df, "x", "y").collect())
    distinct = set(pts)
    naive = sorted(
        p for p in distinct
        if not any(
            q[0] >= p[0] and q[1] >= p[1] and q != p for q in distinct
        )
    )
    assert out == naive == [(1.0, 9.0), (2.0, 8.0), (5.0, 5.0), (9.0, 1.0)]


def test_skyline_2d_partitioning_independent(spark):
    import random

    rnd = random.Random(7)
    pts = [(rnd.uniform(0, 100), rnd.uniform(0, 100)) for _ in range(500)]
    df = spark.createDataFrame(pts, "x double, y double")
    a = sorted(map(tuple, R.skyline_2d(df, "x", "y").collect()))
    b = sorted(map(tuple, R.skyline_2d(df.repartition(13), "x", "y").collect()))
    assert a == b and len(a) >= 1
    # every non-skyline point is dominated by some skyline point
    sky = set(a)
    for p in set(pts) - sky:
        assert any(q[0] >= p[0] and q[1] >= p[1] for q in sky)


def test_activity_streaks_islands_and_gaps(spark):
    d = dt.datetime
    rows = [
        (1, d(2024, 1, 1, 5)), (1, d(2024, 1, 2, 9)), (1, d(2024, 1, 2, 11)),
        (1, d(2024, 1, 3, 1)),                       # 3-day island
        (1, d(2024, 1, 7, 0)), (1, d(2024, 1, 8, 0)),  # 2-day island
        (1, d(2024, 1, 15, 0)),                      # singleton (dropped)
        (2, d(2024, 1, 1, 0)),                       # singleton (dropped)
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    out = sorted(
        (r.user_id, str(r.streak_start), str(r.streak_end), r.streak_days)
        for r in R.activity_streaks(df).collect()
    )
    assert out == [
        (1, "2024-01-01", "2024-01-03", 3),
        (1, "2024-01-07", "2024-01-08", 2),
    ]


def test_rolling_zscore_flags_spike_not_warmup(spark):
    rows = [("a", ts(i), i + 1, 10.0 + (i % 2)) for i in range(10)]
    rows.append(("a", ts(10), 11, 500.0))  # spike vs trailing window
    df = spark.createDataFrame(
        rows, "event_type string, ts timestamp, event_id long, value double"
    )
    out = {r.event_id: r for r in R.rolling_zscore(df).collect()}
    # warmup rows (< 5 priors) are unscored and never flagged
    for eid in (1, 2, 3, 4, 5):
        assert out[eid].zscore is None and not out[eid].is_anomaly
    assert out[11].is_anomaly and out[11].zscore > 3
    # the spike does not poison its own window (trailing frame): row 11
    # is scored against rows 1-10 only
    assert abs(out[10].zscore) < 3 and not out[10].is_anomaly


def test_rolling_zscore_constant_window_unscored(spark):
    rows = [("a", ts(i), i + 1, 7.0) for i in range(8)]
    df = spark.createDataFrame(
        rows, "event_type string, ts timestamp, event_id long, value double"
    )
    out = {r.event_id: r for r in R.rolling_zscore(df).collect()}
    # stddev 0 -> z undefined -> null, never a divide-by-zero flag
    assert all(r.zscore is None and not r.is_anomaly for r in out.values())


def test_ewma_smooth_known_values_and_head(spark):
    rows = [("a", ts(i), i + 1, v) for i, v in enumerate([10.0, 20.0, 40.0])]
    df = spark.createDataFrame(
        rows, "event_type string, ts timestamp, event_id long, value double"
    )
    out = {r.event_id: r.ewma for r in R.ewma_smooth(df, alpha=0.5).collect()}
    # head rows renormalize over the weights present
    assert out[1] == 10.0
    assert abs(out[2] - (20.0 + 0.5 * 10.0) / 1.5) < 1e-6
    assert abs(out[3] - (40.0 + 0.5 * 20.0 + 0.25 * 10.0) / 1.75) < 1e-6


def test_collocations_pmi_finds_planted_phrase(spark):
    import itertools

    filler = [
        " ".join(w)
        for w in itertools.islice(
            itertools.permutations(["aa", "bb", "cc", "dd", "ee"]), 40
        )
    ]
    docs = [(i, t + " zz qq") for i, t in enumerate(filler)]
    from kafka_streams_homework_spark.operators import text as T

    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = T.collocations_pmi(df, min_count=5, top_n=5).collect()
    # "zz qq" always co-occurs and each word appears only in that pair
    # -> highest PMI
    assert (out[0].w1, out[0].w2) == ("zz", "qq")
    assert out[0].c_ab == 40
    for r in out:
        assert r.pmi is not None


def test_neighbor_jaccard_exact_small_graph(spark):
    from kafka_streams_homework_spark.operators.graph import neighbor_jaccard

    # path 1-2-3 plus edge 1-3 (triangle) and pendant 3-4
    edges = [(1, 2), (2, 3), (1, 3), (3, 4)]
    df = spark.createDataFrame(edges, "src long, dst long")
    out = {(r.node_a, r.node_b): r for r in neighbor_jaccard(df).collect()}
    # N(1)={2,3}, N(2)={1,3}, N(3)={1,2,4}, N(4)={3}
    assert out[(1, 2)].n_common == 1  # common neighbor 3
    assert out[(1, 2)].jaccard == round(1 / 3, 6) and out[(1, 2)].is_edge
    assert out[(1, 4)].n_common == 1 and not out[(1, 4)].is_edge
    assert out[(1, 4)].jaccard == 0.5  # N(1)={2,3}, N(4)={3}
    assert (3, 4) not in out or out[(3, 4)].n_common >= 1


def test_js_divergence_bounds_and_disjoint(spark):
    from kafka_streams_homework_spark.operators import text as T

    docs = [
        (1, "aa bb aa bb", "s1"),
        (2, "aa bb", "s1"),
        (3, "aa bb aa bb", "s2"),   # identical distribution to s1
        (4, "aa bb", "s2"),
        (5, "xx yy zz", "s3"),      # fully disjoint vocabulary
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string, source string")
    out = {(r.source_a, r.source_b): r.js_div
           for r in T.js_divergence_sources(df).collect()}
    # identical distributions -> 0
    assert out[("s1", "s2")] == 0.0
    # disjoint vocabularies -> maximal JS = 1 bit... but the pair never
    # appears in the shared-token join; the closed form means absence
    # IS the answer only for pairs with >=1 shared token, so fully
    # disjoint pairs are absent from the output by design
    assert ("s1", "s3") not in out and ("s2", "s3") not in out


def test_js_divergence_known_value(spark):
    import math

    from kafka_streams_homework_spark.operators import text as T

    # P = {a: 1/2, b: 1/2}, Q = {a: 1/2, c: 1/2}: shared token a with
    # p=q=1/2 contributes 0; disjoint mass 1/2 each side -> JS = 1/2
    docs = [(1, "aa bb", "p"), (2, "aa cc", "q")]
    df = spark.createDataFrame(docs, "doc_id long, text string, source string")
    out = {(r.source_a, r.source_b): r.js_div
           for r in T.js_divergence_sources(df).collect()}
    assert abs(out[("p", "q")] - 0.5) < 1e-6
    # sanity: formula value via pure python
    js = 0.5 * (0.5 * math.log2(2 * 0.5 / 1.0)) * 2 + 0.5 * 0.5 + 0.5 * 0.5
    assert abs(js - 0.5) < 1e-12


def test_audio_chunks_exact_slicing_roundtrip(spark):
    from kafka_streams_homework_spark.operators import multimodal as M

    texts = [
        (1, "x" * 700),   # 2 full chunks + 188-byte tail (kept)
        (3, "y" * 300),   # 1 full + 44-byte tail (dropped: < 64)
        (5, "z" * 40),    # sub-minimum payload: no chunks
        (2, "w" * 700),   # even doc_id -> image, excluded
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    out = M.audio_chunks(M.to_media(df)).collect()
    by_doc: dict[int, list] = {}
    for r in sorted(out, key=lambda r: (r.doc_id, r.chunk_idx)):
        by_doc.setdefault(r.doc_id, []).append(r)
    assert set(by_doc) == {1, 3}
    assert [r.n_bytes for r in by_doc[1]] == [256, 256, 188]
    assert [r.n_bytes for r in by_doc[3]] == [256]
    # chunks reassemble the exact payload prefix
    assert b"".join(bytes(r.chunk) for r in by_doc[1]) == b"x" * 700
    assert b"".join(bytes(r.chunk) for r in by_doc[3]) == b"y" * 256


def test_partsupp_view_referential_invariants(spark, sf_dir):
    """The derived partsupp view (queries.PARTSUPP_CTE twin) must
    restore dbgen's invariants: every lineitem (partkey, suppkey) pair
    has exactly one partsupp row, every part has >= 4 suppliers, and
    the md5-coin attributes stay inside dbgen's domains."""
    from pyspark.sql import functions as F

    from kafka_streams_homework_spark.queries import _partsupp, _t

    ps = _partsupp(spark, sf_dir)
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("ps_partkey"),
        F.col("l_suppkey").alias("ps_suppkey"),
    ).distinct()
    # referential closure: lineitem pairs are a subset of partsupp keys
    assert li.join(ps, ["ps_partkey", "ps_suppkey"], "left_anti").count() == 0
    # keys are unique (exactly one row per pair)
    assert ps.count() == ps.select("ps_partkey", "ps_suppkey").distinct().count()
    # dbgen branch: at least 4 distinct suppliers per part
    min_supps = (
        ps.groupBy("ps_partkey")
        .agg(F.countDistinct("ps_suppkey").alias("n"))
        .agg(F.min("n").alias("m"))
        .collect()[0]["m"]
    )
    assert min_supps >= 4
    bounds = ps.agg(
        F.min("ps_availqty").alias("aq_lo"), F.max("ps_availqty").alias("aq_hi"),
        F.min("ps_supplycost").alias("sc_lo"), F.max("ps_supplycost").alias("sc_hi"),
    ).collect()[0]
    assert 1 <= bounds["aq_lo"] and bounds["aq_hi"] <= 9999
    assert 1.0 <= bounds["sc_lo"] and bounds["sc_hi"] <= 1000.0


def test_band_join_matches_bruteforce_including_boundaries(spark):
    """band_join candidates must cover every qualifying pair — exact
    band boundary (diff == band), bucket-edge pairs (same distance,
    different buckets), and no duplicates from the 3-probe explode."""
    from pyspark.sql import functions as F

    from kafka_streams_homework_spark.operators.relational import band_join

    vals = [0, 4, 5, 6, 9, 10, 11, 14, 15, 23, 100, 104, 105]
    rows = [(i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "id long, units long")
    a = df.select(F.col("id").alias("id_a"), F.col("units").alias("ua"))
    b = df.select(F.col("id").alias("id_b"), F.col("units").alias("ub"))
    got = {
        (r.id_a, r.id_b)
        for r in band_join(a, b, "ua", "ub", 5)
        .filter(F.col("id_b") > F.col("id_a"))
        .collect()
    }
    want = {
        (i, j)
        for i in range(len(vals))
        for j in range(i + 1, len(vals))
        if abs(vals[i] - vals[j]) <= 5
    }
    assert got == want
    # no duplicate pairs from the probe explode
    n = (
        band_join(a, b, "ua", "ub", 5)
        .filter(F.col("id_b") > F.col("id_a"))
        .count()
    )
    assert n == len(want)


def test_weighted_sample_matches_python_aes(spark, sf_dir):
    """The A-ES top-k must equal a pure-Python replay of the same
    md5-coin / ln(u)/w ordering over the same documents."""
    import hashlib
    import math

    from kafka_streams_homework_spark.queries import (
        WEIGHTED_SAMPLE_K,
        REGISTRY,
    )

    out = [r.doc_id for r in REGISTRY["weighted_sample"].fn(spark, sf_dir).collect()]
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "n_chars"
    ).collect()
    keyed = []
    for r in docs:
        if r.n_chars <= 0:
            continue
        h = int(hashlib.md5(f"{r.doc_id}ws".encode()).hexdigest()[:8], 16)
        keyed.append((math.log((h + 1) / 4294967296.0) / r.n_chars, -r.doc_id, r.doc_id))
    keyed.sort(reverse=True)
    want = [d for _, _, d in keyed[:WEIGHTED_SAMPLE_K]]
    assert sorted(out) == sorted(want)


def test_mad_outliers_flags_known_spike(spark):
    """Median 10, MAD 1 -> threshold ~14.45; 100 is flagged, 14 is not.
    Mean-based z-scores would be dragged by the spike; MAD is not."""
    import datetime as dtm

    from kafka_streams_homework_spark.queries import MAD_K, MAD_SCALE
    from pyspark.sql import functions as F

    base = dtm.datetime(2024, 1, 1)
    vals = [9.0, 9.5, 10.0, 10.5, 11.0, 14.0, 100.0]
    rows = [
        (i, base + dtm.timedelta(minutes=i), 1, "t", v, "{}")
        for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    med = df.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    mad = (
        df.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(
            F.min("med").alias("med"),
            F.expr("percentile(abs(value - med), 0.5)").alias("mad"),
        )
    )
    thr = F.col("med") + MAD_K * MAD_SCALE * F.col("mad") + F.lit(1e-9)
    flagged = [
        r.value
        for r in df.join(F.broadcast(mad), "event_type")
        .filter(F.col("value") > thr)
        .collect()
    ]
    assert flagged == [100.0]


def test_join_explosion_audit_predicts_actual_join_count(spark):
    """The audit's join_rows must equal the real join's output count,
    and unmatched tallies must match the anti-join sides."""
    from pyspark.sql import functions as F

    left = spark.createDataFrame(
        [(1,), (1,), (2,), (3,)], "k long"
    )
    right = spark.createDataFrame(
        [(1,), (1,), (1,), (3,), (4,), (4,)], "k long"
    )
    lo = left.groupBy("k").agg(F.count(F.lit(1)).alias("n_o"))
    ll = right.groupBy("k").agg(F.count(F.lit(1)).alias("n_l"))
    m = lo.join(ll, "k", "full_outer").select(
        F.coalesce("n_o", F.lit(0)).alias("n_o"),
        F.coalesce("n_l", F.lit(0)).alias("n_l"),
    )
    row = m.agg(
        F.sum(F.col("n_o") * F.col("n_l")).alias("join_rows"),
        F.sum(
            F.when((F.col("n_o") > 0) & (F.col("n_l") == 0), F.col("n_o"))
            .otherwise(0)
        ).alias("left_unmatched"),
        F.sum(
            F.when((F.col("n_l") > 0) & (F.col("n_o") == 0), F.col("n_l"))
            .otherwise(0)
        ).alias("right_unmatched"),
    ).collect()[0]
    assert row.join_rows == left.join(right, "k").count() == 7  # 2*3 + 1*1
    assert row.left_unmatched == 1   # k=2
    assert row.right_unmatched == 2  # k=4 twice


def test_gini_formula_known_distributions(spark):
    """Rank-weighted Gini: all-equal -> 0; a single holder of
    everything among n -> (n-1)/n."""
    from pyspark.sql import functions as F
    from pyspark.sql import Window

    def gini(vals):
        df = spark.createDataFrame(
            [(i, float(v)) for i, v in enumerate(vals)], "ck long, rev double"
        )
        wp = Window.partitionBy(F.lit(1))
        ranked = df.select(
            "rev",
            F.row_number().over(wp.orderBy("rev", "ck")).alias("i"),
            F.count(F.lit(1)).over(wp).alias("n"),
            F.sum("rev").over(wp).alias("tot"),
        )
        return ranked.agg(
            (
                2.0 * F.sum(F.col("i") * F.col("rev"))
                / (F.max("n") * F.max("tot"))
                - (F.max("n") + 1.0) / F.max("n")
            ).alias("g")
        ).collect()[0].g

    assert abs(gini([5, 5, 5, 5])) < 1e-12
    assert abs(gini([0, 0, 0, 100]) - 0.75) < 1e-12  # (n-1)/n, n=4


def test_cusum_flags_planted_level_shift(spark):
    """A series flat at 10 for 10 days then flat at 20 for 10 days:
    the standardized cumulative sum must cross ±3 after the shift and
    stay negative-cumulating before it never crossing -3 early."""
    import datetime as dtm

    from pyspark.sql import functions as F
    from pyspark.sql import Window

    base = dtm.datetime(2024, 3, 1)
    rows = [
        ("t", base + dtm.timedelta(days=d), 10.0 if d < 10 else 20.0)
        for d in range(20)
    ]
    daily = spark.createDataFrame(rows, "event_type string, day timestamp, v double")
    stats = daily.groupBy("event_type").agg(
        F.avg("v").alias("mu"), F.stddev_samp("v").alias("sigma")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = (
        daily.join(F.broadcast(stats), "event_type")
        .select(
            "day",
            F.round(
                F.sum((F.col("v") - F.col("mu")) / F.col("sigma")).over(w)
                + F.lit(1e-9),
                4,
            ).alias("cusum"),
        )
        .orderBy("day")
        .collect()
    )
    cusums = [r.cusum for r in out]
    # pre-shift: monotonically decreasing, min at day 9; crosses -3
    # only because the drift accumulates; post-shift climbs back to ~0
    assert min(cusums) == cusums[9]
    assert abs(cusums[-1]) < 1e-6
    assert any(abs(c) > 3 for c in cusums)


def test_winsorize_clamps_known_percentiles(spark):
    """x = 1..100 with one 1000 outlier: p99 clamps the outlier, the
    winsorized mean moves toward the bulk, n_clamped counts both tails."""
    from pyspark.sql import functions as F

    vals = [float(i) for i in range(1, 101)] + [1000.0]
    df = spark.createDataFrame([(v,) for v in vals], "value double")
    q = df.agg(
        F.expr("percentile(value, 0.01)").alias("lo"),
        F.expr("percentile(value, 0.99)").alias("hi"),
    ).collect()[0]
    clamped = [min(max(v, q.lo), q.hi) for v in vals]
    n_clamped = sum(1 for v in vals if v < q.lo or v > q.hi)
    got = (
        df.crossJoin(spark.createDataFrame([(q.lo, q.hi)], "lo double, hi double"))
        .agg(
            F.avg(
                F.when(F.col("value") < F.col("lo"), F.col("lo"))
                .when(F.col("value") > F.col("hi"), F.col("hi"))
                .otherwise(F.col("value"))
            ).alias("m"),
            F.sum(
                (
                    (F.col("value") < F.col("lo"))
                    | (F.col("value") > F.col("hi"))
                ).cast("int")
            ).alias("c"),
        )
        .collect()[0]
    )
    assert abs(got.m - sum(clamped) / len(clamped)) < 1e-9
    assert got.c == n_clamped
    assert got.m < sum(vals) / len(vals)  # outlier influence reduced


def test_duplicate_burst_flags_planted_double_fires(spark):
    """Planted at-least-once duplicates: same (user, type, value) 3 s
    apart is flagged; same pair 100 s apart or a different value 1 s
    apart is not."""
    import datetime as dtm

    from pyspark.sql import functions as F
    from pyspark.sql import Window

    base = dtm.datetime(2024, 1, 1)
    rows = [
        # double fire: same identity 3s apart
        (1, base, 1, "click", 5.0, "{}"),
        (2, base + dtm.timedelta(seconds=3), 1, "click", 5.0, "{}"),
        # same identity but 100s apart: not a double fire
        (3, base + dtm.timedelta(seconds=103), 1, "click", 5.0, "{}"),
        # different value 1s later: not a double fire
        (4, base + dtm.timedelta(seconds=104), 1, "click", 6.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string"
    )
    w = Window.partitionBy("user_id", "event_type", "value").orderBy(
        "ts", "event_id"
    )
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    out = (
        df.select("event_type", gap.alias("gap_s"))
        .groupBy("event_type")
        .agg(
            F.sum(
                F.when(
                    F.col("gap_s").isNotNull() & (F.col("gap_s") <= 5), 1
                ).otherwise(0)
            ).alias("n_double_fires"),
            F.min("gap_s").alias("min_gap"),
        )
        .collect()[0]
    )
    assert out.n_double_fires == 1
    assert out.min_gap == 3


def test_bloom_semi_join_equals_plain_semi_join(spark, sf_dir):
    from kafka_streams_homework_spark.operators import sketches as SK
    from kafka_streams_homework_spark.sources.batch import load_table

    li = load_table(spark, sf_dir, "lineitem")
    urgent = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    got = SK.bloom_semi_join(li, urgent, "l_orderkey", "o_orderkey")
    want = li.join(
        urgent.select("o_orderkey").distinct(),
        li["l_orderkey"] == F.col("o_orderkey"),
        "left_semi",
    )
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0


def test_bloom_filter_no_false_negatives_and_prunes(spark):
    from kafka_streams_homework_spark.operators import sketches as SK

    fact = spark.range(0, 20000).select(F.col("id").alias("k"))
    dim = spark.range(0, 20000, 100).select(F.col("id").alias("d"))
    out = SK.bloom_semi_join(fact, dim, "k", "d")
    # exact: every dim key present in fact must survive (no false
    # negatives — the Bloom guarantee), and nothing else
    assert sorted(r.k for r in out.collect()) == list(range(0, 20000, 100))


def test_incremental_agg_merge_equals_full_recompute(spark, sf_dir):
    from kafka_streams_homework_spark.queries import REGISTRY

    got = REGISTRY["incremental_agg"].fn(spark, sf_dir)
    from kafka_streams_homework_spark.sources.batch import load_table

    li = load_table(spark, sf_dir, "lineitem")
    want = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.round(
            F.sum(F.col("l_quantity").cast("decimal(18,4)")).cast("double"), 2
        ).alias("sum_qty"),
    )
    g = {(r.l_returnflag, r.l_linestatus): (r.n_rows, r.sum_qty)
         for r in got.collect()}
    w = {(r.l_returnflag, r.l_linestatus): (r.n_rows, r.sum_qty)
         for r in want.collect()}
    assert g == w


def test_linear_attribution_known_credits(spark):
    from kafka_streams_homework_spark.queries import REGISTRY
    import shutil
    import tempfile

    # user 1: view, click, purchase(12.0) -> view 6, click 6;
    # then another view, purchase(9.0) with 3 prior touches -> 3 each
    rows = [
        (1, 1, ts(1), "view", 0.0),
        (2, 1, ts(2), "click", 0.0),
        (3, 1, ts(3), "purchase", 12.0),
        (4, 1, ts(4), "view", 0.0),
        (5, 1, ts(5), "purchase", 9.0),
        # user 2: purchase with no prior touches -> unattributed
        (6, 2, ts(1), "purchase", 50.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, "
        "event_type string, value double"
    )
    d = tempfile.mkdtemp(prefix="attr_")
    try:
        df.write.mode("overwrite").parquet(f"{d}/events.parquet")
        out = {
            r.touch_type: (r.n_credits, r.credited)
            for r in REGISTRY["linear_attribution"].fn(spark, d).collect()
        }
    finally:
        shutil.rmtree(d, ignore_errors=True)
    # view: 6 + (3+3) = 12 over 3 credit rows; click: 6 + 3 = 9 over 2
    assert out == {"view": (3, 12.0), "click": (2, 9.0)}


def test_bootstrap_ci_brackets_mean_and_is_deterministic(spark, sf_dir):
    from kafka_streams_homework_spark.queries import REGISTRY

    a = REGISTRY["bootstrap_ci"].fn(spark, sf_dir)
    rows = {r.event_type: r for r in a.collect()}
    assert len(rows) == 5
    for r in rows.values():
        assert r.ci_lo < r.ci_hi
        # the 95% CI of the mean should bracket the full-sample mean
        assert r.ci_lo <= r.mean_value <= r.ci_hi
    again = {
        r.event_type: (r.ci_lo, r.ci_hi)
        for r in REGISTRY["bootstrap_ci"].fn(spark, sf_dir).collect()
    }
    assert again == {k: (v.ci_lo, v.ci_hi) for k, v in rows.items()}


def test_ks_test_known_distributions(spark):
    from kafka_streams_homework_spark.queries import REGISTRY
    import shutil
    import tempfile

    def run(rows):
        df = spark.createDataFrame(
            rows, "event_id long, user_id long, ts timestamp, "
            "event_type string, value double"
        )
        d = tempfile.mkdtemp(prefix="ks_")
        try:
            df.write.mode("overwrite").parquet(f"{d}/events.parquet")
            return REGISTRY["ks_test"].fn(spark, d).collect()[0]
        finally:
            shutil.rmtree(d, ignore_errors=True)

    # identical samples -> D = 0, never rejects
    same = [
        (i, 1, ts(i), t, float(v))
        for i, (t, v) in enumerate(
            [("purchase", 1), ("purchase", 2), ("purchase", 3),
             ("click", 1), ("click", 2), ("click", 3)]
        )
    ]
    r = run(same)
    assert (r.n1, r.n2, r.d_stat, r.reject_05) == (3, 3, 0.0, False)

    # disjoint supports -> D = 1 (max gap at the last purchase value)
    disjoint = [
        (i, 1, ts(i), t, float(v))
        for i, (t, v) in enumerate(
            [("purchase", 1), ("purchase", 2),
             ("click", 30), ("click", 40)]
        )
    ]
    r = run(disjoint)
    assert (r.d_stat, r.n1, r.n2) == (1.0, 2, 2)


def _write_events(spark, rows, tmpdir):
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, "
        "event_type string, value double"
    )
    df.write.mode("overwrite").parquet(f"{tmpdir}/events.parquet")


def test_welch_ttest_known_values(spark):
    from kafka_streams_homework_spark.queries import REGISTRY
    import shutil
    import tempfile

    # purchase [1,2,3,4]: mean 2.5, s^2 = 5/3; click [2,2,2,2]: s^2 = 0
    # -> mean_diff 0.5, se^2 = (5/3)/4, t = 0.5/sqrt(5/12),
    #    df = se2^2 / (a1^2/3) = 3.0 exactly when the other leg is 0
    rows = [
        (i, 1, ts(i), t, float(v))
        for i, (t, v) in enumerate(
            [("purchase", 1), ("purchase", 2), ("purchase", 3),
             ("purchase", 4), ("click", 2), ("click", 2),
             ("click", 2), ("click", 2)]
        )
    ]
    d = tempfile.mkdtemp(prefix="welch_")
    try:
        _write_events(spark, rows, d)
        r = REGISTRY["welch_ttest"].fn(spark, d).collect()[0]
    finally:
        shutil.rmtree(d, ignore_errors=True)
    assert (r.n1, r.n2, r.mean_diff) == (4, 4, 0.5)
    assert abs(r.t_stat - 0.5 / (5.0 / 12.0) ** 0.5) < 1e-5
    assert r.df_welch == 3.0


def test_mann_whitney_known_values(spark):
    from kafka_streams_homework_spark.queries import REGISTRY
    import shutil
    import tempfile

    def run(vals):
        rows = [
            (i, 1, ts(i), t, float(v)) for i, (t, v) in enumerate(vals)
        ]
        d = tempfile.mkdtemp(prefix="mwu_")
        try:
            _write_events(spark, rows, d)
            return REGISTRY["mann_whitney_u"].fn(spark, d).collect()[0]
        finally:
            shutil.rmtree(d, ignore_errors=True)

    # disjoint: purchase {1,2} below click {3,4} -> U = 0,
    # z = (0 - 2)/sqrt(4/12 * 5) = -1.549193
    r = run([("purchase", 1), ("purchase", 2), ("click", 3), ("click", 4)])
    assert (r.u_stat, r.z_stat) == (0.0, -1.549193)

    # symmetric with ties: purchase {1,2} vs click {1,2} -> midranks
    # make R1 = 5, U = n1*n2/2 = 2, z = 0
    r = run([("purchase", 1), ("purchase", 2), ("click", 1), ("click", 2)])
    assert (r.u_stat, r.z_stat) == (2.0, 0.0)


def test_seasonality_profile_known_days(spark):
    from kafka_streams_homework_spark.queries import REGISTRY
    import datetime as dtm
    import shutil
    import tempfile

    mon = dtm.datetime(2024, 1, 1, 10, 0)   # a Monday
    tue = dtm.datetime(2024, 1, 2, 10, 0)
    rows = [
        (1, 1, mon, "view", 1.0),
        (2, 1, mon, "view", 3.0),
        (3, 1, tue, "view", 5.0),
    ]
    d = tempfile.mkdtemp(prefix="season_")
    try:
        _write_events(spark, rows, d)
        out = {
            r.dow: r
            for r in REGISTRY["seasonality_profile"].fn(spark, d).collect()
        }
    finally:
        shutil.rmtree(d, ignore_errors=True)
    assert set(out) == {"Monday", "Tuesday"}
    m, t = out["Monday"], out["Tuesday"]
    assert (m.n, m.seasonal_mean, m.mean_abs_resid) == (2, 2.0, 1.0)
    assert abs(m.seasonal_index - 0.666667) < 1e-6
    assert (t.n, t.seasonal_mean, t.mean_abs_resid) == (1, 5.0, 0.0)
    assert abs(t.seasonal_index - 1.666667) < 1e-6


def test_wav_pipeline_real_riff_roundtrip(spark, sf_dir):
    from kafka_streams_homework_spark.operators import multimodal as M
    from kafka_streams_homework_spark.sources.batch import load_table
    import io
    import wave as wavmod

    docs = load_table(spark, sf_dir, "documents").limit(8)
    media = M.synth_wav(docs).collect()
    # genuine RIFF containers: stdlib reader accepts them and the
    # header fields match the synth parameters
    for row in media:
        b = bytes(row.payload)
        assert b[:4] == b"RIFF" and b[8:12] == b"WAVE"
        w = wavmod.open(io.BytesIO(b))
        assert w.getnchannels() == 1
        assert w.getframerate() == M.WAV_SR
        assert w.getnframes() == 8 * (1 + row.doc_id % 50)
    # decoded features: peak equals the synth amplitude exactly
    # (the sine peaks on-sample at 8 samples/period)
    feats = {r.doc_id: r for r in M.wav_decode(M.synth_wav(docs)).collect()}
    for doc_id, r in feats.items():
        amp = 1000 + (doc_id % 20) * 1000
        assert r.peak == amp
        assert abs(r.rms - amp / 2 ** 0.5) / amp < 1e-3  # quantization


def test_wav_decode_rejects_corrupt_container(spark):
    from kafka_streams_homework_spark.operators import multimodal as M
    import pytest
    from pyspark.errors import PythonException

    bad = spark.createDataFrame(
        [(1, bytearray(b"not a riff file at all"))],
        "doc_id long, payload binary",
    )
    with pytest.raises(PythonException):
        M.wav_decode(bad).collect()


def test_png_pipeline_real_codec_roundtrip(spark, sf_dir):
    from kafka_streams_homework_spark.operators import multimodal as M
    from kafka_streams_homework_spark.sources.batch import load_table

    docs = load_table(spark, sf_dir, "documents").limit(8)
    media = M.synth_png(docs).collect()
    # genuine PNG containers: signature, CRC-verified chunk walk, and
    # the decoded bitmap matches the closed-form pixel function
    for row in media:
        b = bytes(row.payload)
        assert b[:8] == M._PNG_SIG
        w, h, depth, ctype, px = M.decode_png_gray8(b)
        d = int(row.doc_id)
        assert (w, h, depth, ctype) == (16 + d % 16, 16 + d % 8, 8, 0)
        assert px == [
            [(7 * x + 13 * y + d) % 256 for x in range(w)]
            for y in range(h)
        ]
    feats = {r.doc_id: r for r in M.png_decode(M.synth_png(docs)).collect()}
    for doc_id, r in feats.items():
        d = int(doc_id)
        w, h = 16 + d % 16, 16 + d % 8
        total = sum(
            (7 * x + 13 * y + d) % 256 for x in range(w) for y in range(h)
        )
        assert (r.width, r.height) == (w, h)
        assert r.mean_pixel == total / (w * h)


def test_png_decode_rejects_corrupt_chunk_crc(spark):
    from kafka_streams_homework_spark.operators import multimodal as M
    import pytest

    # flip one byte inside the IDAT payload: the CRC walk must reject
    good = bytearray(M.encode_png_gray8([[1, 2], [3, 4]]))
    good[-20] ^= 0xFF
    with pytest.raises(ValueError, match="CRC mismatch|bad scanline"):
        M.decode_png_gray8(bytes(good))
    with pytest.raises(ValueError, match="bad signature"):
        M.decode_png_gray8(b"not a png")


def test_simhash_md5_matches_bruteforce(spark):
    """dedup_simhash_exact's banded join ≡ brute-force O(n²) over the
    same md5 32-bit signatures (pigeonhole completeness + verify)."""
    import hashlib
    from kafka_streams_homework_spark.operators import dedup as D

    base = "the quick brown fox jumps over the lazy dog again and again"
    docs = []
    for i in range(12):
        words = base.split()
        if i % 3 == 1:
            words[5] = f"w{i}"          # near-dup of the i-1 doc
        elif i % 3 == 2:
            words = [f"u{i}x{j}" for j in range(12)]  # unrelated
        docs.append((i, " ".join(words)))

    def sig(text):
        toks = text.lower().split(" ")
        sh = {" ".join(toks[j : j + 3]) for j in range(len(toks) - 2)}
        votes = [0] * 32
        for s in sh:
            h = int(hashlib.md5(s.encode()).hexdigest()[:8], 16)
            for b in range(32):
                votes[b] += 1 if (h >> b) & 1 else -1
        return sum(1 << b for b in range(32) if votes[b] > 0)

    sigs = {i: sig(t) for i, t in docs}
    expected = {
        (a, b, bin(sigs[a] ^ sigs[b]).count("1"))
        for a in sigs
        for b in sigs
        if a < b and bin(sigs[a] ^ sigs[b]).count("1") <= 3
    }
    assert expected, "planted near-dups must produce pairs"

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in D.simhash_pairs_md5(df, 3, 3).collect()
    }
    assert got == expected


def test_minhash_md5_matches_bruteforce(spark):
    """dedup_minhash_exact's banded LSH ≡ brute-force replay of the
    same md5 signature/banding/verify pipeline in plain Python."""
    import hashlib
    from kafka_streams_homework_spark.operators import dedup as D

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = []
    for i in range(10):
        words = base.split()
        if i % 2 == 1:
            words[-1] = f"tail{i}"      # near-dup of doc i-1
        words.append(f"doc{i // 2}")    # pairs share all but one token
        docs.append((i, " ".join(words)))

    def h(seed, s):
        return int(hashlib.md5(f"{seed}:{s}".encode()).hexdigest()[:8], 16)

    def shingle_set(text):
        toks = text.lower().split(" ")
        return {" ".join(toks[j : j + 3]) for j in range(len(toks) - 2)}

    sh = {i: shingle_set(t) for i, t in docs}
    sig = {
        i: [min(h(k, s) for s in ss) for k in range(16)]
        for i, ss in sh.items()
    }
    buckets = {}
    for i, m in sig.items():
        for b in range(4):
            key = (b, hashlib.md5(
                ",".join(str(v) for v in m[4 * b : 4 * b + 4]).encode()
            ).hexdigest())
            buckets.setdefault(key, []).append(i)
    cand = {
        (a, b)
        for ids in buckets.values()
        for a in ids
        for b in ids
        if a < b
    }
    expected = set()
    for a, b in cand:
        inter = len(sh[a] & sh[b])
        jac = round(inter / (len(sh[a]) + len(sh[b]) - inter) + 1e-9, 6)
        if jac >= 0.8:
            expected.add((a, b, jac))
    assert expected, "planted near-dups must produce pairs"

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in D.minhash_lsh_pairs_md5(df, 3, 16, 4, 0.8).collect()
    }
    assert got == expected


def test_embedding_lsh_md5_matches_bruteforce(spark):
    """cosine_pairs_lsh_md5 and cosine_pairs_lsh ≡ plain-Python replay
    of the sign-LSH pipeline (planes, bits, 4-bit band buckets, cosine
    verify) on a small synthetic set: md5 planes with the 1e-9 rounding
    nudge, and seed-42 Gaussian planes without it."""
    import math
    from kafka_streams_homework_spark.operators import similarity as S

    dim, bands, bits = 8, 4, 4
    vecs = []
    for i in range(12):
        base = [math.sin(0.7 * i + 0.3 * d) for d in range(dim)]
        if i % 3 == 1:   # near-dup of i-1 with a small perturbation
            base = [x + 0.01 * ((d % 2) * 2 - 1) for d, x in
                    enumerate([math.sin(0.7 * (i - 1) + 0.3 * d)
                               for d in range(dim)])]
        vecs.append((i, [float(x) for x in base]))

    def cos(u, v):
        dot = sum(a * b for a, b in zip(u, v))
        return dot / (math.sqrt(sum(a * a for a in u))
                      * math.sqrt(sum(b * b for b in v)))

    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    for op, planes, nudge in (
        (S.cosine_pairs_lsh_md5, S.md5_hyperplanes(dim, bands * bits), 1e-9),
        (S.cosine_pairs_lsh, S.random_hyperplanes(dim, bands * bits, 42), 0.0),
    ):
        def sig(v):
            return [1 if sum(a * b for a, b in zip(v, h)) >= 0 else 0
                    for h in planes]

        sigs = {i: sig(v) for i, v in vecs}
        buckets = {}
        for i, s in sigs.items():
            for b in range(bands):
                key = (b, sum(s[b * bits + r] << (bits - 1 - r)
                              for r in range(bits)))
                buckets.setdefault(key, []).append(i)
        cand = {(a, b) for ids in buckets.values()
                for a in ids for b in ids if a < b}
        vd = dict(vecs)
        expected = {
            (a, b, round(cos(vd[a], vd[b]) + nudge, 6))
            for a, b in cand
            if round(cos(vd[a], vd[b]) + nudge, 6) >= 0.9
        }
        assert expected, "planted near-dups must produce pairs"

        got = {
            (r.id_a, r.id_b, r.sim)
            for r in op(df, 0.9, bands, bits).collect()
        }
        assert got == expected, op.__name__


def test_survival_km_known_values(spark):
    """Hand-computed KM: 5 users, deaths at t=0 (1) and t=2 (2), two
    censored at the 48 h window -> S(0)=4/5, S(2)=0.8*(1-2/4)=0.4."""
    from kafka_streams_homework_spark.queries import REGISTRY
    import datetime as dtm
    import shutil
    import tempfile

    t0 = dtm.datetime(2024, 1, 1, 10, 0)

    def at(h, m=0):
        return t0 + dtm.timedelta(hours=h, minutes=m)

    rows = [
        (1, 1, t0, "purchase", 1.0),             # died t=0
        (2, 2, t0, "view", 1.0),
        (3, 2, at(2, 30), "purchase", 1.0),      # died t=2
        (4, 3, t0, "view", 1.0),
        (5, 3, at(100), "purchase", 1.0),        # censored (h>48)
        (6, 4, t0, "view", 1.0),                 # censored (no purchase)
        (7, 5, t0, "view", 1.0),
        (8, 5, at(2), "purchase", 1.0),          # died t=2
    ]
    d = tempfile.mkdtemp(prefix="km_")
    try:
        _write_events(spark, rows, d)
        out = {r.t_hours: r for r in REGISTRY["survival_km"].fn(spark, d).collect()}
    finally:
        shutil.rmtree(d, ignore_errors=True)
    assert set(out) == {0, 2}
    assert (out[0].n_at_risk, out[0].deaths) == (5, 1)
    assert abs(out[0].survival - 0.8) < 1e-6
    assert (out[2].n_at_risk, out[2].deaths) == (4, 2)
    assert abs(out[2].survival - 0.4) < 1e-6


def test_lang_id_auc_known_values(spark):
    """Hand-computed tie-corrected AUC: scores pos={0.5,0.25},
    neg={0.25,0}; ranks 4,{2.5 tie},1 -> AUC=(6.5-3)/4=0.875."""
    from kafka_streams_homework_spark.queries import REGISTRY
    import shutil
    import tempfile

    rows = [
        (1, "the a x y", "en", "s", 9),
        (2, "the x y z", "en", "s", 9),
        (3, "the x y z", "de", "s", 9),
        (4, "x y z w", "fr", "s", 7),
    ]
    d = tempfile.mkdtemp(prefix="auc_")
    try:
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string, "
            "source string, n_chars long"
        ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
        (r,) = REGISTRY["lang_id_auc"].fn(spark, d).collect()
    finally:
        shutil.rmtree(d, ignore_errors=True)
    assert (r.n_pos, r.n_neg) == (2, 2)
    assert abs(r.auc - 0.875) < 1e-6


def test_score_calibration_known_values(spark):
    """Same 4-doc fixture as the AUC test: buckets 5/2/0 with
    hand-computed mean, rate and Brier (e.g. bucket 2 holds one en and
    one de doc at s=0.25 -> brier=((0.75)^2+(0.25)^2)/2=0.3125)."""
    from kafka_streams_homework_spark.queries import REGISTRY
    import shutil
    import tempfile

    rows = [
        (1, "the a x y", "en", "s", 9),
        (2, "the x y z", "en", "s", 9),
        (3, "the x y z", "de", "s", 9),
        (4, "x y z w", "fr", "s", 7),
    ]
    d = tempfile.mkdtemp(prefix="calib_")
    try:
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string, "
            "source string, n_chars long"
        ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
        out = {
            r.bucket: r
            for r in REGISTRY["score_calibration"].fn(spark, d).collect()
        }
    finally:
        shutil.rmtree(d, ignore_errors=True)
    assert set(out) == {0, 2, 5}
    b5, b2, b0 = out[5], out[2], out[0]
    assert (b5.n, b5.n_pos, b5.mean_score, b5.pos_rate, b5.brier) == (
        1, 1, 0.5, 1.0, 0.25)
    assert (b2.n, b2.n_pos, b2.mean_score, b2.pos_rate, b2.brier) == (
        2, 1, 0.25, 0.5, 0.3125)
    assert (b0.n, b0.n_pos, b0.pos_rate, b0.brier) == (1, 0, 0.0, 0.0)


def test_entity_resolution_known_clusters(spark):
    """Planted linkage: {alpha,alphb} and {gamma,gamna} merge (lev 1),
    beta and omega stay singletons; canonical = lexicographic min."""
    from kafka_streams_homework_spark.queries import REGISTRY
    import shutil
    import tempfile

    d = tempfile.mkdtemp(prefix="er_")
    try:
        spark.createDataFrame(
            [(1, "alpha"), (2, "alphb"), (3, "beta")],
            "c_custkey long, c_name string",
        ).write.mode("overwrite").parquet(f"{d}/customer.parquet")
        spark.createDataFrame(
            [("gamma",), ("gamna",), ("omega",)], "p_name string"
        ).write.mode("overwrite").parquet(f"{d}/part.parquet")
        out = {
            r.name: r for r in REGISTRY["entity_resolution"].fn(spark, d).collect()
        }
    finally:
        shutil.rmtree(d, ignore_errors=True)
    assert len(out) == 6
    assert out["alpha"].entity_id == "alpha" and out["alpha"].is_canonical
    assert out["alphb"].entity_id == "alpha" and not out["alphb"].is_canonical
    assert out["gamna"].entity_id == "gamma"
    assert out["beta"].entity_id == "beta" and out["beta"].entity_size == 1
    assert {out[n].entity_size for n in ("alpha", "alphb", "gamma", "gamna")} == {2}


def test_holt_forecast_known_values(spark):
    """Hand-computed Holt (alpha=beta=0.5) on y=[2,4,8]:
    (l,b) = (2,2) -> (4,2) -> (7,2.5); forecast_next ends at 9.5."""
    from kafka_streams_homework_spark.queries import REGISTRY
    import datetime as dtm
    import shutil
    import tempfile

    t0 = dtm.datetime(2024, 3, 1, 12, 0)
    rows = [
        (1, 1, t0, "view", 2.0),
        (2, 1, t0 + dtm.timedelta(days=1), "view", 4.0),
        (3, 1, t0 + dtm.timedelta(days=2), "view", 8.0),
        (4, 1, t0, "click", 1.0),  # 1-point series: dropped (no trend)
    ]
    d = tempfile.mkdtemp(prefix="holt_")
    try:
        _write_events(spark, rows, d)
        out = sorted(
            REGISTRY["holt_forecast"].fn(spark, d).collect(),
            key=lambda r: r.day,
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)
    assert [r.event_type for r in out] == ["view"] * 3
    assert [(r.level, r.trend, r.forecast_next) for r in out] == [
        (2.0, 2.0, 4.0),
        (4.0, 2.0, 6.0),
        (7.0, 2.5, 9.5),
    ]


def test_quantile_normalize_distributions_identical(spark, sf_dir):
    """The defining QN property: after normalization every source has
    the IDENTICAL value multiset (the cross-source reference)."""
    from kafka_streams_homework_spark.queries import REGISTRY

    rows = REGISTRY["quantile_normalize"].fn(spark, sf_dir).collect()
    by_source = {}
    for r in rows:
        by_source.setdefault(r.source, []).append(r.normalized)
    dists = {tuple(sorted(v)) for v in by_source.values()}
    assert len(dists) == 1
    # rank-preserving within source: order by n_chars implies order
    # by normalized
    for src in by_source:
        sr = sorted(
            (r for r in rows if r.source == src),
            key=lambda r: (r.n_chars, r.doc_id),
        )
        assert [r.normalized for r in sr] == sorted(by_source[src])


def test_theil_sen_ignores_outlier(spark):
    """y = x - 1 with one wild outlier at x=2: pairwise slopes sort to
    [-8,-3.5,1,1,1,10] -> lower median 1; residuals [-1,8,-1,-1] ->
    intercept -1. OLS would be dragged; Theil-Sen recovers the line."""
    from kafka_streams_homework_spark.queries import REGISTRY
    import datetime as dtm
    import shutil
    import tempfile

    t0 = dtm.datetime(2024, 5, 1, 9, 0)
    ys = [0.0, 10.0, 2.0, 3.0]
    rows = [
        (i + 1, 1, t0 + dtm.timedelta(days=i), "view", y)
        for i, y in enumerate(ys)
    ]
    d = tempfile.mkdtemp(prefix="ts_")
    try:
        _write_events(spark, rows, d)
        (r,) = REGISTRY["theil_sen_trend"].fn(spark, d).collect()
    finally:
        shutil.rmtree(d, ignore_errors=True)
    assert r.event_type == "view"
    assert (r.slope, r.intercept, r.n_pairs) == (1.0, -1.0, 6)


def test_mann_kendall_known_values(spark):
    """Monotone series y=[1,2,3,4] with one tie pair [5,5,6,7]:
    view: S = 6 (all concordant), var = 4*3*13/18 = 8.6667,
    z = 5/sqrt(8.6667); click: tie t=2 -> var = (156 - 18)/18 = 7.6667,
    S = 5, z = 4/sqrt(7.6667)."""
    from kafka_streams_homework_spark.queries import REGISTRY
    import datetime as dtm
    import math
    import shutil
    import tempfile

    t0 = dtm.datetime(2024, 6, 1, 8, 0)
    rows = []
    for i, y in enumerate([1.0, 2.0, 3.0, 4.0]):
        rows.append((i + 1, 1, t0 + dtm.timedelta(days=i), "view", y))
    for i, y in enumerate([5.0, 5.0, 6.0, 7.0]):
        rows.append((10 + i, 1, t0 + dtm.timedelta(days=i), "click", y))
    d = tempfile.mkdtemp(prefix="mk_")
    try:
        _write_events(spark, rows, d)
        out = {
            r.event_type: r
            for r in REGISTRY["mann_kendall_trend"].fn(spark, d).collect()
        }
    finally:
        shutil.rmtree(d, ignore_errors=True)
    v, c = out["view"], out["click"]
    assert (v.n_days, v.s_statistic) == (4, 6)
    assert abs(v.var_s - 156 / 18) < 1e-6
    assert abs(v.z - 5 / math.sqrt(156 / 18)) < 1e-6
    assert (c.n_days, c.s_statistic) == (4, 5)
    assert abs(c.var_s - 138 / 18) < 1e-6
    assert abs(c.z - 4 / math.sqrt(138 / 18)) < 1e-6


def test_cuped_adjustment_matches_python_replay(spark):
    """Planted 6-user experiment (one event per period -> x,y exact):
    Python replays the pooled-theta CUPED formulas with the same md5
    assignment coins; results must agree to rounding tolerance."""
    from kafka_streams_homework_spark.queries import REGISTRY
    import datetime as dtm
    import hashlib
    import math
    import shutil
    import tempfile

    t0 = dtm.datetime(2024, 7, 1, 0, 0)
    xy = {1: (10.0, 12.0), 2: (20.0, 19.0), 3: (30.0, 33.0),
          4: (15.0, 14.0), 5: (25.0, 27.0), 6: (35.0, 33.0)}
    rows, eid = [], 0
    for uid, (x, y) in xy.items():
        eid += 1
        rows.append((eid, uid, t0 + dtm.timedelta(days=2), "view", x))
        eid += 1
        rows.append((eid, uid, t0 + dtm.timedelta(days=20), "view", y))
    coin = {
        uid: int(hashlib.md5(str(uid).encode()).hexdigest()[:8], 16) % 2
        for uid in xy
    }
    assert len(set(coin.values())) == 2  # both arms populated

    n = len(xy)
    nt = sum(coin.values())
    sx = sum(x for x, _ in xy.values()); sy = sum(y for _, y in xy.values())
    sxx = sum(x * x for x, _ in xy.values())
    sxy = sum(x * y for x, y in xy.values())
    syy = sum(y * y for _, y in xy.values())
    sxt = sum(x for u, (x, _) in xy.items() if coin[u])
    syt = sum(y for u, (_, y) in xy.items() if coin[u])
    theta = (sxy - sx * sy / n) / (sxx - sx * sx / n)
    dy = syt / nt - (sy - syt) / (n - nt)
    dx = sxt / nt - (sx - sxt) / (n - nt)
    corr = (sxy - sx * sy / n) / math.sqrt(
        (sxx - sx * sx / n) * (syy - sy * sy / n))

    d = tempfile.mkdtemp(prefix="cuped_")
    try:
        _write_events(spark, rows, d)
        (r,) = REGISTRY["cuped_adjustment"].fn(spark, d).collect()
    finally:
        shutil.rmtree(d, ignore_errors=True)
    assert (r.n_treat, r.n_control) == (nt, n - nt)
    assert abs(r.diff_raw - dy) < 2e-6
    assert abs(r.theta - theta) < 2e-6
    assert abs(r.diff_cuped - (dy - theta * dx)) < 2e-6
    assert abs(r.corr_xy - corr) < 2e-6


def test_spearman_corr_matches_pandas_rank_replay(spark):
    """Planted (qty, price) rows with ties in both columns: pandas
    average-rank + Pearson-on-ranks is the textbook Spearman; the
    engine's distinct-first midrank formulation must agree exactly."""
    from kafka_streams_homework_spark import queries as Q
    import os
    import tempfile

    import pandas as pd

    rows = [(1.0, 10.0), (1.0, 20.0), (2.0, 15.0), (3.0, 30.0),
            (3.0, 5.0), (2.0, 15.0), (4.0, 40.0)]
    pdf = pd.DataFrame(rows, columns=["x", "y"])
    rho = pdf["x"].rank(method="average").corr(
        pdf["y"].rank(method="average"))
    pear = pdf["x"].corr(pdf["y"])
    li = spark.createDataFrame(
        rows, "l_quantity double, l_extendedprice double")
    with tempfile.TemporaryDirectory() as d:
        li.write.parquet(os.path.join(d, "lineitem.parquet"))
        (r,) = Q.queries()["spearman_corr"](spark, d).collect()
    assert r.n == len(rows)
    assert abs(r.rho_spearman - rho) < 2e-6
    assert abs(r.corr_pearson - pear) < 2e-6


def test_acf_lags_linear_series_replay(spark):
    """One event per day with value = day index: the daily series is
    1..10 and each lag's autocorrelation has the closed textbook form
    sum((t-m)(t+k-m))/sum((t-m)^2) — replayed in Python."""
    from kafka_streams_homework_spark.queries import REGISTRY
    import datetime as dtm
    import shutil
    import tempfile

    t0 = dtm.datetime(2024, 7, 1, 0, 0)
    n = 10
    rows = [
        (i, 1, t0 + dtm.timedelta(days=i), "view", float(i + 1))
        for i in range(n)
    ]
    ys = [float(i + 1) for i in range(n)]
    m = sum(ys) / n
    denom = sum((y - m) ** 2 for y in ys)
    d = tempfile.mkdtemp(prefix="acf_")
    try:
        _write_events(spark, rows, d)
        out = {r.lag: r for r in REGISTRY["acf_lags"].fn(spark, d).collect()}
    finally:
        shutil.rmtree(d, ignore_errors=True)
    assert set(out) == set(range(1, 8))
    for k in range(1, 8):
        expect = sum(
            (ys[t] - m) * (ys[t + k] - m) for t in range(n - k)
        ) / denom
        assert out[k].n_terms == n - k
        assert abs(out[k].acf - expect) < 2e-6


def test_psi_drift_shift_vs_stable(spark):
    """'shift' type moves all mass bin0 -> bin1 across the period cut
    (high PSI, flagged); 'stable' type keeps the identical histogram
    (PSI exactly 0 after smoothing, not flagged)."""
    from kafka_streams_homework_spark.queries import REGISTRY
    import datetime as dtm
    import math
    import shutil
    import tempfile

    t0 = dtm.datetime(2024, 7, 1, 0, 0)
    pre, post = t0 + dtm.timedelta(days=2), t0 + dtm.timedelta(days=20)
    rows, eid = [], 0
    for _ in range(4):
        eid += 1; rows.append((eid, 1, pre, "shift", 5.0))
        eid += 1; rows.append((eid, 1, post, "shift", 25.0))
        eid += 1; rows.append((eid, 1, pre, "stable", 5.0))
        eid += 1; rows.append((eid, 1, post, "stable", 5.0))
    d = tempfile.mkdtemp(prefix="psi_")
    try:
        _write_events(spark, rows, d)
        out = {
            r.event_type: r
            for r in REGISTRY["psi_drift"].fn(spark, d).collect()
        }
    finally:
        shutil.rmtree(d, ignore_errors=True)
    st, sh = out["stable"], out["shift"]
    assert (st.n_pre, st.n_post, st.n_bins) == (4, 4, 1)
    assert st.psi == 0.0 and not st.drifted
    assert (sh.n_pre, sh.n_post, sh.n_bins) == (4, 4, 2)
    # replay the smoothed two-bin PSI: p = (4.5/5, 0.5/5) vs mirrored q
    p0, p1 = 4.5 / 5, 0.5 / 5
    expect = (p0 - p1) * math.log(p0 / p1) + (p1 - p0) * math.log(p1 / p0)
    assert abs(sh.psi - expect) < 2e-6
    assert sh.drifted


def test_cohort_ltv_two_week_curve(spark):
    """Two users signing up the same (Monday-aligned) week; purchases
    land in offsets 0 and 1 -> the running LTV-per-user curve is
    hand-checkable: 10 then 60 cumulative over 2 users."""
    from kafka_streams_homework_spark.queries import REGISTRY
    import datetime as dtm
    import shutil
    import tempfile

    t0 = dtm.datetime(2024, 7, 1, 0, 0)  # a Monday
    rows = [
        (1, 1, t0, "signup", 0.0),
        (2, 2, t0 + dtm.timedelta(hours=5), "signup", 0.0),
        (3, 1, t0 + dtm.timedelta(days=2), "purchase", 10.0),
        (4, 1, t0 + dtm.timedelta(days=8), "purchase", 20.0),
        (5, 2, t0 + dtm.timedelta(days=9), "purchase", 30.0),
    ]
    d = tempfile.mkdtemp(prefix="ltv_")
    try:
        _write_events(spark, rows, d)
        out = {
            r.week_offset: r
            for r in REGISTRY["cohort_ltv"].fn(spark, d).collect()
        }
    finally:
        shutil.rmtree(d, ignore_errors=True)
    assert set(out) == {0, 1}
    assert out[0].n_users == 2 and out[1].n_users == 2
    assert (out[0].rev_week, out[0].cum_rev) == (10.0, 10.0)
    assert (out[1].rev_week, out[1].cum_rev) == (50.0, 60.0)
    assert abs(out[0].ltv_per_user - 5.0) < 1e-9
    assert abs(out[1].ltv_per_user - 30.0) < 1e-9


def test_ndcg_eval_perfect_retrieval_and_bounds(spark):
    """All-positive near-identical vectors share every LSH sign bucket,
    so the index retrieves the exact top-k -> NDCG = MRR = 1 for every
    query; DCG never exceeds IDCG."""
    from kafka_streams_homework_spark import queries as Q
    import os
    import tempfile

    rows = []
    for vid in range(6):
        vec = [1.0 + 0.01 * ((vid * 7 + j) % 5) for j in range(64)]
        rows.append((vid, vec, vid % 2))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    with tempfile.TemporaryDirectory() as d:
        emb.write.parquet(os.path.join(d, "embeddings.parquet"))
        out = Q.queries()["ndcg_eval"](spark, d).collect()
    assert len(out) == 6
    for r in out:
        assert r.dcg <= r.idcg + 1e-9
        assert abs(r.ndcg - 1.0) < 2e-6
        assert abs(r.mrr - 1.0) < 1e-9


def test_bh_fdr_control_python_replay(spark):
    """Three planted brands (one wildly shifted, two near-identical):
    Python replays the DECIMAL-exact moments, the A&S normal CDF and
    the BH step-up; ranks, p-values and reject set must agree."""
    from kafka_streams_homework_spark import queries as Q
    import math
    import os
    import tempfile

    data = {
        "Brand#1": [100.0, 101.0, 99.0, 100.5, 100.2, 99.8],
        "Brand#2": [100.2, 100.8, 99.1, 100.4, 100.1, 99.9],
        "Brand#3": [500.0, 501.0, 499.0, 500.5, 500.2, 499.8],
    }
    li_rows, part_rows = [], []
    pk = 0
    for b, vals in data.items():
        part_rows.append((pk, b))
        for v in vals:
            li_rows.append((pk, v))
        pk += 1
    li = spark.createDataFrame(
        li_rows, "l_partkey long, l_extendedprice double"
    )
    part = spark.createDataFrame(part_rows, "p_partkey long, p_brand string")

    def phi_tail_p(z):
        az = abs(z)
        k = 1.0 / (1.0 + 0.2316419 * az)
        poly = k * (0.319381530 + k * (-0.356563782 + k * (
            1.781477937 + k * (-1.821255978 + k * 1.330274429))))
        return round(2.0 * (math.exp(-az * az / 2.0)
                            * 0.3989422804014327) * poly + 1e-9, 6)

    allv = [v for vs in data.values() for v in vs]
    gn, gs, gq = len(allv), sum(allv), sum(v * v for v in allv)
    expect = {}
    for b, vs in data.items():
        n, s, q = len(vs), sum(vs), sum(v * v for v in vs)
        mb, mr = s / n, (gs - s) / (gn - n)
        vb = (q - s * s / n) / (n - 1) / n
        vr = ((gq - q) - (gs - s) ** 2 / (gn - n)) / (gn - n - 1) / (gn - n)
        z = (mb - mr) / math.sqrt(vb + vr)
        expect[b] = (z, phi_tail_p(z))
    order = sorted(expect, key=lambda b: (expect[b][1], b))
    kstar = max(
        (i + 1 for i, b in enumerate(order)
         if expect[b][1] <= 0.05 * (i + 1) / len(order)),
        default=0,
    )

    with tempfile.TemporaryDirectory() as d:
        li.write.parquet(os.path.join(d, "lineitem.parquet"))
        part.write.parquet(os.path.join(d, "part.parquet"))
        out = {r.brand: r for r in
               Q.queries()["bh_fdr_control"](spark, d).collect()}
    for b, (z, p) in expect.items():
        assert abs(out[b].z_stat - z) < 2e-6
        assert abs(out[b].p_value - p) < 2e-6
        assert out[b].bh_rank == order.index(b) + 1
        assert out[b].rejected == (order.index(b) + 1 <= kstar)
    # the wildly shifted brand is the top discovery; note the other
    # two ALSO reject (their "rest" leg contains Brand#3's 500s, so
    # brand-vs-rest honestly flags them low) — the replay agreement
    # above is the contract, this line just pins the headline
    assert out["Brand#3"].rejected and out["Brand#3"].bh_rank == 1


def test_stratified_ate_python_replay(spark):
    """Users picked so every covariate-ordered quartile holds one
    treated + one control coin; planted pre/post values make each
    stratum diff and the weighted ATE hand-checkable."""
    from kafka_streams_homework_spark.queries import REGISTRY
    import datetime as dtm
    import hashlib
    import shutil
    import tempfile

    coin = lambda uid: int(
        hashlib.md5(str(uid).encode()).hexdigest()[:8], 16) % 2
    # pick 4 (treated, control) user pairs from the low integers
    treated = [u for u in range(1, 60) if coin(u) == 1][:4]
    control = [u for u in range(1, 60) if coin(u) == 0][:4]
    t0 = dtm.datetime(2024, 7, 1, 0, 0)
    rows, eid = [], 0
    uids = []  # interleave so x-order pairs them stratum by stratum
    for i in range(4):
        # same covariate x within a pair (user_id breaks the ntile
        # tie), so the stratum diff isolates the treatment effect
        uids += [(treated[i], 10.0 * i + 1), (control[i], 10.0 * i + 1)]
    post = {}
    for uid, x in uids:
        y = x + (5.0 if coin(uid) else 2.0)  # true effect = 3 everywhere
        post[uid] = y
        eid += 1
        rows.append((eid, uid, t0 + dtm.timedelta(days=2), "view", x))
        eid += 1
        rows.append((eid, uid, t0 + dtm.timedelta(days=20), "view", y))
    d = tempfile.mkdtemp(prefix="sate_")
    try:
        _write_events(spark, rows, d)
        out = sorted(
            REGISTRY["stratified_ate"].fn(spark, d).collect(),
            key=lambda r: r.stratum,
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)
    assert [r.stratum for r in out] == [1, 2, 3, 4]
    for r in out:
        assert (r.n_treat, r.n_control) == (1, 1)
        assert abs(r.diff - 3.0) < 2e-6
        assert abs(r.weight - 0.25) < 1e-9
        assert abs(r.ate_overall - 3.0) < 2e-6


def test_dtw_distance_identity_and_known_warp(spark):
    """Two series: 'aa' == 'ab' pointwise (DTW 0 would need equal
    types, so instead 'ab' is a 1-step lag of 'aa') — the planted DP
    is replayed in Python; identical series give DTW = 0."""
    from kafka_streams_homework_spark.queries import REGISTRY
    import datetime as dtm
    import math
    import shutil
    import tempfile

    t0 = dtm.datetime(2024, 7, 1, 0, 0)
    series = {"aa": [1.0, 2.0, 3.0, 4.0], "ab": [1.0, 1.0, 2.0, 3.0],
              "ac": [1.0, 2.0, 3.0, 4.0]}
    rows, eid = [], 0
    for etype, ys in series.items():
        for i, y in enumerate(ys):
            eid += 1
            rows.append((eid, 1, t0 + dtm.timedelta(days=i), etype, y))

    def dtw_ref(xs, ys):
        n, m = len(xs), len(ys)
        inf = math.inf
        dp_prev = None
        for i in range(1, n + 1):
            dp_cur = [0.0] * (m + 1)
            for j in range(1, m + 1):
                c = abs(xs[i - 1] - ys[j - 1])
                if i == 1 and j == 1:
                    dp_cur[j] = c
                    continue
                up = dp_prev[j] if i > 1 else inf
                diag = dp_prev[j - 1] if (i > 1 and j > 1) else inf
                left = dp_cur[j - 1] if j > 1 else inf
                dp_cur[j] = c + min(up, diag, left)
            dp_prev = dp_cur
        return dp_prev[m]

    d = tempfile.mkdtemp(prefix="dtw_")
    try:
        _write_events(spark, rows, d)
        out = {
            (r.type_a, r.type_b): r
            for r in REGISTRY["dtw_distance"].fn(spark, d).collect()
        }
    finally:
        shutil.rmtree(d, ignore_errors=True)
    assert set(out) == {("aa", "ab"), ("aa", "ac"), ("ab", "ac")}
    # identical series -> zero distance
    assert out[("aa", "ac")].dtw == 0.0
    for (a, b), r in out.items():
        expect = dtw_ref(series[a], series[b])
        assert abs(r.dtw - expect) < 2e-6, (a, b)
        assert (r.n_a, r.n_b) == (len(series[a]), len(series[b]))
    # the lagged pair warps cheaply: far below the pointwise L1 sum
    l1 = sum(abs(x - y) for x, y in zip(series["aa"], series["ab"]))
    assert out[("aa", "ab")].dtw < l1


def test_graph_hops_chain_cap(spark):
    """Part chain 1-2-...-7 via 2-part orders: hops count up from the
    min part; the 4-hop cap drops parts 6 (dist 5) and 7 (dist 6)."""
    from kafka_streams_homework_spark import queries as Q
    import os
    import tempfile

    rows = []
    for i in range(1, 7):  # orders (1,2) (2,3) ... (6,7)
        rows += [(i, i), (i, i + 1)]
    li = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    with tempfile.TemporaryDirectory() as d:
        li.write.parquet(os.path.join(d, "lineitem.parquet"))
        out = {
            r.part: r.hops
            for r in Q.queries()["graph_hops"](spark, d).collect()
        }
    assert out == {1: 0, 2: 1, 3: 2, 4: 3, 5: 4}


def test_bfs_checkpoint_footprint_bounded(spark):
    """bfs_hops releases superseded hop checkpoints inside the loop
    (VERDICT r7 task 6): the block-manager footprint after a deep BFS
    is O(1) frames — the final visited set only — not O(hops). A
    20-node chain forces 19 hops, so the pre-fix behavior (one
    retained checkpoint per visited update + per frontier) would leak
    ~38 block sets here."""
    from kafka_streams_homework_spark.caching import (
        checkpointed_rdd_count,
        release_checkpoint,
    )
    from kafka_streams_homework_spark.operators.graph import bfs_hops

    spark.catalog.clearCache()
    import gc

    gc.collect()  # drop blocks held only by collectable handles
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(20)], "src long, dst long"
    )
    seed = spark.createDataFrame([(0,)], "node long")
    before = checkpointed_rdd_count(spark)
    out = bfs_hops(edges, seed, max_hops=25)
    rows = {r.node: r.hops for r in out.collect()}
    assert rows == {i: i for i in range(21)}
    after = checkpointed_rdd_count(spark)
    # exactly the returned frame may remain (plus nothing superseded);
    # allow +2 slack for unrelated session churn, far below the ~38
    # frames the unreleased loop would retain
    assert after - before <= 2, (before, after)
    release_checkpoint(out)


def test_bfs_reliable_checkpoint_same_rows(spark):
    """bfs_hops(reliable=True) substitutes durable checkpoint() writes
    for executor-local blocks (the long-running-job mode documented in
    the docstring) and must produce identical rows."""
    import tempfile

    from kafka_streams_homework_spark.operators.graph import bfs_hops

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], "src long, dst long"
    )
    seed = spark.createDataFrame([(0,)], "node long")
    with tempfile.TemporaryDirectory() as d:
        spark.sparkContext.setCheckpointDir(d)
        try:
            rows = {
                r.node: r.hops
                for r in bfs_hops(edges, seed, max_hops=10, reliable=True)
                .collect()
            }
        finally:
            # leave no dangling pointer at a removed tempdir
            spark.sparkContext.setCheckpointDir(None)
    assert rows == {i: i for i in range(7)}


def test_kmv_overlap_small_sets_exact(spark):
    """Sets below the sketch size k=64 keep every hash (theta = 1), so
    the 'estimate' degenerates to the exact overlap: 5 shared users of
    10+10 -> intersection 5, Jaccard 5/15."""
    from kafka_streams_homework_spark.queries import REGISTRY
    import datetime as dtm
    import shutil
    import tempfile

    t0 = dtm.datetime(2024, 7, 1)
    rows, eid = [], 0
    for u in range(1, 11):       # x: users 1..10
        eid += 1
        rows.append((eid, u, t0, "x", 1.0))
    for u in range(6, 16):       # y: users 6..15 (share 6..10)
        eid += 1
        rows.append((eid, u, t0, "y", 1.0))
    d = tempfile.mkdtemp(prefix="kmv_")
    try:
        _write_events(spark, rows, d)
        (r,) = REGISTRY["kmv_overlap"].fn(spark, d).collect()
    finally:
        shutil.rmtree(d, ignore_errors=True)
    assert (r.type_a, r.type_b) == ("x", "y")
    assert r.theta == 1.0
    assert r.exact_intersection == 5 and r.n_common == 5
    assert r.est_intersection == 5.0
    assert abs(r.est_jaccard - 5.0 / 15.0) < 2e-6


def test_kmv_overlap_large_sets_estimates(spark):
    """Sets above k=64 truncate to sketches: the estimate is no longer
    exact but must stay in a sane band around the true 50-user overlap
    of 100+100-user sets."""
    from kafka_streams_homework_spark.queries import REGISTRY
    import datetime as dtm
    import shutil
    import tempfile

    t0 = dtm.datetime(2024, 7, 1)
    rows, eid = [], 0
    for u in range(1, 101):      # x: users 1..100
        eid += 1
        rows.append((eid, u, t0, "x", 1.0))
    for u in range(51, 151):     # y: users 51..150
        eid += 1
        rows.append((eid, u, t0, "y", 1.0))
    d = tempfile.mkdtemp(prefix="kmv2_")
    try:
        _write_events(spark, rows, d)
        (r,) = REGISTRY["kmv_overlap"].fn(spark, d).collect()
    finally:
        shutil.rmtree(d, ignore_errors=True)
    assert r.exact_intersection == 50
    assert r.theta < 1.0 and r.n_common <= 64
    assert 20.0 <= r.est_intersection <= 90.0
    assert 0.05 <= r.est_jaccard <= 0.6


def test_rake_keywords_hand_scored_doc(spark):
    """'deep learning is the best deep learning': phrase degrees and
    frequencies are hand-computable — 'best deep learning' scores
    3 + 2.5 + 2.5 = 8 over 'deep learning' at 2.5 + 2.5 = 5."""
    from kafka_streams_homework_spark import queries as Q
    import os
    import tempfile

    docs = spark.createDataFrame(
        [(1, "deep learning is the best deep learning")],
        "doc_id long, text string",
    )
    with tempfile.TemporaryDirectory() as d:
        docs.write.parquet(os.path.join(d, "documents.parquet"))
        out = {r.rank: r for r in
               Q.queries()["rake_keywords"](spark, d).collect()}
    assert out[1].phrase == "best deep learning"
    assert abs(out[1].score - 8.0) < 2e-6 and out[1].phrase_len == 3
    assert out[2].phrase == "deep learning"
    assert abs(out[2].score - 5.0) < 2e-6 and out[2].phrase_len == 2
    assert len(out) == 2


def test_phrase_search_top_bigram_counts(spark):
    """Bigram 'a b' wins 3-2 over 'b a'; per-doc occurrence counts."""
    from kafka_streams_homework_spark import queries as Q
    import os
    import tempfile

    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "b a"), (3, "a b"), (4, "c")],
        "doc_id long, text string",
    )
    with tempfile.TemporaryDirectory() as d:
        docs.write.parquet(os.path.join(d, "documents.parquet"))
        out = {r.doc_id: r for r in
               Q.queries()["phrase_search"](spark, d).collect()}
    assert set(out) == {1, 3}
    assert out[1].phrase == "a b" and out[1].n_occurrences == 2
    assert out[3].n_occurrences == 1


def test_decayed_leaderboard_half_life(spark):
    """One event at the anchor scores 1.0; one exactly 7 days earlier
    scores the 0.5 half-life weight."""
    from kafka_streams_homework_spark.queries import REGISTRY
    import datetime as dtm
    import shutil
    import tempfile

    t0 = dtm.datetime(2024, 7, 8)
    rows = [
        (1, 1, t0, "view", 1.0),
        (2, 2, t0 - dtm.timedelta(days=7), "view", 1.0),
    ]
    d = tempfile.mkdtemp(prefix="decay_")
    try:
        _write_events(spark, rows, d)
        out = {r.rank: r for r in
               REGISTRY["decayed_leaderboard"].fn(spark, d).collect()}
    finally:
        shutil.rmtree(d, ignore_errors=True)
    assert out[1].user_id == 1 and out[1].decayed_score == 1.0
    assert out[2].user_id == 2 and abs(out[2].decayed_score - 0.5) < 2e-6


def test_sprt_monitor_crosses_reject_boundary(spark):
    """All-success days in the treated arm push the LLR up by
    ~2.2314/day (10 successes x ln(1.25)); the cumulative crosses the
    +ln(19) boundary on day 2 and the decision flips to reject_h0."""
    from kafka_streams_homework_spark.queries import REGISTRY
    import datetime as dtm
    import hashlib
    import shutil
    import tempfile

    coin = lambda uid: int(
        hashlib.md5(str(uid).encode()).hexdigest()[:8], 16) % 2
    treated = [u for u in range(1, 40) if coin(u) == 1][:10]
    t0 = dtm.datetime(2024, 7, 1)
    rows, eid = [], 0
    for day in range(3):
        for u in treated:
            eid += 1
            rows.append(
                (eid, u, t0 + dtm.timedelta(days=day), "purchase", 90.0)
            )
    d = tempfile.mkdtemp(prefix="sprt_")
    try:
        _write_events(spark, rows, d)
        out = sorted(
            REGISTRY["sprt_monitor"].fn(spark, d).collect(),
            key=lambda r: r.day,
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)
    assert [r.n_trials for r in out] == [10, 10, 10]
    assert [r.n_success for r in out] == [10, 10, 10]
    assert abs(out[0].llr_day - 2.231436) < 2e-6
    assert out[0].decision == "continue"
    assert out[1].decision == "reject_h0"
    assert out[2].decision == "reject_h0"
    assert abs(out[1].llr_cum - 2 * 2.231436) < 1e-5


def test_weighted_median_dollars_not_rows(spark):
    """Three quantities with one row each but lopsided revenue: the
    row-median is 2, the revenue-weighted median is 3."""
    from kafka_streams_homework_spark import queries as Q
    import os
    import tempfile

    li = spark.createDataFrame(
        [("A", 1.0, 10.0), ("A", 2.0, 10.0), ("A", 3.0, 100.0),
         ("B", 5.0, 1.0), ("B", 6.0, 1.0)],
        "l_returnflag string, l_quantity double, l_extendedprice double",
    )
    with tempfile.TemporaryDirectory() as d:
        li.write.parquet(os.path.join(d, "lineitem.parquet"))
        out = {r.flag: r for r in
               Q.queries()["weighted_median"](spark, d).collect()}
    assert out["A"].weighted_median == 3.0
    assert out["A"].total_weight == 120.0 and out["A"].n == 3
    # equal weights -> lower weighted median (2*cw >= tw at qty 5)
    assert out["B"].weighted_median == 5.0


def test_cmh_test_python_replay(spark):
    """Two planted day strata with hand-built 2x2 tables (arms from
    the md5 coin): the CMH chi-square and MH odds ratio must match a
    direct Python evaluation of the textbook formulas."""
    from kafka_streams_homework_spark.queries import REGISTRY
    import datetime as dtm
    import hashlib
    import shutil
    import tempfile

    coin = lambda uid: int(
        hashlib.md5(str(uid).encode()).hexdigest()[:8], 16) % 2
    tr = [u for u in range(1, 80) if coin(u) == 1]
    ct = [u for u in range(1, 80) if coin(u) == 0]
    t0 = dtm.datetime(2024, 7, 1)
    # day 0: treated 3 succ / 1 fail, control 1 succ / 3 fail
    # day 1: treated 2 succ / 2 fail, control 2 succ / 2 fail
    plan = [((3, 1), (1, 3)), ((2, 2), (2, 2))]
    rows, eid = [], 0
    tables = []
    for day, ((ts_, tf), (cs, cf)) in enumerate(plan):
        when = t0 + dtm.timedelta(days=day)
        k = 0
        for n, users, val in ((ts_, tr, 90.0), (tf, tr, 10.0)):
            for i in range(n):
                eid += 1
                rows.append((eid, users[k], when, "purchase", val))
                k += 1
        k = 0
        for n, users, val in ((cs, ct, 90.0), (cf, ct, 10.0)):
            for i in range(n):
                eid += 1
                rows.append((eid, ct[k], when, "purchase", val))
                k += 1
        tables.append((ts_, tf, cs, cf))
    sum_a = sum(t[0] for t in tables)
    sum_e = sum((a + b) * (a + c) / (a + b + c + d)
                for a, b, c, d in tables)
    var_s = sum((a + b) * (c + d) * (a + c) * (b + d)
                / ((a + b + c + d) ** 2 * (a + b + c + d - 1))
                for a, b, c, d in tables)
    orn = sum(a * d / (a + b + c + d) for a, b, c, d in tables)
    ord_ = sum(b * c / (a + b + c + d) for a, b, c, d in tables)
    d = tempfile.mkdtemp(prefix="cmh_")
    try:
        _write_events(spark, rows, d)
        (r,) = REGISTRY["cmh_test"].fn(spark, d).collect()
    finally:
        shutil.rmtree(d, ignore_errors=True)
    assert (r.k_strata, r.sum_a) == (2, sum_a)
    assert abs(r.sum_expected - sum_e) < 2e-6
    assert abs(r.var_sum - var_s) < 2e-6
    assert abs(r.cmh_chi2 - (sum_a - sum_e) ** 2 / var_s) < 2e-5
    assert abs(r.mh_odds_ratio - orn / ord_) < 2e-6


def test_winnow_fingerprints_replay_and_coverage(spark):
    """Python replays robust winnowing (min per 4-window, rightmost
    tie) on a planted doc; two docs sharing a 6-word run must share a
    fingerprint."""
    from kafka_streams_homework_spark import queries as Q
    import hashlib
    import os
    import tempfile

    shared = "alpha beta gamma delta epsilon zeta"
    docs = [(1, "one two three " + shared),
            (2, shared + " seven eight nine")]

    def replay(text):
        tok = text.lower().split(" ")
        kg = [(i + 1, int(hashlib.md5(
            " ".join(tok[i:i + 3]).encode()).hexdigest()[:8], 16))
            for i in range(len(tok) - 2)]
        sel = set()
        for s in range(len(kg) - 3):
            win = kg[s:s + 4]
            mh = min(h for _, h in win)
            pos = max(p for p, h in win if h == mh)
            sel.add((pos, mh))
        return sel

    sdf = spark.createDataFrame(docs, "doc_id long, text string")
    with tempfile.TemporaryDirectory() as d:
        sdf.write.parquet(os.path.join(d, "documents.parquet"))
        out = Q.queries()["winnow_fingerprints"](spark, d).collect()
    got = {1: set(), 2: set()}
    for r in out:
        got[r.doc_id].add((r.pos, r.fp))
    for doc_id, text in docs:
        assert got[doc_id] == replay(text), doc_id
    # coverage guarantee: the shared >=6-word run shares a fingerprint
    fps1 = {fp for _, fp in got[1]}
    fps2 = {fp for _, fp in got[2]}
    assert fps1 & fps2


def test_feature_hashing_signed_counts(spark):
    """Replay the md5 bucket and sign for a 3-token doc."""
    from kafka_streams_homework_spark import queries as Q
    import hashlib
    import os
    import tempfile

    def bucket(w):
        return int(hashlib.md5(w.encode()).hexdigest()[:8], 16) % 32

    def sgn(w):
        return 1 if int(hashlib.md5(w.encode()).hexdigest()[8], 16) % 2 == 0 else -1

    docs = spark.createDataFrame(
        [(1, "x x y")], "doc_id long, text string"
    )
    with tempfile.TemporaryDirectory() as d:
        docs.write.parquet(os.path.join(d, "documents.parquet"))
        out = {(r.doc_id, r.bucket): r.feat for r in
               Q.queries()["feature_hashing"](spark, d).collect()}
    expect = {}
    for w, c in (("x", 2), ("y", 1)):
        key = (1, bucket(w))
        expect[key] = expect.get(key, 0) + sgn(w) * c
    assert out == expect


def test_isotonic_calibration_pools_violation(spark):
    """Two bins with rates [1.0, 0.0] (a monotonicity violation) and
    equal weight pool to [0.5, 0.5]; the fit is always non-decreasing
    and preserves the weighted mean."""
    from kafka_streams_homework_spark import queries as Q
    import os
    import tempfile

    docs = spark.createDataFrame(
        [(1, "x x x x", "en"),     # stopword ratio 0.0  -> bin 0
         (2, "the x x x", "xx")],  # stopword ratio 0.25 -> bin 12
        "doc_id long, text string, lang string",
    )
    with tempfile.TemporaryDirectory() as d:
        docs.write.parquet(os.path.join(d, "documents.parquet"))
        out = sorted(
            Q.queries()["isotonic_calibration"](spark, d).collect(),
            key=lambda r: r.bin,
        )
    assert [r.bin for r in out] == [0, 12]
    assert [r.rate_raw for r in out] == [1.0, 0.0]
    assert [r.rate_isotonic for r in out] == [0.5, 0.5]


def test_isotonic_calibration_monotone_on_fixture(spark):
    """On the sf0.001 fixture the fit must be non-decreasing in the
    score bin and preserve the overall positive count."""
    from kafka_streams_homework_spark import queries as Q

    out = sorted(
        Q.queries()["isotonic_calibration"](
            spark, "/root/testdata/sf0.001"
        ).collect(),
        key=lambda r: r.bin,
    )
    isos = [r.rate_isotonic for r in out]
    assert all(a <= b + 1e-9 for a, b in zip(isos, isos[1:]))
    total_pos = sum(r.n_pos for r in out)
    total_fit = sum(r.n * r.rate_isotonic for r in out)
    assert abs(total_fit - total_pos) < 1e-2


def test_winnow_pairs_flags_shared_run(spark):
    """Docs 1 and 2 share a long run -> a candidate pair with
    overlap <= 1; the unrelated doc 3 pairs with neither."""
    from kafka_streams_homework_spark import queries as Q
    import os
    import tempfile

    shared = "alpha beta gamma delta epsilon zeta eta theta"
    docs = spark.createDataFrame(
        [(1, "one two three " + shared),
         (2, shared + " seven eight nine"),
         (3, "purple monkey dishwasher quantum flux capacitor panda")],
        "doc_id long, text string",
    )
    with tempfile.TemporaryDirectory() as d:
        docs.write.parquet(os.path.join(d, "documents.parquet"))
        out = {(r.doc_a, r.doc_b): r for r in
               Q.queries()["winnow_pairs"](spark, d).collect()}
    assert set(out) == {(1, 2)}
    r = out[(1, 2)]
    assert r.n_shared >= 2 and 0.0 < r.overlap <= 1.0


def test_conformal_interval_exact_linear_model(spark):
    """y = 2x + 1 exactly for every user: OLS recovers the line,
    residuals are 0, qhat = 0 and held-out coverage is 1.0."""
    from kafka_streams_homework_spark.queries import REGISTRY
    import datetime as dtm
    import hashlib
    import shutil
    import tempfile

    split = lambda uid: int(
        hashlib.md5(str(uid).encode()).hexdigest()[8:16], 16) % 2
    cal = [u for u in range(1, 60) if split(u) == 0][:5]
    test = [u for u in range(1, 60) if split(u) == 1][:5]
    t0 = dtm.datetime(2024, 7, 1)
    rows, eid = [], 0
    for i, uid in enumerate(cal + test):
        x = 10.0 + i
        eid += 1
        rows.append((eid, uid, t0 + dtm.timedelta(days=2), "view", x))
        eid += 1
        rows.append(
            (eid, uid, t0 + dtm.timedelta(days=20), "view", 2 * x + 1)
        )
    d = tempfile.mkdtemp(prefix="conf_")
    try:
        _write_events(spark, rows, d)
        (r,) = REGISTRY["conformal_interval"].fn(spark, d).collect()
    finally:
        shutil.rmtree(d, ignore_errors=True)
    assert (r.n_cal, r.n_test) == (5, 5)
    assert abs(r.theta1 - 2.0) < 2e-6
    assert abs(r.theta0 - 1.0) < 2e-5
    assert r.qhat <= 1e-6
    assert r.coverage == 1.0


def test_kcore_peel_synthetic_triangle(spark):
    """2-core of triangle{1,2,3} + pendant 4: the pendant edge peels
    off in round one, the triangle is the fixpoint (each member keeps
    both neighbors), and convergence is detected in 2 peels."""
    from kafka_streams_homework_spark import queries as Q

    pairs = [(1, 2), (2, 3), (1, 3), (3, 4)]
    edges = spark.createDataFrame(
        [(a, b) for a, b in pairs] + [(b, a) for a, b in pairs],
        "src long, dst long",
    )
    core, depth, converged = Q._kcore_peel(edges, 2, Q.KCORE_CAP)
    assert converged and depth == 2
    out = {
        r.src: r.deg
        for r in core.groupBy("src").count()
        .withColumnRenamed("count", "deg").collect()
    }
    assert out == {1: 2, 2: 2, 3: 2}


def test_kcore_cap_sufficient_on_fixture(spark, sf_dir):
    """The shared Spark/oracle peel cap (15) must exceed the true
    fixpoint depth, else kcore_members returns a not-yet-converged
    edge set. sf0.001 converges in 4 peels (sf0.01/sf0.1 measured at
    6 — depth grows ~log with SF, so the cap holds at bench scale)."""
    from kafka_streams_homework_spark import queries as Q
    from pyspark.sql import functions as F

    li = Q._t(spark, sf_dir, "lineitem")
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("src"))
    b = li.select(F.col("l_orderkey").alias("ok2"), F.col("l_partkey").alias("dst"))
    edges = (
        a.join(b, (F.col("ok") == F.col("ok2")) & (F.col("src") != F.col("dst")))
        .select("src", "dst")
        .distinct()
    )
    _core, depth, converged = Q._kcore_peel(edges, Q.KCORE_K, Q.KCORE_CAP)
    assert converged
    assert depth <= Q.KCORE_CAP - 2


def test_image_ahash_exact_duplicates_surface(spark):
    """doc_id and doc_id+256 render the identical bitmap (w,h repeat
    mod 16/8, pixel formula mod 256), so every such pair must come
    back at Hamming 0 through the banded join."""
    from kafka_streams_homework_spark import queries as Q
    import os
    import tempfile

    docs = spark.createDataFrame(
        [(7,), (263,), (519,), (8,)], "doc_id long"
    )
    with tempfile.TemporaryDirectory() as d:
        docs.write.parquet(os.path.join(d, "documents.parquet"))
        rows = Q.queries()["image_ahash_dedup"](spark, d).collect()
    got = {(r.doc_a, r.doc_b): r.hamming for r in rows}
    assert got[(7, 263)] == 0
    assert got[(7, 519)] == 0
    assert got[(263, 519)] == 0
    assert all(h <= 3 for h in got.values())
    assert all(a < b for a, b in got)


def test_geo_radius_join_cell_cover_lossless(spark, sf_dir):
    """The 3x3 neighbor-cell candidate join must produce exactly the
    brute-force pair set: a radius (5 deg) <= cell edge (5.625 deg)
    guarantees in-radius pairs differ by at most one cell per axis."""
    from kafka_streams_homework_spark import queries as Q
    from kafka_streams_homework_spark.operators import geo as GEO
    from pyspark.sql import functions as F

    cust = GEO.synth_coords(
        Q._t(spark, sf_dir, "customer"), "c_custkey", "cust"
    )
    supp = GEO.synth_coords(
        Q._t(spark, sf_dir, "supplier"), "s_suppkey", "supp"
    )
    banded = {
        (r.c_custkey, r.s_suppkey)
        for r in GEO.radius_join(
            cust, supp, "c_custkey", "s_suppkey"
        ).collect()
    }
    dlat = F.col("lat") - F.col("r_lat")
    dlon = F.col("lon") - F.col("r_lon")
    brute = {
        (r.c_custkey, r.s_suppkey)
        for r in cust.crossJoin(
            supp.select(
                "s_suppkey",
                F.col("lat").alias("r_lat"),
                F.col("lon").alias("r_lon"),
            )
        )
        .filter(dlat * dlat + dlon * dlon <= GEO.RADIUS_DEG**2)
        .select("c_custkey", "s_suppkey")
        .collect()
    }
    assert banded == brute and len(banded) > 0


def test_link_prediction_hand_graph(spark):
    """Triangle {1,2,3} + pendant 4-3: hand-checked CN / preferential
    attachment / fixed-point resource allocation."""
    from kafka_streams_homework_spark.operators.graph import (
        RA_SCALE,
        link_prediction_scores,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)], "src long, dst long"
    )
    got = {
        (r.node_a, r.node_b): (r.n_common, r.pref_attach, r.ra_micro)
        for r in link_prediction_scores(edges).collect()
    }
    third, half = RA_SCALE // 3, RA_SCALE // 2
    assert got == {
        (1, 2): (1, 4, third),   # common {3}, deg 2*2
        (1, 3): (1, 6, half),    # common {2}, deg 2*3
        (2, 3): (1, 6, half),    # common {1}
        (1, 4): (1, 2, third),   # common {3}, deg 2*1
        (2, 4): (1, 2, third),
    }


def test_trend_seasonal_decompose_linear_plus_weekly(spark):
    """Linear trend + zero-sum weekly offsets decompose exactly: the
    centered 7-day MA of a line is the line, every 7-day window holds
    each offset once (sum 0), so seasonal == offset and resid == 0."""
    from kafka_streams_homework_spark import queries as Q
    import datetime as dt
    import os
    import tempfile

    offsets = [-3, -2, -1, 0, 1, 2, 3]
    t0 = dt.datetime(2024, 1, 1)  # a Monday
    rows = [
        (i, t0 + dt.timedelta(days=i), 1, "x", 10.0 * i + offsets[i % 7], "{}")
        for i in range(35)
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    with tempfile.TemporaryDirectory() as d:
        ev.write.parquet(os.path.join(d, "events.parquet"))
        out = Q.queries()["trend_seasonal_decompose"](spark, d).collect()
    assert len(out) == 35 - 6
    for r in out:
        i = (r.day.date() - t0.date()).days
        assert abs(r.day_total - (10.0 * i + offsets[i % 7])) < 1e-6
        assert abs(r.trend - 10.0 * i) < 1e-6
        assert abs(r.seasonal - offsets[i % 7]) < 1e-6
        assert abs(r.resid) < 1e-6


def test_ratio_metric_delta_python_replay(spark):
    """Replay the delta-method variance in plain Python on a synthetic
    events table and match the engine's single-row readout."""
    from kafka_streams_homework_spark import queries as Q
    import datetime as dt
    import hashlib
    import math
    import os
    import tempfile

    t0 = dt.datetime(2024, 3, 1)
    rows = []
    eid = 0
    for uid in range(40):
        for j in range(1 + uid % 5):
            rows.append(
                (eid, t0 + dt.timedelta(minutes=eid), uid, "e",
                 float((uid * 7 + j * 3) % 50) / 4.0, "{}")
            )
            eid += 1
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    with tempfile.TemporaryDirectory() as d:
        ev.write.parquet(os.path.join(d, "events.parquet"))
        got = Q.queries()["ratio_metric_delta"](spark, d).collect()[0]

    def coin(uid):
        return int(hashlib.md5(f"rm:{uid}".encode()).hexdigest()[:8], 16) % 2

    stats = {0: [], 1: []}
    for uid in range(40):
        xs = [float((uid * 7 + j * 3) % 50) / 4.0 for j in range(1 + uid % 5)]
        stats[coin(uid)].append((sum(xs), len(xs)))
    exp = {}
    for g, pts in stats.items():
        n = len(pts)
        sx = sum(p[0] for p in pts)
        sy = sum(p[1] for p in pts)
        r = sx / sy
        a = n * sum(p[0] ** 2 for p in pts) - sx * sx
        b = n * sum(p[1] ** 2 for p in pts) - sy * sy
        c = n * sum(p[0] * p[1] for p in pts) - sx * sy
        var = ((a - 2 * r * c) + r * r * b) * n / (((n - 1) * sy) * sy)
        exp[g] = (n, r, var)
    assert (got.n_a, got.n_b) == (exp[0][0], exp[1][0])
    assert abs(got.ratio_a - exp[0][1]) < 1e-5
    assert abs(got.ratio_b - exp[1][1]) < 1e-5
    diff = exp[0][1] - exp[1][1]
    se = math.sqrt(exp[0][2] + exp[1][2])
    assert abs(got.diff - diff) < 1e-5
    assert abs(got.se_diff - se) < 1e-5
    assert abs(got.z - diff / se) < 1e-4


def test_vocab_growth_hand_corpus(spark):
    """Three tiny docs with known overlap: cumulative vocab counts
    each token at its first occurrence only."""
    from kafka_streams_homework_spark import queries as Q
    import os
    import tempfile

    docs = spark.createDataFrame(
        [
            (0, "a b a", "en", "s", 5),
            (1, "b c", "en", "s", 3),
            (2, "a d d e", "en", "s", 7),
        ],
        "doc_id long, text string, lang string, source string, n_chars int",
    )
    with tempfile.TemporaryDirectory() as d:
        docs.write.parquet(os.path.join(d, "documents.parquet"))
        rows = {
            r.doc_id: (r.n_tokens, r.cum_tokens, r.vocab_new, r.cum_vocab)
            for r in Q.queries()["vocab_growth"](spark, d).collect()
        }
    assert rows == {
        0: (3, 3, 2, 2),   # a b
        1: (2, 5, 1, 3),   # c
        2: (4, 9, 2, 5),   # d e
    }


def test_wasserstein_1d_constant_shift(spark):
    """Group A all at 1.0, group B all at 3.0 -> W1 is exactly the
    shift (2.0) independent of group sizes."""
    from kafka_streams_homework_spark import queries as Q
    import datetime as dt
    import hashlib
    import os
    import tempfile

    t0 = dt.datetime(2024, 3, 1)
    rows = []
    for uid in range(30):
        g = int(hashlib.md5(f"rm:{uid}".encode()).hexdigest()[:8], 16) % 2
        rows.append(
            (uid, t0 + dt.timedelta(minutes=uid), uid, "e",
             1.0 if g == 0 else 3.0, "{}")
        )
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    with tempfile.TemporaryDirectory() as d:
        ev.write.parquet(os.path.join(d, "events.parquet"))
        got = Q.queries()["wasserstein_1d"](spark, d).collect()[0]
    assert got.n_a + got.n_b == 30
    assert abs(got.w1 - 2.0) < 1e-6


def test_k_anonymity_ladder_monotone(spark, sf_dir):
    """Each rung is a strict coarsening of the previous (nested-floor
    identity for the balance buckets), so suppression can only fall."""
    from kafka_streams_homework_spark import queries as Q

    rows = sorted(
        Q.queries()["k_anonymity_ladder"](spark, sf_dir).collect(),
        key=lambda r: r.level,
    )
    assert [r.level for r in rows] == [0, 1, 2, 3]
    for prev, cur in zip(rows, rows[1:]):
        assert cur.rows_suppressed <= prev.rows_suppressed
        assert cur.n_groups <= prev.n_groups


def test_ips_policy_eval_python_replay(spark):
    """Replay the integer-cutoff action draw and IPS/SNIPS sums in
    Python on a synthetic log."""
    from kafka_streams_homework_spark import queries as Q
    import datetime as dt
    import hashlib
    import os
    import tempfile

    t0 = dt.datetime(2024, 3, 1)
    rows = [
        (eid, t0 + dt.timedelta(minutes=eid), eid % 11, "e",
         round(float((eid * 13) % 40) / 4.0, 2), "{}")
        for eid in range(200)
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    with tempfile.TemporaryDirectory() as d:
        ev.write.parquet(os.path.join(d, "events.parquet"))
        got = Q.queries()["ips_policy_eval"](spark, d).collect()[0]

    num = wsum = matched = 0.0
    for eid, _, uid, _, val, _ in rows:
        h = int(hashlib.md5(f"act:{eid}".encode()).hexdigest()[:8], 16)
        if uid % 2 == 0:
            a = 0 if h < 2147483648 else (1 if h < 3579139413 else 2)
            w = [2, 3, 6][a]
        else:
            a = 0 if h < 715827882 else (1 if h < 2147483648 else 2)
            w = [6, 3, 2][a]
        if a == uid % 3:
            matched += 1
            num += w * val
            wsum += w
    assert got.n_events == 200 and got.n_matched == matched
    assert abs(got.ips - num / 200) < 1e-6
    assert abs(got.snips - num / wsum) < 1e-6


def test_zipf_fit_exact_power_law(spark):
    """freq_r = 840/r for r=1..8 is an exact Zipf: ln(freq) =
    ln(840) - ln(rank), so slope -> -1, r2 -> 1."""
    from kafka_streams_homework_spark import queries as Q
    import math
    import os
    import tempfile

    words = []
    for r in range(1, 9):
        words += [f"w{r:02d}"] * (840 // r)
    docs = spark.createDataFrame(
        [(0, " ".join(words), "en", "s", len(words))],
        "doc_id long, text string, lang string, source string, n_chars int",
    )
    with tempfile.TemporaryDirectory() as d:
        docs.write.parquet(os.path.join(d, "documents.parquet"))
        got = Q.queries()["zipf_fit"](spark, d).collect()[0]
    assert got.n_terms == 8
    assert abs(got.slope + 1.0) < 1e-6
    assert abs(got.intercept - math.log(840)) < 1e-6
    assert got.r2 > 0.999999


def test_graph_modularity_two_triangles(spark):
    """Two brand-pure triangles bridged by one edge: per-community
    Q_c = 3/7 - (7/14)^2, hand-checked."""
    from kafka_streams_homework_spark import queries as Q
    import os
    import tempfile

    edges = [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)]
    li_rows = []
    ok = 0
    for a, b in edges:
        for _ in range(2):  # each edge needs >= 2 shared orders
            li_rows += [(ok, a), (ok, b)]
            ok += 1
    li = spark.createDataFrame(li_rows, "l_orderkey long, l_partkey long")
    part = spark.createDataFrame(
        [(p, "Brand#A" if p <= 3 else "Brand#B") for p in range(1, 7)],
        "p_partkey long, p_brand string",
    )
    with tempfile.TemporaryDirectory() as d:
        li.write.parquet(os.path.join(d, "lineitem.parquet"))
        part.write.parquet(os.path.join(d, "part.parquet"))
        rows = {
            r.community: r
            for r in Q.queries()["graph_modularity"](spark, d).collect()
        }
    expected_q = 3 / 7 - (7 / 14) ** 2
    for c in ("Brand#A", "Brand#B"):
        assert rows[c].n_nodes == 3
        assert rows[c].intra_edges == 3
        assert rows[c].degree_sum == 7
        assert abs(rows[c].q_contrib - expected_q) < 1e-6


def test_forecast_backtest_linear_series_zero_error(spark):
    """Holt with l1=y1, b1=y2-y1 tracks a perfect line exactly, so
    every holdout forecast is exact: MAE = sMAPE = MASE = 0."""
    from kafka_streams_homework_spark import queries as Q
    import datetime as dt
    import os
    import tempfile

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (i, t0 + dt.timedelta(days=i), 1, "lin", 2.0 * i + 5.0, "{}")
        for i in range(30)
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    with tempfile.TemporaryDirectory() as d:
        ev.write.parquet(os.path.join(d, "events.parquet"))
        got = Q.queries()["forecast_backtest"](spark, d).collect()
    assert len(got) == 1 and got[0].n_test == 7
    assert got[0].mae == 0.0 and got[0].smape == 0.0 and got[0].mase == 0.0


def test_ipf_raking_margins_converge(spark, sf_dir):
    """After five row+column rounds (ending on a column scaling) the
    dow margins are exact and the event_type margins are nearly
    uniform — the IPF convergence guarantee on a positive table."""
    from collections import defaultdict
    from kafka_streams_homework_spark import queries as Q

    rows = Q.queries()["ipf_raking"](spark, sf_dir).collect()
    total = sum(r.raked_mass for r in rows)
    by_i, by_j = defaultdict(float), defaultdict(float)
    for r in rows:
        by_i[r.event_type] += r.raked_mass
        by_j[r.dow] += r.raked_mass
    for m in by_j.values():  # last scaling was columns: exact
        assert abs(m - total / len(by_j)) < 1e-3
    for m in by_i.values():  # one scaling earlier: near-uniform
        assert abs(m - total / len(by_i)) / (total / len(by_i)) < 0.01


def test_snapshot_diff_python_replay(spark, sf_dir):
    """Replay the md5 perturbation coins in Python over the fixture
    and match every diff bucket exactly."""
    import hashlib

    from kafka_streams_homework_spark import queries as Q

    got = {r.metric: r.n for r in Q.queries()["snapshot_diff"](spark, sf_dir).collect()}
    cust = Q._t(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal", "c_mktsegment"
    ).collect()

    def coin(tag, key, mod):
        return int(hashlib.md5(f"{tag}:{key}".encode()).hexdigest()[:8], 16) % mod

    exp = {"deleted": 0, "changed_acctbal": 0,
           "changed_mktsegment": 0, "unchanged": 0}
    for r in cust:
        k = r.c_custkey
        if coin("del", k, 20) == 0:
            exp["deleted"] += 1
            continue
        bal_chg = coin("chg", k, 10) == 0
        seg_chg = coin("seg", k, 15) == 0 and r.c_mktsegment != "MIGRATED"
        if bal_chg:
            exp["changed_acctbal"] += 1
        if seg_chg:
            exp["changed_mktsegment"] += 1
        if not bal_chg and not seg_chg:
            exp["unchanged"] += 1
    assert got == exp


def _licols(spark, edges):
    """lineitem rows giving exactly `edges` (each via 2 shared orders)."""
    rows, ok = [], 0
    for a, b in edges:
        for _ in range(2):
            rows += [(ok, a), (ok, b)]
            ok += 1
    return spark.createDataFrame(rows, "l_orderkey long, l_partkey long")


def test_degree_assortativity_star_is_minus_one(spark):
    """A star K_{1,3}: every edge pairs degree 3 with degree 1, so the
    degree correlation is exactly -1."""
    from kafka_streams_homework_spark import queries as Q
    import os
    import tempfile

    li = _licols(spark, [(1, 2), (1, 3), (1, 4)])
    with tempfile.TemporaryDirectory() as d:
        li.write.parquet(os.path.join(d, "lineitem.parquet"))
        got = Q.queries()["degree_assortativity"](spark, d).collect()[0]
    assert got.n_edges == 3
    assert abs(got.assortativity + 1.0) < 1e-6


def test_rich_club_two_triangles_bridge(spark):
    """Two triangles bridged at (3,4): the >2-degree elite is {3,4},
    fully connected by the bridge -> phi(2) = 1."""
    from kafka_streams_homework_spark import queries as Q
    import os
    import tempfile

    li = _licols(
        spark, [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)]
    )
    with tempfile.TemporaryDirectory() as d:
        li.write.parquet(os.path.join(d, "lineitem.parquet"))
        rows = {r.k: r for r in Q.queries()["rich_club"](spark, d).collect()}
    assert set(rows) == {2}
    assert rows[2].n_nodes == 2 and rows[2].n_edges == 1
    assert abs(rows[2].phi - 1.0) < 1e-9


def test_bitemporal_lookup_python_replay(spark, sf_dir):
    """Replay the two-axis as-of semantics in Python over the fixture:
    max valid_day with tx/event tie-breaks among assertions visible at
    the probe."""
    import hashlib

    from kafka_streams_homework_spark import queries as Q

    got = {
        (r.user_id, r.probe_tx, r.probe_valid): (r.src_event, r.value)
        for r in Q.queries()["bitemporal_lookup"](spark, sf_dir).collect()
    }
    ev = (
        Q._t(spark, sf_dir, "events")
        .filter("value IS NOT NULL")
        .select("user_id", "event_id", "value", "ts")
        .collect()
    )
    asserts = []
    for r in ev:
        tx = int(r.ts.replace(tzinfo=__import__("datetime").timezone.utc)
                 .timestamp()) // 86400
        lag = int(
            hashlib.md5(f"lag:{r.event_id}".encode()).hexdigest()[:8], 16
        ) % 5
        asserts.append((r.user_id, r.event_id, round(r.value, 2), tx, tx - lag))
    d0 = min(a[3] for a in asserts)
    exp = {}
    for t in (10, 20):
        for v in (8, 18):
            best = {}
            for uid, eid, val, tx, vd in asserts:
                if tx <= d0 + t and vd <= d0 + v:
                    key = (vd, tx, eid)
                    if uid not in best or key > best[uid][0]:
                        best[uid] = (key, eid, val)
            for uid, (_, eid, val) in best.items():
                exp[(uid, d0 + t, d0 + v)] = (eid, val)
    assert got == exp


def test_char_entropy_known_alphabets(spark):
    """H('aaaa')=0, H('abab')=ln 2, H(uniform 16-char alphabet)=ln 16;
    flags follow the rounded threshold."""
    from kafka_streams_homework_spark import queries as Q
    import math
    import os
    import tempfile

    docs = spark.createDataFrame(
        [
            (0, "a" * 64, "en", "s", 64),
            (1, "ab" * 32, "en", "s", 64),
            (2, "0123456789abcdef" * 4, "en", "s", 64),
        ],
        "doc_id long, text string, lang string, source string, n_chars int",
    )
    with tempfile.TemporaryDirectory() as d:
        docs.write.parquet(os.path.join(d, "documents.parquet"))
        got = {
            r.doc_id: r
            for r in Q.queries()["char_entropy"](spark, d).collect()
        }
    assert got[0].entropy == 0.0 and got[0].low_entropy
    assert abs(got[1].entropy - math.log(2)) < 1e-6 and got[1].low_entropy
    assert abs(got[2].entropy - math.log(16)) < 1e-6
    assert got[2].low_entropy == (round(math.log(16), 6) < 2.5)


def test_compression_ratio_bounds_and_determinism(spark):
    """Repetitive text deflates to almost nothing; random hex cannot
    beat its 4-bit/char entropy floor. Two runs byte-match."""
    import hashlib
    from kafka_streams_homework_spark import queries as Q
    import os
    import tempfile

    hexes = "".join(
        hashlib.md5(f"x{i}".encode()).hexdigest() for i in range(160)
    )  # 5120 chars of near-uniform hex
    docs = spark.createDataFrame(
        [(0, "spam " * 1000, "en", "s", 5000), (1, hexes, "en", "s", 5120)],
        "doc_id long, text string, lang string, source string, n_chars int",
    )
    with tempfile.TemporaryDirectory() as d:
        docs.write.parquet(os.path.join(d, "documents.parquet"))
        r1 = {r.doc_id: r for r in Q.queries()["compression_ratio"](spark, d).collect()}
        r2 = {r.doc_id: r for r in Q.queries()["compression_ratio"](spark, d).collect()}
    assert r1[0].ratio < 0.05 and r1[0].boilerplate
    assert r1[1].ratio > 0.45 and not r1[1].boilerplate
    assert {k: (v.compressed_bytes, v.ratio) for k, v in r1.items()} == {
        k: (v.compressed_bytes, v.ratio) for k, v in r2.items()
    }


def test_dp_release_python_replay(spark, sf_dir):
    """Replay the md5-seeded Laplace draw: noisy_n must equal
    true_n + (1/eps)*sgn(u-.5)*ln(1-2|u-.5|) exactly (6dp)."""
    import hashlib
    import math

    from kafka_streams_homework_spark import queries as Q

    rows = Q.queries()["dp_release"](spark, sf_dir).collect()
    assert len(rows) > 0
    for r in rows:
        u = int(
            hashlib.md5(f"dp:{r.c_nationkey}".encode()).hexdigest()[:8], 16
        ) / 4294967296.0
        noise = (1.0 if u < 0.5 else -1.0) * 2.0 * math.log(1.0 - 2.0 * abs(u - 0.5))
        assert r.epsilon == 0.5
        assert abs(r.noisy_n - (r.true_n + noise)) < 2e-6


def test_dedup_canonical_pick_keeps_best_quality(spark, sf_dir):
    """Exactly one kept doc per cluster, and it is the max-quality
    member (doc_id tie-break)."""
    from collections import defaultdict
    from kafka_streams_homework_spark import queries as Q

    rows = Q.queries()["dedup_canonical_pick"](spark, sf_dir).collect()
    assert rows
    by_cluster = defaultdict(list)
    for r in rows:
        by_cluster[r.cluster_id].append(r)
    for members in by_cluster.values():
        assert len(members) == members[0].cluster_size
        kept = [r for r in members if r.kept]
        assert len(kept) == 1
        best = min(members, key=lambda r: (-r.quality, r.doc_id))
        assert kept[0].doc_id == best.doc_id


def test_uplift_deciles_shape_and_conservation(spark, sf_dir):
    """Ten deciles partition the cohort; per-decile uplift matches the
    recomputed treated-minus-control means."""
    from kafka_streams_homework_spark import queries as Q

    rows = sorted(
        Q.queries()["uplift_deciles"](spark, sf_dir).collect(),
        key=lambda r: r.decile,
    )
    assert [r.decile for r in rows] == list(range(1, 11))
    for r in rows:
        # uplift defined exactly when both arms are present (tiny SFs
        # legitimately produce single-arm deciles)
        assert (r.uplift is not None) == (r.n_t > 0 and r.n_c > 0)
    assert any(r.uplift is not None for r in rows)


def test_rtbf_purge_conserves_and_leaves_no_orphans(spark, sf_dir):
    """purged + remaining = table size and the re-probe audit is 0."""
    from kafka_streams_homework_spark import queries as Q

    got = {r.table_name: r for r in Q.queries()["rtbf_purge"](spark, sf_dir).collect()}
    n_ev = Q._t(spark, sf_dir, "events").count()
    n_cu = Q._t(spark, sf_dir, "customer").count()
    assert got["events"].rows_purged + got["events"].rows_remaining == n_ev
    assert got["customer"].rows_purged + got["customer"].rows_remaining == n_cu
    assert got["events"].orphans_remaining == 0
    assert got["customer"].orphans_remaining == 0
    assert got["events"].rows_purged > 0


def test_mahalanobis_outliers_numpy_replay(spark, sf_dir):
    """d2 must match the textbook (x-mu)^T S^-1 (x-mu) with the sample
    covariance, replayed in numpy."""
    import numpy as np

    from kafka_streams_homework_spark import queries as Q

    got = {
        r.user_id: (r.d2, r.is_outlier)
        for r in Q.queries()["mahalanobis_outliers"](spark, sf_dir).collect()
    }
    pts = {
        r.user_id: (float(r.x), float(r.y))
        for r in Q._t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            __import__("pyspark.sql.functions", fromlist=["F"]).coalesce(
                __import__("pyspark.sql.functions", fromlist=["F"]).sum("value"),
                __import__("pyspark.sql.functions", fromlist=["F"]).lit(0.0),
            ).alias("x"),
            __import__("pyspark.sql.functions", fromlist=["F"]).count(
                __import__("pyspark.sql.functions", fromlist=["F"]).lit(1)
            ).alias("y"),
        )
        .collect()
    }
    X = np.array([pts[u] for u in sorted(pts)])
    mu = X.mean(axis=0)
    S = np.cov(X.T, ddof=1)
    Sinv = np.linalg.inv(S)
    for i, u in enumerate(sorted(pts)):
        dlt = X[i] - mu
        d2 = float(dlt @ Sinv @ dlt)
        assert abs(got[u][0] - d2) < 1e-3, (u, got[u][0], d2)
        # flag == rounded threshold test (note max possible d2 is
        # (n-1)^2/n, so tiny cohorts legitimately flag nothing)
        assert got[u][1] == (got[u][0] > 13.8155)


def test_pca_projection_numpy_replay(spark, sf_dir):
    """Component and scores must equal numpy's replay of the same
    deterministic power iteration (population covariance, all-ones
    start, 30 iterations, pinned sign)."""
    import numpy as np

    from kafka_streams_homework_spark import queries as Q

    got = {
        r.vec_id: r.pc1_score
        for r in Q.queries()["pca_projection"](spark, sf_dir).collect()
    }
    emb = {
        r.vec_id: np.array(r.embedding, dtype="float64")
        for r in Q._t(spark, sf_dir, "embeddings").collect()
    }
    X = np.array([emb[k] for k in sorted(emb)])
    mu = X.mean(axis=0)
    C = (X.T @ X) / len(X) - np.outer(mu, mu)
    v = np.ones(64)
    for _ in range(30):
        v = C @ v
        v /= np.linalg.norm(v)
    if v[int(np.argmax(np.abs(v)))] < 0:
        v = -v
    for i, k in enumerate(sorted(emb)):
        expect = float((X[i] - mu) @ v)
        assert abs(got[k] - expect) < 1e-4, (k, got[k], expect)
    # sanity: pc1 explains more variance than a random axis
    scores = np.array([got[k] for k in sorted(emb)])
    assert scores.var() > X.var(axis=0).mean()


def test_ab_srm_check_python_replay(spark, sf_dir):
    """Replay the GOF statistic; the md5 coin is fair, so the fixture
    split must not trip the 0.001-level guardrail."""
    import hashlib

    from kafka_streams_homework_spark import queries as Q

    r = Q.queries()["ab_srm_check"](spark, sf_dir).collect()[0]
    users = {
        row.user_id
        for row in Q._t(spark, sf_dir, "events").select("user_id").distinct().collect()
    }
    n_a = sum(
        1
        for u in users
        if int(hashlib.md5(f"rm:{u}".encode()).hexdigest()[:8], 16) % 2 == 0
    )
    n = len(users)
    assert (r.n_a, r.n_b) == (n_a, n - n_a)
    chi2 = ((2 * n_a - n) ** 2 + (2 * (n - n_a) - n) ** 2) / (2.0 * n)
    assert abs(r.chi2 - chi2) < 1e-6
    assert not r.srm_detected


def test_dedup_recall_eval_precision_one_and_bounds(spark, sf_dir):
    """The exact-verified candidate pipeline admits no false
    positives (precision 1) and banding keeps recall high."""
    from kafka_streams_homework_spark import queries as Q

    r = Q.queries()["dedup_recall_eval"](spark, sf_dir).collect()[0]
    assert r.n_hit == r.n_candidates  # no false positives
    assert r.precision == 1.0
    assert 0.0 < r.recall <= 1.0
    assert r.n_true >= r.n_hit


def test_jpeg_pipeline_real_codec_lossless_on_even_blocks(spark, sf_dir):
    from kafka_streams_homework_spark.operators import multimodal as M
    from kafka_streams_homework_spark.sources.batch import load_table

    docs = load_table(spark, sf_dir, "documents").limit(8)
    media = M.synth_jpeg(docs).collect()
    for row in media:
        b = bytes(row.payload)
        # genuine JFIF-style container: SOI/EOI markers, DQT/DHT parsed
        # back from the stream, and block-constant even-valued images
        # survive the lossy codec EXACTLY (DC-only, integer quotients)
        assert b[:2] == b"\xff\xd8" and b[-2:] == b"\xff\xd9"
        d = int(row.doc_id)
        w, h, pix = M.decode_jpeg_gray_baseline(b)
        assert (w, h) == (24, 16)
        assert pix == [
            [2 * ((d * 31 + (y // 8) * 7 + (x // 8) * 13) % 128)
             for x in range(24)]
            for y in range(16)
        ]


def test_jpeg_general_lossy_roundtrip_bounded_error():
    from kafka_streams_homework_spark.operators import multimodal as M

    # the general path: gradients exercise small AC coefficients,
    # noise exercises long runs / ZRL / byte stuffing. Lossy, so the
    # contract is a reconstruction error bound, not equality.
    grad = [[(3 * x + 5 * y) % 256 for x in range(32)] for y in range(24)]
    w, h, out = M.decode_jpeg_gray_baseline(M.encode_jpeg_gray_baseline(grad))
    assert (w, h) == (32, 24)
    errs = [abs(out[y][x] - grad[y][x]) for y in range(24) for x in range(32)]
    assert max(errs) <= 4 and sum(errs) / len(errs) < 2

    noise = [[(x * 97 + y * 31 + (x * y) % 17 * 53) % 256
              for x in range(16)] for y in range(16)]
    w2, h2, out2 = M.decode_jpeg_gray_baseline(
        M.encode_jpeg_gray_baseline(noise)
    )
    assert (w2, h2) == (16, 16)
    # Annex-K q50 quantizes high frequencies hard; bound, don't equate
    errs2 = [abs(out2[y][x] - noise[y][x]) for y in range(16) for x in range(16)]
    assert max(errs2) <= 96 and sum(errs2) / len(errs2) < 32


def test_jpeg_decode_rejects_garbage_and_progressive():
    import pytest

    from kafka_streams_homework_spark.operators import multimodal as M

    with pytest.raises(ValueError, match="missing SOI"):
        M.decode_jpeg_gray_baseline(b"not a jpeg")
    # splice a progressive SOF2 marker in place of SOF0: must refuse
    good = bytearray(M.encode_jpeg_gray_baseline([[0] * 8] * 8))
    idx = good.find(b"\xff\xc0")
    good[idx + 1] = 0xC2
    with pytest.raises(ValueError, match="baseline"):
        M.decode_jpeg_gray_baseline(bytes(good))


def test_video_pipeline_real_mjpeg_avi_roundtrip(spark, sf_dir):
    from kafka_streams_homework_spark.operators import multimodal as M
    from kafka_streams_homework_spark.sources.batch import load_table

    docs = load_table(spark, sf_dir, "documents").limit(6)
    for row in M.synth_video(docs).collect():
        b = bytes(row.payload)
        assert b[:4] == b"RIFF" and b[8:12] == b"AVI "
        d = int(row.doc_id)
        w, h, fps, frames = M.decode_mjpeg_avi(b)
        assert (w, h, fps, len(frames)) == (24, 16, M.AVI_FPS, 5)
        for f, pix in enumerate(frames):
            assert pix == [
                [2 * ((d * 31 + f * 11 + (y // 8) * 7 + (x // 8) * 13) % 128)
                 for x in range(24)]
                for y in range(16)
            ]


def test_avi_demux_rejects_bad_container():
    import pytest

    from kafka_streams_homework_spark.operators import multimodal as M

    with pytest.raises(ValueError, match="bad RIFF signature"):
        M.decode_mjpeg_avi(b"garbage!" * 8)
    jp = M.encode_jpeg_gray_baseline([[0] * 8] * 8)
    avi = M.encode_mjpeg_avi([jp, jp], 8, 8)
    w, h, fps, frames = M.decode_mjpeg_avi(avi)
    assert (w, h, len(frames)) == (8, 8, 2)
    import struct

    # corrupt the avih frame count in place: demux must refuse
    idx = avi.find(b"avih") + 8 + 16
    bad = bytearray(avi)
    bad[idx : idx + 4] = struct.pack("<I", 9)
    with pytest.raises(ValueError, match="frame count mismatch"):
        M.decode_mjpeg_avi(bytes(bad))


def test_bpe_train_greedy_chain_parity(spark):
    """Classic BPE greedy left-to-right non-overlap on a same-symbol
    chain: merging (a,a) in 'aaaa' gives [aa, aa] (2 applied sites),
    in 'aaa' gives [aa, a] (1 site) — the run-parity window must keep
    odd-indexed candidates only, per maximal chain."""
    from kafka_streams_homework_spark.operators.text import bpe_train_merges

    words = spark.createDataFrame(
        [("aaaa", 1), ("aaa", 1)], "w string, freq long"
    )
    m = bpe_train_merges(words, 1).collect()
    assert len(m) == 1
    r = m[0]
    assert (r.left_sym, r.right_sym) == ("a", "a")
    # pair occurrences: aaaa has 3 (a,a) pairs + aaa has 2 -> 5
    assert r.pair_count == 5
    # greedy non-overlap: aaaa -> 2 merges, aaa -> 1 merge
    assert r.n_merged == 3
    # tokens: (4+1) + (3+1) = 9 symbols incl </w>; minus 3 merges = 6
    assert r.corpus_tokens_after == 6


def test_bpe_train_exhaustion_stops_early(spark):
    """When the vocabulary runs out of adjacent pairs the loop must
    exit instead of emitting empty merges."""
    from kafka_streams_homework_spark.operators.text import bpe_train_merges

    words = spark.createDataFrame([("ab", 2)], "w string, freq long")
    m = bpe_train_merges(words, 50).collect()
    # 'a b </w>' -> merge (a,b) or (b,</w>) first by tie-break, then
    # one more merge collapses the word to a single symbol -> 2 total
    assert len(m) == 2
    assert m[-1].corpus_tokens_after == 2  # one symbol per word * freq 2


def test_bpe_train_stats_stay_bounded(spark):
    """Regression pin for the localCheckpoint stats pathology: the
    checkpoint PRESERVES Catalyst sizeInBytes, and a self-joining loop
    body multiplies it, cubing the BigInteger per step (multi-megabit
    Karatsuba multiplies in the optimizer by step ~14). The window-only
    loop must keep the preserved estimate's bit length small."""
    from kafka_streams_homework_spark.operators.text import bpe_train_merges

    words = spark.createDataFrame(
        [("hello", 5), ("world", 3), ("held", 2)], "w string, freq long"
    )
    seg = bpe_train_merges(words, 8, return_segmentation=True)
    bits = int(
        seg._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    ).bit_length()
    assert bits < 512, f"preserved sizeInBytes estimate at {bits} bits"


def _synth_vocab(n: int) -> dict[str, int]:
    """Deterministic synthetic vocabulary: word i is the base-12
    sequence of i mapped onto 12 DISTINCT fixed-length 2-char
    syllables (fixed block length => concatenation is injective, so
    all n words are distinct). Shared syllables give the merge loop
    real structure: high-frequency pairs exist at every step. No RNG —
    fully seeded by construction."""
    syl = ["ab", "ba", "ce", "de", "fi", "gi", "ho", "ju",
           "ka", "lo", "me", "nu"]
    vocab: dict[str, int] = {}
    for i in range(n):
        digits = []
        x = i
        while True:
            digits.append(x % 12)
            x //= 12
            if x == 0:
                break
        w = "".join(syl[d] for d in reversed(digits))
        vocab[w] = 1 + (i * 7) % 97
    assert len(vocab) == n
    return vocab


def _ref_bpe(vocab: dict[str, int], n_merges: int) -> list[tuple]:
    """Pure-Python reference Sennrich-2016 BPE: freq-weighted pair
    argmax with (count desc, left asc, right asc) tie-break, classic
    greedy left-to-right non-overlapping application."""
    segs = {w: list(w) + ["</w>"] for w in vocab}
    tokens_after = sum(f * len(segs[w]) for w, f in vocab.items())
    merges: list[tuple] = []
    for step in range(1, n_merges + 1):
        cnt: dict[tuple, int] = {}
        for w, f in vocab.items():
            s = segs[w]
            for i in range(len(s) - 1):
                p = (s[i], s[i + 1])
                cnt[p] = cnt.get(p, 0) + f
        if not cnt:
            break
        (a, b), c = min(cnt.items(), key=lambda kv: (-kv[1], kv[0]))
        n_applied = 0
        for w, f in vocab.items():
            s = segs[w]
            out: list[str] = []
            i = applied = 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    out.append(a + b)
                    i += 2
                    applied += 1
                else:
                    out.append(s[i])
                    i += 1
            segs[w] = out
            n_applied += f * applied
        tokens_after -= n_applied
        merges.append((step, a, b, c, n_applied, tokens_after))
    return merges


def test_bpe_train_large_vocab_exact(spark):
    """Large-vocabulary BPE (VERDICT r7 task 4): the fixture corpus has
    31 distinct words at every SF, so nothing exercised the
    vocabulary-cardinality loop itself. 10,000 distinct synthetic words
    (deterministic, seeded by construction), 20 merges, compared
    ROW-FOR-ROW against an independent pure-Python Sennrich reference —
    argmax tie-breaks, greedy non-overlap counts, and the running
    corpus token total must all match exactly. Also re-pins the two
    loop disciplines at real vocab size: Catalyst sizeInBytes stays
    bounded and superseded checkpoints are released (O(1) block
    footprint)."""
    from kafka_streams_homework_spark.caching import (
        checkpointed_rdd_count,
        release_checkpoint,
    )
    from kafka_streams_homework_spark.operators.text import bpe_train_merges

    vocab = _synth_vocab(10_000)
    expected = _ref_bpe(vocab, 20)
    assert len(expected) == 20

    words = spark.createDataFrame(
        list(vocab.items()), "w string, freq long"
    )
    spark.catalog.clearCache()
    import gc

    gc.collect()
    before = checkpointed_rdd_count(spark)
    seg = bpe_train_merges(words, 20, return_segmentation=True)
    # footprint: one live checkpoint (the final segmentation), not 20
    assert checkpointed_rdd_count(spark) - before <= 2
    bits = int(
        seg._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    ).bit_length()
    assert bits < 512, f"preserved sizeInBytes estimate at {bits} bits"
    release_checkpoint(seg)

    got = [
        (r.step, r.left_sym, r.right_sym, r.pair_count, r.n_merged,
         r.corpus_tokens_after)
        for r in bpe_train_merges(words, 20).orderBy("step").collect()
    ]
    assert got == expected
