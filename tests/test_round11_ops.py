"""Round-11 operator tests.

Covers the r10 ADVICE-high fix: streaming_rate_gate must match the
batch RANGE frame under same-microsecond timestamp ties (the strict
``e < t`` upper edge), including ties that arrive after K in-window
events and ties that straddle micro-batch boundaries — the fixture
data has no per-user microsecond ties, so only these synthetic cases
exercise the tie path.
"""

from __future__ import annotations

import datetime as dt
import glob
import os
import uuid

from kafka_streams_homework_spark.streaming.price_alerts import run_append
from kafka_streams_homework_spark.streaming.stateful import (
    RG_MAX_PREV,
    RG_WINDOW_US,
    rate_gate_stateful,
)

RG_SCHEMA = "user_id long, event_id long, ts timestamp"

_EPOCH = dt.datetime(2024, 1, 1)


def _us(micros: int) -> dt.datetime:
    return _EPOCH + dt.timedelta(microseconds=micros)


def _write_batches(spark, tmp_path, batches):
    # one parquet file per micro-batch, mtime-pinned replay order
    # (same pattern as tests/test_streaming.py::_write_events)
    path = str(tmp_path / f"rg-{uuid.uuid4().hex[:8]}")
    seen: set[str] = set()
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, RG_SCHEMA).repartition(1).write.mode(
            "append"
        ).parquet(path)
        current = set(glob.glob(f"{path}/*.parquet"))
        for f in current - seen:
            os.utime(f, (1_000_000_000 + i, 1_000_000_000 + i))
        seen = current
    return path


def _replay_expected(rows):
    """Reference decisions: the batch RANGE frame (strict e < t)."""
    per_user: dict[int, list[tuple[int, int]]] = {}
    for uid, eid, t in rows:
        per_user.setdefault(uid, []).append(
            (int((t - _EPOCH).total_seconds() * 1_000_000), eid)
        )
    expect = {}
    for evs in per_user.values():
        evs.sort()
        for i, (t, eid) in enumerate(evs):
            n_prev = sum(
                1 for (e, _) in evs if t - RG_WINDOW_US <= e < t
            )
            expect[eid] = n_prev < RG_MAX_PREV
    return expect


def _run_gate(spark, path):
    stream = (
        spark.readStream.schema(RG_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    out = run_append(spark, rate_gate_stateful(stream))
    return {r.event_id: r.admitted for r in out.collect()}


def test_rate_gate_ties_single_batch(spark, tmp_path):
    """The r10 ADVICE repro: eps 10,20,30,40,40 — the second eps-40
    event has 3 strictly-older in-window events (deny); a
    last-K-timestamps state admits it because the tie displaced 10."""
    rows = [(1, i, _us(e)) for i, e in enumerate([10, 20, 30, 40, 40])]
    expect = _replay_expected(rows)
    assert expect[4] is False  # the tie event must be DENIED
    got = _run_gate(spark, _write_batches(spark, tmp_path, [rows]))
    assert got == expect


def test_rate_gate_ties_across_batches(spark, tmp_path):
    """Ties at the micro-batch boundary and beyond K in-window events:
    the carried (microsecond, count) pair state must reproduce every
    batch-frame decision, including deep tie runs (4 events at the
    same microsecond) and a re-opened window after expiry."""
    W = RG_WINDOW_US
    eps = [
        # batch 1: 3 admits, then a tie pair at 40
        10, 20, 30, 40, 40,
        # batch 2: tie with state's newest micro, then fresh micros
        40, 40, 41, 50,
        # batch 3: far future — window expired, gate re-opens; then a
        # tie run at the same new microsecond
        W + 100, W + 100, W + 100, W + 100, W + 101,
    ]
    rows = [(7, i, _us(e)) for i, e in enumerate(eps)]
    expect = _replay_expected(rows)
    batches = [rows[:5], rows[5:9], rows[9:]]
    got = _run_gate(spark, _write_batches(spark, tmp_path, batches))
    assert got == expect
    # sanity on the interesting decisions
    assert got[4] is False  # tie after 3 in-window events
    assert got[9] is True  # window expired -> re-admitted
    # the whole tie run at W+100 admits: ties never count as "prior"
    assert got[10] is True and got[11] is True and got[12] is True
    assert got[13] is False  # W+101 sees 4 strictly-older events


def test_streaming_funnel_matches_batch_across_batches(spark, tmp_path):
    """The stateful funnel tracker must reproduce the batch chained-
    join funnel on awkward inputs: out-of-funnel-order events,
    same-microsecond view/click ties (both qualify via >=), gap
    expiry, and funnels that straddle micro-batch boundaries."""
    from kafka_streams_homework_spark.operators.relational import (
        funnel_steps,
    )
    from kafka_streams_homework_spark.streaming.price_alerts import (
        run_upsert,
    )
    from kafka_streams_homework_spark.streaming.stateful import (
        FN_GAP_US,
        funnel_stateful,
    )

    W = FN_GAP_US
    schema = "user_id long, event_type string, ts timestamp"
    rows = [
        # u1: full funnel split across 3 batches
        (1, "view", _us(10)),
        (1, "click", _us(5)),  # pre-view click never counts
        (1, "click", _us(20)),
        (1, "purchase", _us(30)),
        # u2: view/click tie at the same microsecond (>= qualifies),
        # purchase outside the click gap
        (2, "view", _us(100)),
        (2, "click", _us(100)),
        (2, "purchase", _us(100 + W + 1)),
        # u3: click only — never enters the funnel
        (3, "click", _us(50)),
        # u4: view, then click past the gap
        (4, "view", _us(0)),
        (4, "click", _us(W + 1)),
    ]
    rows.sort(key=lambda r: r[2])  # replay in event-time order
    path = str(tmp_path / f"fn-{uuid.uuid4().hex[:8]}")
    seen: set[str] = set()
    batches = [rows[:4], rows[4:7], rows[7:]]
    for i, b in enumerate(batches):
        spark.createDataFrame(b, schema).repartition(1).write.mode(
            "append"
        ).parquet(path)
        current = set(glob.glob(f"{path}/*.parquet"))
        for f in current - seen:
            os.utime(f, (1_000_000_000 + i, 1_000_000_000 + i))
        seen = current
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    pos = run_upsert(
        spark, funnel_stateful(stream), ["user_id"]
    )
    got = {r.user_id: r.reached for r in pos.collect()}
    assert got == {1: 3, 2: 2, 3: 0, 4: 1}
    # and the folded counts equal the batch operator on the same rows
    batch_df = spark.createDataFrame(rows, schema)
    expect = {
        r.step: r.n_users
        for r in funnel_steps(
            batch_df, ["view", "click", "purchase"], gap="24 hours"
        ).collect()
    }
    assert expect == {"view": 3, "click": 2, "purchase": 1}


def test_streaming_ann_ingest_matches_batch_assign(spark, sf_dir):
    """The at-ingest cell assignment must equal the batch assign_cells
    operator run over the same md5-anchor centroid table — the
    streaming index maintenance path and the batch re-index path may
    never disagree on a vector's cell."""
    from pyspark.sql import functions as F

    from kafka_streams_homework_spark import queries as Q
    from kafka_streams_homework_spark.operators.similarity import (
        assign_cells,
    )
    from kafka_streams_homework_spark.queries.streaming import (
        ANN_INGEST_CELLS,
    )

    emb = Q._t(spark, sf_dir, "embeddings")
    anchors = (
        emb.select(
            "vec_id",
            "embedding",
            F.md5(F.col("vec_id").cast("string")).alias("h"),
        )
        .orderBy("h", "vec_id")
        .limit(ANN_INGEST_CELLS)
        .collect()
    )
    cents = spark.createDataFrame(
        [
            (i, [float(v) for v in r.embedding])
            for i, r in enumerate(sorted(anchors, key=lambda r: (r.h, r.vec_id)))
        ],
        "cell int, centroid array<double>",
    )
    batch = {
        r.vec_id: r.cell
        for r in assign_cells(
            emb.select("vec_id", F.col("embedding").cast("array<double>").alias("embedding")),
            cents,
        ).collect()
    }
    stream = {
        r.vec_id: r.cell
        for r in Q.queries()["streaming_ann_ingest"](spark, sf_dir).collect()
    }
    assert stream == batch
    # every cell is non-empty at fixture scale (anchors attract mass)
    assert len(set(stream.values())) == ANN_INGEST_CELLS


def test_rate_gate_multi_user_interleaved(spark, tmp_path):
    """Per-key state isolation: interleaved users with different tie
    patterns, split across batches at awkward points."""
    rows = []
    eid = 0
    for uid, eps_list in [
        (1, [5, 5, 5, 5, 6]),
        (2, [100, 200, 300, 400, 500]),
        (3, [1, 2, 3, 3, 3, 4]),
    ]:
        for e in eps_list:
            rows.append((uid, eid, _us(e)))
            eid += 1
    expect = _replay_expected(rows)
    batches = [rows[:6], rows[6:11], rows[11:]]
    got = _run_gate(spark, _write_batches(spark, tmp_path, batches))
    assert got == expect


def test_flesch_python_replay(spark, sf_dir):
    """Counts and the 6dp score replayed in pure python for every doc."""
    import re

    from kafka_streams_homework_spark import queries as Q

    docs = {
        r.doc_id: r.text
        for r in Q._t(spark, sf_dir, "documents").collect()
    }
    got = {
        r.doc_id: (r.n_words, r.n_sentences, r.n_syllables, r.flesch)
        for r in Q.queries()["flesch_reading_ease"](spark, sf_dir).collect()
    }
    assert set(got) == set(docs)
    for did, text in docs.items():
        toks = text.lower().split(" ")
        nw = len(toks)
        ns = max(1, len(re.findall(r"[.!?]+", text)))
        syl = len(re.findall(r"[aeiouy]+", text.lower())) + sum(
            1 for w in toks if not re.search(r"[aeiouy]", w)
        )
        flesch = round(206.835 - 1.015 * (nw / ns) - 84.6 * (syl / nw) + 1e-9, 6)
        assert got[did] == (nw, ns, syl, flesch), (did, got[did])


def test_textrank_python_replay(spark, sf_dir):
    """Edge list + 3 pagerank iterations replayed in python; top-20
    ranking must match exactly (scores to 6dp)."""
    from collections import defaultdict

    from kafka_streams_homework_spark import queries as Q
    from kafka_streams_homework_spark.operators.text import EN_STOPWORDS
    from kafka_streams_homework_spark.queries.text import (
        TEXTRANK_DAMPING,
        TEXTRANK_ITERS,
        TEXTRANK_MIN_LEN,
        TEXTRANK_TOPK,
    )

    docs = Q._t(spark, sf_dir, "documents").select("text").collect()
    sw = set(EN_STOPWORDS)

    def keep(w):
        return len(w) >= TEXTRANK_MIN_LEN and w not in sw

    edges = defaultdict(float)
    for r in docs:
        toks = r.text.lower().split(" ")
        for a, b in zip(toks, toks[1:]):
            if keep(a) and keep(b) and a != b:
                edges[(a, b)] += 1.0
                edges[(b, a)] += 1.0
    ow = defaultdict(float)
    for (a, _b), w in edges.items():
        ow[a] += w
    pr = {a: 1.0 for a in ow}
    for _ in range(TEXTRANK_ITERS):
        nxt = defaultdict(float)
        for (a, b), w in edges.items():
            nxt[b] += w * pr[a] / ow[a]
        pr = {b: 0.15 + TEXTRANK_DAMPING * s for b, s in nxt.items()}
    expect = sorted(
        ((round(s, 6), w) for w, s in pr.items()),
        key=lambda t: (-t[0], t[1]),
    )[:TEXTRANK_TOPK]
    got = sorted(
        Q.queries()["textrank_keywords"](spark, sf_dir).collect(),
        key=lambda r: r.rank,
    )
    assert [(r.score, r.word) for r in got] == expect


def test_pr_curve_invariants(spark, sf_dir):
    """Recall is nondecreasing as the threshold drops, hits 1.0 at the
    minimum threshold, and tp+fp equals the doc count there."""
    from kafka_streams_homework_spark import queries as Q

    rows = sorted(
        Q.queries()["pr_curve"](spark, sf_dir).collect(),
        key=lambda r: -r.threshold,
    )
    n_docs = Q._t(spark, sf_dir, "documents").count()
    recalls = [r.recall for r in rows]
    assert recalls == sorted(recalls)
    assert abs(rows[-1].recall - 1.0) < 1e-6
    assert rows[-1].tp + rows[-1].fp == n_docs
    assert all(0 <= r.precision <= 1.0 + 1e-9 for r in rows)
