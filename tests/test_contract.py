"""Driver-contract guards — fast checks on __spark_entry__'s surface.

The driver consumes entry()/queries()/oracle_sql() programmatically; a
typo in one oracle string or a renamed column would fail its gate, not
ours. These tests bind every oracle in DuckDB (parse + resolve against
the real views — no execution) and pin the flagship schema.
"""

from __future__ import annotations

import re
import uuid
from pathlib import Path

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql.types import BinaryType, StringType

import __spark_entry__ as E
from kafka_streams_homework_spark import caching
from kafka_streams_homework_spark.operators.graph import bfs_hops
from kafka_streams_homework_spark.session import bounded_loop
from kafka_streams_homework_spark.sources.batch import TABLES, load_table
from kafka_streams_homework_spark.sources.sink import write_and_read_back, write_parquet


@pytest.fixture(scope="module")
def con(sf_dir):
    c = duckdb.connect()
    for t in TABLES:
        c.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return c


def test_every_oracle_binds_in_duckdb(con):
    oracles = E.oracle_sql()
    assert oracles, "oracle registry must not be empty"
    for name, sql in oracles.items():
        try:
            con.execute(f"EXPLAIN {sql}")
        except Exception as ex:  # pragma: no cover - the assert carries the name
            raise AssertionError(f"oracle for {name!r} fails to bind: {ex}") from ex


def test_oracle_keys_subset_of_queries():
    q = set(E.queries())
    o = set(E.oracle_sql())
    assert o <= q, f"oracles without queries: {sorted(o - q)}"
    # rows-only ops are the documented hash/sketch-dependent ones
    assert sorted(q - o) == [
        "approx_stats",
        "compression_ratio",
        "cosine_pairs_cells",
        "dedup_embedding_lsh",
        "dedup_minhash_lsh",
        "dedup_simhash",
        "distinct_rollup_hll",
        "knn_ivf",
        "knn_ivf_kmeans",
        "knn_ivfpq",
        "knn_pq",
        "semantic_dedup",
        "streaming_windowed_hll",
    ]


def test_distinct_rollup_hll_matches_exact(spark, sf_dir):
    """The daily estimate folded from hourly sketches must sit within
    HLL error bounds of the exact daily distinct (lg_k=14 → ~0.8%
    rse; assert 5%). Merging hourly sketches loses nothing vs
    sketching the day directly — union merge is lossless — so the
    cascade inherits the single-sketch bound."""
    from pyspark.sql import functions as F

    from kafka_streams_homework_spark.operators.sketches import (
        distinct_rollup_hll,
    )
    from kafka_streams_homework_spark.sources.batch import load_table

    events = load_table(spark, sf_dir, "events")
    exact = {
        (r.event_type, r.day_start): r.n
        for r in events.groupBy(
            "event_type", F.date_trunc("day", "ts").alias("day_start")
        )
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    est = distinct_rollup_hll(events).collect()
    assert len(est) == len(exact)
    for r in est:
        e = exact[(r.event_type, r.day_start)]
        assert abs(r.approx_distinct - e) <= max(2, 0.05 * e), (
            r.event_type,
            r.day_start,
            r.approx_distinct,
            e,
        )
        assert r.n_hours >= 1


def test_approx_stats_within_tolerance(spark, sf_dir):
    """Sketches trade exactness for constant memory; bound the error
    against the exact twins on the same data."""
    reg = E.queries()
    exact = {
        r.event_type: r for r in reg["agg_stats"](spark, sf_dir).collect()
    }
    exact_p = {
        r.event_type: r for r in reg["value_percentiles"](spark, sf_dir).collect()
    }
    for r in reg["approx_stats"](spark, sf_dir).collect():
        e = exact[r.event_type]
        assert abs(r.approx_users - e.n_users) <= max(3, 0.05 * e.n_users)
        p = exact_p[r.event_type]
        assert abs(r.ap50 - p.p50) <= 0.05 * max(abs(p.p50), 1.0)
        # tail percentile on a tiny sample: the sketch returns an actual
        # element while the exact twin interpolates — bound by position
        # (above p90, at most the group max) rather than by distance
        assert p.p90 <= r.ap99 <= e.max_value


def test_entry_schema_is_stable(spark):
    df = E.entry(spark)  # lazy — no execution needed for the schema
    assert df.columns == [
        "alert_key",
        "customer_name",
        "window_start",
        "total_sum_per_minute",
    ]
    kinds = dict(df.dtypes)
    assert kinds["alert_key"] == "string"
    assert kinds["window_start"] == "timestamp"
    assert kinds["total_sum_per_minute"] == "double"


def test_every_registry_call_leaves_the_engine_confs_on_the_callers_session(spark, sf_dir):
    """The registry applies the runtime confs once per call, on the
    session it is handed; the flagship entry calls the same wrapper."""
    from kafka_streams_homework_spark import queries as Q

    clone = spark.newSession()
    for call in (Q.queries()["price_alerts"], Q.q_price_alerts):
        clone.conf.set("spark.sql.session.timeZone", "America/New_York")
        call(clone, sf_dir)
        assert clone.conf.get("spark.sql.session.timeZone") == "UTC"


def _jobs_run_by(spark, fn):
    """(fn(), number of Spark jobs fn started)."""
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_load_table_infers_an_unchanged_schema_once(spark, tmp_path):
    pq.write_table(
        pa.table({"k": [1, 2, 3], "v": ["a", "b", "c"]}), tmp_path / "t.parquet"
    )

    def load():
        return load_table(spark, str(tmp_path), "t")

    first, n_first = _jobs_run_by(spark, load)
    second, n_second = _jobs_run_by(spark, load)
    assert n_first >= 1  # the inference job: the counter sees it
    assert n_second == 0
    bare = spark.read.parquet(str(tmp_path / "t.parquet"))
    assert second.schema == first.schema == bare.schema
    assert sorted(second.collect()) == sorted(first.collect()) == sorted(bare.collect())


def test_write_and_read_back_runs_no_schema_inference_job(spark, tmp_path):
    """The sink round trip reads back with the written frame's schema, so
    it starts exactly the jobs of the write alone."""
    df = spark.createDataFrame(
        [(1, "a", 2.5), (2, "b", None), (3, None, -1.0)], "k long, s string, x double"
    )
    _, n_write = _jobs_run_by(spark, lambda: write_parquet(df, str(tmp_path / "w")))
    back, n_round_trip = _jobs_run_by(
        spark, lambda: write_and_read_back(df, spark, str(tmp_path / "rt"))
    )
    assert n_write >= 1  # the write job: the counter sees it
    assert n_round_trip == n_write
    assert back.schema == spark.read.parquet(str(tmp_path / "rt")).schema
    assert sorted(back.collect()) == sorted(df.collect())


def test_load_table_sees_a_rewritten_file(spark, tmp_path):
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"k": [1, 2]}), path)
    assert load_table(spark, str(tmp_path), "t").columns == ["k"]
    pq.write_table(pa.table({"k": [1, 2], "w": [10.5, 20.5]}), path)
    df = load_table(spark, str(tmp_path), "t")
    assert df.columns == ["k", "w"]
    assert sorted(tuple(r) for r in df.collect()) == [(1, 10.5), (2, 20.5)]


def test_load_table_sees_a_part_file_added_to_a_directory(spark, tmp_path):
    table = tmp_path / "t.parquet"
    table.mkdir()
    pq.write_table(pa.table({"k": [1, 2, 3]}), table / "part-0.parquet")
    assert load_table(spark, str(tmp_path), "t").count() == 3
    _, n_jobs = _jobs_run_by(spark, lambda: load_table(spark, str(tmp_path), "t"))
    assert n_jobs == 0
    pq.write_table(pa.table({"k": [4, 5]}), table / "part-1.parquet")
    df = load_table(spark, str(tmp_path), "t")
    assert sorted(r.k for r in df.collect()) == [1, 2, 3, 4, 5]


def test_load_table_follows_binary_as_string(spark, tmp_path):
    pq.write_table(
        pa.table({"b": pa.array([b"x", b"y"], pa.binary())}), tmp_path / "t.parquet"
    )
    key = "spark.sql.parquet.binaryAsString"
    prev = spark.conf.get(key)
    try:
        spark.conf.set(key, "false")
        df = load_table(spark, str(tmp_path), "t")
        assert df.schema["b"].dataType == BinaryType()
        spark.conf.set(key, "true")
        df = load_table(spark, str(tmp_path), "t")
        assert df.schema["b"].dataType == StringType()
        assert sorted(r.b for r in df.collect()) == ["x", "y"]
    finally:
        spark.conf.set(key, prev)


def test_release_caches_warns_on_a_failing_callback_and_continues(monkeypatch):
    ran = []

    def _broken_memo_clear():
        raise ValueError("boom")

    monkeypatch.setattr(
        caching, "_ON_RELEASE", [_broken_memo_clear, lambda: ran.append(1)]
    )
    monkeypatch.setattr(caching, "_TRACKED", [])
    monkeypatch.setattr(caching, "_TRACKED_CKPTS", [])
    with pytest.warns(RuntimeWarning, match="_broken_memo_clear.*boom"):
        caching.release_caches()
    assert ran == [1]


_LOOP_CONFS = ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")


def _loop_confs(spark):
    return {k: spark.conf.get(k, None) for k in _LOOP_CONFS}


def test_bounded_loop_sets_its_confs_and_restores_them_after_an_error(spark):
    aqe, parts = _LOOP_CONFS
    before = _loop_confs(spark)
    dp = spark.sparkContext.defaultParallelism
    with bounded_loop(spark):
        assert spark.conf.get(aqe) == "false"
        assert spark.conf.get(parts) == before[parts]
    assert _loop_confs(spark) == before
    with pytest.raises(ValueError, match="inside the loop"):
        with bounded_loop(spark, small_shuffles=True):
            assert spark.conf.get(aqe) == "false"
            assert spark.conf.get(parts) == str(max(8, dp // 4))
            raise ValueError("inside the loop")
    assert _loop_confs(spark) == before


def test_bounded_loop_unsets_a_conf_that_was_unset(spark):
    qs = spark.newSession()
    for k in _LOOP_CONFS:
        qs.conf.unset(k)
    assert _loop_confs(qs) == {k: None for k in _LOOP_CONFS}
    with bounded_loop(qs, small_shuffles=True):
        assert qs.conf.get(_LOOP_CONFS[0]) == "false"
    assert _loop_confs(qs) == {k: None for k in _LOOP_CONFS}


def test_a_real_loop_leaves_the_session_confs_as_it_found_them(spark):
    before = _loop_confs(spark)
    edges = spark.createDataFrame([(0, 1), (1, 2)], "src long, dst long")
    seed = spark.createDataFrame([(0,)], "node long")
    out = bfs_hops(edges, seed, max_hops=5)
    assert _loop_confs(spark) == before
    assert {r.node: r.hops for r in out.collect()} == {0: 0, 1: 1, 2: 2}


def test_only_session_modules_change_spark_confs():
    """Configuration is decided in session.py (and the stream-session
    clone in queries/_shared.py); an operator that needs other confs for
    a driver loop uses session.bounded_loop."""
    pkg = Path(__file__).resolve().parents[1] / "kafka_streams_homework_spark"
    allowed = {"session.py", "queries/_shared.py"}
    call = re.compile(r"\.conf\.(set|unset)\(")
    offenders = sorted(
        f"{path.relative_to(pkg).as_posix()}:{n}"
        for path in pkg.rglob("*.py")
        if path.relative_to(pkg).as_posix() not in allowed
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if call.search(line)
    )
    assert offenders == []


def test_benchmark_timers_reach_the_collectors(spark, sf_dir, monkeypatch):
    """A traced benchmark run times the collectors and the events stream
    by patching module attributes (perfbench/layers.py ``TIMED``); the
    drain's streaming queries must still call through those attributes,
    or their per-layer timings read 0."""
    import ast
    import importlib

    layers = Path(__file__).resolve().parents[1] / "perfbench" / "layers.py"
    timed = next(
        ast.literal_eval(node.value)
        for node in ast.parse(layers.read_text()).body
        if isinstance(node, ast.Assign) and getattr(node.targets[0], "id", "") == "TIMED"
    )
    targets = [
        ("kafka_streams_homework_spark.queries.streaming", "run_upsert"),
        ("kafka_streams_homework_spark.streaming", "run_append"),
        ("kafka_streams_homework_spark.queries.streaming", "_events_stream"),
    ]
    assert set(targets) <= set(timed)
    calls = {name: 0 for _, name in targets}

    def counting(name, fn):
        def wrapper(*args, **kwargs):
            calls[name] += 1
            return fn(*args, **kwargs)

        return wrapper

    for module, name in targets:
        mod = importlib.import_module(module)
        monkeypatch.setattr(mod, name, counting(name, getattr(mod, name)))
    queries = E.queries()
    for q in ("streaming_price_alerts", "streaming_stateful_alerts"):
        queries[q](spark, sf_dir).collect()
    assert all(calls.values()), calls


def _code_tokens(path: Path) -> str:
    """A module's code with comments, strings (docstrings included) and
    whitespace dropped, so a call reads the same however it is wrapped."""
    import io
    import tokenize

    skip = {
        tokenize.COMMENT,
        tokenize.STRING,
        tokenize.NL,
        tokenize.NEWLINE,
        tokenize.INDENT,
        tokenize.DEDENT,
        *(getattr(tokenize, t) for t in ("FSTRING_START", "FSTRING_MIDDLE", "FSTRING_END")
          if hasattr(tokenize, t)),
    }
    tokens = tokenize.generate_tokens(io.StringIO(path.read_text()).readline)
    return "".join(t.string for t in tokens if t.type not in skip)


def test_streams_reach_the_driver_through_one_drain():
    """One availableNow drain and one foreachBatch collector body: a new
    streaming query picks a collector in streaming/price_alerts.py
    instead of starting its own copy of the drain."""
    pkg = Path(__file__).resolve().parents[1] / "kafka_streams_homework_spark"
    code = {path.relative_to(pkg).as_posix(): _code_tokens(path) for path in pkg.rglob("*.py")}
    triggers = {f: c.count("trigger(availableNow=True)") for f, c in code.items()}
    assert {f: n for f, n in triggers.items() if n} == {"streaming/price_alerts.py": 1}
    assert sorted(f for f, c in code.items() if ".foreachBatch(" in c) == [
        "streaming/price_alerts.py"
    ]


def test_banded_candidate_joins_go_through_band_pairs():
    """The (band, bucket) self-join is built once, in
    operators.dedup.band_pairs: a new LSH or Hamming operator reuses it
    instead of joining on its own "a.band" column. The oracle SQL's
    unquoted `a.band` is DuckDB text, not a Spark join."""
    pkg = Path(__file__).resolve().parents[1] / "kafka_streams_homework_spark"
    ref = re.compile(r"""["']a\.band["']""")
    assert sorted(
        path.relative_to(pkg).as_posix()
        for path in pkg.rglob("*.py")
        if ref.search(path.read_text())
    ) == ["operators/dedup.py"]


# mapInPandas bodies that work on whole columns or carry state across a
# partition's batches, so they are not per-row bodies for per_row
WHOLE_COLUMN_BODIES = {
    "multimodal.py:decode_stub": "length arithmetic on the payload column",
    "multimodal.py:resize_thumbs": "pandas clip/max over the width and height columns",
    "multimodal.py:decode_and_resize": "decode_stub and resize_thumbs on one column pass",
    "sketches.py:heavy_hitters": "Misra-Gries counters kept across a partition's batches",
    "sketches.py:kmv_distinct": "k smallest hashes per group kept across batches",
    "similarity.py:_pq_encode_nested": "one numpy argmin per sub-space over a batch",
}


def test_per_row_bodies_go_through_per_row():
    """A per-row Python body runs through operators.multimodal.per_row:
    `mapInPandas(` appears in operators/ only there and in the named
    whole-column bodies, so a new codec or per-document feature cannot
    grow its own batch loop, column lists and dtype casts."""
    import ast

    ops = Path(__file__).resolve().parents[1] / "kafka_streams_homework_spark" / "operators"
    sites = sorted(
        f"{path.name}:{getattr(top, 'name', '<module>')}"
        for path in ops.glob("*.py")
        for top in ast.parse(path.read_text()).body
        for node in ast.walk(top)
        if isinstance(node, ast.Call) and getattr(node.func, "attr", "") == "mapInPandas"
    )
    assert sites == sorted(["multimodal.py:per_row", *WHOLE_COLUMN_BODIES])


def test_per_row_gives_the_declared_schema_and_the_replayed_rows(spark):
    """per_row on an empty input, on partitions whose rows yield nothing,
    and on row functions yielding 0, 1 and N rows: exactly the declared
    schema, types included, and the rows a plain-Python replay gives."""
    from kafka_streams_homework_spark.operators import multimodal as M

    schema = "k long, i int, tag string, x double, b binary"
    ddl = "struct<k:bigint,i:int,tag:string,x:double,b:binary>"

    def fan(k):
        # k in 0..2 and 9..11 yield nothing, 3..5 one row, 6..8 two rows
        for i in range(k // 3 % 3):
            yield k, i, f"t{k}", k / 2, bytes([k, i])

    cases = {
        "empty": (spark.createDataFrame([], "k long"), []),
        "four partitions": (spark.range(0, 12, 1, 4).withColumnRenamed("id", "k"), range(12)),
    }
    for name, (df, ks) in cases.items():
        out = M.per_row(df, ["k"], fan, schema)
        assert out.schema.simpleString() == ddl, name
        got = sorted((k, i, t, x, bytes(b)) for k, i, t, x, b in out.collect())
        assert got == sorted(row for k in ks for row in fan(k)), name

    docs = spark.createDataFrame(
        [(2 * n, "x" * 300) for n in range(8)], "doc_id long, text string"
    ).repartition(3)
    chunks = M.audio_chunks(M.to_media(docs))  # every even doc_id is image/png
    assert chunks.schema == M.CHUNK_SCHEMA
    assert chunks.collect() == []


def test_spread_reads_the_width_without_running_a_job(spark, sf_dir):
    """Under AQE, `df.rdd` on a frame with an exchange runs that
    exchange. spread reads the width from the plan instead: spreading a
    spread corpus starts no job, and the shingle substrate starts only
    the one that shuffles the corpus text (AQE runs the spread exchange's
    map stage when the lazy checkpoint builds its RDD)."""
    from kafka_streams_homework_spark.operators.dedup import _doc_shingle_hashes
    from kafka_streams_homework_spark.sources.batch import spread

    docs = load_table(spark, sf_dir, "documents")  # the schema job, once
    assert docs.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism
    twice, n_jobs = _jobs_run_by(spark, lambda: spread(spread(load_table(spark, sf_dir, "documents"))))
    assert n_jobs == 0
    assert twice.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    caching.release_caches()  # empties the substrate memo
    _, n_jobs = _jobs_run_by(
        spark, lambda: _doc_shingle_hashes(spread(load_table(spark, sf_dir, "documents")), 3)
    )
    assert n_jobs == 1
    caching.release_caches()


def test_dedup_clusters_ends_a_pairs_only_graph_with_one_count(spark, monkeypatch):
    """Round 1 (one aggregate) labels every pair with its smaller id, so
    round 2 changes nothing and its count ends the loop."""
    from pyspark.sql.classic.dataframe import DataFrame

    from kafka_streams_homework_spark.operators.dedup import dedup_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (5, 3), (8, 9), (12, 10)], "doc_a long, doc_b long"
    )
    counts = []
    count = DataFrame.count
    monkeypatch.setattr(DataFrame, "count", lambda df: counts.append(1) or count(df))
    out = dedup_clusters(pairs)
    monkeypatch.undo()
    assert len(counts) == 1
    assert sorted(tuple(r) for r in out.collect()) == [
        (1, 1, True), (2, 1, False), (3, 3, True), (5, 3, False),
        (8, 8, True), (9, 8, False), (10, 10, True), (12, 10, False),
    ]


def test_dedup_cluster_sizes_job_count(spark, sf_dir):
    """13 jobs for a warm dedup_cluster_sizes on sf0.001:
    - 9 while the query is built: AQE runs the pairs plan's shuffle
      stages, one job each, when dedup_clusters' lazy edges checkpoint
      builds its RDD (spread adds none: it reads widths from the plan);
    - 1 convergence count: round 2 against round 1 (AQE off), since
      round 1 already labels every component with its minimum;
    - 3 when the result is collected: the two size aggregates' stages.
    A new job here is a new driver round trip in every dedup pass."""
    q = E.queries()["dedup_cluster_sizes"]
    q(spark, sf_dir).collect()  # schema memo and first-use work
    caching.release_caches()
    df, n_build = _jobs_run_by(spark, lambda: q(spark, sf_dir))
    rows, n_collect = _jobs_run_by(spark, df.collect)
    caching.release_caches()
    assert sorted(tuple(r) for r in rows) == [(2, 19), (3, 1), (4, 1)]
    assert (n_build, n_collect) == (10, 3)
