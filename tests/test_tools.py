"""The timing tools: their query lists name registry queries, and the
one timer (tools/qtime.py) runs end to end with the event-log layers."""

from __future__ import annotations

import importlib.util
import json
import os
import subprocess
import sys
from pathlib import Path

from kafka_streams_homework_spark import queries as Q

ROOT = Path(__file__).resolve().parents[1]

SPARK_LAYERS = {
    "spark.jobs",
    "spark.stages",
    "spark.tasks",
    "spark.sql_planning_ms",
    "spark.driver_gap_ms",
    "spark.task_run_ms",
    "spark.task_cpu_ms",
    "spark.gc_ms",
    "spark.shuffle_read_bytes",
    "spark.shuffle_write_bytes",
    "spark.spill_bytes",
    "spark.task_skew_ratio",
}


def _load(rel: str):
    """A tool module loaded by path, without starting Spark; the
    sys.path entries its import adds are undone."""
    saved = list(sys.path)
    spec = importlib.util.spec_from_file_location(f"tool_{Path(rel).stem}", ROOT / rel)
    module = importlib.util.module_from_spec(spec)
    try:
        spec.loader.exec_module(module)
    finally:
        sys.path[:] = saved
    return module


def test_tool_query_lists_name_registry_queries():
    bench = _load("bench.py")
    scale = _load("tools/scale_probe.py")
    stall = _load("tools/stall_probe.py")
    lists = {
        "BENCH_QUERIES": bench.BENCH_QUERIES,
        "HEADLINE": scale.HEADLINE,
        "POLLUTERS": stall.POLLUTERS,
        "SUSPECT": [stall.SUSPECT],
    }
    registry = Q.queries()
    for label, names in lists.items():
        assert [n for n in names if n not in registry] == [], label
        assert len(set(names)) == len(names), label
    assert len(bench.BENCH_QUERIES) == 180


def test_query_catalog_matches_the_registry():
    """QUERIES.md is tools/catalog.py's rendering of the registry; rerun
    the tool after changing a query's name, oracle or description."""
    catalog = _load("tools/catalog.py")
    assert catalog.render() == (ROOT / "QUERIES.md").read_text()


def test_qtime_layers_end_to_end(sf_dir, tmp_path):
    env = {**os.environ, "TMPDIR": str(tmp_path)}
    out = subprocess.run(
        [
            sys.executable,
            str(ROOT / "tools" / "qtime.py"),
            "--runs",
            "1",
            "--layers",
            sf_dir,
            "price_alerts",
            "latest_by_key",
        ],
        capture_output=True,
        text=True,
        timeout=300,
        env=env,
        check=True,
    )
    record = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(record["queries"]) == {"price_alerts", "latest_by_key"}
    for name, q in record["queries"].items():
        assert len(q["legs"]) == 1, name
        assert set(q["layers"]) == SPARK_LAYERS, name
        assert q["layers"]["spark.jobs"] >= 1, name
    assert record["sum_min_s"] == round(sum(q["min_s"] for q in record["queries"].values()), 3)
    assert list(tmp_path.glob("qtime-events-*")) == []
