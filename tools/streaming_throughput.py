"""Streaming throughput probe (VERDICT r4 task 6).

bench.py times the BATCH twins; this tool measures the streaming
pipelines themselves — end-to-end wall time and input rows/sec for the
availableNow runs of `streaming_price_alerts` and
`streaming_stateful_alerts` at a given sf dir — so streaming
regressions are measurable round-over-round (numbers recorded in
BASELINE.md "Streaming throughput").

The rate includes ALL fixed micro-batch machinery (checkpoint dir,
state store init, no-data flush batches), which dominates at sf0.1 —
that is the point: round-over-round comparisons at the same sf cancel
the fixed cost, while a real deployment amortizes it over unbounded
input. Usage:

    python tools/streaming_throughput.py [sf_dir] [runs]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kafka_streams_homework_spark import queries as Q
from kafka_streams_homework_spark.session import get_spark

PIPELINES = ["streaming_price_alerts", "streaming_stateful_alerts"]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    runs = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    spark = get_spark("streaming-throughput")
    spark.sparkContext.setLogLevel("ERROR")
    registry = Q.queries()
    n_events = Q._t(spark, sf_dir, "events").count()
    out: dict[str, dict] = {"sf_dir": sf_dir, "input_rows": n_events}
    for name in PIPELINES:
        times = []
        for _ in range(runs):
            t0 = time.perf_counter()
            registry[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            times.append(round(time.perf_counter() - t0, 3))
        best = min(times)
        out[name] = {
            "wall_s": times,
            "rows_per_sec_best": round(n_events / best),
        }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
