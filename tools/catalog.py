"""Generate QUERIES.md — the user-facing catalog of every registry
query: name, driver-gate position, check mode, and description.

Pure-Python (imports the registry, starts no Spark session); rerun
after adding queries: python tools/catalog.py
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from kafka_streams_homework_spark.queries import REGISTRY, WINDOW  # noqa: E402


QUERIES_MD = os.path.join(ROOT, "QUERIES.md")


def render() -> str:
    """QUERIES.md's text, from the registry as it is now."""
    lines = [
        "# QUERIES — the engine's public query surface "
        "(auto-generated by tools/catalog.py)\n",
        "\nEvery entry is callable as `queries()[name](spark, sf_dir)` and",
        "returns a DataFrame. *check* = `oracle` (DuckDB hash parity in the",
        "correctness gate / `tools/check_oracle.py`) or `rows` (approximate",
        "or hash-dependent output; bounds pinned in pytest). Positions ≤",
        f"{WINDOW} fall inside the driver's per-round correctness sample;",
        "the rest are swept by `tools/check_oracle.py`.\n",
        "\n| # | query | check | description |",
        "|---|---|---|---|",
    ]
    for i, (name, spec) in enumerate(REGISTRY.items(), start=1):
        check = "oracle" if spec.oracle is not None else "rows"
        desc = " ".join(spec.description.split())
        lines.append(f"| {i} | `{name}` | {check} | {desc} |")
    return "\n".join(lines) + "\n"


def main() -> None:
    with open(QUERIES_MD, "w") as f:
        f.write(render())
    print(f"wrote {QUERIES_MD} ({len(REGISTRY)} queries)")


if __name__ == "__main__":
    main()
