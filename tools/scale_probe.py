"""Scale-up probe — measures how query time grows with data size.

Builds an N× replica of the sf0.1 fact tables (key-shifted unions,
written with real split counts) in /tmp, runs headline queries warm at
both scales, and prints per-query ratios. Validates that plans
parallelize instead of degrading: on local[32] a 10× data ratio should
cost well under 10× wall-clock for scan-bound plans (fixed overhead
amortizes) and at most ~linear for shuffle-bound ones; a super-linear
ratio flags a plan defect (quadratic candidate generation, driver
bottleneck, skew collapse).

Text replicas are PERTURBED (per-replica vowel rotation via
``F.translate`` — JVM-side, length-preserving): without it every doc
gains N-1 exact twins and near-dup candidate pairs grow quadratically
as a replication artifact that real sf1 data would not have. Rotation
keeps each replica's intra-corpus duplicate structure identical to the
original (the mapping is injective per replica), so duplicate pairs
scale linearly — the realistic corpus-growth model.

Usage: python tools/scale_probe.py [N] [sf_dir] [query ...]
  N         replication factor (default 10 → sf0.1 → ~sf1)
  sf_dir    base scale dir (default /root/testdata/sf0.1)
  query     subset of registry names (default HEADLINE below)
Emits one JSON line (machine-readable) after the table; SCALE.md is
written from that output by hand/driver, not by this script.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from kafka_streams_homework_spark import queries as Q  # noqa: E402
from tools import qtime  # noqa: E402

HEADLINE = [
    # the judge's heavy family (VERDICT r3 task 6)
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "training_data_prep_v2",
    "knn_ivf_indexed",
    "bm25_rank",
    # scan/agg anchors — fixed-overhead amortization reference points
    "q1_pricing_summary",
    "price_alerts",
    "windowed_sum",
    "q3_shipping_priority",
    "q5_local_supplier",
    "lm_score",
    "pii_scrub",
    "stratified_sample",
    "token_count",
    "lm_score_bigram",
    "decontaminate",
    "repetition_score",
    "q18_large_orders",
    "windowed_distinct",
    "distinct_rollup_hll",
    "q8_market_share",
    "q21_waiting_orders",
    "cdc_chunks",
    "quantile_rollup_hist",
    "merge_apply_cdc",
    "training_data_prep",
]

FACT_KEYS = {
    "lineitem": "l_orderkey",
    "events": "event_id",
    "documents": "doc_id",
    "embeddings": "vec_id",
}

_VOWELS = "aeiou"
_CONSONANTS = "bcdfghjklmnpqrstvwxyz"


def _perturb(df, table: str, i: int):
    """Replica-specific, equality-preserving text perturbation.

    Vowels rotate by i mod 5 and consonants independently by i mod 21;
    the combined mapping is injective per replica and distinct for
    lcm(5,21)=105 replicas, so probes up to 100x keep duplicate/
    near-dup pair counts LINEAR in the replica count (two replicas
    never share a text transform; a vowel-only rotation would repeat
    every 5 replicas and manufacture quadratic cross-replica near-dup
    artifacts that real corpus growth would not have)."""
    if i == 0 or table != "documents":
        return df
    rot_v = _VOWELS[i % 5 :] + _VOWELS[: i % 5]
    rot_c = _CONSONANTS[i % 21 :] + _CONSONANTS[: i % 21]
    src = _VOWELS + _CONSONANTS
    dst = rot_v + rot_c
    return df.withColumn(
        "text",
        F.translate(F.col("text"), src + src.upper(), dst + dst.upper()),
    )


def replicate(spark, sf_dir: str, base: str, n: int) -> None:
    os.makedirs(base, exist_ok=True)
    for t, key in FACT_KEYS.items():
        df = spark.read.parquet(f"{sf_dir}/{t}.parquet")
        parts = [
            _perturb(
                df.withColumn(key, F.col(key) + F.lit(i * 10_000_000)), t, i
            )
            for i in range(n)
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionAll(p)
        out.repartition(32).write.mode("overwrite").parquet(f"{base}/{t}.parquet")
    for t in "customer part orders supplier nation region".split():
        os.makedirs(f"{base}/{t}.parquet", exist_ok=True)
        shutil.copyfile(
            f"{sf_dir}/{t}.parquet", f"{base}/{t}.parquet/part-0.parquet"
        )


def warm_time(fn, spark, sf_dir: str) -> float:
    """Min of 2 legs after one discarded warm leg."""
    return min(leg.seconds for leg in qtime.legs(spark, fn, sf_dir, 3)[1:])


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    names = sys.argv[3:] or HEADLINE
    base = f"/tmp/scale_probe_{n}x"
    spark = qtime.start("scale-probe", sf_dir)
    replicate(spark, sf_dir, base, n)
    reg = Q.queries()
    results: dict[str, dict[str, float]] = {}
    try:
        print(f"{'query':28} {'1x':>7} {n}x{'':>5} ratio")
        for name in names:
            t1 = warm_time(reg[name], spark, sf_dir)
            tn = warm_time(reg[name], spark, base)
            results[name] = {
                "t_1x": round(t1, 3),
                f"t_{n}x": round(tn, 3),
                "ratio": round(tn / t1, 2),
            }
            print(f"{name:28} {t1:7.2f} {tn:7.2f} {tn / t1:6.2f}")
        print(json.dumps({"n": n, "sf_dir": sf_dir, "queries": results}))
    finally:
        shutil.rmtree(base, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
