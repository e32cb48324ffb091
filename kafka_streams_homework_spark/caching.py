"""Cache lifecycle for intra-query persisted intermediates.

Several operators persist an intermediate that multiple plan branches
fold (the shingle-hash table in ``operators.dedup``, the minute-grain
pre-aggregate in ``hierarchical_rollup``). Spark's CacheManager matches
these by canonicalized plan, so repeated query invocations reuse the
same cached blocks — but nothing ever dropped them, so a long session
(bench best-of-2, full oracle sweeps) accumulated cached data for its
lifetime.

``tracked_persist`` is a drop-in ``df.persist()`` that records the
handle; harnesses call ``release_caches()`` between sweeps to return
executor storage memory. At 100 TB the same pattern applies unchanged —
persisted intermediates there use MEMORY_AND_DISK (the default), so
blocks spill rather than evict hot shuffle data, and the job releases
them at the end of the pipeline run.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

_TRACKED: list[DataFrame] = []


def tracked_persist(df: DataFrame, level: StorageLevel | None = None) -> DataFrame:
    """``df.persist()`` whose handle is released by ``release_caches``."""
    df = df.persist(level) if level is not None else df.persist()
    _TRACKED.append(df)
    return df


def tracked_checkpoint(df: DataFrame, eager: bool = False) -> DataFrame:
    """``df.localCheckpoint`` whose blocks ``release_caches`` frees.

    For multi-consumer intermediates that dominate a query's PLANNING
    cost when expressed as a persist: a cached subtree is re-analyzed
    and re-canonicalized at every reference, while a checkpoint is a
    LogicalRDD leaf — Catalyst sees a flat plan (r11 measurement:
    1.6 s of driver gap on the dedup pairs plan, mostly canonicalizing
    the 4-way-referenced shingle cache). Lazy by default: the first
    action materializes the RDD.

    RELEASE CONTRACT (differs from tracked_persist — r11 ADVICE): a
    released persist RECOMPUTES on next use, but a localCheckpoint has
    truncated lineage, so after ``release_caches()`` any plan that
    still references it hard-fails with "checkpoint block not found"
    instead of recomputing. Therefore: a query's RETURNED DataFrame is
    only valid until the harness's next ``release_caches()`` call —
    re-invoke the query function to get a fresh plan (every in-repo
    harness — check_oracle, perfbench, the stall probe, and
    tools/qtime.py's timing loop, which bench.py and the scale probe
    use — already rebuilds plans per leg, which is what makes this
    trade safe).
    """
    out = df.localCheckpoint(eager=eager)
    _TRACKED_CKPTS.append(out)
    return out


_TRACKED_CKPTS: list[DataFrame] = []


_ON_RELEASE: list = []


def on_release(fn) -> None:
    """Register a callback run by every ``release_caches()`` — for
    module-level memos of tracked substrates (operators.dedup's
    per-run shingle memo) that must not outlive the blocks they point
    at."""
    _ON_RELEASE.append(fn)


def release_caches() -> int:
    """Unpersist every tracked intermediate; returns how many.

    NOTE (r11 ADVICE): DataFrames RETURNED by query functions may
    reference tracked checkpoints; they are invalid after this call
    (see tracked_checkpoint). Harnesses must rebuild plans per leg.
    """
    for fn in _ON_RELEASE:
        try:
            fn()
        except Exception as e:  # one failing callback must not skip the rest
            warnings.warn(
                f"release_caches: on-release callback "
                f"{getattr(fn, '__qualname__', fn)!s} failed: {e!r}",
                RuntimeWarning,
                stacklevel=2,
            )
    n = len(_TRACKED) + len(_TRACKED_CKPTS)
    for df in _TRACKED:
        try:
            df.unpersist()
        except Exception:
            pass  # session already stopped
    _TRACKED.clear()
    for df in _TRACKED_CKPTS:
        release_checkpoint(df)
    _TRACKED_CKPTS.clear()
    return n


def release_checkpoint(df: DataFrame) -> bool:
    """Release the block-manager blocks behind a ``localCheckpoint``-ed
    DataFrame (r7 ADVICE durability nit, VERDICT r7 task 6).

    ``localCheckpoint`` persists the materialized RDD in the block
    manager and nothing releases it until the JVM GCs the RDD handle —
    an iterative loop that checkpoints per step therefore accumulates
    one superseded block set per iteration for the session's lifetime.
    The checkpointed RDD is reachable through the plan's ``LogicalRDD``
    node; unpersisting it frees the blocks immediately (verified
    against ``getRDDStorageInfo``).

    Call ONLY on a checkpoint that is fully superseded — i.e. after
    every downstream frame that read from it has itself been
    (eagerly) checkpointed. Returns False (no-op) when ``df`` is not a
    local checkpoint, so loop code can call it unconditionally.
    """
    try:
        plan = df._jdf.queryExecution().analyzed()
        if not plan.getClass().getName().endswith(".LogicalRDD"):
            return False
        plan.rdd().unpersist(False)
        return True
    except Exception:
        return False


def checkpointed_rdd_count(spark) -> int:
    """How many RDDs currently hold blocks in the block manager —
    the observable a bounded-checkpoint-footprint test asserts on."""
    return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())
