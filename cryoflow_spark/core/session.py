"""SparkSession factory with scale-aware defaults.

New component (no reference counterpart — the reference's runtime was
in-process Polars; SURVEY.md §7 adds ``session.py``). Centralizes the
settings every entry point (CLI, tests, bench, driver) should share:

- AQE on (runtime re-planning, skew-join handling at scale)
- Arrow-based pandas exchange on (fast Pandas-UDF boundary)
- UTC session timezone (deterministic timestamp semantics vs the oracle)
- shuffle partitions sized to local parallelism for tests; on a real
  cluster this should be overridden (or left to AQE coalescing).
"""

from __future__ import annotations

import os
from contextlib import contextmanager
from typing import Optional

from pyspark.sql import SparkSession


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """``spark.driver.memory`` default: 16g, capped at half the host's
    ``MemTotal`` so a local driver never asks for more heap than the
    machine has. Falls back to 16g when ``meminfo`` cannot be read."""
    try:
        with open(meminfo) as fh:
            kib = next(
                int(line.split()[1])
                for line in fh
                if line.startswith("MemTotal:")
            )
    except (OSError, StopIteration, ValueError, IndexError):
        return "16g"
    return f"{min(16 * 1024, kib // 2048)}m"


DEFAULT_CONFS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Runtime bloom-filter join pruning (selective dim filters pushed into
    # the fact-side scan) is ON BY DEFAULT in Spark 4
    # (spark.sql.optimizer.runtime.bloomFilter.enabled=true) — relied on,
    # not overridden. Its semiJoinReduction sibling stays at its default:
    # enabling it stalled query planning in this environment.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    # InferFiltersFromGenerate clones the generator's full child expression
    # into an inferred pre-Generate filter. For our text operators that
    # child is the whole tokenize→n-gram pipeline, so the inferred "is the
    # array non-empty" check re-runs the most expensive expression in the
    # plan once per row (measured 4-8x slowdown on the dedup operators).
    # The rule is purely an optimization — excluding it never changes
    # results.
    "spark.sql.optimizer.excludedRules": (
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
    ),
    # Benchmarks and the driver run repeated short actions; keep the UI off.
    "spark.ui.showConsoleProgress": "false",
}


@contextmanager
def bounded_iteration(spark: SparkSession, n_rows: int,
                      rows_per_partition: int = 65536,
                      pause_aqe: bool = False):
    """Conf window for the ROUND LOOP of an iterative graph/dedup
    operator (pagerank, label propagation, k-core, k-truss, connected
    components): size the loop's shuffle width to its per-round state
    instead of the corpus-scale session default (guide §2: derive
    partitioning from input size, never a constant).

    The loop state is the extracted, already-checkpointed edge/node
    table — bounded by a vocabulary, not the corpus — yet every round's
    exchanges inherit the session's ``spark.sql.shuffle.partitions``
    (sized for corpus-scale scans). At any scale that is pure per-round
    scheduling overhead: tasks that carry a few rows each, plus one AQE
    re-plan per stage to discover (again) that the data is tiny.

    ``parts = clamp(ceil(n_rows / rows_per_partition), 1, session)`` —
    on a real cluster a million-edge graph keeps the session width and
    AQE; a 60-node event-type graph iterates on a couple of partitions.
    ``pause_aqe=True`` additionally disables AQE inside the window when
    the whole loop state needs at most a handful of partitions (nothing
    to coalesce, skew handling cannot trigger below its 256 MB
    threshold): lazy-checkpoint builds then launch NO jobs, so a loop
    whose rounds have exactly one driver action (pagerank's dangling
    fold, label propagation's none) executes one job per action instead
    of an AQE stage-materialization burst per round. It is OPT-IN
    because loops whose rounds re-join their own output several times
    (k-core, k-truss, the two-phase components star rounds) measure
    FASTER under AQE — its runtime broadcast/coalesce decisions beat
    the static tiny-partition plans there (interleaved A/B at sf0.1:
    x207 3.7 s parts-only vs 5.3 s with AQE paused; x208 1.9 s paused
    vs 2.2 s parts-only).

    Row placement never affects operator results (canonical-fold
    determinism rules, see queries/__init__.py), so the window is
    semantics-free. Confs are restored on exit even on error; the
    returned (lazy) tail of the operator executes under the caller's
    session confs as before.
    """
    session_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    parts = max(1, min(session_parts, -(-int(n_rows) // rows_per_partition)))
    if parts >= session_parts:
        yield
        return
    tiny = pause_aqe and parts <= 8
    old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.shuffle.partitions", str(parts))
    if tiny:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", str(session_parts))
        if tiny:
            spark.conf.set("spark.sql.adaptive.enabled", old_aqe)


def tune_for_text_ops(spark: SparkSession) -> None:
    """Apply the runtime confs the text/dedup operators depend on.

    Query functions call this defensively so they stay fast even under a
    session the engine didn't build (e.g. the driver's own harness).
    All confs are runtime-settable.
    """
    spark.conf.set(
        "spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
    )


def get_session(
    app_name: str = "cryoflow-spark",
    master: Optional[str] = None,
    conf: Optional[dict[str, str]] = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env-overridable,
    falls back to ``local[*]``). Explicit ``conf`` entries win over
    defaults.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    builder = builder.master(master)

    # local[32] runs 32 executor threads INSIDE the driver JVM, whose
    # default 1g heap starves 32 concurrent task memory managers (observed:
    # GCLocker retry storms, then task OOM on the heavier shuffle stages).
    # Half the host's memory at most, so a smaller host does not promise
    # the JVM a heap it cannot back. Only effective at JVM launch —
    # harmless when a session already exists. A real cluster sets
    # executor memory per its own sizing.
    merged = {**DEFAULT_CONFS, "spark.driver.memory": default_driver_memory()}
    if "spark.sql.shuffle.partitions" not in (conf or {}):
        # Local mode: one shuffle partition per core is the right size for
        # the test scale factors; a real cluster overrides via conf.
        cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 8)
        merged["spark.sql.shuffle.partitions"] = cpus
    merged.update(conf or {})
    for k, v in merged.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
