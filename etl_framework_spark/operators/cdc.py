"""CDC / slowly-changing-dimension operators (ETL-framework surface;
pyspark_guide 'CDC / SCD2': no MERGE INTO without Delta, so emulate
with anti-join / key windows + union + interval bookkeeping — all
hash-partitioned DataFrame ops, no driver loops).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def merge_upsert(target: DataFrame, source: DataFrame, key: str) -> DataFrame:
    """Upsert: source rows replace target rows on `key`; unmatched
    target rows survive. (The batch emulation of MERGE INTO ...
    WHEN MATCHED UPDATE WHEN NOT MATCHED INSERT.)"""
    keep = target.join(source.select(key), on=key, how="left_anti")
    return keep.unionByName(source)


def scd2_apply(
    dim: DataFrame,
    updates: DataFrame,
    key: str,
    tracked: list[str],
    ts: Column,
    eff_from: str = "eff_from",
    eff_to: str = "eff_to",
) -> DataFrame:
    """Apply one batch of updates to an SCD2 dimension.

    dim: (key, tracked..., eff_from, eff_to) with eff_to NULL marking
    the current row per key. updates: (key, tracked...). Rows whose
    tracked attributes changed (or whose key is new) close the current
    row at `ts` and open a new row [ts, NULL); identical updates are
    no-ops. History rows pass through untouched.

    One pass over ``dim`` ∪ ``updates`` windowed by key, not joins
    of ``current`` against ``changed``: the result reads ``dim`` once,
    so a chain of n batches plans n scans of the first dimension, not
    6^n (six references per batch made a 4-batch chain unplannable).
    """
    types = dict(dim.dtypes)
    rows = dim.withColumn("__upd", F.lit(False)).unionByName(
        updates.select(key, *tracked)
        .withColumn(eff_from, F.lit(None).cast(types[eff_from]))
        .withColumn(eff_to, F.lit(None).cast(types[eff_to]))
        .withColumn("__upd", F.lit(True))
    )
    by_key = Window.partitionBy(key)
    # a NULL key matches nothing, as in an equi-join
    is_current = ~F.col("__upd") & F.col(eff_to).isNull() & F.col(key).isNotNull()
    cur = F.first(F.when(is_current, F.struct(*tracked)), ignorenulls=True)
    diff = F.lit(False)
    for c in tracked:
        diff = diff | ~F.col(f"__cur.{c}").eqNullSafe(F.col(c))
    rows = rows.withColumn("__cur", cur.over(by_key)).withColumn(
        "__changed", F.col("__upd") & (F.col("__cur").isNull() | diff)
    )
    closes = F.max(F.col("__changed").cast("int")).over(by_key) == 1
    return (
        rows.withColumn("__closes", closes)
        .filter(~F.col("__upd") | F.col("__changed"))
        .withColumn(
            eff_to,
            F.when(F.col("__upd"), F.lit(None).cast(types[eff_to]))
            .when(is_current & F.col("__closes"), ts)
            .otherwise(F.col(eff_to)),
        )
        .withColumn(eff_from, F.when(F.col("__upd"), ts).otherwise(F.col(eff_from)))
        .select(*dim.columns)
    )
