"""File-replay streaming harness (SURVEY.md §2.9 S8/S9, T8).

Replays the events parquet through a real Structured Streaming query
(file source → transform → memory sink) with Trigger.AvailableNow, so
the pipeline code under test is the exact code a production stream
would run; at end-of-input the result must equal the batch answer.
"""

from __future__ import annotations

import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from etl_framework_spark.catalog import events


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events parquet with the µs-timestamp
    conversion applied — the streaming twin of catalog.table."""
    return events(spark, sf_dir, stream=True)


def replay_events(
    spark: SparkSession,
    sf_dir: str,
    transform: Callable[[DataFrame], DataFrame],
    output_mode: str = "complete",
) -> DataFrame:
    """Run `transform` over the replayed events stream to completion
    and return the materialized result table."""
    name = f"replay_{uuid.uuid4().hex[:8]}"
    q = (
        transform(events_stream(spark, sf_dir))
        .writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)
