"""Parquet schema memo (sources.readers.read_parquet): the inferred
schema of a regular local file is reused per file version, so repeat
reads submit no schema-inference job; anything whose file set can
change unseen is still inferred."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from etl_framework_spark import catalog
from etl_framework_spark.sources import read_source
from etl_framework_spark.sources import readers


def _last_job(spark) -> int:
    # job ids are sequential and the status store evicts the oldest,
    # so the newest id stays exact however long the session has run
    return max(spark.sparkContext.statusTracker().getJobIdsForGroup(None), default=-1)


def _jobs_during(spark, fn):
    before = _last_job(spark)
    out = fn()
    return _last_job(spark) - before, out


def test_second_read_of_a_file_submits_no_job(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2, 3], "b": ["x", "y", "z"]}), path)
    spec = {"format": "parquet", "path": path}
    first, df1 = _jobs_during(spark, lambda: read_source(spark, spec))
    second, df2 = _jobs_during(spark, lambda: read_source(spark, spec))
    assert first >= 1  # inference
    assert second == 0
    assert df2.schema == df1.schema
    assert sorted(df2.collect()) == sorted(df1.collect())


def test_rewritten_file_returns_new_schema(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert read_source(spark, {"path": path}).columns == ["a"]
    pq.write_table(pa.table({"a": [1, 2], "b": [0.5, 1.5]}), path)
    df = read_source(spark, {"path": path})
    assert df.dtypes == [("a", "bigint"), ("b", "double")]
    assert df.count() == 2


def test_directory_source_is_still_inferred(spark, tmp_path):
    path = str(tmp_path / "dir")
    spark.range(10).write.parquet(path)
    read_source(spark, {"path": path})
    again, df = _jobs_during(spark, lambda: read_source(spark, {"path": path}))
    assert again >= 1
    assert df.count() == 10


def test_events_nanos_read_without_conf_does_not_poison_memo(spark, tmp_path):
    """A read of a TIMESTAMP(NANOS) events file with nanosAsLong unset
    must not leave a schema that catalog.table (which sets it) reuses."""
    key = "spark.sql.legacy.parquet.nanosAsLong"
    ts = pa.array([1_700_000_000_123_456_789, 1_700_000_100_000_000_000],
                  pa.timestamp("ns", tz="UTC"))
    pq.write_table(pa.table({"event_id": [1, 2], "ts": ts}),
                   str(tmp_path / "events.parquet"))
    saved = spark.conf.get(key)
    try:
        spark.conf.unset(key)
        try:
            readers.read_parquet(spark, str(tmp_path / "events.parquet"))
        except Exception:
            pass  # rejected outright: nothing memoized
        for _ in range(2):  # inferred, then from the memo
            df = catalog.table(spark, str(tmp_path), "events")
            assert dict(df.dtypes)["ts"] == "timestamp"
            got = [r["ts"] for r in df.orderBy("event_id").collect()]
            assert [t.microsecond for t in got] == [123456, 0]
    finally:
        spark.conf.set(key, saved)


def test_memo_is_bounded(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(readers, "_SCHEMA_MEMO_SIZE", 2)
    for i in range(4):
        path = str(tmp_path / f"t{i}.parquet")
        pq.write_table(pa.table({f"c{i}": [i]}), path)
        assert readers.read_parquet(spark, path).columns == [f"c{i}"]
        assert len(readers._SCHEMA_MEMO) <= 2


@pytest.mark.parametrize("path", ["s3a://bucket/t.parquet", "/no/such/file.parquet",
                                  "/tmp/*.parquet"])
def test_non_local_or_missing_paths_have_no_memo_key(spark, path):
    assert readers._parquet_schema_key(spark, path, {}) is None
