"""events.ts has two on-disk encodings: parquet timestamp[ns], read as a
long under nanosAsLong and truncated to µs with `ts DIV 1000`, and native
timestamp[us].  The batch loader and the streaming source must turn both
into the same µs-truncated timestamps."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq

# epoch nanoseconds; the first and last carry a non-zero sub-µs part
EVENT_NS = [1_700_000_000_123_456_789, 1_700_000_001_000_000_000,
            1_600_000_000_999_999_999]


def _write_events(sf_dir, unit: str) -> None:
    ts = EVENT_NS if unit == "ns" else [v // 1000 for v in EVENT_NS]
    pq.write_table(pa.table({
        "event_id": pa.array([1, 2, 3], pa.int64()),
        "ts": pa.array(ts, pa.timestamp(unit)),
        "user_id": pa.array([10, 20, 30], pa.int64()),
        "event_type": ["view", "click", "buy"],
        "value": pa.array([1.0, 2.5, None], pa.float64()),
        "props": ["{}", "{}", "{}"],
    }), sf_dir / "events.parquet")


def test_ns_and_us_events_load_to_the_same_timestamps(spark, tmp_path):
    from datafusion_umami_spark.streaming.runner import (
        read_events_stream,
        stream_to_memory,
    )
    from datafusion_umami_spark.tables import events_ts_is_ns, table

    micros = "unix_micros(CAST(ts AS TIMESTAMP)) AS us"
    want = [v // 1000 for v in EVENT_NS]
    for unit in ("ns", "us"):
        sf_dir = tmp_path / unit
        sf_dir.mkdir()
        _write_events(sf_dir, unit)
        assert events_ts_is_ns(spark, str(sf_dir)) == (unit == "ns")

        batch = table(spark, str(sf_dir), "events")
        assert dict(batch.dtypes)["ts"] == "timestamp_ntz"
        got = batch.orderBy("event_id").selectExpr(micros).collect()
        assert [r.us for r in got] == want, unit

        stream = read_events_stream(spark, str(sf_dir))
        assert dict(stream.dtypes)["ts"] == "timestamp"
        drained = stream_to_memory(
            stream.select("event_id", "ts"), f"events_ts_{unit}", "append")
        got = drained.orderBy("event_id").selectExpr(micros).collect()
        assert [r.us for r in got] == want, unit
