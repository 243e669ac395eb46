"""Tests: input normalization (S1/S4) and time-window aggregations."""

from case_uco_ontology_map_spark.sources import ingest


def test_sniff_payload():
    assert ingest.sniff_payload({"a": 1})[0] == "json"
    assert ingest.sniff_payload('{"a": 1}') == ("json", {"a": 1})
    fmt, rows = ingest.sniff_payload("a,b\n1,2\n3,4")
    assert fmt == "csv" and rows == [{"a": "1", "b": "2"}, {"a": "3", "b": "4"}]
    assert ingest.sniff_payload("just words")[0] == "text"


def test_payload_to_records_df_json(spark, mft_payload):
    df, shared = ingest.payload_to_records_df(spark, mft_payload)
    assert df.count() == 2
    assert shared["artifact_type"] == mft_payload["artifact_type"]
    assert "EntryNumber" in df.columns and "artifact_type" not in df.columns


def test_payload_to_records_df_csv(spark):
    df, shared = ingest.payload_to_records_df(
        spark, "name,size\nfoo.txt,10\nbar.txt,20", artifact_type="File Listing"
    )
    assert df.count() == 2
    assert shared["artifact_type"] == "File Listing"


def test_sessionize_gap_boundary(spark):
    """session_window semantics (pinned — the oracle's gaps-and-islands cut
    must match): a gap of exactly gapDuration still MERGES (Spark treats the
    [ts, ts+gap) ranges as touching); only a strictly larger gap starts a
    new session; window end = last ts in session + gap."""
    from datetime import datetime

    from case_uco_ontology_map_spark.streaming.ingest import sessionize

    t0 = datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        ("u1", datetime(2024, 1, 1, 0, 0, 0)),
        ("u1", datetime(2024, 1, 1, 0, 30, 0)),    # exactly 30:00 → merges
        ("u1", datetime(2024, 1, 1, 0, 59, 0)),    # < 30 min → merges
        ("u1", datetime(2024, 1, 1, 1, 29, 1)),    # 30:01 → NEW session
        ("u2", t0),
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts"])
    out = sessionize(df, "ts", "30 minutes", keys=("user_id",)).collect()
    by_user = {}
    for r in sorted(out, key=lambda r: (r.user_id, r.session_start)):
        by_user.setdefault(r.user_id, []).append(r)
    assert len(by_user["u1"]) == 2
    first, second = by_user["u1"]
    assert first.n_events == 3
    assert first.session_start == datetime(2024, 1, 1, 0, 0, 0)
    # end = last event in session + gap
    assert first.session_end == datetime(2024, 1, 1, 1, 29, 0)
    assert second.n_events == 1
    assert by_user["u2"][0].n_events == 1


def test_windowed_stats_sliding(spark):
    """Sliding windows: each event lands in window_size/slide windows."""
    from datetime import datetime

    from case_uco_ontology_map_spark.streaming.ingest import windowed_stats

    df = spark.createDataFrame(
        [("a", datetime(2024, 1, 1, 0, 45, 0))], ["k", "ts"]
    )
    out = windowed_stats(
        df, "ts", "1 hour", keys=("k",), slide="30 minutes"
    ).collect()
    starts = sorted(r.window_start for r in out)
    assert starts == [
        datetime(2024, 1, 1, 0, 0, 0),
        datetime(2024, 1, 1, 0, 30, 0),
    ]
    assert all(r.n_events == 1 for r in out)
