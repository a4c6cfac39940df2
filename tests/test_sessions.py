"""Gap-based sessionization vs hand-computed boundaries."""

from __future__ import annotations

import datetime as dt

from p5_rdf_rdb2rdf_spark.ops.sessions import session_stats, sessionize
from plan_nodes import count_nodes


def _ts(minutes: float) -> dt.datetime:
    return dt.datetime(2026, 1, 1) + dt.timedelta(minutes=minutes)


def test_sessionize_gap_boundaries_and_tiebreak(spark):
    """New session strictly AFTER the gap (exact-gap events stay in the
    same session); (ts, event_id) tiebreak; per-user independence; null
    timestamps join the user's first session without starting new ones."""
    rows = [
        # user 1: events at 0, 10, 40 (gap 30 exactly -> same session),
        # 71 (gap 31 -> NEW), 80
        (1, 1, _ts(0)), (2, 1, _ts(10)), (3, 1, _ts(40)),
        (4, 1, _ts(71)), (5, 1, _ts(80)),
        # user 2: simultaneous events tie-broken by id, then a big gap
        (6, 2, _ts(5)), (7, 2, _ts(5)), (8, 2, _ts(500)),
        # user 3: null ts then a real event
        (9, 3, None), (10, 3, _ts(1)),
    ]
    df = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp")
    got = {r.event_id: r.session_idx for r in sessionize(df, gap_minutes=30).collect()}
    assert got == {1: 0, 2: 0, 3: 0, 4: 1, 5: 1, 6: 0, 7: 0, 8: 1, 9: 0, 10: 0}

    stats = {
        (r.user_id, r.session_idx): (r.n_events, r.duration_seconds)
        for r in session_stats(df, gap_minutes=30).collect()
    }
    assert stats[(1, 0)] == (3, 40 * 60.0)
    assert stats[(1, 1)] == (2, 9 * 60.0)
    assert stats[(2, 1)] == (1, 0.0)


def test_session_window_matches_batch_boundary_semantics(spark):
    """The native session_window operator (the streaming path) and the
    batch gap-island sessionize must agree EXACTLY at the boundary:
    events precisely gap apart merge, one microsecond more splits."""
    from pyspark.sql import functions as F

    rows = [
        (1, 1, _ts(0)),
        (2, 1, _ts(30)),                                   # == gap: merges
        (3, 1, _ts(30 + 30) ),                             # == gap again
        (4, 1, _ts(90) + dt.timedelta(microseconds=1)),    # > gap: splits
        (5, 2, _ts(0)), (6, 2, _ts(100)),
    ]
    df = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp")

    batch = {
        (r.user_id, r.start_ts, r.end_ts, r.n_events)
        for r in session_stats(df, gap_minutes=30).collect()
    }
    native = {
        (r.user_id, r.start_ts, r.end_ts, r.n_events)
        for r in (
            df.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.min("ts").alias("start_ts"),
                F.max("ts").alias("end_ts"),
            )
            .select("user_id", "start_ts", "end_ts", "n_events")
        ).collect()
    }
    assert batch == native
    # the exact-gap chain 1-2-3 is ONE session; the +1us event split off
    assert (1, _ts(0), _ts(60), 3) in batch

def test_sessionize_null_ts_matches_duckdb_nulls_first(spark):
    """Null-ts events: Spark ASC defaults to NULLS FIRST, DuckDB to NULLS
    LAST — sessionize pins asc_nulls_first explicitly and any SQL oracle
    must spell out NULLS FIRST (ADVICE r6 #1). This twin seeds null-ts
    rows and proves boundary-for-boundary agreement under that spelling."""
    import duckdb

    rows = [
        (1, 1, None), (2, 1, _ts(0)), (3, 1, _ts(100)), (4, 1, None),
        (5, 2, _ts(0)), (6, 2, None), (7, 2, _ts(31)),
    ]
    df = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp")
    got = {
        (r.event_id, r.session_idx)
        for r in sessionize(df, gap_minutes=30).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE events (event_id BIGINT, user_id BIGINT, ts TIMESTAMP)"
    )
    con.executemany(
        "INSERT INTO events VALUES (?, ?, ?)", [list(r) for r in rows]
    )
    oracle = {
        (eid, sidx)
        for eid, sidx in con.execute(
            """
            WITH s AS (
              SELECT event_id, user_id, ts,
                     CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w
                               > 1800000000 THEN 1 ELSE 0 END AS ns
              FROM events
              WINDOW w AS (PARTITION BY user_id
                           ORDER BY ts ASC NULLS FIRST, event_id)
            )
            SELECT event_id,
                   SUM(ns) OVER (PARTITION BY user_id
                                 ORDER BY ts ASC NULLS FIRST, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS session_idx
            FROM s
            """
        ).fetchall()
    }
    assert got == oracle
    # nulls sort first: every null-ts event is in its user's session 0
    got_d = dict(got)
    assert got_d[1] == 0 and got_d[4] == 0 and got_d[6] == 0
    # and user 2's real events: 0 -> session 0, 31min later -> session 1
    assert got_d[5] == 0 and got_d[7] == 1


def test_sessionize_skew_observation_reports_mega_user(spark):
    """A planted mega-user surfaces in the skew Observation riding the
    window's own shuffle (VERDICT r6 #5) — max/p99 events-per-user
    metrics arrive with the first action, and the plan still contains
    exactly ONE exchange (the user-key hash shuffle)."""
    from pyspark.sql import Observation

    rows = [(i, 999, _ts(i)) for i in range(200)]  # mega-user: 200 events
    rows += [(1000 + u, u, _ts(0)) for u in range(20)]  # 20 one-event users
    df = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp")
    obs = Observation("session_skew")
    out = sessionize(df, gap_minutes=30, skew_observe=obs)
    assert count_nodes(out, "ShuffleExchangeExec", partitioning="HashPartitioning") == 1
    assert out.count() == 220
    m = obs.get
    assert m["max_events_per_user"] == 200
    # event-weighted p99: 200 of 220 events live with the mega-user
    assert m["p99_events_per_user"] == 200


def test_chunk_documents_stride_zero_raises(spark):
    """Explicit stride=0 must reach the validation error, not silently
    become the no-overlap default (ADVICE r6 #3)."""
    import pytest as _pytest

    from p5_rdf_rdb2rdf_spark.ops.text import chunk_documents

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with _pytest.raises(ValueError, match="stride must be positive"):
        chunk_documents(df, chunk_tokens=2, stride=0)
