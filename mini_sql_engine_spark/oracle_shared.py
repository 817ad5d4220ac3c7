"""Oracle SQL shared between batch and streaming query packs.

The streaming session/sliding-window queries are verified against the
SAME DuckDB oracles as their batch counterparts (stream-batch parity is
the whole point of Structured Streaming's unified model). Those shared
strings live here — a leaf module with no package-internal imports — so
``streaming.windows`` can use them without importing the
``operators`` package. Importing ``operators.rollups`` from inside
``streaming.windows`` at module scope creates a cycle: a test that
imports ``streaming.windows`` first triggers ``operators/__init__``,
which re-imports the still-partially-initialized windows module and
silently builds ``ALL_ORACLES`` without the stream entries (QUERIES was
already defined, ORACLES not yet). This module breaks that cycle.
"""

from __future__ import annotations

# DuckDB reads events.ts at its native precision; truncate to µs so both
# engines bucket identical inputs (FIXTURES.md §1.4). Identity under the
# current timestamp[us] testdata; kept for robustness to ns testdata.
EVENTS_US = "(SELECT * REPLACE (make_timestamp(epoch_us(ts)) AS ts) FROM events)"

# Sessionization with a 1-hour inactivity gap — oracle for BOTH
# ext_session_window (batch) and stream_session_windows (streaming).
SESSION_WINDOW_ORACLE = f"""
        WITH e AS (SELECT * FROM {EVENTS_US}),
        marked AS (
            SELECT user_id, ts, value,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR ts - lag(ts) OVER w > INTERVAL '1 hour'
                        THEN 1 ELSE 0 END AS new_sess
            FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        ),
        sess AS (
            SELECT user_id, ts, value,
                   SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                       ROWS UNBOUNDED PRECEDING) AS sess_id
            FROM marked
        )
        SELECT user_id,
               CAST(floor(epoch(MIN(ts))) AS BIGINT) AS sess_start_s,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT))
                   AS BIGINT) AS sum_cents
        FROM sess GROUP BY user_id, sess_id
    """

# 48h windows sliding by 24h — oracle for BOTH ext_sliding_window
# (batch) and stream_sliding_counts (streaming).
SLIDING_WINDOW_ORACLE = """
        SELECT strftime(date_trunc('day', ts) - offs.i * INTERVAL '1 day',
                        '%Y-%m-%d') AS win_start,
               event_type, COUNT(*) AS n_events
        FROM events, (VALUES (0), (1)) AS offs(i)
        GROUP BY 1, 2
    """

# ---------------------------------------------------------------------------
# Constants and oracles shared by operators.analytics and
# streaming.upsert. They live HERE (leaf module) so that
# streaming.upsert — whose mapInPandas functions Python workers
# unpickle, importing the whole upsert module — never imports the
# analytics pack at module scope on the executor side.
# ---------------------------------------------------------------------------

from mini_sql_engine_spark.functions.numeric import NANO as _NANO

QSK_K = 64  # quantile-summary points per partition (batch + stream)
QSK_TARGETS = (100_000, 250_000, 500_000, 750_000, 900_000)  # ppm

PSI_BINS = 10
PSI_BIN_CENTS = 3500  # fixed-width purchase-value bins (~$35 each)

# Population-stability-index drift monitor — oracle for BOTH
# ext_psi_drift (batch) and stream_psi_drift (streaming full drain).
PSI_DRIFT_ORACLE = f"""
        WITH ev AS (
            SELECT CAST(LEAST(FLOOR(FLOOR(value * 100 + 0.5)
                       / {PSI_BIN_CENTS}), {PSI_BINS - 1}) AS BIGINT)
                       AS bin,
                   EXTRACT(day FROM ts) <= 15 AS early
            FROM events WHERE event_type = 'purchase'),
        per_bin AS (
            SELECT bin,
                   CAST(SUM(CASE WHEN early THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_early,
                   CAST(SUM(CASE WHEN early THEN 0 ELSE 1 END) AS BIGINT)
                       AS n_late
            FROM ev GROUP BY bin),
        tot AS (
            SELECT CAST(SUM(n_early) AS BIGINT) AS ne,
                   CAST(SUM(n_late) AS BIGINT) AS nl
            FROM per_bin),
        rws AS (
            SELECT bin, n_early, n_late,
                   (n_early + 1) / (ne + {PSI_BINS}) AS p,
                   (n_late + 1) / (nl + {PSI_BINS}) AS q
            FROM per_bin CROSS JOIN tot),
        psi AS (
            SELECT CAST(SUM(CAST(FLOOR((p - q) * LN(p / q) * {_NANO}
                       + 0.5) AS BIGINT)) AS BIGINT) AS psi_q
            FROM rws)
        SELECT bin, n_early, n_late,
               ROUND(p, 6) AS p, ROUND(q, 6) AS q,
               ROUND(psi_q / {_NANO} * 1.0, 6) AS psi
        FROM rws CROSS JOIN psi
    """

# Dynamic-gap sessionization (clicks 30 min, purchases 2 h, views 1 h):
# "new session at row i" = ts_i > running max of (ts_j + gap_j) over the
# user's previous rows — valid because every closed session's end
# precedes the next session's first event. Oracle for
# stream_session_dynamic_gap (and any future batch twin).
SESSION_DYNAMIC_ORACLE = f"""
        WITH e AS (
            SELECT user_id, ts, value,
                   ts + CASE event_type
                            WHEN 'click' THEN INTERVAL '30 minutes'
                            WHEN 'purchase' THEN INTERVAL '2 hours'
                            ELSE INTERVAL '1 hour' END AS ext
            FROM {EVENTS_US}),
        marked AS (
            SELECT user_id, ts, value,
                   CASE WHEN MAX(ext) OVER (
                            PARTITION BY user_id ORDER BY ts
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING) IS NULL
                             OR ts > MAX(ext) OVER (
                            PARTITION BY user_id ORDER BY ts
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING)
                        THEN 1 ELSE 0 END AS new_sess
            FROM e),
        sess AS (
            SELECT user_id, ts, value,
                   SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                       ROWS UNBOUNDED PRECEDING) AS sess_id
            FROM marked)
        SELECT user_id,
               CAST(floor(epoch(MIN(ts))) AS BIGINT) AS sess_start_s,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT))
                   AS BIGINT) AS sum_cents
        FROM sess GROUP BY user_id, sess_id
    """
