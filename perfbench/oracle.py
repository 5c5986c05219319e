"""Correctness gate: every checked output against its DuckDB oracle.

The mr_analytics and llm_dedup outputs, and the service states, are checked
against the program's own oracle SQL (`SparkEntry.oracleSql`, exported by the
harness); the stream results against batch formulations kept here. Results are
normalized the way tools/check_oracle.py does (columns compared by name,
values exactly), then compared as row multisets, so rows that tie under a
query's ORDER BY may come back in either order. Each oracle runs once per
input set.
"""
import datetime as dt
import math

import duckdb
import numpy as np
import pandas as pd

# Batch formulations of the two streaming queries over every wave.
# Streams.sessionize: per user, events in time order (milliseconds), a new
# session when the gap to the previous event exceeds 30 minutes.
# Streams.windowedCounts: tumbling one-hour windows per event type.
STREAM_SQL = {
    "stream_sessions": """
        WITH e AS (SELECT user_id, epoch_ms(ts) AS t, value FROM events WHERE user_id >= 0),
        s AS (SELECT *, CASE WHEN lag(t) OVER w IS NULL OR t - lag(t) OVER w > 1800000
                        THEN 1 ELSE 0 END AS ns
              FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t)),
        g AS (SELECT *, sum(ns) OVER (PARTITION BY user_id ORDER BY t
                                      ROWS UNBOUNDED PRECEDING) AS sid FROM s)
        SELECT user_id, min(t) AS start_ms, max(t) AS end_ms,
               CAST(count(*) AS BIGINT) AS n_events, round(sum(value), 6) AS sum_value
        FROM g GROUP BY user_id, sid""",
    "stream_windows": """
        SELECT (epoch_us(ts) // 3600000000) * 3600000000 AS window_us, event_type,
               CAST(count(*) AS BIGINT) AS n, round(sum(value), 4) AS sum_value
        FROM events WHERE event_type <> 'sentinel' GROUP BY 1, 2""",
}


def _cell(v):
    if v is None:
        return None
    if isinstance(v, (float, np.floating)):
        return None if math.isnan(v) else float(v)
    if isinstance(v, (bool, np.bool_)):
        return bool(v)
    if isinstance(v, (int, np.integer)):
        return int(v)
    if isinstance(v, (pd.Timestamp, dt.datetime, np.datetime64)):
        return pd.Timestamp(v).isoformat()
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_cell(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _cell(x)) for k, x in v.items()))
    if v is pd.NaT:
        return None
    return str(v)


def canonical(df):
    """(sorted column names, sorted row tuples) of a result frame."""
    cols = sorted(df.columns)
    rows = [tuple(_cell(v) for v in r) for r in df[cols].itertuples(index=False, name=None)]
    return cols, sorted(rows, key=repr)


def compare(got, want):
    """None when equal, else a one-line reason."""
    if got[0] != want[0]:
        return f"columns {got[0]} != {want[0]}"
    if len(got[1]) != len(want[1]):
        return f"rows {len(got[1])} != {len(want[1])}"
    bad = sum(1 for a, b in zip(got[1], want[1]) if a != b)
    return f"{bad} rows differ" if bad else None


def perturbed(res):
    """The same result with its first cell altered."""
    cols, rows = res
    if not rows:
        return cols, [("perturbed",)]
    first = list(rows[0])
    v = first[0]
    first[0] = v + 1 if isinstance(v, (int, float)) and not isinstance(v, bool) else f"{v}~"
    return cols, [tuple(first)] + rows[1:]


class Oracle:
    def __init__(self, oracle_sql):
        self.sql = dict(oracle_sql, **STREAM_SQL)
        self.cache = {}

    def expected(self, key, tables):
        ident = (key, tuple(sorted((t, tuple(fs)) for t, fs in tables.items())))
        if ident not in self.cache:
            con = duckdb.connect()
            for t, fs in tables.items():
                files = ", ".join("'" + f.replace("'", "''") + "'" for f in fs)
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet([{files}])")
            self.cache[ident] = canonical(con.execute(self.sql[key]).df())
            con.close()
        return self.cache[ident]

    def check(self, chk):
        """(canonical result, expected, reason or None) for one check."""
        if not chk["got"] or chk["oracle"] not in self.sql:
            return None, None, f"no output or no oracle for {chk['name']}"
        got = canonical(pd.read_parquet(chk["got"]))
        want = self.expected(chk["oracle"], chk["tables"])
        return got, want, compare(got, want)


def check_all(result):
    """Checks every output of a harness result. Returns (failures, negative_ok):
    failures maps (pass, name) to a reason; negative_ok says the comparison
    flagged a perturbed copy of a correct result as wrong."""
    orc = Oracle(result.get("oracle_sql", {}))
    failures, negative_ok = {}, None
    for chk in result["checks"]:
        try:
            got, want, reason = orc.check(chk)
        except Exception as e:  # an oracle or read error fails the check
            got, want, reason = None, None, f"{type(e).__name__}: {e}"
        if reason:
            failures[(chk["pass"], chk["name"])] = reason
        elif negative_ok is None:
            negative_ok = compare(perturbed(got), want) is not None
    return failures, bool(negative_ok)
