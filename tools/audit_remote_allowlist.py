#!/usr/bin/env python
"""Mechanical audit of the federation gate's function allowlist.

For every scalar function the unparser lets ship unguarded
(``SUPPORTED_REMOTE_FUNCS`` minus keywords/type names), plus the
guarded forms in their PROVEN-SAFE shape, build a battery of literal
statements over adversarial typed inputs (NULL, empty/unicode strings,
±0.0, NaN/inf, int extremes, decimal casts, date/timestamp edges) and
execute the SAME text in Spark (local dialect) and DuckDB (remote
dialect). A VALUE divergence on any unguarded allowlisted function is
an allowlist bug: the gate would ship it and silently return different
answers. Dtype-only differences are reported but non-fatal — the
engine aligns hand-back schemas to the local analysis
(engine.py::_align_remote_schema).

This is the r10 hand-probe (tools/probe_dialect_divergence_r10b.py)
made mechanical, so the allowlist stays honest against future edits.
A compact battery runs in CI via tests/test_allowlist_audit.py.

Usage: python tools/audit_remote_allowlist.py [-v]
Exit 1 on any value divergence for an unguarded shippable form.
"""
from __future__ import annotations

import math
import sys

NULL = "CAST(NULL AS STRING)"
NULLN = "CAST(NULL AS DOUBLE)"

STRS = ["''", "'a'", "'ab c'", "'ß'", "'中文'", "'it''s'", "'  pad  '",
        NULL]
NUMS = ["0", "1", "-1", "4611686018427387904", "-4611686018427387904",
        "CAST(1.015 AS DOUBLE)", "CAST('nan' AS DOUBLE)",
        "CAST('inf' AS DOUBLE)", "CAST(-0.0 AS DOUBLE)",
        "CAST(5e-324 AS DOUBLE)", NULLN]
TS = ["TIMESTAMP '2024-02-29 23:59:59'", "TIMESTAMP '1969-12-31 23:59:59'",
      "CAST(NULL AS TIMESTAMP)"]
DATES = ["DATE '2024-02-29'", "DATE '1969-12-31'"]
DEC = ["CAST(1.005 AS DECIMAL(20,6))", "CAST(-7.5 AS DECIMAL(20,6))",
       "CAST(NULL AS DECIMAL(20,6))"]

# (function, [argument pools], guarded?) — guarded entries are tested in
# the exact syntactic shape the per-call guard admits.
BATTERY: list[tuple[str, list[list[str]], bool]] = [
    ("abs", [NUMS], False),
    ("length", [STRS], False),
    ("coalesce", [STRS, STRS], False),
    ("coalesce", [NUMS, NUMS], False),
    ("nullif", [NUMS, NUMS], False),
    ("nullif", [STRS, STRS], False),
    ("greatest", [NUMS, NUMS, NUMS], False),
    ("least", [NUMS, NUMS, NUMS], False),
    ("concat_ws", [["'-'"], STRS, STRS], False),
    ("replace", [STRS, ["'a'", "''", NULL], ["'X'", NULL]], False),
    ("year", [TS], False),
    ("month", [TS], False),
    ("day", [TS], False),
    ("hour", [TS], False),
    ("minute", [TS], False),
    ("second", [TS], False),
    ("year", [DATES], False),
    ("date_trunc", [["'month'", "'year'", "'day'"], TS], False),
    ("trim", [STRS], True),
    ("ltrim", [STRS], True),
    ("rtrim", [STRS], True),
    ("round", [DEC, ["0", "1", "2"]], True),
    ("substring", [STRS, ["1", "2"], ["1", "3"]], True),
]


# Window battery: every SUPPORTED_WINDOW_FUNCS entry over a shared
# 12-row table (two groups, duplicate values for peer/tie behavior,
# NULLs in the order key). ORDER BY always carries explicit NULLS
# (that is what ships after the gate's make_nulls_explicit
# translation); nondeterministic-under-ties functions get the unique
# tiebreaker s.
_WIN_ROWS = [(1, 1, 1), (1, 1, 2), (1, 2, 3), (1, None, 4), (1, 3, 5),
             (2, 5, 6), (2, None, 7), (2, None, 8), (2, 5, 9),
             (2, 7, 10), (1, 2, 11), (2, 4, 12)]

_WIN_EXPRS = [
    # ranking — ties resolved by the unique key where semantics need it
    "row_number() OVER (PARTITION BY g ORDER BY v NULLS FIRST, s)",
    "rank() OVER (PARTITION BY g ORDER BY v NULLS FIRST)",
    "rank() OVER (PARTITION BY g ORDER BY v DESC NULLS LAST)",
    "dense_rank() OVER (PARTITION BY g ORDER BY v NULLS LAST)",
    "ntile(3) OVER (PARTITION BY g ORDER BY v NULLS FIRST, s)",
    # offsets
    "lag(v) OVER (PARTITION BY g ORDER BY v NULLS FIRST, s)",
    "lag(v, 2) OVER (PARTITION BY g ORDER BY v NULLS FIRST, s)",
    "lead(v, 1) OVER (PARTITION BY g ORDER BY v NULLS LAST, s)",
    # boundary values
    "first_value(v) OVER (PARTITION BY g ORDER BY v NULLS FIRST, s)",
    ("last_value(v) OVER (PARTITION BY g ORDER BY v NULLS FIRST, s "
     "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)"),
    # aggregates over frames: default RANGE-to-current (peers!), rows
    # frames, sliding windows, empty-OVER
    "sum(v) OVER (PARTITION BY g ORDER BY v NULLS FIRST)",
    "count(v) OVER (PARTITION BY g ORDER BY v NULLS FIRST)",
    "count(*) OVER (PARTITION BY g ORDER BY v NULLS FIRST)",
    ("sum(v) OVER (PARTITION BY g ORDER BY v NULLS FIRST, s "
     "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"),
    ("min(v) OVER (PARTITION BY g ORDER BY v NULLS FIRST, s "
     "ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING)"),
    ("max(v) OVER (PARTITION BY g ORDER BY s "
     "RANGE BETWEEN 2 PRECEDING AND 2 FOLLOWING)"),
    "sum(v) OVER ()",
    "avg(s) OVER (PARTITION BY g)",
]


def _spark():
    """The engine's session (``get_spark``: UTC session time zone, the
    engine's static settings) on the audit's small fixed topology. Under
    pytest this is usually the first session of the run, so the suite's
    shared session gets the engine's static settings too."""
    from clickhouse_datafusion_spark.session import get_spark

    return get_spark(app_name="audit_remote_allowlist", master="local[2]",
                     shuffle_partitions=2)


def run_window_battery(verbose: bool = False):
    """Every supported window function, same statement text in both
    engines over identical rows — result multisets must be equal."""
    import duckdb

    spark = _spark()
    con = duckdb.connect()
    spark.createDataFrame(_WIN_ROWS, "g int, v int, s int") \
         .createOrReplaceTempView("wt")
    con.execute("CREATE TABLE wt (g INT, v INT, s INT)")
    con.executemany("INSERT INTO wt VALUES (?, ?, ?)", _WIN_ROWS)

    div, checked = [], 0
    for expr in _WIN_EXPRS:
        stmt = f"SELECT g, v, s, {expr} AS w FROM wt"
        try:
            srows = sorted((tuple((x is None, x) for x in r))
                           for r in spark.sql(stmt).collect())
            s_err = None
        except Exception as e:
            srows, s_err = None, type(e).__name__
        try:
            drows = sorted((tuple((x is None, x) for x in r))
                           for r in con.sql(stmt).fetchall())
            d_err = None
        except Exception as e:
            drows, d_err = None, type(e).__name__
        checked += 1
        bad = ((s_err is None and d_err is None and srows != drows)
               or (s_err is not None and d_err is None))
        if bad:
            div.append(("window", stmt, s_err or "rows-differ",
                        d_err or "rows-differ", False))
        if verbose:
            print(("!!" if bad else "  ") + f" {stmt}")
    con.execute("DROP TABLE wt")
    spark.catalog.dropTempView("wt")
    return checked, div


def _norm(v):
    """Engine-neutral value: Decimal -> exact float when it fits, NaN
    canonicalized, a DATE and the midnight TIMESTAMP of the same day
    normalize together (the remote dialect returns DATE where the local
    one returns TIMESTAMP for date_trunc — equal instants; the engine's
    schema alignment casts remote DATE -> local TIMESTAMP losslessly)."""
    import datetime
    import decimal

    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, datetime.datetime):
        if v.time() == datetime.time(0, 0) and v.tzinfo is None:
            return v.date().isoformat()
        return v.isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    return v


def run(compact: bool = False, verbose: bool = False):
    import itertools

    import duckdb

    spark = _spark()
    # getOrCreate may hand back an existing session (pytest) whose
    # builder configs are ignored — pin the tz the audit's time
    # extractions assume, and restore it afterwards
    tz_before = spark.conf.get("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")

    div, checked = [], 0
    for fn, pools, guarded in BATTERY:
        combos = list(itertools.product(*pools))
        if compact and len(combos) > 24:
            combos = combos[::max(1, len(combos) // 24)]
        for args in combos:
            stmt = f"SELECT {fn}({', '.join(args)}) AS v"
            try:
                s = _norm(spark.sql(stmt).collect()[0][0])
                s_err = None
            except Exception as e:
                s, s_err = None, type(e).__name__
            try:
                d = _norm(con.sql(stmt).fetchall()[0][0])
                d_err = None
            except Exception as e:
                d, d_err = None, type(e).__name__
            checked += 1
            # both erroring is consistent (local fallback surfaces the
            # local error); remote-only error is SAFE (exception
            # fallback -> local plan); LOCAL-only error on a shippable
            # statement is a divergence (ship would mask the error)
            bad = ((s_err is None and d_err is None and s != d)
                   or (s_err is not None and d_err is None))
            if bad:
                div.append((fn, stmt, f"{s_err or s!r}", f"{d_err or d!r}",
                            guarded))
            if verbose:
                mark = "!!" if bad else "  "
                print(f"{mark} {stmt}\n     spark={s_err or s!r} "
                      f"duckdb={d_err or d!r}")
    if compact:
        spark.conf.set("spark.sql.session.timeZone", tz_before)
    else:
        spark.stop()
    return checked, div


def main() -> int:
    verbose = "-v" in sys.argv
    checked, div = run(verbose=verbose)
    wc, wdiv = run_window_battery(verbose=verbose)
    checked += wc
    div += wdiv
    print(f"\nallowlist audit: {checked} statements "
          f"(incl. {wc} window), {len(div)} divergent")
    for fn, stmt, s, d, guarded in div:
        tag = "GUARDED-FORM" if guarded else "UNGUARDED"
        print(f"  [{tag}] {stmt}\n     spark={s} duckdb={d}")
    return 1 if div else 0


if __name__ == "__main__":
    import os

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    raise SystemExit(main())
