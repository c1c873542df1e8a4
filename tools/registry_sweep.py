#!/usr/bin/env python
"""Full-registry in-session sweep — the driver-faithful gate replica run
over EVERY entry in ``queries.QUERIES`` at the driver's gate scale
(sf0.01), recorded per round as a ``SWEEP_r{N}`` line in COVERAGE.md
(r6 verdict task 5: the r6 ad-hoc sweep caught four latent gate errors
and verified changed plans before the driver could — make it a
mechanical artifact).

Usage::

    python tools/registry_sweep.py [entry ...]   # default: all entries

Prints one line per entry (PASS / NO_ORACLE / FAIL <err>) and a final
summary line ready to paste into COVERAGE.md. The summary also counts the
generated classes Spark compiled during the sweep and their compile time:
the inventory's codegen working set for one pass. Exit code 1 if any
entry fails. Entries whose oracle is None get a rows-only check (the query
must execute and return a well-formed result), mirroring the driver. The
session comes from ``get_spark``, so the sweep runs with the engine's
settings.
"""
from __future__ import annotations

import os
import sys
import time
import traceback

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

SF = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")


def main() -> int:
    from clickhouse_datafusion_spark.queries import QUERIES
    from clickhouse_datafusion_spark.session import get_spark
    from tests.oracle_utils import compare, duckdb_conn

    # the engine's own session settings, with the sweep's fixed topology
    spark = get_spark(app_name="registry-sweep", master="local[32]",
                      shuffle_partitions=32,
                      extra_conf={"spark.driver.memory": "24g"})
    spark.sparkContext.setLogLevel("ERROR")
    jvm = spark._jvm
    compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME()
    codegen = jvm.org.apache.spark.sql.catalyst.expressions.codegen \
        .CodeGenerator
    n_compiles0, compile_ns0 = compiles.getCount(), codegen.compileTime()
    con = duckdb_conn(SF)

    names = sys.argv[1:] or list(QUERIES)
    t0 = time.time()
    n_pass = n_rows_only = 0
    failures: list[str] = []
    for i, name in enumerate(names, 1):
        qd = QUERIES[name]
        try:
            if qd.oracle is None:
                n = qd.spark_fn(spark, SF).count()
                assert n >= 0
                n_rows_only += 1
                print(f"[{i}/{len(names)}] {name} NO_ORACLE rows={n}",
                      flush=True)
            else:
                compare(qd.spark_fn(spark, SF), con, qd.oracle, name)
                n_pass += 1
                print(f"[{i}/{len(names)}] {name} PASS", flush=True)
        except Exception as e:  # noqa: BLE001 — sweep must reach the end
            failures.append(name)
            print(f"[{i}/{len(names)}] {name} FAIL {e}", flush=True)
            traceback.print_exc(limit=2)
    wall = time.time() - t0
    n_compiles = compiles.getCount() - n_compiles0
    compile_ms = (codegen.compileTime() - compile_ns0) / 1e6
    print(f"\nSWEEP: {len(names)} entries, {n_pass} hash-pass, "
          f"{n_rows_only} rows-only, {len(failures)} fail, "
          f"{wall:.0f}s wall, {n_compiles} codegen compilations "
          f"({compile_ms:.0f} ms)")
    if failures:
        print("FAILED:", ", ".join(failures))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
