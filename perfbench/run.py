#!/usr/bin/env python3
"""Benchmark harness for the clickhouse_datafusion_spark engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. One run: generate the workload's tables
from the seed, compute every expected result with DuckDB, launch Spark,
set the engine up ``SETUPS`` times in new sessions (``setup_s`` is the
median), warm every statement, then drive the workload's closed-loop
clients through ``--seconds`` worth of operations at the workload's
nominal rate and check every operation's output. With ``--trace 1`` the
run records spans around each layer's calls, tags each Spark job with its
operation and layer, and reports per-layer metrics instead of end-to-end
ones. The last line of standard output is one JSON object; the lines
before it are the full report, workload-specific figures included.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUPS = 3
# calibration kernel time (ms) on a quiet 4-core box; slower runs are
# labelled "slow" (the box alternates between two speeds)
CALIBRATION_FAST_MS = 40.0


def _percentile(xs: list[float], q: float) -> float:
    xs = sorted(xs)
    if not xs:
        return 0.0
    pos = (len(xs) - 1) * q
    lo, hi = int(pos), min(int(pos) + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


@dataclass(slots=True)
class Record:
    op: object
    op_id: str
    latency: float
    ok: bool
    error: str | None
    phases: dict | None      # Catalyst phase ms (traced runs)
    route: set               # remote calls this operation made


def execute(ctx, op, op_id: str, trace: bool) -> Record:
    """Run one operation under the timer; check it after the timer."""
    from workloads import REMOTE_ANY

    tracer = ctx.tracer
    if ctx.remote is not None:
        ctx.remote.begin()
    df = pdf = None
    error = None
    t0 = time.perf_counter()
    try:
        with tracer.span("op", op=op_id):
            df = op.build(ctx)
            with tracer.span("exec.action"):
                tbl = df.toArrow()
            with tracer.span("collect.arrow"):
                pdf = tbl.to_pandas()
    except Exception as e:   # an operation failure is data, not a crash
        error = f"{type(e).__name__}: {str(e)[:300]}"
    latency = time.perf_counter() - t0
    ok = error is None
    route = (REMOTE_ANY & set(ctx.remote.calls())
             if ctx.remote is not None else set())
    if ok and op.route is not None:
        if route != set(op.route):
            ok, error = False, f"route {sorted(route)} != {list(op.route)}"
    if ok and not op.check(pdf):
        ok, error = False, "wrong result"
    phases = None
    if trace and df is not None:
        from sparkenv import catalyst_phases

        phases = catalyst_phases(df)
    return Record(op, op_id, latency, ok, error, phases, route)


def _timed_window(ctx, wl, ops, args, clients: int):
    """Drive ``clients`` closed-loop clients through a fixed amount of
    work: ``--seconds`` worth of operations at the workload's nominal rate
    on a 4-core box. The JIT is still compiling the statements' generated
    code through the whole window, so a fixed amount of work (not of time)
    ends every run at the same point of that warm-up curve however fast
    the box is that minute. A single client runs whole passes (each
    statement once per pass, in seeded order), so every pass weighs every
    statement the same. No new pass or operation starts after twice
    ``--seconds``, which keeps a run on a very slow box within its time
    limit. Returns the records, the elapsed time and each pass's wall time
    (none for a multi-client mix)."""
    n_ops = max(1, round(args.seconds * wl.nominal_ops_per_s))
    records: list[Record] = []
    start = time.perf_counter()
    cutoff = start + 2 * args.seconds
    if clients == 1:
        seq = wl.sequence(ops, args.seed, 0)
        passes: list[float] = []
        for _ in range(max(1, round(n_ops / len(ops)))):
            if passes and time.perf_counter() > cutoff:
                break
            t0 = time.perf_counter()
            for _ in ops:
                records.append(execute(ctx, next(seq), f"t0-{len(records)}",
                                       args.trace))
            passes.append(time.perf_counter() - t0)
        return records, time.perf_counter() - start, passes

    lock = threading.Lock()

    def client(tid: int) -> None:
        seq = wl.sequence(ops, args.seed, tid)
        for n in range(max(1, n_ops // clients)):
            if n and time.perf_counter() > cutoff:
                break
            rec = execute(ctx, next(seq), f"t{tid}-{n}", args.trace)
            with lock:
                records.append(rec)

    with ThreadPoolExecutor(clients) as ex:
        for f in [ex.submit(client, i) for i in range(clients)]:
            f.result()
    return records, time.perf_counter() - start, []


def run(args, work: str) -> dict:
    import sparkenv

    env = sparkenv.pin_environment(work, ROOT)
    os.chdir(work)
    import workloads
    from oracle import Oracle
    from spans import Tracer

    cpus = int(env["SPARK_GRAFT_CPUS"])
    wl = workloads.make(args.workload, cpus)    # one client per Spark core
    info: dict = {"workload": wl.name, "seed": args.seed,
                  "seconds": args.seconds, "trace": args.trace,
                  "clients": wl.clients, "env": env}
    info["calibration_before_ms"] = sparkenv.calibrate()

    data_dir = os.path.join(work, "data")
    t0 = time.perf_counter()
    wl.generate(data_dir, args.seed, args.small)
    info["datagen_s"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    oracle = Oracle(data_dir)
    ops = wl.ops(oracle, args.seed)
    oracle.close()
    info["oracle_s"] = time.perf_counter() - t0
    if args.wrong_hash:      # self-test hook: one expected hash is wrong
        ops[0].check = workloads._hash_check("0" * 64)

    tracer = Tracer(args.trace)
    t0 = time.perf_counter()
    root = sparkenv.start_session(work, args.trace)
    info["jvm_launch_s"] = time.perf_counter() - t0
    try:
        # each set-up is a new SparkSession over the running context, with
        # its own views, engine and remote; the last one is measured
        setups = []
        for _ in range(SETUPS):
            t0 = time.perf_counter()
            spark = root.newSession()
            t1 = time.perf_counter()
            ctx = workloads.Ctx(spark, data_dir, tracer)
            wl.setup(ctx)
            setups.append((time.perf_counter() - t0, t1 - t0,
                           time.perf_counter() - t1))
        info["setups_s"] = [s[0] for s in setups]
        return _measure(args, wl, ctx, ops, tracer, setups, info)
    finally:
        sparkenv.stop_session(root)


def _measure(args, wl, ctx, ops, tracer, setups, info) -> dict:
    import sparkenv

    spark = ctx.spark
    probe = sparkenv.JvmProbe(spark)
    if args.trace:
        from clickhouse_datafusion_spark.engine import ClickHouseSparkEngine as E

        sc = spark.sparkContext
        tracer._job_group = lambda g: sc.setLocalProperty("spark.jobGroup.id", g)
        E.sql = tracer.wrap("engine.sql", E.sql)
        E.rewrite = tracer.wrap("engine.rewrite", E.rewrite)
        tracer.count_round_trips(sc._gateway._gateway_client)

    # warm every statement once (one per CPU at once), outputs checked
    t0 = time.perf_counter()
    with ThreadPoolExecutor(len(os.sched_getaffinity(0))) as ex:
        warm = list(ex.map(lambda a: execute(ctx, a[1], f"w-{a[0]}", False),
                           enumerate(ops)))
    info["warmup_s"] = time.perf_counter() - t0
    if ctx.remote is not None:
        ctx.remote.stats.clear()

    gc0 = probe.gc_seconds()
    cpu0 = sparkenv.cpu_ticks()
    timed, elapsed, passes = _timed_window(ctx, wl, ops, args, wl.clients)
    info["steal_pct"] = sparkenv.steal_pct(cpu0, sparkenv.cpu_ticks())
    gc_s = probe.gc_seconds() - gc0
    heap_mb = probe.heap_used_mb()
    jvm_rss, py_rss = probe.peak_rss_mb()
    info["peak_rss_mb"] = {"jvm": jvm_rss, "python": py_rss}

    # landed writes: row count and checksum of every write that reported ok
    bad = wl.landed(ctx, [r.op for r in warm + timed
                          if r.ok and r.op.kind == "write"])
    for r in warm + timed:
        if r.ok and r.op.target in bad:
            r.ok, r.error = False, f"landed rows/checksum mismatch in {r.op.target}"
    remote_stats = dict(ctx.remote.stats) if ctx.remote is not None else {}
    info["calibration_after_ms"] = sparkenv.calibrate()

    checked = warm + timed
    failed = [r for r in checked if not r.ok]
    lat = [r.latency for r in timed]
    reads = [r.latency for r in timed if r.op.kind == "read"]
    ok_timed = [r for r in timed if r.ok]
    # a single client's throughput is its median pass's
    ops_per_s = (statistics.median(len(ops) / p for p in passes)
                 if passes else len(timed) / elapsed)
    e2e = {
        "setup_s": (statistics.median(s[0] for s in setups), "s"),
        "ops_per_s": (ops_per_s, "1/s"),
        "op_p50_s": (_percentile(lat, 0.5), "s"),
        "op_p90_s": (_percentile(lat, 0.9), "s"),
        "read_p50_s": (_percentile(reads, 0.5), "s"),
        "driver_peak_rss_mb": (jvm_rss + py_rss, "MB"),
    }
    extra = {
        "failed_frac": (len(failed) / len(checked), "ratio"),
        "docs_per_s": (sum(r.op.docs for r in ok_timed) / elapsed, "1/s"),
        "write_rows_per_s": (sum(r.op.rows for r in ok_timed
                                 if r.op.kind == "write") / elapsed, "rows/s"),
    }
    result = {"info": info, "end_to_end": e2e, "extra": extra,
              "attempted": len(checked), "failed": len(failed),
              "errors": sorted({f"{r.op.name}: {r.error}" for r in failed}),
              "timed_ops": len(timed), "elapsed_s": elapsed, "passes_s": passes,
              "latencies": {"warm": {r.op.name: r.latency for r in warm},
                            "timed": [(r.op.name, r.latency) for r in timed]}}
    if args.trace:
        sparkenv.stop_session(spark)     # completes the event log
        import layers

        result["per_layer"] = layers.per_layer(
            tracer, timed, setups, info["jvm_launch_s"], remote_stats, gc_s,
            heap_mb, ops_per_s, sparkenv.read_event_log(os.getcwd()))
        os.makedirs(os.path.join(HERE, ".out"), exist_ok=True)
        tracer.dump(os.path.join(
            HERE, ".out", f"{wl.name}-s{args.seed}-spans.jsonl"))
    return result


def _report(result: dict, trace: bool) -> dict:
    info = result["info"]
    cal0, cal1 = info["calibration_before_ms"], info["calibration_after_ms"]
    box = "fast" if max(cal0, cal1) <= CALIBRATION_FAST_MS else "slow"
    print(f"# perfbench workload={info['workload']} seed={info['seed']} "
          f"trace={int(trace)} clients={info['clients']} "
          f"timed_ops={result['timed_ops']} elapsed_s={result['elapsed_s']:.2f} "
          f"attempted={result['attempted']} failed={result['failed']}")
    print(f"# box calibration_ms before={cal0:.2f} after={cal1:.2f} state={box} "
          f"timed_steal_pct={info['steal_pct']:.1f}")
    print("# env " + " ".join(f"{k}={v}" for k, v in sorted(info["env"].items())
                              if k != "PYTHONPATH"))
    for k in ("jvm_launch_s", "datagen_s", "oracle_s", "warmup_s"):
        print(f"# {k} {info[k]:.3f}")
    if result["passes_s"]:
        print("# passes_s " + " ".join(f"{p:.3f}" for p in result["passes_s"]))
    sections = [("end_to_end", result["end_to_end"]), ("extra", result["extra"])]
    if trace:
        sections.append(("per_layer", result["per_layer"]))
    for title, metrics in sections:
        for name, (value, unit) in metrics.items():
            print(f"# {title} {name} {value:.6g} {unit}")
    for err in result["errors"]:
        print(f"# failed {err}")
    chosen = result["per_layer"] if trace else result["end_to_end"]
    return {"correct": result["failed"] == 0,
            "attempted": result["attempted"],
            "failed": result["failed"],
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in chosen.items()}}


def _terminate(*_) -> None:
    signal.signal(signal.SIGTERM, signal.SIG_IGN)   # let cleanup finish
    sys.exit(143)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--small", action="store_true",
                    help="sf0.001-sized tables (self-test)")
    ap.add_argument("--wrong-hash", action="store_true",
                    help="corrupt one expected hash (self-test)")
    args = ap.parse_args(argv)
    args.trace = bool(args.trace)
    if not os.path.isfile(os.path.join(ROOT, "clickhouse_datafusion_spark",
                                       "__init__.py")):
        print("perfbench: no clickhouse_datafusion_spark package in "
              f"{ROOT}; run from the root of a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, _terminate)
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    cwd = os.getcwd()
    try:
        result = run(args, work)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)
    line = _report(result, args.trace)
    os.makedirs(os.path.join(HERE, ".out"), exist_ok=True)
    with open(os.path.join(HERE, ".out", f"{args.workload}-s{args.seed}"
                           f"-t{int(args.trace)}.json"), "w") as fh:
        json.dump(result, fh, indent=1, default=str)
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
