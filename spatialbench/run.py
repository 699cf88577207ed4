"""Run one benchmark workload and print its metrics.

    python3 spatialbench/run.py --workload docs_pipeline --seed 1 --seconds 25 --trace 0

Run from the repository root. The last line of standard output is one
JSON object: {"correct", "attempted", "failed", "metrics"}. With
``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1``
the per-layer ones (see spatialbench/README.md). The line before it,
starting with ``# summary``, carries the environment fingerprint and
the figures that are not metrics of every workload.

    python3 spatialbench/run.py --compare A.json B.json

compares two saved results (written under .spatialbench/out/) and
refuses when their environment fingerprints differ.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from spatialbench import host, inputs  # noqa: E402
from spatialbench.trace import NULL_TRACER  # noqa: E402
from spatialbench.workloads import HEADLINE, WORKLOADS  # noqa: E402

END_TO_END = {"setup_s": "s", "op_s.p50": "s", "input_rows_per_s": "rows/s",
              "jvm_peak_rss_mb": "MB"}

_SPARK_KEYS = {"spark.scan.rows": ("scan.rows", "rows"),
               "spark.scan.bytes": ("scan.bytes", "B"),
               "spark.scan.time_s": ("scan.time_s", "s"),
               "spark.exchange.shuffle_bytes": ("exchange.shuffle_bytes", "B"),
               "spark.exchange.shuffle_records": ("exchange.shuffle_records", "rows"),
               "spark.exchange.fetch_wait_s": ("exchange.fetch_wait_s", "s"),
               "spark.broadcast.bytes": ("broadcast.bytes", "B"),
               "spark.broadcast.collect_s": ("broadcast.collect_s", "s"),
               "spark.join.rows_out": ("join.rows_out", "rows"),
               "spark.aggregate.time_s": ("aggregate.time_s", "s"),
               "spark.sort.time_s": ("sort.time_s", "s"),
               "spark.spill_bytes": ("spill_bytes", "B")}

PER_LAYER = {
    "session.start_s": "s", "warmup_s": "s",
    "entry.build_s": "s",
    **{f"entry.build_s.{q}": "s" for q in HEADLINE},
    "sources.build_s": "s", "functions.build_s": "s", "operators.build_s": "s",
    "plans.build_s": "s", "plan_s": "s", "execute_s": "s",
    **{k: unit for k, (_, unit) in _SPARK_KEYS.items()},
    "spark.stage.task_skew": "ratio",
    "joins.candidate_pairs": "pairs", "joins.pair_yield": "ratio",
    "checkpoint.write_s": "s", "checkpoint.recount_s": "s", "checkpoint.bytes": "B",
    "checkpoint.files": "count", "checkpoint.resume_s": "s", "checkpoint.resume_hit": "ratio",
    "checkpoint.bytes_per_row": "B/row", "layout.files_read_frac": "ratio",
    "jvm.gc_s": "s", "jvm.heap_peak_mb": "MB",
    "trace.overhead_s": "s", "trace.phase_coverage": "ratio",
}

WORK_DIR = os.path.join(host.ROOT, ".spatialbench")


def _program_present() -> bool:
    return (os.path.isfile(os.path.join(host.ROOT, "__spark_entry__.py"))
            and os.path.isdir(os.path.join(host.ROOT, "optimizing_spark")))


class Runner:
    def __init__(self, wl, spark) -> None:
        self.wl = wl
        self.spark = spark
        self.n = 0  # operations started in this session, for unique names

    def first(self) -> None:
        """The set-up's warm-up operation."""
        self.wl.first_op(self.spark, self._next())

    def warm(self) -> None:
        """One untimed, unchecked operation."""
        self.wl.cleanup(self.wl.run_op(self.spark, NULL_TRACER, self._next()))

    def _next(self) -> int:
        self.n += 1
        return self.n

    def measure(self, seconds: float, tr, sqlm=None) -> list[dict]:
        """Closed loop, one operation at a time, until `seconds` elapse."""
        recs = []
        start = time.perf_counter()
        while not recs or time.perf_counter() - start < seconds:
            n = self._next()
            if tr.enabled:
                tr.op = n
            rec = {"op": n, "rows": self.wl.rows_in()}
            t0 = time.perf_counter()
            try:
                with tr.span("op"):
                    res = self.wl.run_op(self.spark, tr, n)
                rec["s"] = time.perf_counter() - t0
                rec["errors"] = self.wl.check(self.spark, res)
                rec.update(self.wl.record(res))
                self.wl.cleanup(res)
            except Exception:  # noqa: BLE001 - one failed operation, keep measuring
                rec["s"] = time.perf_counter() - t0
                rec["errors"] = [traceback.format_exc(limit=3)]
            if sqlm is not None:
                rec["sql"] = sqlm.drain()
            recs.append(rec)
        return recs


def tail(times: list[float]) -> dict | None:
    """The highest percentile with at least ten operations beyond it."""
    n = len(times)
    if n < 20:
        return None
    s = sorted(times)
    return {"percentile": int(100 * (n - 10) / n), "value": s[n - 11], "samples": n}


def shutdown(spark) -> None:
    """Stop Spark and the driver JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def layer_metrics(wl, recs, tracer, untraced, setup, gc_s, heap_mb) -> dict:
    n = len(recs)
    out = {k: 0.0 for k in PER_LAYER}
    out["session.start_s"] = setup["start_s"]
    out["warmup_s"] = setup["warmup_s"]

    phase_total = 0.0
    for r in recs:
        op = r["op"]
        for name, self_s, phase in tracer.self_times(op):
            if ":" in name and phase == "build":
                out[f"{name.split(':')[0]}.build_s"] += self_s / n
        for q in HEADLINE:
            eb = tracer.durations(op, f"entry.build.{q}") / n
            out["entry.build_s"] += eb
            out[f"entry.build_s.{q}"] += eb
        out["plan_s"] += tracer.durations(op, "plan") / n
        out["execute_s"] += tracer.durations(op, "execute") / n
        out["checkpoint.resume_s"] += tracer.durations(op, "resume") / n
        phase_total += sum(tracer.durations(op, p) for p in ("build", "plan", "execute",
                                                             "resume"))
    out["trace.phase_coverage"] = phase_total / sum(r["s"] for r in recs)

    skews = []
    for r in recs:
        sql = r.get("sql", [])
        for name, (key, _) in _SPARK_KEYS.items():
            out[name] += sum(s[key] for s in sql) / n
        skews.append(max([s["task_skew"] for s in sql] or [1.0]))
        for s in sql:
            if s["is_file_write"]:
                out["checkpoint.write_s"] += s["duration_s"] / n
        if "first" in r:
            first = r["first"]
            recount = [s for s in sql if not s["is_file_write"] and not s["is_noop_write"]]
            out["checkpoint.recount_s"] += sum(s["duration_s"] for s in recount) / n
            out["checkpoint.bytes"] += first["bytes"] / n
            out["checkpoint.files"] += first["files"] / n
            out["checkpoint.bytes_per_row"] += first["bytes"] / first["rows"] / n
            out["checkpoint.resume_hit"] += r["again"]["resumed"] / n
            # the viewport read-back is the operation's last noop write
            noop = sorted((s for s in sql if s["is_noop_write"]), key=lambda s: s["id"])
            read = noop[-1]["scan.files"] if noop else 0.0
            out["layout.files_read_frac"] += read / first["files"] / n
    out["spark.stage.task_skew"] = statistics.median(skews)

    cand = rows = 0.0
    for r in recs:
        for key, count in wl.candidates.items():
            execs = [s for s in r.get("sql", []) if key in (None, s["description"])]
            if execs:
                cand += count
                rows += sum(s["join.rows_out"] for s in execs)
    if cand:
        out["joins.candidate_pairs"] = cand / n
        out["joins.pair_yield"] = rows / cand

    out["jvm.gc_s"] = gc_s / n
    out["jvm.heap_peak_mb"] = heap_mb
    out["trace.overhead_s"] = (statistics.median(r["s"] for r in recs)
                               - statistics.median(r["s"] for r in untraced))
    return out


def traced_run(runner, seconds: float, setup: dict):
    """Alternate untraced and traced rounds for `seconds`, so both
    see the same warm-up; per-layer metrics come from the traced rounds,
    the overhead from comparing the two."""
    from spatialbench import trace

    spark = runner.spark
    tracer = trace.Tracer()
    sqlm = trace.SqlMetrics(spark)
    untraced, traced = [], []
    gc_s = 0.0
    trace.reset_heap_peak(spark)
    start = time.perf_counter()
    while not traced or time.perf_counter() - start < seconds:
        untraced += runner.measure(0, NULL_TRACER)
        sqlm.drain()  # skip the untraced round's executions
        restore = trace.instrument(tracer)
        gc0 = trace.jvm_gc_s(spark)
        try:
            traced += runner.measure(0, tracer, sqlm)
        finally:
            restore()
        gc_s += trace.jvm_gc_s(spark) - gc0
    layers = layer_metrics(runner.wl, traced, tracer, untraced, setup, gc_s,
                           trace.heap_peak_mb(spark))
    return untraced + traced, traced, tracer, layers


def run(args) -> int:
    from spatialbench import trace

    work = os.path.join(WORK_DIR, f"work-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    host.prepare_env(work)
    wl = WORKLOADS[args.workload](os.path.join(work, "input"), work, args.seed)

    t0 = time.perf_counter()
    wl.generate()
    t1 = time.perf_counter()
    wl.oracle()
    phases = {"input_gen_s": t1 - t0, "oracle_s": time.perf_counter() - t1}

    from optimizing_spark import session

    size = host.sizing()
    extra = host.spark_extra(work, size)
    spark = None
    try:
        # set-up: session start through one warm-up round, in a fresh JVM
        t0 = time.perf_counter()
        spark = session.get_spark("spatialbench", cores=size["cores"],
                                  shuffle_partitions=size["shuffle_partitions"], extra=extra)
        t1 = time.perf_counter()
        runner = Runner(wl, spark)
        runner.first()
        t2 = time.perf_counter()
        setup = {"start_s": t1 - t0, "warmup_s": t2 - t1, "setup_s": t2 - t0}

        verify_failures = wl.verify(spark)
        phases["verify_s"] = time.perf_counter() - t2
        # untimed rounds until JIT-compiled code paths settle
        t_settle = time.perf_counter()
        for _ in range(wl.settle_ops):
            runner.warm()
        phases["settle_s"] = time.perf_counter() - t_settle
        if args.trace:
            recs, metrics_recs, tracer, layers = traced_run(runner, args.seconds, setup)
        else:
            recs = metrics_recs = runner.measure(args.seconds, NULL_TRACER)
        rss_mb = host.vm_hwm_mb(host.jvm_pid(spark))
        fp = host.fingerprint(spark)
        t3 = time.perf_counter()
    finally:
        if spark is not None:
            shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)
    phases["measure_s"] = t3 - t2 - phases["verify_s"] - phases["settle_s"]
    phases["shutdown_s"] = time.perf_counter() - t3

    times = [r["s"] for r in metrics_recs]
    failed = [r for r in recs if r["errors"]]
    if args.trace:
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        values = {
            "setup_s": setup["setup_s"],
            "op_s.p50": statistics.median(times),
            "input_rows_per_s": sum(r["rows"] for r in metrics_recs) / sum(times),
            "jvm_peak_rss_mb": rss_mb,
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    stored = [r["first"]["bytes"] / r["first"]["rows"] for r in recs if "first" in r]
    summary = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "operations": len(times), "op_s.tail": tail(times),
        "op_s": times,
        "failed_frac": len(failed) / len(recs),
        "stored_bytes_per_row": statistics.median(stored) if stored else None,
        "setup": setup, "phases": phases, "sizing": size,
        "verify_failures": verify_failures,
        "op_errors": [e for r in failed for e in r["errors"]][:5],
        "fingerprint": fp,
    }
    result = {"correct": not verify_failures and not failed, "attempted": len(recs),
              "failed": len(failed), "metrics": metrics}

    out_dir = os.path.join(WORK_DIR, "out")
    os.makedirs(out_dir, exist_ok=True)
    stem = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    with open(stem + ".json", "w") as f:
        json.dump({**result, "summary": summary}, f, indent=1, default=str)
    if args.trace:
        with open(stem + ".spans.json", "w") as f:
            json.dump({"spans": tracer.spans, "ops": metrics_recs}, f, default=str)

    for k, m in metrics.items():
        print(f"{args.workload:18s} {k:34s} {m['value']:14.6g} {m['unit']}")
    print(f"{args.workload:18s} {'failed_frac':34s} {summary['failed_frac']:14.6g} ratio")
    if summary["op_s.tail"]:
        t = summary["op_s.tail"]
        print(f"{args.workload:18s} {'op_s.tail (p%d, n=%d)' % (t['percentile'], t['samples']):34s}"
              f" {t['value']:14.6g} s")
    if stored:
        print(f"{args.workload:18s} {'stored_bytes_per_row':34s} {summary['stored_bytes_per_row']:14.6g} B/row")
    print("# summary " + json.dumps(summary, default=str))
    print(json.dumps(result))
    return 0


def compare(path_a: str, path_b: str) -> int:
    with open(path_a) as f:
        a = json.load(f)
    with open(path_b) as f:
        b = json.load(f)
    reasons = host.incomparable(a.get("summary", {}).get("fingerprint"),
                                b.get("summary", {}).get("fingerprint"))
    if reasons:
        print("not comparable: " + "; ".join(reasons))
        return 1
    for k in sorted(set(a["metrics"]) & set(b["metrics"])):
        va, vb = a["metrics"][k]["value"], b["metrics"][k]["value"]
        rel = (vb - va) / va if va else float("nan")
        print(f"{k:34s} {va:14.6g} {vb:14.6g} {rel:+8.1%}")
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS) + ["all"])
    ap.add_argument("--seed", type=int, default=inputs.DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=25.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--compare", nargs=2, metavar="RESULT_JSON")
    args = ap.parse_args(argv)
    if args.compare:
        return compare(*args.compare)
    if not args.workload:
        ap.error("--workload is required")
    if not _program_present():
        print(f"error: the program (__spark_entry__.py, optimizing_spark/) is not in "
              f"{host.ROOT}; run from the repository root", file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)
    return run(args)


def run_all(args) -> int:
    """Every workload in turn, each in its own process; prints their
    metric tables."""
    rc = 0
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        out = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        lines = out.stdout.splitlines()
        print("\n".join(line for line in lines[:-1] if not line.startswith("# summary")),
              flush=True)
        rc = rc or out.returncode
    return rc


if __name__ == "__main__":
    sys.exit(main())
