"""Lakehouse table-format benchmark for deltacat_spark.

Run from the repository root:

    python3 perfbench/run.py --workload append_stream --seed 1 --seconds 12 --trace 0

One run: build a ``local[nproc]`` Spark session, set the workload's table
up (three times; the median counts), run untimed warm-up operations, run
closed-loop operations for ``--seconds``, then check the final table and
sampled lookups against an oracle. The last line of standard output is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` —
the end-to-end metrics of BENCHMARK.json with ``--trace 0``, its
per-layer metrics with ``--trace 1``. A fuller report (every metric that
applies, sample counts, and tracing overhead against an untraced run of
the same seed) goes to standard error and to ``.perfbench/out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback

import metrics as M
import tracing

SETUP_REPS = 3
MB = 1 << 20


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--max-ops",
        type=int,
        default=1 << 30,
        help="stop after this many timed ops (for exactly repeatable counts)",
    )
    return p.parse_args(argv)


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) * 1024
    except FileNotFoundError:
        pass
    return 0


class RssSampler:
    """Peak resident set of this process plus its JVM, sampled every
    ``interval`` seconds on a background thread."""

    def __init__(self, pids: list[int], interval: float = 0.2):
        self.pids = pids
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss", daemon=True)

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, sum(_rss_bytes(p) for p in self.pids))
            if self._stop.wait(self.interval):
                return

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        if self._thread.is_alive():
            self._stop.set()
            self._thread.join()


def build_spark(work: str, name: str):
    from deltacat_spark.session import build_session

    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    # Everything Spark and the JVM spill or unpack stays in the work dir.
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    ncpu = len(os.sched_getaffinity(0))
    spark = build_session(
        f"perfbench-{name}",
        master=f"local[{ncpu}]",
        shuffle_partitions=ncpu,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM process to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run(args, root: str) -> "tuple[dict, tracing.Tracer | None, str]":
    """Set up, measure and check one workload; returns the report, the
    tracer of a traced run, and the report directory."""
    import workloads

    if args.workload not in workloads.WORKLOADS:
        raise SystemExit(
            f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}"
        )
    bench = os.path.join(root, ".perfbench")
    work = os.path.join(bench, f"work-{os.getpid()}")
    out_dir = os.path.join(bench, "out")
    os.makedirs(out_dir, exist_ok=True)
    os.makedirs(work)
    try:
        t0 = time.perf_counter()
        spark = build_spark(work, args.workload)
        spark.range(1).count()
        session_s = time.perf_counter() - t0
        rss = RssSampler([os.getpid(), spark.sparkContext._gateway.proc.pid])
        rss.start()
        try:
            report, tracer = _run_workload(args, spark, work, session_s, rss)
        finally:
            rss.stop()
            stop_spark(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return report, tracer, out_dir


def _run_workload(args, spark, work, session_s, rss):
    import workloads

    ctx = workloads.Ctx(spark, os.path.join(work, "catalog"), args.seed, tracing.NoTracer())
    wl = workloads.WORKLOADS[args.workload](ctx)
    reps = []
    for rep in range(SETUP_REPS):
        t0 = time.perf_counter()
        wl.setup_once(rep)
        reps.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    wl.warm()
    warm_s = time.perf_counter() - t0
    setup_s = session_s + statistics.median(reps) + warm_s
    log(
        f"{args.workload}: session {session_s:.2f}s, table set-up "
        f"{' '.join(f'{r:.2f}' for r in reps)}s, warm-up {warm_s:.2f}s"
    )

    tracer = tracing.Tracer(spark) if args.trace else None
    if tracer is not None:
        tracer.install()
        ctx.tracer = tracer
    failed_ops = 0
    t0 = time.perf_counter()
    try:
        wl.run(t0 + args.seconds, args.max_ops)
    except Exception:
        failed_ops = 1
        traceback.print_exc()
    finally:
        wall = time.perf_counter() - t0
        rss.stop()  # peak of set-up and timed phase, not of the oracle check
        if tracer is not None:
            tracer.uninstall()
    log(f"{args.workload}: {len(ctx.samples)} ops in {wall:.2f}s")

    live_rows = 0
    t0 = time.perf_counter()
    if not failed_ops:
        try:
            live_rows = wl.check()
        except Exception:
            traceback.print_exc()
            ctx.checks.append(("check raised", False))
    log(f"{args.workload}: checked in {time.perf_counter() - t0:.2f}s")
    for name, ok in ctx.checks:
        if not ok:
            log(f"{args.workload}: check FAILED: {name}")
    attempted = len(ctx.samples) + failed_ops + len(ctx.checks)
    failed = failed_ops + sum(not ok for _, ok in ctx.checks)
    correct = failed == 0 and bool(ctx.checks)

    st = workloads.log_stats(wl.table_root, wl.first_version)
    rows_all, rows_merged = wl.rows_submitted() if correct else (0, 0)
    e2e = {"setup_s": (setup_s, "s", SETUP_REPS)}
    e2e.update(M.latency_metrics(ctx.samples))
    write = e2e.get(f"{wl.write_kind}_ms_p50")
    if write:
        e2e["write_ms_p50"] = write
    compacted = M.compaction_ops(ctx.samples, st.ops)
    compact_ms = sum(ctx.samples[i].ms for i in compacted) + sum(
        s.ms for s in ctx.samples if s.kind == "optimize"
    )
    if compact_ms:
        e2e["compact_s"] = (compact_ms / 1000.0, "s", None)
    e2e["ops_per_s"] = (len(ctx.samples) / wall, "1/s", len(ctx.samples))
    if rows_all:
        e2e["ingest_rows_per_s"] = (rows_all / wall, "rows/s", None)
        e2e["write_bytes_per_row"] = (st.bytes_added / rows_all, "B/row", None)
    if live_rows:
        e2e["live_bytes_per_row"] = (st.live_bytes / live_rows, "B/row", None)
    e2e["peak_rss_mb"] = (rss.peak / MB, "MB", None)
    e2e["error_rate"] = (failed / attempted, "ratio", attempted)

    report = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "checks": ctx.checks,
        "timed_commits": len(st.ops),
        "live_files": st.live_files,
        "metrics": e2e,
        "samples": [(x.kind, round(x.ms, 3)) for x in ctx.samples],
    }
    if tracer is not None:
        calib = tracer.calibrate()
        report["layers"] = M.layer_metrics(
            tracer.ops, wl.write_kind, st, rows_merged, calib
        )
        report["calibration_ns"] = {"span": calib[0], "jvm_call": calib[1]}
    return report, tracer


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    spec_path = os.path.join(root, "BENCHMARK.json")
    engine = os.path.join(root, "deltacat_spark", "catalog", "catalog.py")
    if not (os.path.isfile(spec_path) and os.path.isfile(engine)):
        log(f"{root} is not a deltacat_spark checkout (no BENCHMARK.json or engine source)")
        return 2
    sys.path.insert(0, root)
    import deltacat_spark

    if not os.path.abspath(deltacat_spark.__file__).startswith(root + os.sep):
        log(f"deltacat_spark resolved outside {root}: {deltacat_spark.__file__}")
        return 2
    with open(spec_path, encoding="utf-8") as fh:
        spec = json.load(fh)

    report, tracer, out_dir = run(args, root)
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    if tracer is not None:
        tracer.dump(os.path.join(out_dir, f"{tag}.spans.jsonl"))
        untraced = os.path.join(out_dir, f"{args.workload}-s{args.seed}-t0.json")
        if os.path.isfile(untraced):
            with open(untraced, encoding="utf-8") as fh:
                base = json.load(fh)["metrics"]
            report["tracing_overhead"] = {
                k: v[0] - base[k][0]
                for k, v in report["metrics"].items()
                if k in base and v[1] in ("ms", "s")
            }
    with open(os.path.join(out_dir, f"{tag}.json"), "w", encoding="utf-8") as fh:
        json.dump(report, fh, indent=1, default=str)
    print(json.dumps(report, default=str), file=sys.stderr)

    if args.trace:
        chosen = {
            m["name"]: {"value": report["layers"][m["name"]], "unit": m["unit"]}
            for m in spec["per_layer"]
        }
    else:
        chosen = {}
        for m in spec["end_to_end"]:
            if m["name"] in report["metrics"]:
                value, unit, _n = report["metrics"][m["name"]]
                chosen[m["name"]] = {"value": value, "unit": unit}
    print(
        json.dumps(
            {
                "correct": report["correct"],
                "attempted": report["attempted"],
                "failed": report["failed"],
                "metrics": chosen,
            }
        ),
        flush=True,
    )
    return 0 if report["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
