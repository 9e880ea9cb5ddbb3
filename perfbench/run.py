"""Engine benchmark: one closed-loop client per workload, in one process
on ``local[<cores>]``, against the public API of ``datastream_spark``.

    python3 perfbench/run.py --workload timeseries --seed 1 --seconds 30 --trace 0
    python3 perfbench/run.py --all                 # every workload, untraced + traced

Run from the repository root. The benchmark generates every input from
``--seed``, lands it as parquet under ``.bench_build/``, times the
calls into the engine from outside, checks every answer against numpy
ground truth outside the timed region, and prints one JSON object as
the last line of stdout::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` turns on
the Spark event log and the span recorder and reports the per-layer
metrics instead (see perfbench/README.md for every name).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import traceback

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
if sys.path and os.path.abspath(sys.path[0]) == HERE:
    sys.path.pop(0)  # import the package as ``perfbench``, not its modules bare
sys.path.insert(0, ROOT)

from perfbench import measure, spans  # noqa: E402

END_TO_END = {
    "setup_s": "s",
    "items_per_s": "1/s",
    "op_p50_ms": "ms",
}

SPAN_NAMES = (
    "registry.ensure_stream",
    "registry.find_streams",
    "datastream.append",
    "datastream.downsample",
    "datastream.get_data",
    "datastream.scan",
    "datastream.aggregate_range",
    "pipeline.curate_corpus",
    "operators.similarity.semantic_dedup",
)
# the exact stages' survivor counts are pinned by the generator and
# checked against the oracle in every run; the MinHash stage's count is
# the only one a correct run can change
FUNNEL_STAGES = ("near_dup_dedup",)
PER_LAYER = (
    {f"{s}.{c}": spans.COUNTER_UNITS[c] for s in SPAN_NAMES for c in spans.COUNTERS}
    | {
        "sources.tables.files": "count",
        "sources.tables.bytes": "bytes",
        "sources.tables.partition_dirs": "count",
        "sources.tables.bytes_per_point": "bytes",
        "dedup.near_dup_recall": "ratio",
        "dedup.false_drop_ratio": "ratio",
        "process.peak_rss_mb": "MB",
    }
    | {f"pipeline.curate_corpus.report.{k}": "count" for k in FUNNEL_STAGES}
    | {"trace.op_p50_ms": "ms"}
)


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T_START:7.1f}s] {msg}", file=sys.stderr, flush=True)


def prepare_env(work: str) -> None:
    """Keep every file the run writes inside ``work`` and pin the clock
    and core count before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # the launcher JVM spark-submit runs first reads these; the driver
    # JVM gets the same flags through spark.driver.extraJavaOptions
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TZ"] = "UTC"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    time.tzset()
    import tempfile

    tempfile.tempdir = None


def start_session(work: str, trace: bool):
    from datastream_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.hadoop.hadoop.tmp.dir": os.path.join(work, "tmp"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf |= {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",  # one plain file per app
        }
    spark = get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()  # the session answers
    return spark


def stop_jvm(spark) -> None:
    """Stop Spark, end the JVM the driver launched and wait until it and
    every process under it (Python workers) have exited."""
    from pyspark import SparkContext

    kids = measure.descendants(os.getpid())
    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.time() + 30
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in kids):
        for p in kids:  # reap direct children so they do not linger as zombies
            try:
                os.waitpid(p, os.WNOHANG)
            except ChildProcessError:
                pass
        time.sleep(0.1)
    for p in kids:
        if os.path.exists(f"/proc/{p}"):
            try:
                os.kill(p, 9)
            except ProcessLookupError:
                pass


def run_workload(args) -> dict:
    from perfbench.workloads import WORKLOADS

    work = os.path.join(ROOT, ".bench_build", "perfbench", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    prepare_env(work)
    trace = bool(args.trace)
    attempted = failed = 0
    spark = None
    try:
        with measure.PeakRss() as rss:
            recorder = spans.Spans()
            wl = WORKLOADS[args.workload](args.seed, work, recorder)
            spark = start_session(work, trace)
            if trace:
                recorder.sc = spark.sparkContext
            wl.setup(spark)
            # set-up runs from process start: imports, the JVM launch,
            # input generation and landing, up to the first timed op
            setup_s = time.perf_counter() - T_START
            log(f"setup: {setup_s:.2f}s")

            checks = []
            t_loop = time.perf_counter()
            i = 0
            while wl.has_op(i) and (i == 0 or time.perf_counter() - t_loop < args.seconds):
                try:
                    checks.append(wl.op(i))
                except Exception:
                    traceback.print_exc()
                    attempted += 1
                    failed += 1
                    break
                i += 1
                log(f"op {i} done: {wl.describe_last()}")
            measured_s = time.perf_counter() - t_loop
            # every answer is checked here, after the timed loop; the
            # store-wide check (finish) is one more attempted op
            for check in [c for op_checks in checks for c in op_checks] + [lambda: wl.finish(len(checks))]:
                attempted += 1
                try:
                    errs = check()
                except Exception:
                    traceback.print_exc()
                    errs = ["the check raised"]
                if errs:
                    failed += 1
                    log("WRONG ANSWER: " + "; ".join(errs))
            stop_jvm(spark)
            spark = None
        ops = wl.metrics() if checks else {}
        log(f"measured {measured_s:.1f}s over {len(checks)} ops")
        lat = wl.latencies()
        tail = measure.tail_percentile(lat) if lat else None
        log(f"op latency: n={len(lat)}, " + (f"p{tail[0]:g} = {tail[1] * 1e3:.1f} ms" if tail
            else "fewer than 20 samples, so no percentile has ten beyond it; see op_p50_ms"))
        if trace:
            metrics = layer_metrics(wl, recorder, work, ops) | {"process.peak_rss_mb": rss.peak / 2**20}
            units = PER_LAYER
        else:
            metrics = {"setup_s": setup_s} | ops
            units = END_TO_END
        return {
            "correct": failed == 0 and len(checks) > 0,
            "attempted": max(attempted, 1),
            "failed": failed,
            "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items() if k in metrics},
        }
    finally:
        if spark is not None:
            stop_jvm(spark)
        shutil.rmtree(work, ignore_errors=True)


def layer_metrics(wl, recorder: spans.Spans, work: str, ops: dict[str, float]) -> dict[str, float]:
    jobs = spans.read_jobs(spans.event_logs(os.path.join(work, "eventlog")))
    mined = spans.mine(recorder.records, jobs)
    out = {f"{s}.{c}": mined.get(s, {}).get(c, 0.0) for s in SPAN_NAMES for c in spans.COUNTERS}
    foot = measure.footprint(wl.root) if hasattr(wl, "root") else {}
    for k in ("files", "bytes", "partition_dirs"):
        out[f"sources.tables.{k}"] = float(foot.get(k, 0))
    points = getattr(wl, "points", 0)
    out["sources.tables.bytes_per_point"] = foot.get("bytes", 0) / points if points else 0.0
    stats = getattr(wl, "stats", {})
    out["dedup.near_dup_recall"] = stats.get("near_dup_recall", 0.0)
    out["dedup.false_drop_ratio"] = stats.get("false_drop_ratio", 0.0)
    report = getattr(wl, "report", {})
    for k in FUNNEL_STAGES:
        out[f"pipeline.curate_corpus.report.{k}"] = float(report.get(k, 0))
    if "op_p50_ms" in ops:
        out["trace.op_p50_ms"] = ops["op_p50_ms"]
    log("span self time (s): " + ", ".join(f"{n}={c['self_s']:.2f}" for n, c in sorted(mined.items())))
    return out


def run_all(args) -> int:
    """Every workload untraced then traced, in child processes; prints
    every metric by name and unit and the tracing overhead."""
    from perfbench.workloads import WORKLOADS

    rc = 0
    summary = {}
    for name in WORKLOADS:
        res = {}
        for trace in (0, 1):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", name,
                   "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(trace)]
            out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
            lines = out.stdout.strip().splitlines()
            if out.returncode != 0 or not lines:
                print(f"{name} trace={trace}: exit {out.returncode}")
                rc = 1
                continue
            res[trace] = json.loads(lines[-1])
        for trace, r in res.items():
            print(f"== {name} (trace={trace}) correct={r['correct']} attempted={r['attempted']} "
                  f"failed={r['failed']} failed_ratio={r['failed'] / r['attempted']:.4f}")
            for k, m in r["metrics"].items():
                print(f"   {k:58s} {m['value']:16.4f} {m['unit']}")
            rc |= 0 if r["correct"] else 1
        if 0 in res and 1 in res:
            base = res[0]["metrics"]["op_p50_ms"]["value"]
            traced = res[1]["metrics"]["trace.op_p50_ms"]["value"]
            print(f"   tracing overhead on op_p50_ms: {traced / base - 1:+.1%}")
        summary[name] = res
    print(json.dumps(summary))
    return rc


def main(argv=None) -> int:
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=30)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--all", action="store_true", help="run every workload, untraced and traced")
    args = ap.parse_args(argv)
    try:
        import datastream_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine ({e}); run from the repository root", file=sys.stderr)
        return 2
    if args.all:
        return run_all(args)
    if not args.workload:
        ap.error("--workload or --all is required")
    result = run_workload(args)
    for k, m in result["metrics"].items():
        print(f"{k} = {m['value']:.6g} {m['unit']}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
