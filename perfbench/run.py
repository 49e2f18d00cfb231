"""Benchmark entry point.

    python3 perfbench/run.py --workload catalog_short --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --smoke

Run from the repository root. One run: isolate a temp root, generate the
workload's inputs from the seed, set the session up three times, warm up
(for the catalog, the untimed correctness check is part of it), run the
timed closed loop for `--seconds`, check the daily job's stored results,
and print a detail record line followed by the result line
`{"correct", "attempted", "failed", "metrics"}`.
`--trace 0` reports the end-to-end metrics of BENCHMARK.json, `--trace 1`
its per-layer metrics from a separately traced loop. The command exits
non-zero when any correctness check fails. `--smoke` runs every
workload briefly on tiny inputs, in both modes, and checks the printed
metric names against BENCHMARK.json.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("catalog_short", "daily_ingest")
SETUPS = 5
DRIVER_MEM = "1g"
STORE_OPS = (
    "mh.bootstrap", "mh.probe_and_insert", "mh.compact", "cc.bootstrap",
    "cc.apply_pairs", "cc.compact", "ivf.append_batch", "ivf.compact",
)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="brief run of every workload")
    ap.add_argument("--tiny", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    if not args.smoke and not args.workload:
        ap.error("--workload is required")
    return args


def isolate(run_dir: str, trace: bool) -> dict:
    """Point every temp location of the driver, the JVM and the Python
    workers at this run's own directory. Must run before the JVM starts."""
    dirs = {k: os.path.join(run_dir, k) for k in ("tmp", "local", "warehouse", "eventlog")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    conf = [
        f"spark.local.dir={dirs['local']}",
        f"spark.sql.warehouse.dir={dirs['warehouse']}",
        "spark.ui.showConsoleProgress=false",
    ]
    if trace:
        conf += [
            "spark.eventLog.enabled=true",
            f"spark.eventLog.dir=file://{dirs['eventlog']}",
            "spark.eventLog.compress=false",
        ]
    args = [f"--driver-java-options=-Djava.io.tmpdir={dirs['tmp']}"]
    args += [f"--conf {c}" for c in conf]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    os.environ["TMPDIR"] = dirs["tmp"]
    # pandas-UDF workers import the package by name
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # half the cores: the rest keep the JIT, GC and Python worker
    # threads off the task threads' cores
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(max(1, len(os.sched_getaffinity(0)) // 2)))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", DRIVER_MEM)
    import tempfile

    tempfile.tempdir = dirs["tmp"]
    return dirs


def source_digest() -> str:
    """SHA-1 over the package sources: identifies the code when the
    checkout carries no git metadata."""
    h = hashlib.sha1()
    pkg = os.path.join(ROOT, "chchfr_data_collection_spark")
    for root, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(root, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def git_commit():
    """HEAD of the repository this checkout is, or None (not a git work tree)."""
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "--show-toplevel", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    lines = out.stdout.split()
    if out.returncode != 0 or len(lines) != 2 or os.path.realpath(lines[0]) != os.path.realpath(ROOT):
        return None
    return lines[1]


class Run:
    """Per-run state handed to the workloads."""

    def __init__(self, args, dirs: dict, run_dir: str) -> None:
        self.seed, self.seconds, self.workload = args.seed, args.seconds, args.workload
        self.tmp_root, self.dirs = run_dir, dirs
        self.trace = bool(args.trace)
        self.tracer = None  # set when the traced loop starts
        self.stream = None
        self.cpu = None  # spans.CpuMeter of the process tree
        self.spark = None
        self.data_dir = os.path.join(run_dir, "data")
        self.data_bytes = 0

    def span(self, name: str):
        """A span of the traced loop; nothing outside it."""
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()

    def start_trace(self) -> None:
        start_trace(self)

    def stop_trace(self) -> None:
        self.tracer.unpatch()


def setup(run, tables: bool) -> list[dict]:
    """Start the session SETUPS times (the first launches the JVM), each
    followed by a first job and, for the catalog, loading every table;
    wall-clock and CPU time of each."""
    from chchfr_data_collection_spark import session

    out = []
    for _ in range(SETUPS):
        if run.spark is not None:
            run.spark.stop()
        c0 = run.cpu.read()[0]
        t0 = time.perf_counter()
        run.spark = session.get_spark("perfbench")
        t1 = time.perf_counter()
        run.spark.range(1).count()
        if tables:
            session.load_tables(run.spark, run.data_dir)
        out.append({
            "get_spark_s": t1 - t0,
            "setup_s": time.perf_counter() - t0,
            "setup_cpu_s": run.cpu.read()[0] - c0,
        })
    return out


def start_trace(run):
    """Wrap the public functions of each layer (module-attribute level),
    count py4j calls and register the streaming listener."""
    import spans as tr

    from chchfr_data_collection_spark import pipelines, session
    from chchfr_data_collection_spark.sources import json_source
    from chchfr_data_collection_spark.streaming import events

    t = tr.Tracer()
    t.wrap(session, "load_table", "session.load_table")
    t.wrap(session, "parallelize_scan", "session.parallelize_scan")
    t.wrap(events, "run_available_now", "streaming.run_available_now")
    t.wrap(pipelines, "collect_stations", "pipelines.collect_stations")
    t.wrap(json_source, "read_conformed", "sources.read_conformed")
    t.count_py4j()
    run.tracer = t
    run.stream = StreamCounter(run.spark)


class StreamCounter:
    """StreamingQueryListener totals: micro-batches and input rows."""

    def __init__(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        counter = self
        self.batches = 0
        self.rows = 0

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                counter.batches += 1
                counter.rows += int(event.progress.numInputRows)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = Listener()
        spark.streams.addListener(self.listener)


def e2e_metrics(out, setups, rss_mb) -> dict:
    """The end-to-end metrics; times are CPU time of the whole process
    tree (driver, JVM, Python workers) spent on set-up and on the timed
    operations."""
    import numpy as np

    lat_ops = [o for o in out.notes.get("latency_ops", out.ops) if o.ok]
    cpu_ms = [o.cpu * 1000 for o in lat_ops]
    attempted = len(out.ops) + len(out.checks)
    failed = sum(not o.ok for o in out.ops) + sum(bool(p) for p in out.checks.values())
    n = out.notes
    return {
        "setup_s": (statistics.median(s["setup_cpu_s"] for s in setups), "s"),
        "peak_rss_mb": (rss_mb, "MiB"),
        "ok_op_share": ((attempted - failed) / attempted, "share"),
        "query_cpu_p50_ms": (float(np.percentile(cpu_ms, 50)), "ms"),
        "query_cpu_p90_ms": (float(np.percentile(cpu_ms, 90)), "ms"),
        "queries_per_cpu_s": (len(out.ops) / sum(out.group_cpu_s), "1/s"),
        "pass_cpu_s": (statistics.median(n.get("pass_cpu_s") or out.group_cpu_s), "s"),
        "day_cpu_p50_s": (
            statistics.median(n.get("ordinary_day_cpu_s") or out.group_cpu_s), "s"),
        "day_cpu_max_s": (n["day_max_cpu_s"], "s"),
        "bytes_stored_per_input_byte": (out.stored_ratio, "ratio"),
    }


def wall_metrics(out) -> dict:
    """The same figures in wall-clock time, for the record: on a shared
    host they move with the machine's load, not only with the program."""
    import numpy as np

    lat = [o.seconds * 1000 for o in out.notes.get("latency_ops", out.ops) if o.ok]
    n = out.notes
    return {
        "query_p50_ms": float(np.percentile(lat, 50)),
        "query_p90_ms": float(np.percentile(lat, 90)),
        "queries_per_s": len(out.ops) / sum(out.group_s),
        "pass_s": statistics.median(n.get("pass_s") or out.group_s),
        "day_p50_s": statistics.median(n.get("ordinary_day_s") or out.group_s),
        "day_max_s": n["day_max_s"],
    }


def layer_metrics(run, out, setups) -> dict:
    """Per-layer metrics of the traced loop; means are per timed op."""
    import spans as tr

    t, stream = run.tracer, run.stream
    ops = out.ops
    base_s = sum(out.notes["untraced_group_s"])
    n = max(len(ops), 1)
    log = tr.read_event_log(run.dirs["eventlog"])
    tr.attribute_jobs(log, [o.extra.setdefault("ev", {"t0": o.t0, "t1": o.t1}) for o in ops])
    sp = lambda k: sum(o.extra["ev"]["spark"][k] for o in ops) / n  # noqa: E731
    m = {
        "session.get_spark_s": (statistics.median(s["get_spark_s"] for s in setups), "s"),
        "session.load_table_calls": (t.calls["session.load_table"] / n, "count"),
        "session.load_table_ms": (t.ms["session.load_table"] / n, "ms"),
        "session.parallelize_scan_calls": (t.calls["session.parallelize_scan"] / n, "count"),
        "session.parallelize_scan_ms": (t.ms["session.parallelize_scan"] / n, "ms"),
        "queries.build_ms": (t.ms["queries.build"] / n, "ms"),
        "queries.exec_ms": (t.ms["queries.exec"] / n, "ms"),
        "queries.py4j_calls": (t.py4j_calls / n, "count"),
    }
    for k in ("jobs", "stages", "tasks"):
        m[f"spark.{k}"] = (sp(k), "count")
    m["spark.driver_gap_ms"] = (sp("driver_gap_ms"), "ms")
    for k in tr.SPARK_KEYS:
        m[f"spark.{k}"] = (sp(k), "ms" if k.endswith("_ms") else "bytes")
    calls = max(t.calls["streaming.run_available_now"], 1)
    m["streaming.run_available_now_ms"] = (t.ms["streaming.run_available_now"] / calls, "ms")
    m["streaming.batches"] = (stream.batches / calls, "count")
    m["streaming.rows_in"] = (stream.rows / calls, "count")
    store_ops = out.notes.get("store_ops", [])
    for name in STORE_OPS:
        mine = [o for o in store_ops if o.name == name]
        k = max(len(mine), 1)
        m[f"{name}_ms"] = (sum(o.seconds for o in mine) * 1000 / k, "ms")
        m[f"{name}_jobs"] = (sum(o.jobs for o in mine) / k, "count")
        m[f"{name}_bytes_written"] = (
            sum(o.extra.get("written", {}).get("bytes", 0) for o in mine) / k, "bytes")
        m[f"{name}_files_written"] = (
            sum(o.extra.get("written", {}).get("files", 0) for o in mine) / k, "count")
    days = max(len(out.group_s), 1) if run.workload == "daily_ingest" else 1
    m["pipelines.collect_stations_ms"] = (t.ms["pipelines.collect_stations"] / days, "ms")
    m["pipelines.append_stations_ms"] = (
        sum(o.seconds for o in ops if o.name == "pipelines.collect_stations") * 1000 / days
        - t.ms["pipelines.collect_stations"] / days, "ms")
    m["pipelines.daily_prices_ms"] = (
        sum(o.seconds for o in ops if o.name == "pipelines.daily_prices") * 1000 / days, "ms")
    m["sources.read_conformed_ms"] = (t.ms["sources.read_conformed"] / days, "ms")
    m["pipelines.new_stations"] = (out.notes.get("new_stations", 0) / days, "count")
    m["trace.run_s"] = (sum(out.group_s), "s")
    m["trace.untraced_run_s"] = (base_s, "s")
    m["trace.overhead_s"] = (sum(out.group_s) - base_s, "s")
    return m


def run_workload(args) -> int:
    import numpy as np  # noqa: F401  (fail early, before any work, if missing)

    sys.path[:0] = [ROOT, os.path.join(ROOT, "scripts"), HERE]
    t_start = time.perf_counter()
    load_before = os.getloadavg()
    run_dir = os.path.join(
        ROOT, ".perfbench_runs", f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}"
    )
    dirs = isolate(run_dir, bool(args.trace))
    # import the program only after isolation: it may read the environment
    try:
        import datagen
        import spans as tr
        import workloads as wl

        from chchfr_data_collection_spark import session  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the program: {exc}", file=sys.stderr)
        shutil.rmtree(run_dir, ignore_errors=True)
        return 2

    run = Run(args, dirs, run_dir)
    run.cpu = tr.CpuMeter()
    rss = tr.RssSampler().start()
    try:
        catalog = args.workload != "daily_ingest"
        if catalog:
            sf = wl.SMOKE_SF if args.tiny else wl.CATALOG_SF
            run.data_bytes = datagen.write_tables(run.data_dir, sf, args.seed)
        setups = setup(run, tables=catalog)
        daily_cfg = wl.SMOKE_DAILY if args.tiny else wl.DAILY

        out = wl.run_catalog(run, wl.CATALOG_SHORT) if catalog else wl.run_daily(run, daily_cfg)
        java = run.spark.sparkContext._jvm.System.getProperty("java.version")
        run.spark.stop()  # flushes the event log
        rss_mb = rss.stop()
        metrics = (
            layer_metrics(run, out, setups) if args.trace else e2e_metrics(out, setups, rss_mb)
        )
        attempted = len(out.ops) + len(out.checks)
        failed_checks = {k: v for k, v in out.checks.items() if v}
        failed_ops = [(o.name, o.error) for o in out.ops if not o.ok]
        failed = len(failed_checks) + len(failed_ops)
        import pyspark

        left_behind = wl.leaked_bytes(run)
        record = {
            "workload": args.workload,
            "seed": args.seed,
            "traced": bool(args.trace),
            "git_commit": git_commit(),
            "source_sha1": source_digest(),
            "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
            "nproc": len(os.sched_getaffinity(0)),
            "SPARK_GRAFT_DRIVER_MEM": os.environ["SPARK_GRAFT_DRIVER_MEM"],
            "loadavg_before": load_before,
            "loadavg_after": os.getloadavg(),
            "pyspark": pyspark.__version__,
            "java": java,
            "seconds": args.seconds,
            "setups": setups,
            "ops": len(out.ops),
            "groups_s": out.group_s,
            "groups_cpu_s": out.group_cpu_s,
            "groups_jit_cpu_s": wl.group_sums(out.ops, "jit_cpu"),
            "wall": wall_metrics(out),
            "op_median_ms": {
                name: statistics.median(o.seconds * 1000 for o in out.ops if o.name == name)
                for name in sorted({o.name for o in out.ops})
            },
            "op_jobs": {o.name: o.jobs for o in out.ops},
            "failed_op_share": failed / attempted,
            "failed_checks": failed_checks,
            "failed_ops": failed_ops[:20],
            "bytes_left_behind": left_behind,
            "wall_s": time.perf_counter() - t_start,
            **{k: v for k, v in out.notes.items() if k not in ("store_ops", "latency_ops")},
        }
        if args.trace:
            spans_path = os.path.join(ROOT, ".perfbench_runs", f"spans-{args.workload}-{args.seed}.jsonl")
            run.tracer.dump(spans_path)
            record["spans_file"] = os.path.relpath(spans_path, ROOT)
            record["self_ms"] = run.tracer.self_ms()
        result = {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
    finally:
        rss.stop()
        stop_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"record": record}, default=str))
    print(json.dumps(result))
    return 0 if failed == 0 else 1


def stop_jvm() -> None:
    """Stop the session and the JVM it launched, and wait for the JVM to
    exit (it exits when its stdin closes); its Python workers go with it."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def smoke() -> int:
    """Every workload briefly at tiny scale, both modes; metric names must
    match BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    want = {
        0: {m["name"] for m in bench["end_to_end"]},
        1: {m["name"] for m in bench["per_layer"]},
    }
    bad = 0
    for w in WORKLOADS:
        for trace in (0, 1):
            cmd = [sys.executable, __file__, "--workload", w, "--seed", "1",
                   "--seconds", "1", "--trace", str(trace), "--tiny"]
            proc = subprocess.run(cmd, capture_output=True, text=True, timeout=600, cwd=ROOT)
            lines = proc.stdout.strip().splitlines()
            try:
                got = set(json.loads(lines[-1])["metrics"])
            except (IndexError, ValueError, KeyError):
                got = set()
            ok = proc.returncode == 0 and got == want[trace]
            bad += not ok
            print(f"{'ok  ' if ok else 'FAIL'} {w} trace={trace} exit={proc.returncode}"
                  f" missing={sorted(want[trace] - got)} extra={sorted(got - want[trace])}")
            if proc.returncode != 0:
                print(proc.stderr[-3000:])
    return 1 if bad else 0


def main(argv=None) -> int:
    args = parse_args(argv)
    if args.smoke:
        return smoke()
    return run_workload(args)


if __name__ == "__main__":
    sys.exit(main())
