"""KG-construction benchmark: one command, one process, ``local[nproc]``.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 4 --trace 0

Run from the repository root.  ``--workload all`` runs every workload in
one process.  Set-up generates the seeded input (``gen.py``), starts the
session and warms it up; the timed phase builds, exports and serves (see
``workloads.py``), with ``--seconds`` setting the number of requests.
Every output is checked; a failed check counts in ``failed`` and makes the
exit code 1.

``--trace 0`` prints the end-to-end metrics of ``BENCHMARK.json``;
``--trace 1`` traces the timed phase (``tracing.py``) and prints the
per-layer metrics, including ``trace.overhead_s``.  Human-readable lines
come first; the last line of standard output is one JSON object.

All files go to ``.perfbench-work/`` in the current directory, which is
cleared at the start of each run: inputs, tables, the private Spark local
and temp dirs, and ``result-*.json`` / ``spans-*.json``."""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import workloads as W  # noqa: E402
from tracing import CHECK_GROUP, MOVES, SETUP_GROUP, Tracer  # noqa: E402

WORKLOADS = ("kg_build", "kg_many_entities")
WORK = ".perfbench-work"
DRIVER_MEM = "2g"
# The serve loop runs whole request cycles, one per REQUEST_CYCLE_S of
# --seconds (a cycle takes about 1.5 s on a 4-core host).  A fixed count,
# not a deadline, keeps the tail percentile at the same rank in every run.
REQUEST_CYCLE_S = 1.0
# the export is short and its run time varies by +-15% within one run, so
# it runs more than once and reports the median
EXPORT_REPEATS = 2
# traced/untraced pairs behind trace.overhead_s
OVERHEAD_PAIRS = 4


def fail(msg: str) -> None:
    print("perfbench: %s" % msg, file=sys.stderr)
    sys.exit(2)


# ---------------------------------------------------------------------------
# environment, stamps, memory
# ---------------------------------------------------------------------------

def prepare_env(root: str) -> str:
    work = os.path.join(root, WORK)
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cpus = str(len(os.sched_getaffinity(0)))
    os.environ.update({
        "TMPDIR": tmp,
        # takes precedence over spark.local.dir when set in the caller's env
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        # every JVM (the launcher too): temp files in the checkout, and no
        # /tmp/hsperfdata_<user> entries
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData -Djava.io.tmpdir=%s" % tmp,
        "SPARK_GRAFT_CPUS": cpus,
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    })
    import tempfile

    tempfile.tempdir = tmp
    return work


def session_conf(work: str) -> dict:
    """The UI (and its status store) is on in every run, so traced and
    untraced runs differ only by the spans."""
    return {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.host": "localhost",
        "spark.driver.bindAddress": "127.0.0.1",
        "spark.ui.enabled": "true",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100",
    }


def source_digest(root: str) -> str:
    h = hashlib.sha1()
    pkg = os.path.join(root, "meresco_rdf_spark")
    for dirpath, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                with open(os.path.join(dirpath, name), "rb") as f:
                    h.update(name.encode() + f.read())
    return h.hexdigest()[:16]


def git_commit(root: str) -> str | None:
    try:
        out = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


def cpu_steal() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open("/proc/%s/stat" % entry) as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for child in children.get(todo.pop(), ()):
            out.append(child)
            todo.append(child)
    return out


def rss_mb(pids) -> float:
    """Summed resident memory of ``pids``, each shared page counted once
    (``Pss`` of /proc/<pid>/smaps_rollup: forked Python workers share
    most of their pages with the daemon they fork from)."""
    total_kb = 0
    for pid in pids:
        try:
            with open("/proc/%d/smaps_rollup" % pid) as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total_kb += int(line.split()[1])
                        break
        except (OSError, IndexError, ValueError):
            continue
    return total_kb / 1e3


class RssSampler:
    """Peak summed resident memory (see ``rss_mb``) of the JVM and its
    Python workers, i.e. every descendant of this process, sampled from
    /proc every 200 ms."""

    def __init__(self):
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, rss_mb(descendants(me)))
            self._stop.wait(0.2)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        return False


def running(pid: int) -> bool:
    try:
        with open("/proc/%d/stat" % pid) as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for every process they
    started.  The tree is listed first: once the JVM exits, its Python
    daemon and workers are no longer this process's descendants."""
    from pyspark import SparkContext

    started = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 30
    while any(map(running, started)) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in filter(running, started):
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass


# ---------------------------------------------------------------------------
# one workload
# ---------------------------------------------------------------------------

def life_cycle(spark, wl, tracer, tally, out: str, n_requests: int,
               merge_floor: int | None) -> dict:
    """Timed phase: build, ``EXPORT_REPEATS`` exports, then ``n_requests``
    requests.  Checks run between the timed steps, off the clock."""

    res = {}
    with tracer.request("build"):
        res["build_s"], res["ckpt"] = W.timed(wl.build, spark, "input", out)
    tally.attempted += 1
    tracer.set_group(CHECK_GROUP)
    summary = W.summarize(out)
    res["built"] = W.check_build(wl.corpus, out, summary, tally, merge_floor)
    res.update(export_and_serve(spark, wl, tracer, tally, out, summary,
                                n_requests, EXPORT_REPEATS))
    res["summary"] = summary
    return res


def export_and_serve(spark, wl, tracer, tally, out: str, summary,
                     n_requests: int, exports: int) -> dict:
    """``exports`` exports of the committed tables, then ``n_requests``
    requests against them, each checked off the clock."""
    res = {}
    export_times = []
    for _ in range(exports):
        with tracer.request("export"):
            dt, exported = W.timed(wl.export, spark, out, tally)
        tracer.set_group(CHECK_GROUP)
        export_times.append(dt)
    if export_times:
        res["export_s"] = statistics.median(export_times)
        if exported:
            res["export"] = W.check_export(out, summary, tally)
    server = W.Server(spark, out, wl.seed)
    server.prepare(wl.corpus, summary)
    latencies, ops = [], []
    stream = server.requests()
    while len(latencies) < n_requests:
        op, kind, subject = next(stream)
        with tracer.request("%s:%s" % (op, kind)):
            dt, result = W.timed(server.run, op, subject)
        tracer.set_group(CHECK_GROUP)
        latencies.append(dt)
        ops.append("%s:%s" % (op, kind))
        tally.check(server.check(op, kind, subject, result),
                    "%s of %s %s" % (op, kind, subject))
    res["latencies"] = latencies
    res["ops"] = ops
    res["response_bytes"] = server.response_bytes
    res["wall_s"] = sum(export_times) + sum(latencies)
    return res


def trace_overhead(spark, wl, tracer, out: str, summary) -> tuple:
    """Traced minus untraced wall of one request cycle over the
    committed tables, in ``OVERHEAD_PAIRS`` pairs run in ABBA
    order (traced first, then untraced first, ...) so that the JVM's
    warming does not favour one side.  Returns the median difference and
    the differences' range; checks are counted apart from the run's."""
    diffs = []
    for k in range(OVERHEAD_PAIRS):
        walls = {}
        for traced in ((True, False) if k % 2 == 0 else (False, True)):
            tracer.enabled = traced
            walls[traced] = export_and_serve(
                spark, wl, tracer, W.Tally(), out, summary,
                len(W.REQUEST_CYCLE), 0)["wall_s"]
            tracer.set_group(SETUP_GROUP)
        diffs.append(walls[True] - walls[False])
    tracer.enabled = False
    return statistics.median(diffs), max(diffs) - min(diffs)


def n_requests(seconds: float) -> int:
    return len(W.REQUEST_CYCLE) * max(1, round(seconds / REQUEST_CYCLE_S))


def recorded_merges(name: str, seed: int) -> int | None:
    """owl:sameAs merges that the commit which added the benchmark made
    on this workload and seed (``baseline/merges.json``), if recorded."""
    with open(os.path.join(HERE, "baseline", "merges.json")) as f:
        return json.load(f)[name].get(str(seed))


def run_workload(name: str, seed: int, seconds: float, trace: bool,
                 root: str, work: str, t_start: float, spark_box: dict):

    tracer = Tracer(tag=name, enabled=trace)
    if trace:
        tracer.install()
    tally = W.Tally()
    wl = W.Workload(name, seed, os.path.join(work, name))
    os.makedirs(wl.work, exist_ok=True)
    phases = {}
    t0 = time.perf_counter()
    wl.make_input()
    phases["input_s"] = time.perf_counter() - t0
    if spark_box.get("spark") is None:
        from meresco_rdf_spark import session

        spark_box["spark"] = session.get_spark(
            app_name="perfbench", extra_conf=session_conf(work))
        spark_box["spark"].sparkContext.setLogLevel("ERROR")
        phases["session_s"] = time.perf_counter() - t0 - phases["input_s"]
    spark = spark_box["spark"]
    tracer.sc = spark.sparkContext
    tracer.set_group(SETUP_GROUP)
    t0 = time.perf_counter()
    with tracer.span("session.warm_up", "session"):
        wl.warm_up(spark)
    phases["warm_up_s"] = time.perf_counter() - t0
    tracer.set_group(SETUP_GROUP)
    setup_s = time.perf_counter() - t_start

    # --trace 1: the timed phase is traced and checked like an untraced
    # run, so its per-layer figures explain the same (partly cold) build.
    # trace_overhead then compares traced and untraced passes.
    tracer.enabled = trace
    merge_floor = recorded_merges(name, seed)
    # peak memory does not repeat within a tenth across runs (JVM heap
    # growth follows GC timing), so only the traced run samples it
    rss = RssSampler()
    with rss if trace else contextlib.nullcontext():
        res = life_cycle(spark, wl, tracer, tally, wl.path("out"),
                         n_requests(seconds), merge_floor)
    report = {"workload": name, "setup_s": setup_s, "phases": phases,
              "tally": tally, "res": res}
    if trace:
        tracer.set_group(SETUP_GROUP)
        tracer.enabled = False
        layers = layer_report(wl, tracer, res)
        layers["trace.overhead_s"], layers["trace.overhead_spread_s"] = \
            trace_overhead(spark, wl, tracer, wl.path("out"), res["summary"])
        layers["peak_rss_mb"] = rss.peak
        report["layers"] = layers
        tracer.dump(os.path.join(work, "spans-%s-%d.json" % (name, seed)))
        tracer.uninstall()
    return report


def layer_report(wl, tracer, res: dict) -> dict:
    """Per-layer metrics of the traced pass ``res`` plus the layer counts
    read from its outputs."""

    cores = len(os.sched_getaffinity(0))
    out = tracer.metrics(cores, len(res["latencies"]))
    built = res["built"]
    ckpt = res["ckpt"]
    stats = W.table_stats(wl.path("out"))
    out.update({
        "extract.mentions": built["mentions"],
        "canonicalize.surfaces": built["surfaces"],
        "canonicalize.entities": built["entities"],
        "checkpoint.buckets_reprocessed": ckpt.get("buckets_processed", 0),
        # turns extracted by this run / turns new to it (all, on a fresh
        # build); 0 on the layer path, which keeps no checkpoint
        "checkpoint.reprocessed_turn_ratio": W.turns_extracted(
            wl.path("out"), ckpt.get("run_id")) / wl.corpus.n_turns,
        "materialize.bytes_per_triple": stats["triple_bytes"] / built["rows"],
        "materialize.files_written": stats["files"],
        "rdfxml_sink.shards": res.get("export", {}).get("shards", 0),
        "serializer.bytes_out": (res.get("export", {}).get("chars", 0)
                                 + res["response_bytes"]),
    })
    return out


# ---------------------------------------------------------------------------
# output
# ---------------------------------------------------------------------------

def load_spec(root: str) -> dict:
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return json.load(f)


def end_to_end(report: dict) -> dict:
    res = report["res"]
    lat_ms = [x * 1e3 for x in res["latencies"]]
    return {
        "setup_s": report["setup_s"],
        "build_s": res["build_s"],
        "triples_per_s": (res["built"]["rows"] / res["build_s"]),
        "export_s": res["export_s"],
        "lookup_p50_ms": statistics.median(lat_ms),
        "lookup_tail_ms": W.tail(lat_ms)[1],
    }


def print_report(report: dict, stamp: dict, spec: dict, trace: bool) -> dict:
    """Human-readable lines; returns the metrics for the JSON line."""
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    name = report["workload"]
    tally = report["tally"]
    e2e = end_to_end(report)
    lat_ms = [x * 1e3 for x in report["res"]["latencies"]]
    q, _ = W.tail(lat_ms)
    print("== %s  seed=%s  %s" % (name, stamp["seed"], json.dumps(stamp)))
    print("set-up phases: %s" % json.dumps(report["phases"]))
    by_op = {}
    for op, ms in zip(report["res"]["ops"], lat_ms):
        by_op.setdefault(op, []).append(ms)
    print("lookup p50 by request: %s" % json.dumps(
        {op: round(statistics.median(v), 1) for op, v in sorted(by_op.items())}))
    for key, value in e2e.items():
        extra = ""
        if key == "lookup_tail_ms":
            extra = "  (p%g of %d requests)" % (q, len(lat_ms))
        print("%-20s %14.4f %s%s" % (key, value, units.get(key, ""), extra))
    print("%-20s %14.4f ratio  (%d failed of %d attempted)" % (
        "error_rate", tally.failed / max(tally.attempted, 1), tally.failed,
        tally.attempted))
    built = report["res"]["built"]
    print("canonicalize: %d owl:sameAs merges, %d by exact Jaccard chains"
          % (built["merges"], built["exact_merges"]))
    for what in tally.failures[:20]:
        print("FAILED: %s" % what)
    if not trace:
        return {k: v for k, v in e2e.items()}

    layers = report["layers"]
    print("per-layer (traced run; a job belongs to the layer span open at "
          "submission, else to the layer whose call last returned, so the "
          "fused emit plan reports under materialize)")
    for key, value in layers.items():
        print("%-40s %14.4f %s" % (key, value, units.get(key, "")))
    print("trace.overhead_s is the median of %d traced-minus-untraced pairs "
          "of one request cycle; %s" % (
              OVERHEAD_PAIRS,
              "resolved" if abs(layers["trace.overhead_s"])
              > layers["trace.overhead_spread_s"] else
              "unresolved: smaller than the pairs' spread"))
    for layer, moves in MOVES.items():
        print("moves: %-14s -> %s" % (layer, moves))
    return layers


def main(argv=None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    parser.add_argument("--workload", required=True,
                        choices=WORKLOADS + ("all",))
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)
    t_start = time.perf_counter()
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "meresco_rdf_spark")):
        fail("run from the repository root: meresco_rdf_spark/ not found")
    sys.path.insert(0, root)
    spec = load_spec(root)
    try:
        import pyspark  # noqa: F401
    except ImportError:
        fail("pyspark is not importable")
    work = prepare_env(root)
    stamp = {
        "seed": args.seed, "nproc": len(os.sched_getaffinity(0)),
        "master": "local[%s]" % os.environ["SPARK_GRAFT_CPUS"],
        "load_start": os.getloadavg(), "python": platform.python_version(),
        "commit": git_commit(root), "source_digest": source_digest(root),
    }
    steal0, total0 = cpu_steal()
    names = WORKLOADS if args.workload == "all" else (args.workload,)
    spark_box: dict = {}
    reports = []
    try:
        for name in names:
            reports.append(run_workload(
                name, args.seed, args.seconds, bool(args.trace), root, work,
                t_start, spark_box))
            t_start = time.perf_counter()
        spark = spark_box["spark"]
        stamp["spark"] = spark.version
        stamp["java"] = spark.sparkContext._jvm.System.getProperty(
            "java.version")
    finally:
        if spark_box.get("spark") is not None:
            stop_spark(spark_box["spark"])
    stamp["load_end"] = os.getloadavg()
    steal, total = cpu_steal()
    stamp["cpu_steal_share"] = (steal - steal0) / max(total - total0, 1)

    metrics, attempted, failed = {}, 0, 0
    for report in reports:
        values = print_report(report, stamp, spec, bool(args.trace))
        prefix = "" if len(reports) == 1 else report["workload"] + "."
        for key, value in values.items():
            metrics[prefix + key] = {"value": value,
                                     "unit": _unit(spec, key)}
        attempted += report["tally"].attempted
        failed += report["tally"].failed
    for sub in os.listdir(work):
        if sub in WORKLOADS or sub in ("tmp", "spark-local"):
            shutil.rmtree(os.path.join(work, sub), ignore_errors=True)
    result = {"correct": failed == 0, "attempted": attempted,
              "failed": failed, "metrics": metrics}
    with open(os.path.join(work, "result-%s-%d-trace%d.json" % (
            args.workload, args.seed, args.trace)), "w") as f:
        json.dump({"stamp": stamp, **result}, f, indent=1)
    print(json.dumps(result))
    return 0 if failed == 0 else 1


def _unit(spec: dict, key: str) -> str:
    for m in spec["end_to_end"] + spec["per_layer"]:
        if m["name"] == key:
            return m["unit"]
    return ""


if __name__ == "__main__":
    sys.exit(main())
