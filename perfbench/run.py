"""The repository's benchmark of record.

Run from the repository root::

    python3 perfbench/run.py --workload ingest_gate --seed 1 --seconds 10 --trace 0

``--trace 0`` measures the end-to-end metrics with tracing off;
``--trace 1`` runs the same loop half traced, half untraced, then the
per-layer ladder, and reports per-layer metrics.  Human-readable report
lines go to stdout first; the last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``.  See
``perfbench/README.md``.

The benchmark drives ``evalidate_spark`` only through public functions, on
inputs it generates itself from ``--seed`` (``perfbench/gen.py``), and
writes only under ``.perfbench_work/`` and ``.perfbench_out/`` in the
repository root.  It exits with code 2, printing no result, when the
package is not next to it.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: warm-JVM set-ups measured per run; ``setup_s`` is their median
SETUPS = 3


def die(msg: str) -> None:
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


# ------------------------------------------------------------- machine
def machine() -> dict:
    """Cores and memory of this box, and the Spark sizing derived from
    them: ``local[cores]``, a driver heap of a sixth of memory (at most
    4 GiB, at least 1 GiB) and two shuffle partitions per core."""
    cores = len(os.sched_getaffinity(0))
    mem = None
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem = int(line.split()[1]) * 1024
    try:
        with open("/sys/fs/cgroup/memory.max") as fh:
            lim = fh.read().strip()
        if lim.isdigit():
            mem = min(mem, int(lim))
    except OSError:
        pass
    heap_mb = max(1024, min(4096, mem // 6 // (1 << 20)))
    return {"cores": cores, "mem_bytes": mem, "heap_mb": heap_mb, "shuffle_partitions": 2 * cores}


class Sessions:
    """Starts and stops SparkSessions in one JVM, with every Spark and
    Python scratch path inside *work*."""

    def __init__(self, box: dict, work: str) -> None:
        self.box = box
        self.work = work
        self.spark = None
        for d in ("tmp", "spark-local", "warehouse"):
            os.makedirs(os.path.join(work, d), exist_ok=True)
        tmp = os.path.join(work, "tmp")
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
        # every JVM the launch starts (launcher and driver) keeps its temp
        # files here and writes no /tmp/hsperfdata_* entry
        os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData -Djava.io.tmpdir=" + tmp
        import tempfile

        tempfile.tempdir = tmp

    def start(self, cores: int):
        from pyspark.sql import SparkSession

        self.spark = (
            SparkSession.builder.appName("perfbench")
            .master("local[%d]" % cores)
            .config("spark.driver.memory", "%dm" % self.box["heap_mb"])
            .config("spark.local.dir", os.path.join(self.work, "spark-local"))
            .config("spark.sql.warehouse.dir", os.path.join(self.work, "warehouse"))
            .config("spark.sql.shuffle.partitions", str(self.box["shuffle_partitions"]))
            .config("spark.default.parallelism", str(cores))
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.sql.adaptive.enabled", "true")
            .config("spark.sql.execution.arrow.pyspark.enabled", "true")
            .config("spark.sql.session.timeZone", "UTC")
            .config("spark.sql.ansi.enabled", "true")
            .getOrCreate()
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def jvm_pid(self):
        from pyspark import SparkContext

        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None) if gw is not None else None
        return proc.pid if proc is not None else None

    def shutdown(self, rss) -> None:
        """Stop Spark, then the JVM, and wait for it and its Python
        workers to exit."""
        from pyspark import SparkContext

        self.stop()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        pids = rss.descendants() if rss is not None else []
        try:
            gw.shutdown()
        except Exception:  # noqa: BLE001 - the JVM is going away either way
            pass
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001
                proc.kill()
                proc.wait(timeout=30)
        deadline = time.time() + 20
        for pid in pids:
            while os.path.exists("/proc/%d" % pid) and time.time() < deadline:
                time.sleep(0.05)
            if os.path.exists("/proc/%d" % pid):
                try:
                    os.kill(pid, 9)
                except OSError:
                    pass
        SparkContext._gateway = None
        SparkContext._jvm = None


# ------------------------------------------------------------- memory
def _status(pid, field):
    try:
        with open("/proc/%d/status" % pid) as fh:
            for line in fh:
                if line.startswith(field + ":"):
                    return int(line.split()[1]) * 1024
    except OSError:
        return None
    return None


class PeakRss:
    """Peak resident memory of this process, the JVM and every process
    the JVM starts (Python workers): the sum of each process's peak
    (``VmHWM``), polled so short-lived workers are seen.  :meth:`reset`
    clears the kernel's peak counters so a window measures only itself."""

    def __init__(self, jvm_pid: int) -> None:
        self.jvm = jvm_pid
        self.peaks: dict = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._poll, daemon=True)

    def descendants(self) -> list:
        kids: dict = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open("/proc/%s/stat" % d) as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(d))
        out, todo = [], [self.jvm]
        while todo:
            p = todo.pop()
            for c in kids.get(p, []):
                out.append(c)
                todo.append(c)
        return out

    def _pids(self):
        return [os.getpid(), self.jvm] + self.descendants()

    def reset(self) -> None:
        self.peaks = {}
        for pid in self._pids():
            try:
                with open("/proc/%d/clear_refs" % pid, "w") as fh:
                    fh.write("5")
            except OSError:
                pass

    def sample(self) -> None:
        for pid in self._pids():
            v = _status(pid, "VmHWM") or _status(pid, "VmRSS")
            if v is not None:
                self.peaks[pid] = max(self.peaks.get(pid, 0), v)

    def _poll(self) -> None:
        while not self._stop.wait(0.25):
            self.sample()

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()
        return sum(self.peaks.values()) / (1 << 20)


# ------------------------------------------------------------- helpers
def median(xs):
    return statistics.median(xs) if xs else None


def p90(xs):
    return statistics.quantiles(xs, n=10)[-1] if len(xs) >= 10 else None


def fmt(v) -> str:
    return "missing" if v is None else ("%.6g" % v)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "evalidate_spark", "__init__.py")):
        die("evalidate_spark/ not found next to perfbench/ in %s" % ROOT)
    sys.path.insert(0, ROOT)
    import evalidate_spark  # noqa: F401 - fail before any work if it cannot load

    if os.path.dirname(os.path.abspath(evalidate_spark.__file__)) != os.path.join(ROOT, "evalidate_spark"):
        die("evalidate_spark was imported from outside %s" % ROOT)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        die("unknown workload %r (have %s)" % (args.workload, ", ".join(workloads.WORKLOADS)))
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)

    box = machine()
    work = os.path.join(ROOT, ".perfbench_work", "%s-%d" % (args.workload, os.getpid()))
    outdir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(work)
    os.makedirs(outdir, exist_ok=True)
    wl = workloads.WORKLOADS[args.workload](os.path.join(work, "data"), os.path.join(work, "out"), box["cores"])
    sessions = Sessions(box, work)
    ctx: dict = {}
    try:
        result = run(args, bench, box, wl, outdir, sessions, ctx)
    finally:
        sessions.shutdown(ctx.get("rss"))
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)
    for line in result["report"]:
        print(line)
    print(json.dumps(result["json"]))
    return 0


#: status-store key → (per-layer metric, unit), medians over traced operations
SPARK_LAYER = {
    "input_bytes": ("sources.input_bytes", "bytes"),
    "sql.files_read_bytes": ("sources.files_read_bytes", "bytes"),
    "sql.scan_s": ("sources.scan_time_s", "s"),
    "jobs": ("spark.jobs", "count"),
    "stages": ("spark.stages", "count"),
    "tasks": ("spark.tasks", "count"),
    "executor_run_s": ("spark.executor_run_s", "s"),
    "executor_cpu_s": ("spark.executor_cpu_s", "s"),
    "gc_s": ("spark.gc_s", "s"),
    "sql.wscg_s": ("spark.wscg_s", "s"),
    "shuffle_write_bytes": ("spark.shuffle_write_bytes", "bytes"),
    "shuffle_read_bytes": ("spark.shuffle_read_bytes", "bytes"),
    "spill_bytes": ("spark.spill_bytes", "bytes"),
    "core_busy_ratio": ("spark.core_busy_ratio", "ratio"),
    "task_skew": ("spark.task_skew", "ratio"),
}


def spark_layer_metrics(windows: list, samples: dict) -> dict:
    """Per-operation medians of the status-store readings of the traced
    operations (a failed reading stays missing), plus the tracing overhead:
    median traced operation ÷ median untraced operation."""
    windows = [w for w in windows if w is not None]

    def med(key):
        vals = [w[key] for w in windows if w.get(key) is not None]
        return median(vals) if vals else None

    out = {name: (med(key), unit) for key, (name, unit) in SPARK_LAYER.items()}
    plain = median([w for w, _o in samples["plain"]])
    traced = median([w for w, _o in samples["traced"]])
    out["trace.overhead_ratio"] = (traced / plain if plain and traced else None, "ratio")
    return out


def run(args, bench, box, wl, outdir, sessions, ctx):
    """Prepare, set up, measure, check; returns the report lines and the
    result object.  ``ctx["rss"]`` holds the memory sampler for shutdown."""
    from tracing import StatusStore, Tracer

    cores = box["cores"]
    report = []
    t = time.perf_counter()
    wl.prepare(args.seed)
    prepare_s = time.perf_counter() - t

    # the first set-up also launches the JVM; setup_s is the median.  The
    # traced run does not report setup_s, and sets up once to stay short
    setup = []
    for k in range(1 if args.trace else SETUPS):
        sessions.stop()
        t = time.perf_counter()
        spark = sessions.start(cores)
        wl.open(spark)
        wl.warmup()
        setup.append(time.perf_counter() - t)
        if k == 0:
            rss = ctx["rss"] = PeakRss(sessions.jvm_pid())
            rss.start()

    tracer = Tracer(enabled=False)
    traced = Tracer(enabled=args.trace == 1)
    store = StatusStore(spark) if args.trace else None
    errors: list = []
    tally = {"attempted": 0, "failed": 0}

    def checked(what: str, fn):
        """Run one checked step; a raise or a mismatch counts as failed."""
        tally["attempted"] += 1
        try:
            bad = fn()
        except Exception as e:  # noqa: BLE001 - a failed step is counted, not fatal
            bad = ["%s raised %r" % (what, e)]
        if bad:
            tally["failed"] += 1
            errors.extend(bad)
        return not bad

    checked("warm-up", lambda: wl.warm(tracer))
    rss.reset()
    samples = {"plain": [], "traced": []}
    op_windows = []
    t_end = time.perf_counter() + args.seconds
    k = 0
    while True:
        # the traced run interleaves untraced and traced operations as
        # ABBA so warm-up drift cancels out of the tracing overhead
        use = traced if (args.trace and k % 4 in (1, 2)) else tracer
        if store is not None and use is traced:
            store.mark()
        res = {}

        def one_op():
            t = time.perf_counter()
            res["out"] = wl.op(k, use)
            res["wall"] = time.perf_counter() - t
            if store is not None and use is traced:
                op_windows.append(store.delta(res["wall"], cores))
            return wl.check_op(res["out"])

        if checked("operation %d" % k, one_op):
            samples["traced" if use is traced else "plain"].append((res["wall"], res["out"]))
        k += 1
        if time.perf_counter() >= t_end and k >= (4 if args.trace else 1):
            break
    peak_rss_mb = rss.stop()

    checked("run check", wl.check_run)

    walls = [w for w, _o in samples["plain"]]
    e2e = {
        "setup_s": (median(setup), "s"),
        "docs_per_s": (wl.docs / median(walls) if walls else None, "docs/s"),
        "peak_rss_mb": (peak_rss_mb, "MB"),
    }
    extra = wl.extra_metrics([o for _w, o in samples["plain"]])

    layer: dict = {}
    if args.trace:

        def ladder():
            metrics, bad = wl.ladder(traced, store)
            layer.update(metrics)
            return bad

        checked("ladder", ladder)
        layer.update(spark_layer_metrics(op_windows, samples))
        # the local[1] leg restarts the session, so it runs last
        if hasattr(wl, "scaling_leg") and walls:
            extra.update(wl.scaling_leg(sessions, median(walls)))
    attempted, failed = tally["attempted"], tally["failed"]
    extra["error_rate"] = (failed / attempted, "ratio", attempted)

    n = len(walls)
    report.append(
        "# perfbench workload=%s seed=%d cores=%d heap_mb=%d docs=%d trace=%d"
        % (args.workload, args.seed, cores, box["heap_mb"], wl.docs, args.trace)
    )
    report.append("# input generation %.3f s; set-ups %s s (the first launches the JVM)" % (prepare_s, " ".join("%.3f" % x for x in setup)))
    for name, (v, unit) in e2e.items():
        cnt = len(setup) if name == "setup_s" else (1 if name == "peak_rss_mb" else n)
        report.append("e2e %-22s %12s %-7s n=%d" % (name, fmt(v), unit, cnt))
    if walls:
        report.append("e2e %-22s %12s %-7s n=%d p90=%s" % ("op_s_p50", fmt(median(walls)), "s", n, fmt(p90(walls))))
        report.append("# operation walls (s): " + " ".join("%.3f" % w for w in walls))
    for name, (v, unit, cnt) in extra.items():
        report.append("e2e %-22s %12s %-7s n=%d" % (name, fmt(v), unit, cnt))
    for err in errors[:20]:
        report.append("ERROR " + err)

    metrics = {}
    if args.trace:
        for name, (v, unit) in sorted(layer.items()):
            report.append("layer %-44s %14s %s" % (name, fmt(v), unit))
        for name, v in sorted(traced.self_times().items()):
            report.append("self  %-44s %14s s" % (name, fmt(v)))
        traced.dump(
            os.path.join(outdir, "trace-%s-seed%d.json" % (args.workload, args.seed)),
            {"layer_metrics": {k: {"value": v, "unit": u} for k, (v, u) in layer.items()}, "windows": op_windows},
        )
    # the JSON line carries exactly the metrics BENCHMARK.json names
    values = {k: v for k, (v, _u) in (layer if args.trace else e2e).items()}
    for m in bench["per_layer" if args.trace else "end_to_end"]:
        metrics[m["name"]] = {"value": values.get(m["name"]), "unit": m["unit"]}

    correct = failed == 0 and all(m["value"] is not None for m in metrics.values())
    return {
        "report": report,
        "json": {"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics},
    }


if __name__ == "__main__":
    sys.exit(main())
