"""Shared run context: work directories, the engine session, JVM and
process probes, percentiles, and the result line."""

from __future__ import annotations

import gc
import json
import os
import shutil
import signal
import sys
import time

import numpy as np

from spans import Tracer, self_times, span_cost_s

ROOT = os.getcwd()  # the checkout root: the benchmark runs from there
OUT_DIR = os.path.join(ROOT, ".perfbench_out")


def percentile(values, q: float) -> float:
    return float(np.percentile(values, q))


def median(values) -> float:
    return percentile(values, 50)


def supported_tail(n: int) -> int | None:
    """Highest of p99/p95/p90 that leaves ten samples beyond it."""
    for q in (99, 95, 90):
        if n * (100 - q) / 100.0 >= 10:
            return q
    return None


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise ValueError(f"no VmHWM for pid {pid}")


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``; Spark's marker and checksum
    files are not counted as files but their bytes are."""
    total, files = 0, 0
    for base, _dirs, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(base, n))
            if n.endswith(".parquet"):
                files += 1
    return total, files


def _stat(pid: int) -> tuple[int, str, int] | None:
    """(parent pid, state, start time) of a process, or None once it is gone."""
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as fh:
            st = fh.read()
    except OSError:
        return None
    f = st[st.rindex(")") + 2:].split()
    return int(f[1]), f[0], int(f[19])


def descendants(pid: int) -> set[tuple[int, int]]:
    """(pid, start time) of every process below ``pid``: the Spark JVM and
    the Python workers it forks."""
    kids: dict[int, list[tuple[int, int]]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                kids.setdefault(st[0], []).append((int(name), st[2]))
    out, todo = set(), [pid]
    while todo:
        for child in kids.get(todo.pop(), []):
            out.add(child)
            todo.append(child[0])
    return out


def _alive(proc: tuple[int, int]) -> bool:
    st = _stat(proc[0])
    return st is not None and st[2] == proc[1] and st[1] != "Z"


def stop_processes(procs: set[tuple[int, int]], grace_s: float = 20.0) -> None:
    """Wait for each process to end; terminate, then kill, the ones that
    outlive ``grace_s``. Returns only when none is left."""
    deadline = time.time() + grace_s
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        if sig is not None:
            for proc in procs:
                if _alive(proc):
                    try:
                        os.kill(proc[0], sig)
                    except OSError:
                        pass
            deadline = time.time() + 5.0
        while any(_alive(p) for p in procs) and time.time() < deadline:
            time.sleep(0.05)
        if not any(_alive(p) for p in procs):
            return
    while any(_alive(p) for p in procs):  # SIGKILL cannot be refused
        time.sleep(0.05)


def stop_jvm() -> None:
    """End the JVM that pyspark launched and wait for it. Closing its stdin
    makes the gateway server exit; Python exiting alone would leave the
    JVM running its shutdown hooks after the benchmark has returned."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is None:
        return
    if proc.stdin is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait()


class Run:
    """One benchmark invocation: arguments, work dirs, session, tracer,
    timings and counters, and the final result line."""

    def __init__(self, args, t_process_start: float) -> None:
        self.args = args
        self.t0 = t_process_start
        self.gen_s = 0.0
        self.tracer = Tracer(bool(args.trace))
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.report: dict[str, tuple[float, str]] = {}  # workload-specific metrics
        self.layer: dict[str, tuple[float, str]] = {}  # per-layer metrics
        self.spark = None
        self.t_first_timed = None
        self.work = os.path.join(
            ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}"
        )
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(os.path.join(self.work, "tmp"), exist_ok=True)
        os.makedirs(OUT_DIR, exist_ok=True)
        # keep Python and JVM scratch files inside the checkout
        os.environ["TMPDIR"] = os.path.join(self.work, "tmp")
        os.environ["JAVA_TOOL_OPTIONS"] = (
            os.environ.get("JAVA_TOOL_OPTIONS", "")
            + f" -Djava.io.tmpdir={os.path.join(self.work, 'tmp')}"
        ).strip()

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    # --- session and JVM probes ------------------------------------------

    def start_session(self) -> None:
        from realtimedatapipeline_8_project_spark.session import get_session

        cores = self.args.cores
        t = time.time()
        with self.tracer.span("session.start"):
            self.spark = get_session(
                f"perfbench-{self.args.workload}",
                master=f"local[{cores}]",
                shuffle_partitions=cores,
                extra_conf={
                    "spark.driver.memory": "3g",
                    "spark.sql.warehouse.dir": self.path("warehouse"),
                    "spark.local.dir": self.path("local"),
                    "spark.ui.showConsoleProgress": "false",
                    "spark.sql.streaming.numRecentProgressUpdates": "2000",
                },
            )
        self.layer["session.start_s"] = (time.time() - t, "s")
        jvm = self.spark.sparkContext._jvm
        self._mf = jvm.java.lang.management.ManagementFactory
        self.jvm_pid = int(jvm.java.lang.ProcessHandle.current().pid())

    def gc_seconds(self) -> float:
        return sum(
            max(0, b.getCollectionTime()) for b in self._mf.getGarbageCollectorMXBeans()
        ) / 1000.0

    def heap_peak_mb(self) -> float:
        total = 0
        for p in self._mf.getMemoryPoolMXBeans():
            if str(p.getType().name()) == "HEAP":
                total += p.getPeakUsage().getUsed()
        return total / 2**20

    def live_heap_mb(self) -> float:
        """Heap in use after a full collection: what the run retains.
        Python collects first, so dead py4j proxies release their JVM objects."""
        gc.collect()
        self.spark.sparkContext._jvm.java.lang.System.gc()
        return sum(
            p.getUsage().getUsed()
            for p in self._mf.getMemoryPoolMXBeans()
            if str(p.getType().name()) == "HEAP"
        ) / 2**20

    def mark_first_timed(self) -> None:
        """End of set-up: everything before this, less input generation,
        is ``setup_s``."""
        self.t_first_timed = time.time()
        self._gc0 = self.gc_seconds()

    # --- checks ------------------------------------------------------------

    def check(self, ok: bool, what: str) -> None:
        """Count one checked operation; a wrong answer counts as failed."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.problems) < 20:
                self.problems.append(what)

    # --- result ------------------------------------------------------------

    def finish(self, headline: dict[str, float]) -> int:
        """Print the report table and the result line; return the exit code."""
        a = self.args
        self.layer["jvm.gc_s"] = (self.gc_seconds() - self._gc0, "s")
        self.layer["jvm.heap_peak_mb"] = (self.heap_peak_mb(), "MB")
        rss = vm_hwm_mb(os.getpid()) + vm_hwm_mb(self.jvm_pid)
        live = self.live_heap_mb()  # after every measurement: the full GC times nothing
        setup_s = self.t_first_timed - self.t0 - self.gen_s
        failed_frac = self.failed / max(1, self.attempted)
        self.report.update(
            {
                "setup_s": (setup_s, "s"),
                "failed_frac": (failed_frac, "ratio"),
                "peak_rss_mb": (rss, "MB"),
                "live_heap_mb": (live, "MB"),
            }
        )
        e2e = {
            "setup_s": (setup_s, "s"),
            "latency_s_p50": (headline["latency_s_p50"], "s"),
            "throughput_per_s": (headline["throughput_per_s"], "1/s"),
            "read_s_p50": (headline["read_s_p50"], "s"),
            "live_heap_mb": (live, "MB"),
        }
        traced = {}
        if a.trace:
            traced = self._trace_report(e2e)
        for name, (v, unit) in sorted(self.report.items()):
            print(f"{a.workload:14s} {name:36s} {v:14.6f} {unit}")
        for name, (v, unit) in sorted(self.layer.items()):
            print(f"{a.workload:14s} layer {name:30s} {v:14.6f} {unit}")
        for p in self.problems:
            print(f"CHECK FAILED: {p}")
        if a.trace:
            metrics = {
                k: self.layer[k] for k in ("session.start_s", "jvm.gc_s", "jvm.heap_peak_mb")
            }
            metrics["trace.ops"] = (self.tracer.ops, "count")
            metrics["trace.overhead_est_s"] = (traced["overhead_est_s"], "s")
        else:
            metrics = e2e
        result = {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
        stem = f"{a.workload}-seed{a.seed}-trace{a.trace}"
        with open(os.path.join(OUT_DIR, stem + ".json"), "w", encoding="utf-8") as fh:
            json.dump(
                {
                    "result": result,
                    "report": {k: {"value": v, "unit": u} for k, (v, u) in self.report.items()},
                    "per_layer": {k: {"value": v, "unit": u} for k, (v, u) in self.layer.items()},
                    "trace": traced,
                    "problems": self.problems,
                },
                fh,
                indent=1,
            )
        print(json.dumps(result), flush=True)
        return 0 if self.failed == 0 else 1

    def _trace_report(self, e2e: dict) -> dict:
        """Self time per layer, plus tracing overhead two ways: the
        measured per-span cost times the span count, and this run's
        end-to-end figures against the untraced run of the same
        workload and seed when one was made in this checkout."""
        a = self.args
        stem = f"{a.workload}-seed{a.seed}"
        self.tracer.dump(os.path.join(OUT_DIR, stem + "-spans.json"))
        layers = self_times(self.tracer.spans)
        cost = span_cost_s()
        out = {
            "layers": layers,
            "spans": len(self.tracer.spans),
            "overhead_est_s": cost * len(self.tracer.spans),
        }
        try:
            with open(os.path.join(OUT_DIR, stem + "-trace0.json"), encoding="utf-8") as fh:
                plain = json.load(fh)["result"]["metrics"]
            out["traced_vs_untraced"] = {
                k: {"traced": v, "untraced": plain[k]["value"],
                    "ratio": v / plain[k]["value"]}
                for k, (v, _u) in e2e.items() if k in plain and plain[k]["value"]
            }
        except FileNotFoundError:
            out["traced_vs_untraced"] = None
        print(f"{a.workload:14s} layer self time (s), spans={out['spans']} "
              f"overhead_est={out['overhead_est_s']:.6f}s")
        for name, row in sorted(layers.items()):
            print(f"{a.workload:14s}   {name:34s} self={row['self_s']:10.4f} "
                  f"total={row['total_s']:10.4f} n={row['spans']}")
        if out["traced_vs_untraced"]:
            for k, row in out["traced_vs_untraced"].items():
                print(f"{a.workload:14s}   overhead {k:26s} traced/untraced={row['ratio']:.4f}")
        return out

    def close(self) -> None:
        """Stop the session, the JVM and every process below this one, and
        wait for each to end; then remove the work directory."""
        procs = descendants(os.getpid())
        try:
            if self.spark is not None:
                self.spark.stop()
        finally:
            self.spark = None
            procs |= descendants(os.getpid())
            stop_jvm()
            stop_processes(procs)
        shutil.rmtree(self.work, ignore_errors=True)
        sys.stdout.flush()
