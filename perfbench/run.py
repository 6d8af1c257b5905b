"""Benchmark of the reporting engine: one workload per run.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The run makes its inputs from the seed,
sets up a Spark session, runs the workload's operations in a closed
loop, one pass per ``SECONDS_PER_PASS`` of S (4 passes at S = 12), and
checks every result. The last stdout line is one JSON object:
``correct``, ``attempted``, ``failed`` and ``metrics`` (the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``).
The line before it stamps the host. Everything the run writes goes under
``.perfbench_work/`` in the current directory; a traced run leaves its
spans and per-operation breakdown there as ``trace-NAME-SEED.json``.
Workloads and metric definitions: ``perfbench/design.json``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
DESIGN = os.path.join(HERE, "design.json")
TAIL_PCT = 90  # op_tail_s is this nearest-rank percentile of all operation times
#: --seconds buys one timed pass per this many seconds. The pass count is
#: fixed rather than a deadline: on elt_incremental each cycle grows the
#: warehouse the next one reads, and on every workload a fixed count lets
#: a faster program be measured on the same operations as a slower one.
SECONDS_PER_PASS = 3.0


def cpu_jiffies() -> tuple[int, int]:
    """(busy, steal) jiffies of the whole machine so far, from /proc/stat."""
    with open("/proc/stat") as f:
        user, nice, system, _, _, irq, softirq, steal = map(int, f.readline().split()[1:9])
    return user + nice + system + irq + softirq, steal


class Stopwatch:
    """Wall seconds, and the same seconds with hypervisor steal taken out.

    On a shared host the hypervisor at times runs other guests on the
    vCPUs of the benchmark's VM while its threads are runnable; /proc/stat
    counts that as steal. Of the runnable vCPU time, the share
    busy / (busy + steal) was granted, so a stretch of wall time would
    have taken ``wall * busy / (busy + steal)`` had none been stolen.
    Every timed metric uses these granted seconds: stolen time comes and
    goes with the neighbours' load, and on a shared 4-vCPU VM it moved raw
    wall times 20-50% between runs of the same code.
    """

    def __init__(self):
        self.t0, self.j0 = time.perf_counter(), cpu_jiffies()

    def read(self) -> tuple[float, float]:
        """(wall, granted) seconds since construction."""
        wall = time.perf_counter() - self.t0
        busy, steal = (b - a for a, b in zip(self.j0, cpu_jiffies()))
        return wall, wall * busy / (busy + steal) if busy + steal else wall


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        try:
            tids = os.listdir(f"/proc/{p}/task")
        except FileNotFoundError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{p}/task/{tid}/children") as f:
                    kids = [int(c) for c in f.read().split()]
            except FileNotFoundError:
                continue
            out += kids
            todo += kids
    return out


def peak_rss_mb() -> float:
    """VmHWM of this process plus its JVM child (the spark-submit java)."""
    pids = [os.getpid()]
    for p in _descendants(os.getpid()):
        try:
            with open(f"/proc/{p}/comm") as f:
                if f.read().strip() == "java":
                    pids.append(p)
        except FileNotFoundError:
            pass
    return sum(_vm_hwm_kb(p) for p in pids) / 1024.0


def op_p50(records) -> float:
    """Median over the operation list of each operation's median latency.

    The operations of a pass differ in cost, so a plain median of all
    samples sits in the gap between two operations and jumps between
    them from run to run; the median of per-operation medians does not.
    """
    by_op: dict[str, list[float]] = {}
    for _, op, sec in records:
        by_op.setdefault(op, []).append(sec)
    return statistics.median(statistics.median(v) for v in by_op.values())


def percentile(xs: list[float], pct: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(xs)
    return s[max(0, math.ceil(pct / 100.0 * len(s)) - 1)]


def become_subreaper() -> None:
    """Adopt orphaned descendants, so ``stop_descendants`` can reap them.

    Spark's Python workers are children of the JVM; when the JVM ends
    first they would otherwise be re-parented out of reach.
    """
    import ctypes

    pr_set_child_subreaper = 36
    ctypes.CDLL(None, use_errno=True).prctl(pr_set_child_subreaper, 1, 0, 0, 0)


def stop_descendants(grace: float = 15.0) -> None:
    """Stop Spark and its JVM, then end and reap every descendant.

    Closing the JVM's stdin is how PySpark tells its gateway to exit;
    whatever is left after ``grace`` seconds gets SIGTERM, then SIGKILL.
    Returns once no child of this process is left.
    """
    if "pyspark" in sys.modules:
        from pyspark import SparkContext

        if SparkContext._active_spark_context is not None:
            try:
                SparkContext._active_spark_context.stop()
            except Exception:  # noqa: BLE001 - the JVM is ended below either way
                traceback.print_exc()
        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is not None and proc.stdin is not None:
            try:
                proc.stdin.close()
            except OSError:
                pass
    deadline = time.monotonic() + grace
    sig = None
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            return  # no child left, running or unreaped
        now = time.monotonic()
        if now > deadline:
            sig = signal.SIGKILL if sig else signal.SIGTERM
            for p in _descendants(os.getpid()):
                try:
                    os.kill(p, sig)
                except ProcessLookupError:
                    pass
            deadline = now + 5.0
        time.sleep(0.05)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    with open(DESIGN, encoding="utf-8") as f:
        workloads = json.load(f)["workloads"]
    if args.workload not in workloads:
        ap.error(f"unknown workload {args.workload!r}")

    root = os.getcwd()
    sys.path[:0] = [root, HERE]
    import cs_tutorial_reporting_spark  # noqa: F401  fail fast without the program

    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=os.path.join(work, "tmp"),
        PYTHONPATH=os.pathsep.join(p for p in (root, os.environ.get("PYTHONPATH")) if p),
    )
    host = {"nproc": cpus, "load15_start": os.getloadavg()[2]}
    steal0 = cpu_jiffies()[1]
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))  # run the cleanup below
    become_subreaper()
    try:
        result = Bench(args, workloads[args.workload], work).run()
    finally:
        stop_descendants()
        shutil.rmtree(work, ignore_errors=True)
    host.update(load15_end=os.getloadavg()[2], steal_jiffies=cpu_jiffies()[1] - steal0)
    print(json.dumps({"host": host}))
    print(json.dumps(result))
    return 0


class Bench:
    """One run: set-up, warm-up, the timed loop, then the metrics."""

    def __init__(self, args, spec: dict, work: str):
        import tracing
        import workloads

        self.args, self.work = args, work
        self.tracer = tracing.Tracer() if args.trace else None
        self.wl = workloads.make(spec, work, args.seed, self.tracer)
        self.ok = True
        self.records: list[tuple[str, str, float]] = []  # (op id, op, granted seconds)
        self.passes: list[float] = []  # granted seconds of each completed pass
        self.wall_passes: list[float] = []  # and its wall seconds
        self.attempted = self.failed = 0
        self.marks = [("start", time.perf_counter())]

    def _mark(self, name: str) -> None:
        self.marks.append((name, time.perf_counter()))

    def _op(self, spark, op_id: str, op: str):
        """Run one operation; return its value and (wall, granted) seconds."""
        watch = Stopwatch()
        if self.tracer is None:
            value = self.wl.run(spark, op)
        else:
            with self.tracer.op(op_id, op):
                value = self.wl.run(spark, op)
        return value, watch.read()

    def _warm(self, spark, ops, tag: str) -> None:
        for i, op in enumerate(ops):
            value, _ = self._op(spark, f"{tag}.{i}", op)
            if not self.wl.check(op, value):
                print(f"warm-up result wrong: {op}", file=sys.stderr)
                self.ok = False

    def _spark_conf(self) -> dict[str, str]:
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work, "spark-warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.work}/tmp",
        }
        if self.tracer is not None:
            os.makedirs(self.log_dir)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": self.log_dir,
            })
        return conf

    def _timed_pass(self, spark, p: int) -> None:
        wl = self.wl
        wl.begin_pass()
        total, wall, complete = 0.0, 0.0, True
        for i, op in enumerate(wl.ops):
            self.attempted += 1
            op_id = f"p{p}.{i}"
            try:
                value, (w, sec) = self._op(spark, op_id, op)
            except Exception:  # noqa: BLE001 - a failed operation is counted; the loop goes on
                traceback.print_exc()
                self.failed += 1
                complete = False
                continue
            self.records.append((op_id, op, sec))
            total, wall = total + sec, wall + w
            if not wl.check(op, value):
                print(f"wrong result: {op_id} {op}", file=sys.stderr)
                self.failed += 1
        if complete:
            self.passes.append(total)
            self.wall_passes.append(wall)

    def run(self) -> dict:
        wl = self.wl
        self.log_dir = os.path.join(self.work, "eventlog")
        wl.prepare()
        self._mark("prepare")
        if self.tracer is not None:
            self.tracer.wrap_layers()
        from cs_tutorial_reporting_spark import session

        watch = Stopwatch()
        spark = session.get_spark(
            app_name=f"perfbench-{self.args.workload}", extra_conf=self._spark_conf()
        )
        if self.tracer is not None:
            self.tracer.bind(spark)
        wl.register(spark)
        self._warm(spark, wl.ops[: wl.setup_ops], "setup")
        setup_s = watch.read()[1]
        self._mark("setup")
        self._warm(spark, wl.ops[wl.setup_ops :], "warm")
        for p in range(wl.warmup_passes):
            wl.begin_pass()
            self._warm(spark, wl.ops, f"warm{p}")
        wl.stats.clear()
        self._mark("warm-up")

        for p in range(max(1, round(self.args.seconds / SECONDS_PER_PASS))):
            self._timed_pass(spark, p)
        self._mark("timed")
        self.ok &= wl.finish()
        rss = peak_rss_mb()
        spark.stop()
        self._mark("finish")
        self._report()

        if not self.records:  # every operation failed; correct is false
            self.records, self.passes = [("", "", 0.0)], [0.0]
        secs = [s for _, _, s in self.records]
        if self.tracer is None:
            metrics = {
                "setup_s": (setup_s, "s"),
                "op_p50_s": (op_p50(self.records), "s"),
                "op_tail_s": (percentile(secs, TAIL_PCT), "s"),
                "pass_s": (statistics.median(self.passes or [0.0]), "s"),
                "rows_per_s": (wl.stats["rows_out"] / (sum(secs) or 1.0), "1/s"),
                "bytes_per_row": (wl.bytes_per_row, "B"),
            }
        else:
            metrics = self._traced_metrics()
            metrics["trace.op_p50_s"] = (op_p50(self.records), "s")
            metrics["memory.peak_rss_mb"] = (rss, "MiB")
        return {
            "correct": bool(self.ok and self.failed == 0),
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }

    def _traced_metrics(self) -> dict:
        import layers

        metrics, artifact = layers.per_layer(self, self.log_dir)
        name = f"trace-{self.args.workload}-{self.args.seed}.json"
        with open(os.path.join(os.path.dirname(self.work), name), "w", encoding="utf-8") as f:
            json.dump(artifact, f)
        return metrics

    def _report(self) -> None:
        """Sample counts, pass times and the run's timeline, on stderr."""
        n, pct = len(self.records), TAIL_PCT
        phases = ", ".join(
            f"{name} {t - t0:.1f}s" for (_, t0), (name, t) in zip(self.marks, self.marks[1:])
        )
        print(
            f"{self.args.workload}: {n} operations, {len(self.passes)} passes, "
            f"{n - math.ceil(pct / 100 * n)} samples beyond p{pct}; granted (wall) passes "
            + " ".join(f"{g:.2f} ({w:.2f})" for g, w in zip(self.passes, self.wall_passes))
            + f"; {phases}",
            file=sys.stderr,
        )


if __name__ == "__main__":
    sys.exit(main())
