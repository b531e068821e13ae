"""Benchmark command for smqtk_indexing_spark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Generates the workload's inputs from the
seed, starts one Spark session on ``local[<cores>]``, runs the workload's
untimed warm-up units (booked to ``setup_s``), then runs timed units until
their walls add up to ``--seconds`` (an odd count of them), checking every unit's output, and
prints the end-to-end metrics. ``--trace 1`` starts the session with
Spark's event log on, alternates plain units with traced ones (layer spans
and job groups) and prints the per-layer metrics with the tracing overhead
(traced minus plain median wall).

The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {value, unit}}}``.
Exit code 0 when every check passed, 1 when one failed, 2 when the
checkout holds no engine to benchmark.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# No new timed unit starts after this many seconds of the process once each
# kind of unit has run, so a run on a slow (CPU-stolen) box still ends
# inside the 180 s a run may take.
LAST_START_S = 120.0

END_TO_END = {"wall_s": "s", "items_per_s": "items/s", "setup_s": "s"}

MODULE_LAYERS = ("signatures", "dedup", "candidates", "verify", "cluster",
                 "substrings", "ann", "text")
LAYER_FIELDS = {"s": "s", "jobs": "count", "tasks": "count",
                "python_s": "s", "shuffle_mb": "MB"}
COUNTS = {
    "signatures.docs": "count", "dedup.reps": "count",
    "candidates.pairs": "count", "candidates.bucket_rows": "count",
    "candidates.bucket_max": "count", "candidates.buckets_over_cap": "count",
    "verify.fetch_docs": "count", "verify.pairs_out": "count",
    "verify.yield": "ratio", "cluster.edges": "count",
    "cluster.clusters": "count", "substrings.pairs": "count",
    "pipeline.stages": "count",
}
SESSION = {
    "session.jobs": "count", "session.stages": "count", "session.tasks": "count",
    "session.executor_run_s": "s", "session.executor_cpu_s": "s",
    "session.python_s": "s", "session.gc_s": "s",
    "session.shuffle_write_mb": "MB", "session.spill_mb": "MB",
    "session.heap_peak_mb": "MB",
}


def per_layer_units() -> dict:
    from workloads import LEAVES

    units = {}
    for layer in MODULE_LAYERS:
        for f, u in LAYER_FIELDS.items():
            units[f"{layer}.{f}"] = u
    units.update({"ann.exact_s": "s", "ann.rp_lsh_s": "s",
                  "pipeline.self_s": "s", "pipeline.span_coverage": "ratio",
                  "pipeline.ckpt_write_mb": "MB"})
    units.update(COUNTS)
    units.update({f"leaf.{n}.s": "s" for n in LEAVES})
    units.update(SESSION)
    units.update({"trace.overhead_s": "s", "trace.untraced_wall_s": "s",
                  "trace.traced_wall_s": "s", "output.recall": "ratio",
                  "env.steal_pct": "%"})
    return units


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T_START:7.1f}s] {msg}",
          file=sys.stderr, flush=True)


def steal_counters() -> tuple[int, int] | None:
    try:
        with open("/proc/stat") as f:
            p = f.readline().split()
        return int(p[8]), sum(int(x) for x in p[1:])
    except (OSError, IndexError, ValueError):
        return None


def steal_pct(before, after) -> float:
    if before is None or after is None or after[1] == before[1]:
        return 0.0
    return 100.0 * (after[0] - before[0]) / (after[1] - before[1])


def start_session(work: str, cores: int, event_dir: str | None = None):
    from smqtk_indexing_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
    }
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(app_name="perfbench", master=f"local[{cores}]",
                     extra_conf=conf)


def descendants(root: int) -> dict[int, str]:
    """pid -> start time of every process below ``root``, from /proc."""
    children: dict[int, list[int]] = {}
    started: dict[int, str] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        children.setdefault(int(fields[1]), []).append(int(d))
        started[int(d)] = fields[19]
    found: dict[int, str] = {}
    stack = [root]
    while stack:
        for pid in children.get(stack.pop(), []):
            found[pid] = started[pid]
            stack.append(pid)
    return found


def running(pid: int, started: str) -> bool:
    """Whether ``pid`` is still the process that started at ``started``
    and has not ended (a zombie child of this process is reaped here)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return False
    fields = stat[stat.rindex(")") + 2:].split()
    if fields[19] != started:
        return False
    if fields[0] in "ZX":
        try:
            os.waitpid(pid, os.WNOHANG)
        except ChildProcessError:
            pass
        return False
    return True


def stop_processes(spark=None, grace_s: float = 60.0) -> None:
    """Stop ``spark``, the gateway JVM and every process below this one
    (Python worker daemons and their workers), and wait until each has
    ended; what has not ended after ``grace_s`` is terminated, then killed."""
    procs = descendants(os.getpid())
    try:
        if spark is not None:
            spark.stop()  # also flushes and closes the event log
    finally:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        jvm = getattr(gateway, "proc", None)
        if jvm is not None:
            # the gateway JVM exits when its stdin reaches EOF
            try:
                jvm.stdin.close()
            except OSError:
                pass
            try:
                jvm.wait(grace_s)
            except subprocess.TimeoutExpired:
                log("gateway JVM still running; killing it")
                jvm.kill()
                jvm.wait()
        if gateway is not None:
            try:
                gateway.close()
            except Exception:  # the JVM end is gone already
                pass
            SparkContext._gateway = None
            SparkContext._jvm = None
        deadline = time.perf_counter() + grace_s
        for sig in (None, signal.SIGTERM, signal.SIGKILL):
            if sig is not None:
                for pid, started in procs.items():
                    if running(pid, started):
                        log(f"process {pid} still running; sending {sig.name}")
                        try:
                            os.kill(pid, sig)
                        except ProcessLookupError:
                            pass
                deadline = time.perf_counter() + 10.0
            while (any(running(p, s) for p, s in procs.items())
                   and time.perf_counter() < deadline):
                time.sleep(0.05)
            procs = {p: s for p, s in procs.items() if running(p, s)}
            if not procs:
                break


class HeapPeak:
    """Peak JVM heap over an interval, from the heap pools' MXBeans."""

    def __init__(self, spark):
        mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
        self.pools = [p for p in mf.getMemoryPoolMXBeans()
                      if p.getType().name() == "HEAP"]

    def reset(self) -> None:
        for p in self.pools:
            p.resetPeakUsage()

    def peak_mb(self) -> float:
        return sum(p.getPeakUsage().getUsed() for p in self.pools) / 1e6


def persistent_rdds(sc) -> set:
    return set(int(k) for k in sc._jsc.getPersistentRDDs().keySet().toArray())


def release_new(sc, before: set) -> None:
    """Unpersist every RDD a unit persisted or checkpointed locally."""
    rdds = sc._jsc.getPersistentRDDs()
    for k in persistent_rdds(sc) - before:
        rdd = rdds.get(k)
        if rdd is not None:
            rdd.unpersist(True)


class Runner:
    def __init__(self, wl):
        self.wl = wl
        self.next_unit = 0
        self.attempted = 0
        self.failed = 0

    def bind(self, spark, tracer) -> None:
        self.spark = spark
        self.tracer = tracer
        self.heap = HeapPeak(spark)

    def unit(self, counted: bool, diagnose: bool = False) -> dict | None:
        """One unit: run (timed), fetch, check, release. None on failure."""
        from workloads import CheckFailed

        i = self.next_unit
        self.next_unit += 1
        sc = self.spark.sparkContext
        self.wl.reset()
        before = persistent_rdds(sc)
        if counted:
            self.attempted += 1
        try:
            self.heap.reset()
            s0 = steal_counters()
            with self.tracer.unit(i):
                t0 = time.perf_counter()
                out = self.wl.run(self.spark, self.tracer, i)
                wall = time.perf_counter() - t0
            rec = {"unit": i, "wall_s": wall, "steal_pct": steal_pct(s0, steal_counters()),
                   "heap_peak_mb": self.heap.peak_mb(),
                   "jobs": self.tracer.unit_jobs(i)}
            rec["parts"] = dict(self.wl.parts)
            rec["quality"] = self.wl.check(self.wl.collect(self.spark, out))
            if diagnose:
                rec["diag"] = self.wl.diagnostics(self.spark, out, i)
            return rec
        except CheckFailed as e:
            self.fail(counted, f"unit {i}: {e}")
        except Exception:  # a failing engine call is a failed unit, reported
            self.fail(counted, f"unit {i}: {traceback.format_exc()}")
        finally:
            release_new(sc, before)
            self.wl.cleanup(self.spark, i)
        return None

    def fail(self, counted: bool, msg: str) -> None:
        log("FAILED " + msg)
        if counted:
            self.failed += 1
        else:  # a failing warm-up unit fails the run as well
            self.attempted += 1
            self.failed += 1

    def warm_up(self) -> list[float]:
        walls: list[float] = []
        for _ in range(self.wl.warmup_units):
            rec = self.unit(counted=False)
            if rec is None:
                break
            walls.append(rec["wall_s"])
            log(f"warm-up unit {rec['unit']}: {rec['wall_s']:.3f}s "
                f"{ {k: round(v, 2) for k, v in rec['parts'].items()} }")
        return walls

    def measure(self, seconds: float, trace: bool) -> tuple[list, list]:
        """Timed units until their walls add up to ``seconds`` and their
        count is odd. With ``trace``, plain and traced units (spans and
        layer wrappers on) alternate in the order P T T P P T T P ... until
        there are at least two traced units and their walls add up to
        ``seconds``; the symmetric order cancels the (roughly linear)
        speed-up of a young JVM out of the traced-minus-plain overhead."""
        from layertrace import instrument

        plain: list[dict] = []
        traced: list[dict] = []

        def done() -> bool:
            late = (time.perf_counter() - T_START > LAST_START_S
                    and bool(plain) and (bool(traced) or not trace))
            if not trace:
                # an odd count, so the median is a unit's wall and not the
                # mean of two (a slow run reaches ``seconds`` in two units)
                return late or (len(plain) % 2 == 1
                                and sum(r["wall_s"] for r in plain) >= seconds)
            return late or (len(traced) >= 2 and len(plain) == len(traced)
                            and sum(r["wall_s"] for r in traced) >= seconds)

        k = 0
        while not done():
            if trace and k % 4 in (1, 2):
                self.tracer.enabled = True
                try:
                    with instrument(self.tracer, type(self.spark.range(0))):
                        rec = self._timed(traced, "traced unit", diagnose=not traced)
                finally:
                    self.tracer.enabled = False
            else:
                rec = self._timed(plain, "unit")
            if rec is None:
                break
            k += 1
        return plain, traced

    def _timed(self, recs: list, what: str, diagnose: bool = False) -> dict | None:
        rec = self.unit(counted=True, diagnose=diagnose)
        if rec is not None:
            recs.append(rec)
            log(f"{what} {rec['unit']}: {rec['wall_s']:.3f}s jobs={rec['jobs']} "
                f"steal={rec['steal_pct']:.2f}% {rec['quality']} "
                f"{ {k: round(v, 2) for k, v in rec['parts'].items()} }")
        return rec


def check_job_counts(runner: Runner, recs: list[dict]) -> None:
    jobs = sorted({r["jobs"] for r in recs})
    if len(jobs) > 1:
        runner.fail(False, f"per-unit Spark job count differs between units: {jobs}")


def layer_metrics(recs: list[dict], spans: list[dict], untraced_wall: float,
                  event_dir: str) -> dict:
    """Per-layer metrics: median over traced units of each unit's value."""
    from layertrace import by_unit_layer, read_event_log, span_summary
    from workloads import LEAF_LAYER

    def module_of(layer: str) -> str | None:
        if layer.startswith("leaf."):
            return LEAF_LAYER.get(layer[5:])
        if layer.startswith("ann."):
            return "ann"
        return layer if layer in MODULE_LAYERS else None

    events = by_unit_layer(read_event_log(event_dir))
    per_unit: list[dict] = []
    for rec in recs:
        m: dict = {k: 0.0 for k in per_layer_units()}
        summary = span_summary(spans, rec["unit"], rec["wall_s"])
        self_s = summary["self_s"]
        for layer, s in self_s.items():
            mod = module_of(layer)
            if mod:
                m[f"{mod}.s"] += s
            if layer.startswith("leaf."):
                m[f"{layer}.s"] = s
        m["ann.exact_s"] = (self_s.get("ann.exact", 0.0)
                            + self_s.get("leaf.ann_cosine_topk", 0.0))
        m["ann.rp_lsh_s"] = (self_s.get("ann.rp_lsh", 0.0)
                             + self_s.get("leaf.ann_rp_lsh_topk", 0.0))
        # pipeline work = time outside every layer span + spans of stages
        # that map to no operator module
        m["pipeline.self_s"] = (rec["wall_s"] - summary["covered_s"]
                                + self_s.get("pipeline", 0.0))
        m["pipeline.span_coverage"] = summary["coverage"]
        written = 0
        for layer, c in events.get(rec["unit"], {}).items():
            mod = module_of(layer)
            if mod:
                m[f"{mod}.jobs"] += c["jobs"]
                m[f"{mod}.tasks"] += c["tasks"]
                m[f"{mod}.python_s"] += c["python_ms"] / 1e3
                m[f"{mod}.shuffle_mb"] += c["shuffle_write_b"] / 1e6
            m["session.jobs"] += c["jobs"]
            m["session.stages"] += c["stages"]
            m["session.tasks"] += c["tasks"]
            m["session.executor_run_s"] += c["run_ms"] / 1e3
            m["session.executor_cpu_s"] += c["cpu_ns"] / 1e9
            m["session.python_s"] += c["python_ms"] / 1e3
            m["session.gc_s"] += c["gc_ms"] / 1e3
            m["session.shuffle_write_mb"] += c["shuffle_write_b"] / 1e6
            m["session.spill_mb"] += c["spill_b"] / 1e6
            written += c["written_b"]
        m["pipeline.ckpt_write_mb"] = written / 1e6
        m["session.heap_peak_mb"] = rec["heap_peak_mb"]
        m["env.steal_pct"] = rec["steal_pct"]
        m["output.recall"] = rec["quality"].get("recall", 0.0)
        per_unit.append(m)
    out = {k: statistics.median(u[k] for u in per_unit) for k in per_unit[0]}
    diag = next((r["diag"] for r in recs if "diag" in r), {})
    for k in COUNTS:
        out[k] = float(diag.get(k, 0))
    traced = statistics.median(r["wall_s"] for r in recs)
    out["trace.untraced_wall_s"] = untraced_wall
    out["trace.traced_wall_s"] = traced
    out["trace.overhead_s"] = traced - untraced_wall
    return out


def measure(args, work: str, cores: int) -> dict:
    from layertrace import Tracer
    from workloads import WORKLOADS

    wl = WORKLOADS[args.workload](args.seed, work, cores)
    wl.generate()
    log(f"generated {args.workload} inputs (seed {args.seed}, {wl.items} items)")
    runner = Runner(wl)
    event_dir = os.path.join(work, "events") if args.trace else None
    spark = start_session(work, cores, event_dir)
    try:
        tracer = Tracer(spark.sparkContext, enabled=False)
        runner.bind(spark, tracer)
        wl.prepare(spark)
        warm = runner.warm_up()
        setup_s = time.perf_counter() - T_START
        log(f"setup {setup_s:.2f}s (warm-up walls {[round(w, 3) for w in warm]})")
        recs, traced = runner.measure(args.seconds, bool(args.trace))
        check_job_counts(runner, recs + traced)
    finally:
        stop_processes(spark)
    result = {"runner": runner, "setup_s": setup_s, "items": wl.items,
              "walls": [r["wall_s"] for r in recs]}
    if traced and not runner.failed:
        result["layers"] = layer_metrics(
            traced, tracer.spans, statistics.median(result["walls"]), event_dir)
    return result


def remove_work(work: str) -> None:
    shutil.rmtree(work, ignore_errors=True)
    parent = os.path.dirname(work)
    if os.path.isdir(parent) and not os.listdir(parent):
        os.rmdir(parent)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops Spark and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    missing = [p for p in ("smqtk_indexing_spark", "__spark_entry__.py")
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: checkout at {ROOT} lacks {missing}; nothing to "
              "benchmark", file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # Python workers import the engine from this checkout; temp files and
    # Spark's local dirs stay inside it
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM (spark-submit's launcher too): temp files here, no hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, [
        os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData",
        "-Djava.io.tmpdir=" + os.environ["TMPDIR"]]))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "4g")
    sys.path[:0] = [ROOT, HERE]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        remove_work(work)
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    try:
        res = measure(args, work, cores)
    finally:
        # a session that failed to start may still have left its JVM
        stop_processes()
        remove_work(work)

    runner = res["runner"]
    correct = runner.failed == 0 and bool(res["walls"])
    metrics: dict = {}
    if res["walls"]:
        wall = statistics.median(res["walls"])
        values = {"wall_s": wall, "items_per_s": res["items"] / wall,
                  "setup_s": res["setup_s"]}
        log(f"{len(res['walls'])} timed units, walls "
            f"{[round(w, 3) for w in res['walls']]}")
        if args.trace:
            units = per_layer_units()
            values = res.get("layers", {})
            metrics = {k: {"value": values.get(k, 0.0), "unit": u}
                       for k, u in units.items()}
        else:
            metrics = {k: {"value": values[k], "unit": u}
                       for k, u in END_TO_END.items()}
    print(json.dumps({"correct": correct, "attempted": max(1, runner.attempted),
                      "failed": runner.failed if runner.attempted else 1,
                      "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
