#!/usr/bin/env python3
"""bfokg benchmark: one workload per process, closed loop, on local[nproc].

    python3 kgbench/run.py --workload kg_build --seed 1 --seconds 10 --trace 0

Run from the root of a bfokg checkout. The process sets up a session
(several times over), runs one cold iteration, then warm iterations
until ``--seconds`` have passed since the cold one started (none when it
alone takes longer), checking every output against a reference computed
once per seed, and reports the end-to-end metrics: the CPU time of a
set-up, and the CPU time and peak memory of the cold build. ``--trace 1``
turns the Spark event log on from the first set-up and, after the cold
iteration, alternates plain iterations with traced ones (a job group around
every public call, each module's function also called in isolation), and
reports the per-layer metrics. The last line of standard output is one JSON
object. Everything the run writes goes under ``.kgbench/`` in the checkout.
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".kgbench")

# Set-ups per run; setup_s is the median of their CPU times.
SETUPS = 5
# No warm iteration (and no traced pair after the first) starts later than
# this after process start, so a slow host cannot push the whole benchmark
# past its time budget; the record lists the iterations that ran.
START_LIMIT_S = 75.0

# Bounded in BENCHMARK.json: the CPU time of a set-up, and the CPU time and
# memory of one build in a fresh session. Wall times are printed too, but
# not bounded: see METHODOLOGY.md, "Why CPU time".
END_TO_END = [
    ("setup_s", "s"),
    ("cold_cpu_s", "s"),
    ("peak_mem_mb", "MB"),
]

ISOLATED_CALLS = [
    "triples.extract_triples", "triples.link_triples", "triples.dedup_triples",
    "rule_based.classify_rule_based", "semantic.classify_semantic",
    "strategies.cascade", "strategies.infer_parents", "api.Classifier.classify",
    "linking.extract_mentions", "linking.link_mentions",
    "dedup.minhash_lsh_pairs", "dedup.dedup_keep_list",
]
PIPELINE_STAGES = ("extract", "edges", "nodes")
CURATION_STAGES = ("stats", "pairs", "keep_list", "corpus")

# Printed by --trace 1. Every time here is measured on both workloads: the
# per-stage and per-call times of one workload's own modules would read 0 on
# the other on every run, so those (and shuffle fetch wait, 0 in local mode)
# are reported on the record line only, next to these.
PER_LAYER = [
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
    ("driver.gap_s", "s"), ("driver.construct_s", "s"), ("driver.construct_jobs", "count"),
    ("executor.run_s", "s"), ("executor.cpu_s", "s"), ("executor.gc_s", "s"),
    ("executor.busy_frac", "ratio"),
    ("shuffle.write_bytes", "bytes"), ("shuffle.read_bytes", "bytes"), ("spill.bytes", "bytes"),
    ("pyworker.run_s", "s"), ("pyworker.bytes_sent", "bytes"),
    ("pyworker.bytes_returned", "bytes"),
    ("scan.bytes_read", "bytes"), ("write.bytes", "bytes"), ("write.files", "count"),
    ("plan.stages_s", "s"), ("plan.commit_s", "s"),
    ("operators.construct_s", "s"), ("operators.action_s", "s"), ("operators.jobs", "count"),
    *[(f"pipeline.{s}_{k}", u) for s in PIPELINE_STAGES
      for k, u in (("jobs", "count"), ("shuffle_bytes", "bytes"))],
    *[(f"curation.{s}_jobs", "count") for s in CURATION_STAGES],
    *[(f"{c}.jobs", "count") for c in ISOLATED_CALLS],
    ("session.launch_s", "s"), ("session.get_spark_s", "s"), ("api.Classifier.init_s", "s"),
    ("trace.wall_s", "s"), ("trace.untraced_wall_s", "s"), ("trace.overhead_s", "s"),
    ("iteration.cold_s", "s"), ("iteration.warm_cpu_s", "s"), ("host.steal_frac", "ratio"),
]


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


# ------------------------------------------------------------ environment --

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _process_bytes(pid: int) -> int:
    """RSS for the JVM (from statm: reading smaps_rollup of a multi-GB JVM
    walks its page tables under its memory lock and stalls its allocations);
    PSS for every other process, so the Python workers a daemon forks are
    not charged once each for the pages they share."""
    with open(f"/proc/{pid}/comm") as f:
        is_jvm = f.read().strip() == "java"
    if is_jvm:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def _tree_sum(pid: int, measure) -> float:
    """``measure(p)`` summed over ``pid`` and all its descendants (driver,
    JVM, Python workers), from /proc; processes that vanish count 0."""
    kids = _children()
    total, stack = 0, [pid]
    while stack:
        p = stack.pop()
        stack.extend(kids.get(p, ()))
        try:
            total += measure(p)
        except (OSError, IndexError, ValueError):
            pass
    return total


def tree_memory_bytes(pid: int) -> int:
    return _tree_sum(pid, _process_bytes)


def _process_cpu_s(pid: int) -> float:
    """utime + stime of the process and of its reaped children: a Python
    worker that exits moves its time into its parent's count, so the tree
    total never loses it. Time the hypervisor steals is not in these."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return sum(int(x) for x in fields[11:15]) / os.sysconf("SC_CLK_TCK")


def tree_cpu_s(pid: int) -> float:
    return _tree_sum(pid, _process_cpu_s)


class MemorySampler(threading.Thread):
    """Peak of ``tree_memory_bytes`` for this process, sampled until stopped.
    ``cpu_s`` is the CPU time the sampling itself took, so it can be taken
    out of the tree's CPU time."""

    def __init__(self, interval: float = 0.5):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak = 0
        self.cpu_s = 0.0
        self._stop_event = threading.Event()

    def run(self):
        while not self._stop_event.is_set():
            t0 = time.thread_time()
            self.peak = max(self.peak, tree_memory_bytes(os.getpid()))
            self.cpu_s += time.thread_time() - t0
            self._stop_event.wait(self.interval)

    def stop(self) -> int:
        self._stop_event.set()
        self.join(timeout=10)
        return self.peak


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) clock ticks of the whole machine, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def git_rev() -> str:
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.SubprocessError):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def environment(nproc: int, master: str) -> dict:
    import pyspark

    return {
        "nproc": nproc, "master": master, "spark": pyspark.__version__,
        "python": platform.python_version(), "git_rev": git_rev(),
    }


# ---------------------------------------------------------------- session --

def make_session(master: str, event_log_dir: str | None = None):
    from bfokg.session import get_spark

    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": "2g",
    }
    if event_log_dir is not None:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log_dir,
            "spark.eventLog.compress": "false",
        })
    return get_spark(app_name="kgbench", master=master, extra_conf=conf)


def set_up(master: str, event_log_dir: str | None = None):
    """A ready session: ``get_spark``, one trivial job, ``Classifier``
    dims built. Returns (spark, get_spark_s, Classifier_init_s, total_s)."""
    from bfokg.api import Classifier

    t0 = time.perf_counter()
    spark = make_session(master, event_log_dir)
    t1 = time.perf_counter()
    spark.range(1).count()
    t2 = time.perf_counter()
    Classifier(spark)
    t3 = time.perf_counter()
    return spark, t1 - t0, t3 - t2, t3 - t0


def shut_down(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


# -------------------------------------------------------------- iterations --

class Runner:
    def __init__(self, wl, scratch: str, deadline: float,
                 sampler: MemorySampler | None = None):
        self.wl = wl
        self.scratch = scratch
        self.deadline = deadline
        self.sampler = sampler
        self.attempted = 0
        self.failed = 0

    def cpu_s(self) -> float:
        """CPU time of this process tree so far, less the memory sampler's."""
        return tree_cpu_s(os.getpid()) - (self.sampler.cpu_s if self.sampler else 0.0)

    def iteration(self, spark, label: str, tracer=None) -> dict:
        """One closed-loop iteration: timed call, then (untimed) output
        check; in traced mode also the isolated calls."""
        from kgbench.workloads import NoTrace

        out_dir = os.path.join(self.scratch, label)
        self.attempted += 1
        rec = {"label": label, "ok": False}
        c0 = self.cpu_s()
        t0 = time.perf_counter()
        try:
            handle = self.wl.iterate(spark, out_dir, tracer or NoTrace())
            rec["wall_s"] = time.perf_counter() - t0
            rec["cpu_s"] = self.cpu_s() - c0
            rec["output"] = self.wl.output(handle)
            rec["ok"] = rec["output"] == self.wl.expected
            if tracer is not None:
                rec.update(self.trace_extras(spark, tracer, out_dir))
        except Exception:  # a failed iteration is counted, the loop goes on
            rec.setdefault("wall_s", time.perf_counter() - t0)
            rec.setdefault("cpu_s", self.cpu_s() - c0)
            traceback.print_exc(file=sys.stderr)
        if not rec["ok"]:
            self.failed += 1
            log(f"[kgbench] {label}: output check FAILED: {rec.get('output')} "
                f"!= {self.wl.expected}")
        shutil.rmtree(out_dir, ignore_errors=True)
        return rec

    def trace_extras(self, spark, tracer, out_dir: str) -> dict:
        """Files the call wrote and its LineageLog stage windows, then the
        isolated calls."""
        from kgbench.workloads import lineage_windows

        extras = {"write_files": sum(f.endswith(".parquet") for _r, _d, files
                                     in os.walk(out_dir) for f in files),
                  "stages": lineage_windows(out_dir)}
        self.wl.isolated(spark, tracer, out_dir)
        return extras

    def window(self, spark, prefix: str, seconds: float) -> list[dict]:
        """Closed-loop iterations until ``seconds`` have passed (none if
        ``seconds`` <= 0), none starting after the deadline."""
        recs = []
        t0 = time.perf_counter()
        while (time.perf_counter() - t0 < seconds
               and time.perf_counter() < self.deadline):
            recs.append(self.iteration(spark, f"{prefix}{len(recs)}"))
        return recs


# ---------------------------------------------------------------- metrics --

def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def layer_metrics(trace, spans, rec: dict, cores: int, wl) -> dict:
    """Per-layer metrics of one traced iteration."""
    top = [s for s in spans if s.top]
    top_groups = {s.group for s in top}
    top_jobs = trace.jobs_in(top_groups)
    t = trace.totals(top_jobs)
    wall = sum(s.seconds for s in top)
    start, end = min(s.start_ms for s in top), max(s.end_ms for s in top)
    construct = [s for s in spans if s.phase == "construct"]
    m = {
        "spark.jobs": t["jobs"], "spark.stages": t["stages"], "spark.tasks": t["tasks"],
        "driver.gap_s": wall - trace.busy_ms(top_jobs, start, end) / 1000.0,
        "driver.construct_s": sum(s.seconds for s in construct),
        "driver.construct_jobs": len(trace.jobs_in({s.group for s in construct})),
        "executor.run_s": t["run_ms"] / 1000.0,
        "executor.cpu_s": t["cpu_ns"] / 1e9,
        "executor.gc_s": t["gc_ms"] / 1000.0,
        "executor.busy_frac": t["run_ms"] / 1000.0 / (wall * cores) if wall else 0.0,
        "shuffle.write_bytes": t["shuffle_write_bytes"],
        "shuffle.read_bytes": t["shuffle_read_bytes"],
        "shuffle.fetch_wait_s": t["fetch_wait_ms"] / 1000.0,
        "spill.bytes": t["spill_bytes"],
        "pyworker.run_s": t["pyworker_run_ms"] / 1000.0,
        "pyworker.bytes_sent": t["pyworker_bytes_sent"],
        "pyworker.bytes_returned": t["pyworker_bytes_returned"],
        "scan.bytes_read": t["input_bytes"],
        "write.bytes": t["output_bytes"],
        "write.files": rec.get("write_files", 0),
        "trace.wall_s": wall,
    }
    windows = rec.get("stages", {})
    staged = 0.0
    for stage in wl.stages:
        s_ms, e_ms = windows.get(stage, (0.0, 0.0))
        jobs = [j for j in top_jobs if s_ms <= j.submit_ms <= e_ms]
        m[f"{wl.stage_prefix}.{stage}_s"] = (e_ms - s_ms) / 1000.0
        m[f"{wl.stage_prefix}.{stage}_jobs"] = len(jobs)
        if wl.stage_prefix == "pipeline":
            m[f"pipeline.{stage}_shuffle_bytes"] = trace.totals(jobs)["shuffle_write_bytes"]
        staged += (e_ms - s_ms) / 1000.0
    m["plan.stages_s"] = staged
    # the plan call's time outside its LineageLog stage windows
    m["plan.commit_s"] = sum(s.seconds for s in top if s.phase == "call") - staged
    isolated = [s for s in spans if not s.top]
    for s in isolated:
        m[f"{s.name}.{s.phase}_s"] = s.seconds
        key = f"{s.name}.jobs"
        m[key] = m.get(key, 0) + len(trace.jobs_in({s.group}))
    for phase in ("construct", "action"):
        m[f"operators.{phase}_s"] = sum(s.seconds for s in isolated if s.phase == phase)
    m["operators.jobs"] = len(trace.jobs_in({s.group for s in isolated}))
    return m


# ------------------------------------------------------------------- main --

def main(argv=None) -> int:
    args = parse_args(argv)
    # everything the run and its JVM / Python workers write stays in the checkout
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)
    try:
        import bfokg  # noqa: F401

        from kgbench import eventlog, workloads
    except ImportError as exc:
        log(f"[kgbench] cannot import the program under test: {exc}")
        return 2
    if args.workload not in workloads.WORKLOADS:
        log(f"[kgbench] unknown workload {args.workload!r}; "
            f"choose from {sorted(workloads.WORKLOADS)}")
        return 2
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)

    nproc = len(os.sched_getaffinity(0))
    # half the cores run tasks; the rest are left to the threads local mode
    # also runs (driver, JIT compilers, GC, Python workers), which on a full
    # machine made CPU times swing by a fifth between identical runs
    slots = max(1, nproc // 2)
    master = f"local[{slots}]"
    env = environment(nproc, master)
    env["loadavg_before"] = list(os.getloadavg())
    wl = workloads.WORKLOADS[args.workload]()

    t0 = time.perf_counter()
    wl.prepare(os.path.join(WORK, "inputs"), args.seed)
    gen_s = time.perf_counter() - t0
    print(f"inputs: {args.workload} seed {args.seed} ready in {gen_s:.3f} s "
          f"(generation and reference, untimed)", flush=True)

    scratch = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch)
    # the traced run logs events from the first set-up on, so plain and
    # traced iterations share one warm session
    event_dir = os.path.join(scratch, "eventlog") if args.trace else None
    if event_dir:
        os.makedirs(event_dir)
    sampler = MemorySampler()
    sampler.start()
    runner = Runner(wl, scratch, deadline=T_START + START_LIMIT_S, sampler=sampler)
    try:
        spark, *_ = set_up(master, event_dir)
        launch_s = time.perf_counter() - T_START
        setups = []
        for _ in range(SETUPS):
            spark.stop()
            c0 = runner.cpu_s()
            spark, gs, init, total = set_up(master, event_dir)
            setups.append((gs, init, total, runner.cpu_s() - c0))

        ticks0 = cpu_ticks()
        cold = runner.iteration(spark, "cold")
        if args.trace:
            # plain and traced iterations alternate, so warm-up drift
            # weighs on both sides of the overhead alike
            tracer = workloads.Tracer(spark)
            warm, traced = [], []
            t0 = time.perf_counter()
            while not traced or (time.perf_counter() - t0 < args.seconds
                                 and time.perf_counter() < runner.deadline):
                warm.append(runner.iteration(spark, f"plain{len(traced)}"))
                tracer.iteration = len(traced)
                traced.append(runner.iteration(spark, f"traced{len(traced)}", tracer))
        else:
            # the window starts with the cold iteration: with a --seconds
            # shorter than it, as in BENCHMARK.json, no warm iteration runs
            warm = runner.window(spark, "warm", args.seconds - cold["wall_s"])
        wall_s = median([r["wall_s"] for r in warm]) if warm else None
        cpu_s = median([r["cpu_s"] for r in warm]) if warm else None
        ticks1 = cpu_ticks()
        shut_down(spark)
    finally:
        peak = sampler.stop()
    env["loadavg_after"] = list(os.getloadavg())
    # share of the machine's CPU time the hypervisor took away while the
    # iterations ran: it lengthens wall times but is in no process's CPU time
    env["steal_frac"] = (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1])
    # back-to-back runs of this benchmark alone leave the 1-min loadavg near
    # nproc; well above that, something else is competing for the cores
    env["loaded"] = env["loadavg_before"][0] > 1.5 * nproc
    if env["loaded"]:
        log(f"[kgbench] WARNING: 1-min loadavg {env['loadavg_before'][0]:.2f} "
            f"on {nproc} cpus before the run; figures are from a loaded box")

    end_to_end = {
        "setup_s": median([s[3] for s in setups]),
        "cold_cpu_s": cold["cpu_s"],
        "peak_mem_mb": peak / 2**20,
    }
    record = {
        "workload": args.workload, "seed": args.seed, "env": env,
        "items": wl.items, "closed_loop": "1 driver, 1 job at a time",
        # cold_s restated as throughput at the stated input size
        "items_per_s": wl.items / cold["wall_s"],
        "cold_s": cold["wall_s"], "wall_s": wall_s, "cpu_s": cpu_s,
        "warm_iterations": [round(r["wall_s"], 4) for r in warm],
        "warm_cpu_s": [round(r["cpu_s"], 4) for r in warm],
        "setup_wall_s": [round(x[2], 4) for x in setups],
        "launch_s": launch_s, "failed_frac": runner.failed / runner.attempted,
        "output_check": "ok" if runner.failed == 0 else "FAILED",
        "end_to_end": end_to_end,
    }
    if args.trace:
        trace = eventlog.read_trace(event_dir)
        per_iter = [layer_metrics(trace, [s for s in tracer.spans if s.iteration == i],
                                  rec, slots, wl)
                    for i, rec in enumerate(traced)]
        names = [n for n, _u in PER_LAYER] + sorted(set().union(*per_iter) - set(dict(PER_LAYER)))
        layers = {name: median([m.get(name, 0) for m in per_iter]) for name in names}
        layers.update({
            "session.launch_s": launch_s,
            "session.get_spark_s": median([s[0] for s in setups]),
            "api.Classifier.init_s": median([s[1] for s in setups]),
            "trace.untraced_wall_s": wall_s,
            "iteration.cold_s": cold["wall_s"],
            "iteration.warm_cpu_s": cpu_s,
            "host.steal_frac": env["steal_frac"],
        })
        layers["trace.overhead_s"] = layers["trace.wall_s"] - layers["trace.untraced_wall_s"]
        record["traced_iterations"] = [round(m["trace.wall_s"], 4) for m in per_iter]
        record["per_layer"] = layers
        metrics = {n: {"value": layers[n], "unit": u} for n, u in PER_LAYER}
    else:
        metrics = {n: {"value": end_to_end[n], "unit": u} for n, u in END_TO_END}
    shutil.rmtree(scratch, ignore_errors=True)

    print("record: " + json.dumps(record, default=str), flush=True)
    for n, u in END_TO_END:
        print(f"{args.workload} {n} = {end_to_end[n]:.4f} {u}", flush=True)
    print(f"{args.workload} cold_s = {record['cold_s']:.4f} s (not bounded)", flush=True)
    if warm:
        print(f"{args.workload} wall_s = {wall_s:.4f} s, cpu_s = {cpu_s:.4f} s "
              f"(median of {len(warm)} warm iterations, not bounded)", flush=True)
    print(f"{args.workload} items_per_s = {record['items_per_s']:.4f} items/s", flush=True)
    print(f"{args.workload} failed_frac = {record['failed_frac']:.4f} "
          f"(output check {record['output_check']})", flush=True)
    print(json.dumps({
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
