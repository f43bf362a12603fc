"""One command for the repository benchmark.

    python3 perfbench/run.py --workload sketch_build --seed 1 --seconds 20 --trace 0

Run from the repository root.  Workloads (closed loop, one driver process,
``local[<half the cores available>]``, a seeded transcript table), each
iteration timed in two parts:

- ``sketch_build``: part 1 is the zero-shuffle Arrow map build of the five
  transcript sketches, part 2 the JVM-side SQL build of the same five;
- ``ledger_windowed``: part 1 is a fresh resumable ledger build plus a
  resume after a seeded quarter of its groups is lost, part 2 a daily
  windowed ledger build rolled up into 30-day windows.

Every output is checked (bounds, exact states, resume byte-identity,
DuckDB oracles).  The last stdout line is the JSON result.  With
``--trace 0`` its metrics are the end-to-end metrics.  With ``--trace 1``
the run alternates untraced and traced composite iterations (tracing
overhead, paired), then times every layer alone (including a subset of the
curation query keys on the sf0.001 test tables) and reports the per-layer
metrics; the spans go to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

T_START = time.perf_counter()

# Untimed iterations counted in setup_s: the builds keep getting faster
# for their first few iterations of a session (JIT)
WARMUP_ITERATIONS = {"sketch_build": 3, "ledger_windowed": 2}
SPAN_PROBES = 10_000


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("sketch_build", "ledger_windowed"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


class Context:
    def __init__(self, spark, workload, seed, work, tracer, ops):
        self.spark, self.workload, self.seed = spark, workload, seed
        self.work, self.tracer, self.ops = work, tracer, ops


# -- composite iterations: one per workload --------------------------------
def sketch_build_iteration(ctx, tb, tag):
    span, ops = ctx.tracer.span, ctx.ops
    with span("sketch_build.arrow"):
        arrow, a = ops.call("arrow_build", tb.arrow_build)
    with span("sketch_build.sql"):
        sql, s = ops.call("sql_build", tb.sql_build)
    if arrow is not None:
        tb.check("arrow", arrow, "arrow")
    if sql is not None:
        tb.check("sql", sql, "sql")
    if a is None or s is None:
        return None
    return {"part1_s": a, "part2_s": s}


def ledger_windowed_iteration(ctx, tb, tag):
    span, ops = ctx.tracer.span, ctx.ops
    with span("ledger_windowed.build"):
        fresh, b = ops.call("ledger_build", lambda: tb.fresh_ledger(tag))
    if fresh is None:
        return None
    tb.lose_groups(tag)
    with span("ledger_windowed.resume"):
        resumed, r = ops.call("ledger_resume", lambda: tb.run_ledger(tag))
    with span("ledger_windowed.windowed"):
        rolled, w = ops.call("windowed_build", lambda: tb.windowed_build(tag))
    tb.check("ledger", fresh, "arrow")
    if resumed is not None:
        tb.check_resume("ledger", fresh, resumed)
    if rolled is not None:
        tb.check_rolled("windowed", rolled)
    for d in (tb.ledger_path(tag), os.path.join(ctx.work, f"windowed-{tag}")):
        shutil.rmtree(d, ignore_errors=True)
    if r is None or w is None:
        return None
    return {"part1_s": b + r, "part2_s": w, "ledger_build_s": b, "resume_s": r}


def iter_s(rec: dict) -> float:
    return rec["part1_s"] + rec["part2_s"]


ITERATIONS = {
    "sketch_build": sketch_build_iteration,
    "ledger_windowed": ledger_windowed_iteration,
}


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "associationabacminer_spark", "__init__.py")):
        print("perfbench: associationabacminer_spark/ not found; run from the repository root",
              file=sys.stderr)
        return 2
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    # BENCHMARK.json is the one list of metric names and units
    wanted = {m["name"]: m["unit"] for m in spec["per_layer" if args.trace else "end_to_end"]}

    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (root, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    heap = os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    sys.path.insert(1, root)

    from harness import JobMeter, Ops, Tracer, host_burn, median, vm_hwm_mb

    cores = len(os.sched_getaffinity(0))
    host = [host_burn(1), host_burn(cores)] if args.trace else None
    # each task slot keeps a JVM task thread and a Python worker busy; with
    # a slot per core they outnumber the cores, and runs on local[cores]
    # were slower and spread more between runs than on local[cores // 2]
    slots = max(1, cores // 2)

    from associationabacminer_spark.session import get_spark

    spark = get_spark(
        app_name=f"perfbench-{args.workload}",
        cores=slots,
        extra_conf={
            "spark.executorEnv.PYTHONPATH": root,
            # no hsperfdata file: the JVM would write it under /tmp.  A
            # fixed heap and young generation: with G1's adaptive sizing the
            # JVM's VmHWM swings up to +-23% between runs; fixed, it
            # follows the old generation the program fills
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{heap} -Xmn512m"
            ),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )
    try:
        from transcripts import TranscriptBench

        ops, tracer = Ops(), Tracer(enabled=False)
        ctx = Context(spark, args.workload, args.seed, work, tracer, ops)
        tb = TranscriptBench(ctx)
        iterate = ITERATIONS[args.workload]
        session_s = time.perf_counter() - T_START
        t0 = time.perf_counter()
        tb.setup_inputs()
        input_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        for i in range(WARMUP_ITERATIONS[args.workload]):
            iterate(ctx, tb, f"warmup{i}")
        warmup_s = time.perf_counter() - t0
        setup_s = session_s + input_s + warmup_s

        meter = JobMeter(spark) if args.trace else None
        samples, pairs, counters = [], [], []
        # a traced run spends half its time on the composite, the rest on
        # the per-layer calls
        deadline = time.perf_counter() + args.seconds / (2 if args.trace else 1)
        i = 0
        while True:
            # traced runs alternate untraced and traced iterations; each
            # traced one is paired with the untraced one just before it
            tracer.enabled = bool(args.trace) and i % 2 == 1
            tracer.iteration = i
            with tracer.span("iteration"):
                rec = iterate(ctx, tb, f"it{i}")
            if rec is not None and tracer.enabled:
                if samples and samples[-1][0] == i - 1:
                    pairs.append(iter_s(rec) / iter_s(samples[-1][1]) - 1.0)
            elif rec is not None:
                samples.append((i, rec))
            if meter is not None:
                counters.append(meter.take())
            i += 1
            if time.perf_counter() >= deadline and (not args.trace or pairs):
                break
        if not samples:
            print("perfbench: no iteration succeeded", file=sys.stderr)
            return 1
        samples = [rec for _, rec in samples]
        parts = {k: median([s[k] for s in samples]) for k in samples[0]}
        jvm_pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
        rss = {"driver_mb": vm_hwm_mb(), "jvm_mb": vm_hwm_mb(jvm_pid)}
        print("perfbench: " + json.dumps({
            "workload": args.workload, "seed": args.seed, "samples": len(samples),
            "session_s": session_s, "input_s": input_s, "warmup_s": warmup_s,
            "medians": parts, "iterations": samples, "peak_rss": rss,
        }), flush=True)

        if args.trace:
            tracer.enabled = True
            tracer.iteration = None
            metrics = {}
            for k in counters[0]:
                metrics[f"spark.{k}"] = median([c[k] for c in counters])
            metrics["trace.overhead_frac"] = median(pairs)
            metrics["trace.overhead_pairs"] = len(pairs)
            probe = Tracer(enabled=True)
            t0 = time.perf_counter()
            for _ in range(SPAN_PROBES):
                with probe.span("probe"):
                    pass
            metrics["trace.span_us"] = (time.perf_counter() - t0) / SPAN_PROBES * 1e6
            metrics.update(tb.layers())
            from curation import CurationBench

            metrics.update(CurationBench(ctx).layers(meter))
            post = [host_burn(1), host_burn(cores)]
            metrics["host.burn_1t"] = (host[0] + post[0]) / 2
            metrics["host.burn_4p"] = (host[1] + post[1]) / 2
            metrics["trace.spans"] = len(tracer.spans)
            metrics["driver.peak_rss_mb"] = vm_hwm_mb()
            metrics["jvm.peak_rss_mb"] = vm_hwm_mb(jvm_pid)
            tracer.dump(os.path.join(root, ".perfbench_out", f"trace-{args.workload}-seed{args.seed}.json"))
        else:
            metrics = {
                "setup_s": setup_s,
                "part1_s": parts["part1_s"],
                "part2_s": parts["part2_s"],
                "peak_rss_mb": rss["driver_mb"] + rss["jvm_mb"],
            }
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    missing = [n for n in wanted if n not in metrics]
    if missing:
        print(f"perfbench: metrics not measured: {missing}", file=sys.stderr)
        return 1
    result = {
        "correct": ops.failed == 0,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": {
            n: {"value": float(metrics[n]), "unit": unit} for n, unit in wanted.items()
        },
    }
    print(json.dumps(result), flush=True)
    return 0


def _children(pid: int) -> list[int]:
    """Pids whose parent is ``pid``, zombies included."""
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:  # ended meanwhile
            continue
        # the parent pid is the second field after the ")" closing the name
        if int(stat.rsplit(")", 1)[1].split()[1]) == pid:
            out.append(int(d))
    return out


def _reap_all(grace_s: float = 10.0, term_s: float = 5.0) -> None:
    """Wait until this process has no child left, reaping each.  Orphaned
    descendants come back here (child subreaper); those still running after
    ``grace_s`` get SIGTERM, and SIGKILL ``term_s`` later."""
    me = os.getpid()
    start = time.monotonic()
    while True:
        while True:
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                break
            if pid == 0:
                break
        kids = _children(me)
        if not kids:
            return
        waited = time.monotonic() - start
        if waited >= grace_s:
            sig = signal.SIGKILL if waited >= grace_s + term_s else signal.SIGTERM
            for pid in kids:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def supervise(argv) -> int:
    """Run the benchmark in a child process, then end and reap every process
    it started, however it exits.  The JVM, its Python daemon and workers
    (in a process group of their own), the multiprocessing helpers: each
    that outlives its parent is reparented here, so none is left running."""
    import ctypes
    import subprocess

    PR_SET_PDEATHSIG, PR_SET_CHILD_SUBREAPER = 1, 36
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        print("perfbench: cannot become a child subreaper", file=sys.stderr)
        return 1
    child = subprocess.Popen(
        [sys.executable, os.path.abspath(__file__), *argv],
        env=dict(os.environ, PERFBENCH_CHILD="1"),
        # killed with this process; its JVM then sees its stdin close
        preexec_fn=lambda: libc.prctl(PR_SET_PDEATHSIG, signal.SIGKILL, 0, 0, 0),
    )

    def forward(signum, _frame):
        child.send_signal(signum)

    for s in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(s, forward)
    try:
        code = child.wait()
    finally:
        _reap_all()
    return code if code >= 0 else 128 - code


if __name__ == "__main__":
    sys.exit(main() if os.environ.get("PERFBENCH_CHILD") else supervise(sys.argv[1:]))
