"""Benchmark entry point.

    python3 perfbench/run.py --workload trips --seed 1 --seconds 15 --trace 0

Run from the repository root.  One invocation is one fresh process that
runs one workload as a closed loop with one client on local[N]
(`--workload all` runs each workload in a process of its own, one after
another):

1. set-up: start the Spark session, build the seeded inputs once, run
   the workload's warm-up passes; setup_s is the process's age when the
   first timed pass starts;
2. at least MIN_TIMED_PASSES timed passes over the cached inputs, more
   until --seconds have passed.  Every pass recomputes from the cached
   inputs: it unpersists what it persisted and writes to fresh sink
   paths, and its output must equal the first pass's;
3. the ground-truth check of the first pass's output (the oracle or a
   brute force), outside set-up and the timed passes;
4. with --trace 1, a second Spark context in the same JVM with the event
   log on: one pass whose layers each run in their own job group, then,
   for the candidate-generating layers, the same pass with predicate
   push-down off, whose joins give the candidate counts.

The last line of stdout is one JSON object: {"correct", "attempted",
"failed", "metrics"} with the end-to-end metrics (--trace 0) or the
per-layer metrics (--trace 1).  The exit code is 1 if any check failed
and 2 if the engine cannot be imported.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from contextlib import contextmanager
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench import eventlog, procstats  # noqa: E402
from perfbench.checks import same_outputs  # noqa: E402

MIN_TIMED_PASSES = 3
# the heap starts at its maximum size (-Xms), so that the JVM's resident
# high-water mark does not follow the timing of the collector's heap growth
DRIVER_MEMORY = "2g"
# the optimizer rules that move a filter into or below a join
NO_PUSHDOWN = ",".join("org.apache.spark.sql.catalyst.optimizer." + r
                       for r in ("PushDownPredicates",
                                 "PushPredicateThroughJoin"))
CORES = min(4, len(os.sched_getaffinity(0)))
PER_LAYER_UNITS = {"wall_s": "s", "jobs": "count", "tasks": "count",
                   "cpu_ms": "ms", "gc_ms": "ms",
                   "shuffle_write_bytes": "bytes", "spill_bytes": "bytes",
                   "python_ms": "ms", "rows_out": "count",
                   "task_share": "ratio", "candidates": "count",
                   "useful_ratio": "ratio"}


class _Rows:
    n = 0


class _Abort(Exception):
    """A pass raised; the run stops and reports the failure."""


class Pass:
    """One pass: per-layer wall times and output rows; in a traced pass
    each layer runs in job group `layer` + `group`."""

    def __init__(self, spark, run_dir: Path, index: int, traced: bool,
                 group: str = ""):
        self.sc = spark.sparkContext
        self.run_dir = run_dir
        self.index = index
        self.traced = traced
        self.group = group
        self.wall: dict[str, float] = {}
        self.rows: dict[str, int] = {}

    @contextmanager
    def layer(self, name: str):
        if self.traced:
            self.sc.setJobGroup(name + self.group, name + self.group)
        rows = _Rows()
        t0 = time.perf_counter()
        try:
            yield rows
        finally:
            self.wall[name] = time.perf_counter() - t0
            self.rows[name] = rows.n
            if self.traced:
                self.sc.setJobGroup("bench", "bench")

    def sink_path(self, what: str) -> str:
        return str(self.run_dir / "sinks" / f"pass{self.index}" / what)


def start_spark(run_dir: Path, event_log: Path | None = None):
    from engine.session import get_spark
    conf = {
        "spark.local.dir": str(run_dir / "spark-local"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={run_dir / 'tmp'} -Xms{DRIVER_MEMORY} "
            "-XX:-UseDynamicNumberOfCompilerThreads",
        "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
        "spark.eventLog.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log is not None:
        event_log.mkdir(parents=True, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": event_log.resolve().as_uri(),
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    spark = get_spark("perfbench", master=f"local[{CORES}]",
                      shuffle_partitions=CORES,
                      driver_memory=DRIVER_MEMORY, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def run_one(wl, spark, run_dir: Path, index: int, traced: bool,
            group: str = ""):
    """One pass -> (Pass, output, wall s, cpu s, JIT cpu s).  cpu is the
    process tree's CPU less the JIT compiler threads': compiling is
    warm-up work that goes on for minutes in a fresh JVM (3-8 s of CPU a
    pass after two warm-up passes), so it would make cpu follow how warm
    the JVM is rather than what the pass does."""
    p = Pass(spark, run_dir, index, traced, group)
    t0 = time.perf_counter()
    c0, j0 = procstats.tree_cpu_s(), procstats.jit_cpu_s()
    out = wl.run_pass(p)
    wall = time.perf_counter() - t0
    jit = procstats.jit_cpu_s() - j0
    return p, out, wall, procstats.tree_cpu_s() - c0 - jit, jit


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        import engine.session  # noqa: F401
        import tests.oracle_ref  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine ({e}); run from the "
              f"repository root", file=sys.stderr)
        return 2
    from perfbench.workloads import WORKLOADS
    if args.workload == "all":
        # each workload in a fresh process of its own
        codes = [subprocess.run([sys.executable, __file__, "--workload", w,
                                 "--seed", str(args.seed), "--seconds",
                                 str(args.seconds), "--trace",
                                 str(args.trace)]).returncode
                 for w in WORKLOADS]
        return max(codes)
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{sorted(WORKLOADS)} or 'all'", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload](args.seed)

    run_dir = Path(".bench_run") / f"{args.workload}-{os.getpid()}"
    (run_dir / "tmp").mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str((run_dir / "tmp").resolve())
    try:
        return _run(args, wl, run_dir)
    finally:
        stop_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            run_dir.parent.rmdir()
        except OSError:
            pass


def stop_jvm() -> None:
    """Stop the active Spark context and the JVM behind it, and wait for
    the JVM to exit (it takes the PySpark daemon and workers with it)."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def _run(args, wl, run_dir: Path) -> int:
    spark = start_spark(run_dir)
    items = wl.build(spark)

    attempted = failed = 0
    errors: list[str] = []
    ref = None

    def one_pass(index: int, traced: bool = False, group: str = ""):
        """Run, collect, unpersist, and check against the first pass."""
        nonlocal attempted, failed, ref
        attempted += 1
        out = None
        try:
            p, out, wall, cpu, jit = run_one(wl, spark, run_dir, index,
                                             traced, group)
            frames = wl.outputs(out)
        except Exception as e:  # a pass that raises fails the run
            failed += 1
            errors.append(f"pass {index} raised {type(e).__name__}: {e}")
            raise _Abort from e
        finally:
            if out is not None:
                wl.unpersist(out)
            shutil.rmtree(run_dir / "sinks" / f"pass{index}",
                          ignore_errors=True)
        if ref is None:
            ref = frames
        else:
            errs = same_outputs(ref, frames)
            if errs:
                failed += 1
                errors.extend(f"pass {index}: {e}" for e in errs)
        return p, wall, cpu, jit

    metrics: dict = {}
    samples: dict = {}
    try:
        warm_walls = [one_pass(i)[1] for i in range(wl.warmup_passes)]
        setup_s = procstats.process_age_s()
        passes = []
        i = wl.warmup_passes
        t_timed = time.perf_counter()
        while len(passes) < MIN_TIMED_PASSES or \
                time.perf_counter() - t_timed < args.seconds:
            passes.append(one_pass(i))
            i += 1
        peak_rss_mb = procstats.tree_hwm_mb()

        errs = wl.check(ref)
        if errs:
            failed = attempted
            errors.extend(f"ground truth: {e}" for e in errs)

        walls = [w for _, w, _, _ in passes]
        wall_s = statistics.median(walls)
        samples = {"warmup_wall_s": warm_walls, "wall_s": walls,
                   "cpu_s": [c for _, _, c, _ in passes],
                   "jit_cpu_s": [j for _, _, _, j in passes],
                   "layer_wall_s": {n: [p.wall[n] for p, _, _, _ in passes]
                                    for n in wl.layers},
                   "setup_s": setup_s}
        if args.trace:
            # The event log is fixed when a context starts: trace in a
            # second context of the same (warm) JVM.
            wl.release()
            spark.stop()
            log_dir = run_dir / "eventlog"
            spark = start_spark(run_dir, event_log=log_dir)
            wl.build(spark)
            tp, t_wall, _, _ = one_pass(1000, traced=True)
            if wl.candidate_layers:
                # Spark folds a refine that reads both join sides into the
                # join, whose row count is then post-refine; run the
                # layers once more with predicate push-down off so that
                # each candidate join emits every pair its keys matched.
                spark.conf.set("spark.sql.optimizer.excludedRules",
                               NO_PUSHDOWN)
                one_pass(1001, traced=True, group=eventlog.CANDIDATES)
                spark.conf.unset("spark.sql.optimizer.excludedRules")
            stop_jvm()
            metrics = per_layer_metrics(wl, samples, tp,
                                        eventlog.parse_path(str(log_dir)))
            metrics["trace_overhead"] = {"value": t_wall / wall_s - 1.0,
                                         "unit": "ratio"}
            samples["traced_wall_s"] = t_wall
        else:
            metrics = {
                "wall_s": {"value": wall_s, "unit": "s"},
                "items_per_s": {"value": items / wall_s, "unit": "1/s"},
                "setup_s": {"value": setup_s, "unit": "s"},
                "peak_rss_mb": {"value": peak_rss_mb, "unit": "MB"},
                "cpu_s": {"value": statistics.median(samples["cpu_s"]),
                          "unit": "s"},
            }
    except _Abort:
        metrics = {}
    stop_jvm()

    for e in errors:
        print(f"perfbench: CHECK FAILED {e}", file=sys.stderr)
    print(json.dumps({"workload": wl.name, "seed": args.seed, "items": items,
                      "samples": samples}))
    print(json.dumps({"correct": not errors, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 1 if errors else 0


def per_layer_metrics(wl, samples, tp: Pass, groups: dict) -> dict:
    """Every per-layer metric of every workload's layers; layers this
    workload does not run read 0."""
    from perfbench.workloads import WORKLOADS
    out = {}
    for w in WORKLOADS.values():
        mine = w is type(wl)
        for layer in w.layers:
            g = groups.get(layer, {}) if mine else {}
            vals = {
                "wall_s": statistics.median(samples["layer_wall_s"][layer])
                if mine else 0.0,
                "rows_out": tp.rows.get(layer, 0) if mine else 0,
                # share of the layer's core-seconds in which a task ran;
                # the rest is driver work, scheduling and idle cores
                "task_share": g.get("run_ms", 0) / 1000.0
                / (tp.wall[layer] * CORES) if mine else 0.0,
            }
            for k in eventlog.COUNTERS:
                vals[k] = g.get(k, 0)
            if layer in w.candidate_layers:
                cand = (groups.get(layer + eventlog.CANDIDATES, {})
                        .get("candidates") or 0) if mine else 0
                vals["candidates"] = cand
                vals["useful_ratio"] = vals["rows_out"] / cand if cand else 0.0
            for k, v in vals.items():
                out[f"{layer}.{k}"] = {"value": v,
                                       "unit": PER_LAYER_UNITS[k]}
    return out


if __name__ == "__main__":
    sys.exit(main())
