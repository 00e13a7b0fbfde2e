"""Benchmark entry point: run one workload for one seed and print the
result as one JSON line.

    python3 perfbench/run.py --workload dedup_pipeline --seed 1 \\
        --seconds 6 --trace 0

Run from the repository root. The run:

1. generates (or reuses from ``perfbench/.cache``) the seeded inputs —
   excluded from every metric;
2. builds the session with ``corral_spark.session.local_session()`` on
   ``local[nproc]`` and runs warm-up passes until pass times level off
   (the first pass also checks every output against its oracle); all of
   this is ``setup_s``;
3. runs timed passes, closed loop with one client, until ``--seconds``
   have elapsed, checking every output of every pass;
4. prints a self-description line, then the result line.

With ``--trace 1`` it alternates untraced and traced passes, reads
Spark's status store per step, sweeps every layer's probes
(``layers.py``) and prints the per-layer metrics instead; spans and
status-store counters are written to ``perfbench/.traces/``.

Every run works in a fresh directory under ``perfbench/.runs`` (home
directory, Spark local dirs, Spark conf, MapReduce output, JVM and
Python temp files), removed on exit together with every process the run
started.
"""

from __future__ import annotations

import time

_T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Warm-up runs at least ``lo`` passes (the JIT compiler keeps speeding
# passes up well after the first), then stops at the first pass within
# LEVEL_SHARE of the one before, or after ``hi`` passes.
LEVEL_SHARE = 0.08
WARMUP = {"mapreduce_etl": (4, 6), "dedup_pipeline": (5, 7)}


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _isolate(run_dir: str) -> None:
    """Point every scratch location of Spark, the JVM and the Python
    workers into ``run_dir``, and let the workers import the program
    and the benchmark's own modules from any working directory."""
    conf_dir = os.path.join(run_dir, "conf")
    tmp = os.path.join(run_dir, "tmp")
    for d in (conf_dir, tmp, os.path.join(run_dir, "local")):
        os.makedirs(d)
    with open(os.path.join(conf_dir, "spark-defaults.conf"), "w") as f:
        f.write(
            "spark.ui.showConsoleProgress false\n"
            f"spark.driver.extraJavaOptions -Djava.io.tmpdir={tmp} -XX:-UsePerfData\n"
        )
    with open(os.path.join(conf_dir, "log4j2.properties"), "w") as f:
        f.write(
            "rootLogger.level = error\nrootLogger.appenderRef.stderr.ref = console\n"
            "appender.console.type = Console\nappender.console.name = console\n"
            "appender.console.target = SYSTEM_ERR\n"
            "appender.console.layout.type = PatternLayout\n"
            "appender.console.layout.pattern = %d{HH:mm:ss} %p %c{1}: %m%n\n"
        )
    # The MapReduce facade reads CORRAL_* variables and ~/.corral: a
    # user's corral settings must not change what the benchmark runs.
    for name in [k for k in os.environ if k.upper().startswith("CORRAL_")]:
        del os.environ[name]
    os.environ.update(
        HOME=run_dir,
        SPARK_CONF_DIR=conf_dir,
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
        SPARK_GRAFT_CPUS=str(os.cpu_count()),
        TMPDIR=tmp,
        PYTHONPATH=os.pathsep.join([ROOT, HERE, os.environ.get("PYTHONPATH", "")]),
    )


def _clear_storage(sc) -> None:
    """Unpersist blocks a step left behind, so later steps start clean."""
    for rdd in sc._jsc.getPersistentRDDs().values():
        rdd.unpersist(False)


class Bench:
    """Runs passes of one workload and keeps their records."""

    def __init__(self, workload: str, steps, status):
        from observe import Tracer

        self.workload = workload
        self.steps = steps
        self.status = status
        self.tracer = Tracer(enabled=False)
        self.attempted = 0  # steps of timed passes and of the sweep
        self.failed = 0
        self.passes: list[dict] = []  # every pass, warm-up included

    def run_pass(self, ctx, label: str, first: bool = False, traced: bool = False) -> dict:
        """One pass over the workload's steps; returns its record. A
        traced pass records spans and each step's status-store counters."""
        from observe import tree_cpu_s

        sc = ctx.spark.sparkContext
        self.tracer.enabled = traced
        self.tracer.trace_id = label
        rec = {"label": label, "traced": traced, "steps": {}}
        cpu0, t0 = tree_cpu_s(), time.perf_counter()
        with self.tracer.span(f"pass:{self.workload}"):
            for step in self.steps:
                group = f"{label}/{step.name}"
                sc.setJobGroup(group, f"perfbench {group}")
                with self.tracer.span(f"{step.kind}:{step.name}") as span:
                    s0 = time.perf_counter()
                    try:
                        ok = step.run(ctx, first)
                    except Exception as e:  # a failing step is counted, not fatal
                        ctx.errors.append(f"{step.name}: {type(e).__name__}: {e}")
                        ok = False
                    step_s = time.perf_counter() - s0
                    _clear_storage(sc)
                    counters = None
                    if traced:
                        self.status.drain()
                        counters = span["counters"] = self.status.group(group)
                rec["steps"][step.name] = {"s": step_s, "ok": ok, "counters": counters}
        rec["wall_s"] = time.perf_counter() - t0
        rec["cpu_s"] = tree_cpu_s() - cpu0
        rec["ok"] = all(s["ok"] for s in rec["steps"].values())
        sc.setLocalProperty("spark.jobGroup.id", None)
        self.tracer.enabled = False
        self.passes.append(rec)
        return rec

    def warm_up(self, ctx) -> tuple[list[float], bool]:
        """Warm-up passes; the first checks outputs against the oracles.
        Returns the pass times and whether they levelled off."""
        lo, hi = WARMUP[self.workload]
        warm: list[float] = []
        levelled = False
        while len(warm) < hi and not levelled:
            warm.append(self.run_pass(ctx, f"warm{len(warm)}", first=not warm)["wall_s"])
            levelled = len(warm) >= lo and abs(warm[-1] - warm[-2]) <= LEVEL_SHARE * warm[-2]
        return warm, levelled

    def timed(self, ctx, seconds: float, trace: bool) -> list[dict]:
        """Timed passes for ``seconds``; with ``trace`` every second pass
        is traced, and at least one pass of each kind runs."""
        out: list[dict] = []
        m0 = time.perf_counter()
        while time.perf_counter() - m0 < seconds or (trace and len(out) < 2):
            rec = self.run_pass(ctx, f"pass{len(out)}", traced=trace and len(out) % 2 == 1)
            out.append(rec)
            self.attempted += len(rec["steps"])
            self.failed += sum(not s["ok"] for s in rec["steps"].values())
        return out


def _describe(spark, ctx, bench, steps, warm, levelled, plain) -> dict:
    from observe import loadavg

    import workloads

    sc = spark.sparkContext
    return {
        "master": sc.master,
        "defaultParallelism": sc.defaultParallelism,
        "nproc": os.cpu_count(),
        "pyspark": spark.version,
        "java": sc._jvm.java.lang.System.getProperty("java.version"),
        "loadavg_after": loadavg(),
        "input_sizes": workloads.SIZES,
        "warmup_pass_s": warm,
        "warmup_levelled": levelled,
        "first_pass_step_s": {k: v["s"] for k, v in bench.passes[0]["steps"].items()},
        "timed_passes": len(plain),
        "timed_pass_s": [r["wall_s"] for r in plain],
        "timed_step_s": {
            st.name: statistics.median(r["steps"][st.name]["s"] for r in plain) for st in steps
        },
        "errors": ctx.errors[:20],
    }


def main(argv=None) -> int:
    args = _parse(argv)
    sys.path[:0] = [ROOT, HERE]
    try:
        import numpy  # noqa: F401
        import pyspark  # noqa: F401

        import corral_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program: {e}", file=sys.stderr)
        return 2
    import inputs
    import observe
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    steps = workloads.WORKLOADS[args.workload]
    run_dir = os.path.join(
        HERE, ".runs", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    )
    _isolate(run_dir)
    spark = None
    try:
        record = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
                  "loadavg_before": observe.loadavg()}
        gen0 = time.perf_counter()
        # Every input set is made in every run (cached per seed): the
        # traced sweep reads all of them and the host probe scans tables.
        dirs = {
            k: inputs.ensure(os.path.join(HERE, ".cache"), k, args.seed, size, workloads.MR_SHARDS)
            for k, size in workloads.SIZES.items()
        }
        gen_s = time.perf_counter() - gen0
        record["gen_s"] = gen_s

        from corral_spark.session import local_session

        b0 = time.perf_counter()
        spark = local_session("perfbench")
        build_s = time.perf_counter() - b0
        bench = Bench(args.workload, steps, observe.StatusStore(spark.sparkContext))
        ctx = workloads.Context(
            spark=spark, dirs=dirs, work=os.path.join(run_dir, "mr-out"),
            expected=workloads.load_expected(dirs["mr"]),
        )
        warm, levelled = bench.warm_up(ctx)
        setup_s = time.perf_counter() - _T0 - gen_s
        warm_ok = all(p["ok"] for p in bench.passes)

        ticks0 = observe.cpu_ticks()
        timed = bench.timed(ctx, args.seconds, bool(args.trace))
        ticks1 = observe.cpu_ticks()
        record["steal_share"] = (ticks1[1] - ticks0[1]) / max(ticks1[0] - ticks0[0], 1)
        rss = observe.tree_peak_rss_mb()
        record["peak_rss_mb_by_process"] = rss
        plain = [r for r in timed if not r["traced"]]
        wall = statistics.median(r["wall_s"] for r in plain)
        in_mb = sum(s.input_bytes(dirs) for s in steps) / 1e6
        record.update(_describe(spark, ctx, bench, steps, warm, levelled, plain))
        record["input_mb_per_pass"] = in_mb
        if args.trace:
            import layers

            metrics = layers.per_layer(bench, ctx, build_s, timed)
        else:
            metrics = {
                "wall_s": (wall, "s"),
                "input_mb_s": (in_mb / wall, "MB/s"),
                "cpu_s": (statistics.median(r["cpu_s"] for r in plain), "s"),
                "setup_s": (setup_s, "s"),
                "peak_rss_mb": (sum(rss.values()), "MB"),
            }
        from tools.hostprobe import light_probe

        os.environ["SPARK_GRAFT_SF_DIR"] = dirs["tables"]
        record["host_probe"] = light_probe()
        print(json.dumps({"run": record}))
        if args.trace:
            traces = os.path.join(HERE, ".traces")
            os.makedirs(traces, exist_ok=True)
            with open(os.path.join(traces, f"{args.workload}-seed{args.seed}.json"), "w") as f:
                json.dump({"run": record, "spans": bench.tracer.spans, "passes": bench.passes}, f)
        result = {
            "correct": warm_ok and bench.failed == 0,
            "attempted": bench.attempted,
            "failed": bench.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
        print(json.dumps(result), flush=True)
        return 0
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(run_dir, ignore_errors=True)


def _stop(spark) -> None:
    """Stop the session, shut the JVM down and wait for every process
    this run started (the JVM and the Python workers it forked)."""
    from observe import process_tree

    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while len(process_tree()) > 1 and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in process_tree()[1:]:
        try:
            os.kill(pid, 9)
        except ProcessLookupError:  # exited since the listing
            pass


if __name__ == "__main__":
    sys.exit(main())
