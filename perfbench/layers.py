"""Per-layer metrics of a traced run.

Two sources, both outside the program:

* the workload's own traced passes: every step runs in a job group of
  its own, and Spark's status store is read for that group after the
  step (jobs, stages, tasks, shuffle, spill, GC, stage durations);
* a sweep that calls each layer's public functions once more, each
  inside a span and a job group: ``sources`` (every input through
  ``load_table`` / ``read_lines`` into a noop sink), ``operators`` (MinHash, PPJoin,
  connected components), ``pipelines`` (``prepare_pretraining_corpus``
  with its per-stage report), ``functions`` (the Arrow shingle UDF), and
  every MapReduce or registry step that is not part of the traced
  workload, so every run reports every metric.

``METRICS`` lists every name with its unit; ``per_layer`` returns the
values in that order.
"""

from __future__ import annotations

import os
import statistics
import time

import workloads

# Per-query metric suffix, unit, and the status-store counter it reads.
_QUERY_FIELDS = (
    ("jobs", "count", "jobs"), ("stages", "count", "stages"), ("tasks", "count", "tasks"),
    ("shuffle_mb", "MB", "shuffle_write_mb"), ("spill_mb", "MB", "spill_mb"),
    ("gc_s", "s", "gc_s"),
)
_MR_COUNTERS = ("map_s", "reduce_s", "shuffle_write_mb", "shuffle_records", "output_mb")
_REGISTRY_STEPS = workloads.SWEEP_ONLY + [
    s for steps in workloads.WORKLOADS.values() for s in steps if s.kind == "registry"
]
_MR_STEPS = list(workloads.WORKLOADS["mapreduce_etl"])
_PRETRAIN_STAGES = (
    "input", "after_quality_filter", "after_exact_dedup", "after_near_dedup", "train", "test",
)

METRICS: dict[str, str] = {
    "session.build_s": "s",
    "session.first_pass_s": "s",
    "sources.scan_s": "s",
    "sources.scan_mb_s": "MB/s",
    "sources.input_mb": "MB",
    "mapreduce.job_s": "s",
    "mapreduce.map_s": "s",
    "mapreduce.reduce_s": "s",
    "mapreduce.shuffle_write_mb": "MB",
    "mapreduce.shuffle_records": "count",
    "mapreduce.output_mb": "MB",
    **{
        name: unit
        for s in _REGISTRY_STEPS
        for name, unit in [(f"queries.{s.name}.s", "s")]
        + [(f"queries.{s.name}.{f}", unit) for f, unit, _ in _QUERY_FIELDS]
    },
    "operators.minhash.s": "s",
    "operators.minhash.candidates": "count",
    "operators.minhash.pairs": "count",
    "operators.minhash.precision": "ratio",
    "operators.ppjoin.s": "s",
    "operators.ppjoin.candidates": "count",
    "operators.ppjoin.verified": "count",
    "operators.graph.s": "s",
    "pipelines.pretrain.s": "s",
    "pipelines.pretrain.jobs": "count",
    **{f"pipelines.pretrain.{st}_rows": "count" for st in _PRETRAIN_STAGES},
    "functions.arrow_shingles_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "spark.gc_s": "s",
    "spark.spill_mb": "MB",
    "spark.busy_share": "ratio",
    "spark.idle_s": "s",
    "tracing.overhead_s": "s",
    "fail_rate": "ratio",
}


def _median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


class _Probe:
    """Runs a probe in its own span and job group and reads the group's
    status-store counters afterwards."""

    def __init__(self, bench, sc):
        self.bench, self.sc = bench, sc

    def __call__(self, name: str, fn):
        group = f"sweep/{name}"
        self.sc.setJobGroup(group, f"perfbench {group}")
        with self.bench.tracer.span(f"probe:{name}") as sp:
            t0 = time.perf_counter()
            out = fn()
            seconds = time.perf_counter() - t0
            self.bench.status.drain()
            counters = self.bench.status.group(group)
            sp["counters"] = counters
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        return out, seconds, counters


def _step_records(probe, bench, ctx, traced: list[dict], step) -> list[tuple[float, dict]]:
    """(seconds, counters) of ``step``: from the traced passes when the
    workload runs it, else from one run in the sweep."""
    recs = [(p["steps"][step.name]["s"], p["steps"][step.name]["counters"])
            for p in traced if step.name in p["steps"]]
    if recs:
        return recs

    def run() -> bool:
        try:
            return step.run(ctx, first=True)
        except Exception as e:  # counted as a failed step
            ctx.errors.append(f"{step.name}: {type(e).__name__}: {e}")
            return False

    ok, seconds, counters = probe(step.name, run)
    bench.attempted += 1
    bench.failed += not ok
    return [(seconds, counters)]


def _sources(probe, spark, dirs) -> dict:
    """Scan every input: each parquet table through ``load_table``, the
    MapReduce corpus through ``read_lines``, each into a noop sink."""
    from corral_spark.sources.tables import load_table
    from corral_spark.sources.text import read_lines

    corpus = os.path.join(dirs["mr"], "corpus", "*.txt")
    tables = [
        (d, name[: -len(".parquet")])
        for d in (dirs["tables"], dirs["docs"])
        for name in sorted(os.listdir(d))
        if name.endswith(".parquet")
    ]
    nbytes = workloads.files_bytes(dirs["mr"], ("corpus/*.txt",)) + sum(
        os.path.getsize(os.path.join(d, f"{name}.parquet")) for d, name in tables
    )

    def scan():
        for d, name in tables:
            load_table(spark, d, name).write.format("noop").mode("overwrite").save()
        read_lines(spark, corpus).write.format("noop").mode("overwrite").save()

    # The scan is short; its median over three runs is reported.
    runs = [probe(f"sources/{i}", scan) for i in range(3)]
    secs = _median(r[1] for r in runs)
    return {
        "sources.scan_s": secs,
        "sources.scan_mb_s": nbytes / 1e6 / secs,
        "sources.input_mb": _median(r[2]["input_mb"] for r in runs),
    }


def _dedup_layers(probe, spark, docs_dir) -> dict:
    from pyspark.sql import functions as F

    from corral_spark.materialize import materialize
    from corral_spark.operators.dedup import (
        minhash_pair_counts,
        minhash_verified_pairs,
        ppjoin_counts,
        prefix_filter_jaccard_pairs,
        word_shingles_arrow,
    )
    from corral_spark.operators.graph import dedup_clusters
    from corral_spark.pipelines import prepare_pretraining_corpus
    from corral_spark.sources.tables import load_table

    docs = load_table(spark, docs_dir, "documents")
    out: dict = {}
    pairs, out["operators.minhash.s"], _ = probe(
        "operators/minhash",
        lambda: materialize(minhash_verified_pairs(docs, "text", "doc_id", 0.5)),
    )
    mh, _, _ = probe("operators/minhash_counts",
                     lambda: minhash_pair_counts(docs, "text", "doc_id", 0.5))
    out["operators.minhash.candidates"] = mh["candidates"]
    out["operators.minhash.pairs"] = mh["pairs"]
    out["operators.minhash.precision"] = mh["pairs"] / max(mh["candidates"], 1)
    _, out["operators.ppjoin.s"], _ = probe(
        "operators/ppjoin",
        lambda: prefix_filter_jaccard_pairs(docs, "text", "doc_id", 0.9).count(),
    )
    pp, _, _ = probe("operators/ppjoin_counts",
                     lambda: ppjoin_counts(docs, "text", "doc_id", 0.9))
    out["operators.ppjoin.candidates"] = pp["candidate_group_pairs"]
    out["operators.ppjoin.verified"] = pp["verified_group_pairs"]
    _, out["operators.graph.s"], _ = probe(
        "operators/graph", lambda: dedup_clusters(docs, pairs, "doc_id").count()
    )

    def pretrain():
        corpus, report = prepare_pretraining_corpus(docs, with_report=True, near_dup="verified")
        corpus.count()
        return report

    report, out["pipelines.pretrain.s"], counters = probe("pipelines/pretrain", pretrain)
    out["pipelines.pretrain.jobs"] = counters["jobs"]
    for st in _PRETRAIN_STAGES:
        out[f"pipelines.pretrain.{st}_rows"] = report[st]
    _, out["functions.arrow_shingles_s"], _ = probe(
        "functions/arrow_shingles",
        lambda: docs.select(word_shingles_arrow(F.col("text")).alias("s"))
        .write.format("noop").mode("overwrite").save(),
    )
    return out


def per_layer(bench, ctx, build_s: float, timed: list[dict]) -> dict[str, tuple[float, str]]:
    """Every metric in ``METRICS`` as ``{name: (value, unit)}``."""
    spark = ctx.spark
    sc = spark.sparkContext
    cores = sc.defaultParallelism
    traced = [p for p in timed if p["traced"]]
    plain = [p for p in timed if not p["traced"]]
    bench.tracer.enabled = True
    bench.tracer.trace_id = "sweep"
    probe = _Probe(bench, sc)
    v: dict = {
        "session.build_s": build_s,
        "session.first_pass_s": bench.passes[0]["wall_s"],
        "tracing.overhead_s": _median(p["wall_s"] for p in traced) - _median(p["wall_s"] for p in plain),
        "fail_rate": bench.failed / max(bench.attempted, 1),
    }

    def pass_sum(p, key):
        return sum(s["counters"][key] for s in p["steps"].values())

    for key in ("jobs", "stages", "tasks", "failed_tasks", "gc_s", "spill_mb"):
        v[f"spark.{key}"] = _median(pass_sum(p, key) for p in traced)
    v["spark.busy_share"] = _median(
        pass_sum(p, "executor_run_s") / (p["wall_s"] * cores) for p in traced
    )
    v["spark.idle_s"] = _median(
        p["wall_s"] - pass_sum(p, "executor_run_s") / cores for p in traced
    )

    mr = [_step_records(probe, bench, ctx, traced, s) for s in _MR_STEPS]
    per_pass = list(zip(*mr))  # one tuple of MR step records per pass
    v["mapreduce.job_s"] = _median(sum(s for s, _ in p) / len(p) for p in per_pass)
    for key in _MR_COUNTERS:
        v[f"mapreduce.{key}"] = _median(sum(c[key] for _, c in p) for p in per_pass)

    for step in _REGISTRY_STEPS:
        recs = _step_records(probe, bench, ctx, traced, step)
        v[f"queries.{step.name}.s"] = _median(s for s, _ in recs)
        for f, _, key in _QUERY_FIELDS:
            v[f"queries.{step.name}.{f}"] = _median(c[key] for _, c in recs)

    v.update(_sources(probe, spark, ctx.dirs))
    v.update(_dedup_layers(probe, spark, ctx.dirs["docs"]))
    bench.tracer.enabled = False
    return {name: (float(v[name]), unit) for name, unit in METRICS.items()}
