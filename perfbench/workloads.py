"""The benchmark's workloads: named lists of steps, each step one call
into the program plus the check of its output.

* ``mapreduce_etl`` — the corral API: word count and the two-stage
  AMPLab Q3 join through ``corral_spark.mapreduce`` Driver /
  MultiStageDriver, over text and CSV files, writing reference-format
  ``output-part-*`` files. Checked against answers computed in pure
  Python when the inputs were generated.
* ``dedup_pipeline`` — the registry's ``pretrain_corpus`` pipeline:
  many short jobs behind materialize barriers, Arrow UDFs, MinHash
  near-dedup and connected components.

``SWEEP_ONLY`` lists further registry steps (the relational set and
``minhash_pairs_docs``) that only traced runs execute, once each.

Registry steps are checked on their first run against the query's
DuckDB oracle over the same parquet files, and on every later run by a
Spark-side fingerprint (row count and the wrapping sum of ``xxhash64``
over all columns) that must equal the fingerprint of the run the oracle
accepted.
"""

from __future__ import annotations

import glob
import json
import math
import os
import shutil
from dataclasses import dataclass, field

#: Input set -> scale. ``mr`` scale 1.0 is ~33 MB of text and CSV,
#: ``tables`` is in TPC-H scale factors, ``docs`` scale 1.0 is 50k
#: documents.
SIZES = {"mr": 0.1, "tables": 0.02, "docs": 0.01}
MR_SHARDS = 4


@dataclass
class Context:
    spark: object
    dirs: dict[str, str]  # input set -> directory
    work: str  # scratch directory for MapReduce output
    expected: dict = field(default_factory=dict)  # MR answers
    fingerprints: dict = field(default_factory=dict)  # step -> accepted
    errors: list = field(default_factory=list)


@dataclass(frozen=True)
class Step:
    name: str
    kind: str  # "registry" or "mapreduce"
    data: str  # input set the step reads
    reads: tuple[str, ...]  # input files (globs) under the set's dir

    def input_bytes(self, dirs: dict[str, str]) -> int:
        return files_bytes(dirs[self.data], self.reads)

    def run(self, ctx: Context, first: bool) -> bool:
        """Run the step once; True when its output checks out."""
        if self.kind == "mapreduce":
            return _run_mapreduce(self, ctx)
        return _run_registry(self, ctx, first)


def files_bytes(root: str, patterns) -> int:
    """On-disk bytes of the files matching ``patterns`` under ``root``."""
    return sum(os.path.getsize(p) for pat in patterns for p in glob.glob(os.path.join(root, pat)))


def _pq(*tables: str) -> tuple[str, ...]:
    return tuple(f"{t}.parquet" for t in tables)


def _registry(name: str, data: str, *tables: str) -> Step:
    return Step(name, "registry", data, _pq(*tables))


#: Registry queries that run in the traced sweep only (per-layer
#: ``queries.*`` metrics): a timed workload of their own does not fit
#: the benchmark's time budget (see STEADINESS.md).
SWEEP_ONLY = [
    _registry("minhash_pairs_docs", "docs", "documents"),
    _registry("wordcount", "tables", "documents"),
    _registry("amplab3", "tables", "orders", "customer"),
    _registry("pricing_summary", "tables", "lineitem"),
    _registry("shipping_priority", "tables", "customer", "orders", "lineitem"),
    _registry("regional_revenue", "tables", "lineitem", "supplier", "nation", "region"),
    _registry("asof_signup_before_purchase", "tables", "events"),
    _registry("events_session_30m", "tables", "events"),
]

WORKLOADS: dict[str, list[Step]] = {
    "mapreduce_etl": [
        Step("wordcount_mr", "mapreduce", "mr", ("corpus/part-*.txt",)),
        Step("amplab3_mr", "mapreduce", "mr", ("amplab/rankings-*.txt", "amplab/uservisits-*.txt")),
    ],
    "dedup_pipeline": [_registry("pretrain_corpus", "docs", "documents")],
}


# --- MapReduce steps --------------------------------------------------------


def _read_kv_output(out_dir: str) -> list[tuple[str, str]]:
    pairs = []
    for path in glob.glob(os.path.join(out_dir, "output-part-*")):
        with open(path) as f:
            for line in f:
                key, _, value = line.rstrip("\n").partition("\t")
                pairs.append((key, value))
    return sorted(pairs)


def _run_mapreduce(step: Step, ctx: Context) -> bool:
    from corral_spark.mapreduce import Driver, MultiStageDriver

    import mr_programs

    root = ctx.dirs[step.data]
    inputs = [os.path.join(root, pat) for pat in step.reads]
    out = os.path.join(ctx.work, step.name)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    if step.name == "wordcount_mr":
        Driver(mr_programs.word_count_job(), inputs, out, spark=ctx.spark).run()
        got, want = _read_kv_output(out), ctx.expected["wordcount"]
    else:
        MultiStageDriver(mr_programs.amplab3_jobs(), inputs, out, spark=ctx.spark).run()
        got, want = _read_kv_output(os.path.join(out, "job1")), ctx.expected["amplab3"]
    ok = got == sorted(want.items())
    if not ok:
        ctx.errors.append(f"{step.name}: {len(got)} output pairs, {len(want)} expected")
    return ok


def load_expected(mr_dir: str) -> dict:
    with open(os.path.join(mr_dir, "expected.json")) as f:
        return json.load(f)


# --- Registry steps ---------------------------------------------------------


def fingerprint(df) -> tuple[int, int]:
    from pyspark.sql import functions as F

    row = df.select(F.count(F.lit(1)), F.sum(F.xxhash64(*df.columns))).collect()[0]
    return int(row[0]), int(row[1] or 0)


def _run_registry(step: Step, ctx: Context, first: bool) -> bool:
    from corral_spark.queries import REGISTRY

    query = REGISTRY[step.name]
    sf_dir = ctx.dirs[step.data]
    df = query.spark(ctx.spark, sf_dir)
    fp = fingerprint(df)
    if first:
        # The oracle check's own Spark job runs in a child job group, so
        # the step's status-store counters cover the step alone.
        sc = ctx.spark.sparkContext
        group = sc.getLocalProperty("spark.jobGroup.id")
        sc.setJobGroup(f"{group}/check", "perfbench oracle check")
        try:
            rows = df.toPandas()
        finally:
            sc.setJobGroup(group, f"perfbench {group}")
        problem = _oracle_mismatch(rows, query.oracle, sf_dir)
        if problem is None:
            ctx.fingerprints[step.name] = fp
        else:
            ctx.errors.append(f"{step.name}: {problem}")
        return problem is None
    ok = ctx.fingerprints.get(step.name) == fp
    if not ok:
        ctx.errors.append(f"{step.name}: fingerprint {fp} != accepted {ctx.fingerprints.get(step.name)}")
    return ok


def _canonical_rows(pdf) -> list[tuple]:
    def norm(v):
        if v is None or (isinstance(v, float) and math.isnan(v)):
            return None
        return v.item() if hasattr(v, "item") else v

    cols = sorted(pdf.columns)
    rows = [tuple(norm(v) for v in r) for r in pdf[cols].astype(object).itertuples(index=False)]
    return sorted(rows, key=lambda r: tuple((v is None, str(v)) for v in r))


def _oracle_mismatch(spark_pdf, oracle_sql: str, sf_dir: str) -> str | None:
    """None when the Spark rows equal the DuckDB oracle's rows exactly
    (column order and row order ignored); otherwise a description."""
    import duckdb

    from corral_spark.sources.tables import TABLES, table_path

    con = duckdb.connect()
    try:
        for name in TABLES:
            path = table_path(sf_dir, name)
            if os.path.exists(path):
                con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        oracle_pdf = con.execute(oracle_sql).fetchdf()
    finally:
        con.close()
    if sorted(spark_pdf.columns) != sorted(oracle_pdf.columns):
        return f"columns {sorted(spark_pdf.columns)} != oracle {sorted(oracle_pdf.columns)}"
    got, want = _canonical_rows(spark_pdf), _canonical_rows(oracle_pdf)
    if len(got) != len(want):
        return f"{len(got)} rows != oracle {len(want)}"
    bad = sum(1 for a, b in zip(got, want) if a != b)
    return f"{bad} of {len(got)} rows differ from the oracle" if bad else None
