"""The benchmark's workloads.

Each workload generates its inputs from the seed (``prepare``), loads
what it calls (``start``), runs one request per ``request`` call, and
checks its outputs after the timed loop (``check``). Requests are
grouped in rounds: one round calls every item once; warm-up rounds keep
the listed order, measured rounds take a seeded order.

- ``catalog_steady``: the headline catalog queries on a small star
  schema, repeated; plan build is cached, so each request is mostly
  Spark's per-job floor.
- ``tree_ingest``: one request takes a file tree through the
  ``sources``, ``plans`` and ``sinks`` layers.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np

import checks
import inputs

# Five of the 18 headline queries (bench.BENCH_QUERIES), one per shape:
# aggregate over the bucketed fact table (q01), per-file merge over the
# bucketed events (q07), exact dedup (q17), similarity top-k (q25) and
# the span family (q224). The other thirteen are left out to keep a
# run's fresh-JVM set-up inside the benchmark's time budget. An odd
# count keeps the median request inside one query's latencies instead
# of on the edge between two.
CATALOG_QUERIES = [
    "q01_pricing_summary",
    "q07_result_merge",
    "q17_dedup_exact",
    "q25_embedding_topk",
    "q224_ingest_dedup_delta",
]


def documents_properties(data: Path, plan: inputs.CorpusPlan) -> dict:
    """Planted duplicate rates, and the span-row estimate against the
    engine's span-memo sizing gate (which branch of the scale gates ran)."""
    n = plan.n_docs
    return {
        "docs": n,
        "planted_exact_rate": round(len(plan.exact) / n, 5),
        "planted_near_rate": round(len(plan.near) / n, 5),
        "span_rows_estimate": inputs.span_rows_estimate(data / "documents.parquet"),
        "span_memo_gate_rows": 16_000_000,
    }


class CatalogSteady:
    """Catalog queries over a generated star schema, one call per request.

    A request is ``queries()[name](spark, dir)`` (plan build, cached by
    the engine after the first call) plus a noop-sink write (execution).
    The tables have the row counts and layout of the catalog's sf0.01
    test tables."""

    name, queries = "catalog_steady", CATALOG_QUERIES
    warm_rounds = (11, 12, 3)  # (min, max, window), the cold round included

    def __init__(self):
        self.calls = 0
        self.cache_hits = 0
        self._last: dict[str, object] = {}

    def items(self) -> list[str]:
        return list(self.queries)

    def prepare(self, work: Path, rng: np.random.Generator) -> dict:
        self.data = work / "star"
        docs = inputs.write_star(self.data, rng, sf=0.01, n_docs=500, n_emb=500)
        return {"tables": inputs.dir_properties(self.data), **documents_properties(self.data, docs)}

    def start(self, spark, tracer) -> None:
        import __spark_entry__

        self.spark, self.tracer = spark, tracer
        self.fns = __spark_entry__.queries()
        self.oracles = __spark_entry__.oracle_sql()

    def request(self, item: str, req: int) -> None:
        with self.tracer.span("queries.build", req):
            df = self.fns[item](self.spark, str(self.data))
        self.calls += 1
        self.cache_hits += df is self._last.get(item)
        self._last[item] = df
        with self.tracer.span("queries.exec", req):
            df.write.format("noop").mode("overwrite").save()

    def reset_counters(self) -> None:
        self.calls = self.cache_hits = 0

    def check(self) -> dict[str, str | None]:
        con = checks.duckdb_oracle(self.data, inputs.STAR_TABLES)
        try:
            out = {}
            for q in self.queries:
                got = self.fns[q](self.spark, str(self.data)).toPandas()
                out[q] = checks.check_query(got, con, self.oracles[q])
            return out
        finally:
            con.close()


class TreeIngest:
    """One request: list, read and parse the tree (``sources``), run a
    compiled rule pipeline over it (``plans``), write the parsed tables
    and compact the many-file output (``sinks``)."""

    name = "tree_ingest"
    warm_rounds = (6, 7, 2)
    GROUPS, RUNS, SERIES, POINTS = 2, 2, 3, 500

    PIPELINE = {"rules": {"**/*.txt": {"processors": ["extract_numbers"]}}}

    def items(self) -> list[str]:
        return ["ingest"]

    def prepare(self, work: Path, rng: np.random.Generator) -> dict:
        self.root = work / "tree"
        self.out = work / "out"
        self.plan = inputs.write_tree(self.root, rng, self.GROUPS, self.RUNS, self.SERIES, self.POINTS)
        return {"tree_files": self.plan.n_files, "tree_bytes": self.plan.n_bytes}

    def start(self, spark, tracer) -> None:
        from pyspark.sql import functions as F

        import batch_process_spark.plans.builtin_ops  # noqa: F401  (registers the built-in operators)
        from batch_process_spark.plans.compiler import Pipeline
        from batch_process_spark.sinks.compact import compact_parquet, parquet_files
        from batch_process_spark.sinks.writers import write_csv, write_parquet
        from batch_process_spark.sources import filetree
        from batch_process_spark.sources.report_parser import parse_blade_load_files
        from batch_process_spark.sources.struct_text import Field, parse_files

        self.spark, self.tracer, self.F = spark, tracer, F
        self.Pipeline, self.filetree = Pipeline, filetree
        self.parse_files, self.parse_blade_load_files = parse_files, parse_blade_load_files
        self.write_csv, self.write_parquet = write_csv, write_parquet
        self.compact_parquet, self.parquet_files = compact_parquet, parquet_files
        self.schema = [Field("point", r"^t=(\d+)\s+v=(-?\d+\.\d+)$", float, group_labels=["t", "v"])]
        self.stats = {"files_read": 0, "written_bytes": 0, "files_written": 0, "files_compacted": 0}
        self.requests = 0
        self.last = None

    def reset_counters(self) -> None:
        self.stats = {k: 0 for k in self.stats}
        self.requests = 0

    def request(self, item: str, req: int) -> None:
        F, sp, root, out = self.F, self.spark, str(self.root), self.out
        # The sources' frames are lazy: each is persisted and counted
        # inside its own span, so the file reads, decoding and parsing
        # are booked to ``sources`` and reused, not recomputed, by
        # ``plans`` and ``sinks``.
        with self.tracer.span("sources.list", req):
            tree = self.filetree.file_tree_df(sp, root)
            dim = self.filetree.label_dimension(sp, root)
        with self.tracer.span("sources.read", req):
            texts = self.filetree.read_tree_texts(sp, root).persist()
            texts.count()
        with self.tracer.span("sources.parse", req):
            series = self.parse_files(
                texts.filter(F.col("ext") == "txt"), self.schema,
                id_cols=("relpath",), output_schema="t double, v double",
            ).persist()
            loads = self.parse_blade_load_files(texts.filter(F.col("ext") == "out"), id_cols=("relpath",)).persist()
            series.count()
            loads.count()
            runs = tree.filter(F.col("is_dir") & F.col("level1").isNotNull() & F.col("level2").isNull())
            labels = self.filetree.attach_labels(runs, dim).select(F.col("relpath").alias("run"), "label")
        with self.tracer.span("plans.compile", req):
            pipe = self.Pipeline(self.PIPELINE)
        with self.tracer.span("plans.run", req):
            res = pipe.run(texts, eager=True)
            res.write_history(str(out / "history"))
        with self.tracer.span("sinks.write", req):
            run_dir = F.regexp_replace("relpath", "/[^/]+$", "")
            labeled = series.withColumn("run", run_dir).join(F.broadcast(labels), "run", "left")
            self.write_parquet(labeled.withColumn("group", F.split("relpath", "/")[0]),
                               str(out / "series"), partition_by=["group"])
            self.write_csv(loads, str(out / "loads"))
        n_written = len(self.parquet_files(str(out / "series")))
        written_bytes = sum(checks.tree_bytes(out / d) for d in ("series", "loads"))
        with self.tracer.span("sinks.compact", req):
            info = self.compact_parquet(sp, str(out / "series"), target_mb=1)
        for df in (texts, series, loads):
            df.unpersist(blocking=True)
        self.requests += 1
        self.stats["files_read"] += self.plan.n_files
        self.stats["files_written"] += n_written
        self.stats["files_compacted"] += info["files_after"]
        self.stats["written_bytes"] += written_bytes
        self.last = res

    def check(self) -> dict[str, str | None]:
        sp, out = self.spark, self.out
        from batch_process_spark.sources.report_parser import LONG_SCHEMA, LOAD_COLS

        series = sp.read.parquet(str(out / "series")).toPandas()
        loads = sp.read.schema(f"relpath string, {LONG_SCHEMA}").option("header", True).csv(
            str(out / "loads")).toPandas()
        labels = series[["run", "label"]].drop_duplicates().rename(columns={"run": "relpath"})
        numbers = self.last.outputs[0].select("relpath", "values").toPandas()
        problems = [
            checks.check_series(series, self.plan.series),
            checks.check_loads(loads, self.plan.loads, LOAD_COLS),
            checks.check_labels(labels, self.plan.labels),
            checks.check_numbers(numbers, self.plan.series),
        ]
        failed = [p for p in problems if p]
        return {"ingest": "; ".join(failed) if failed else None}


WORKLOADS = {w.name: w for w in (CatalogSteady, TreeIngest)}
