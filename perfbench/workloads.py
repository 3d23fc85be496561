"""The workloads: what one op is, how it is checked.

Both run the real curation path, `QualityPipeline` from html to a
committed table, through the public API:

- fresh_crawl: one `run(spark, pages)` into a fresh output root. Rules
  and the fused scorer carry the op; the catalog holds one commit.
- incremental_slices: append a slice with a url prefix of its own to a
  local `SnapshotTable`, then `run_incremental`. Fixed per-run cost
  (fingerprint, several Spark jobs, manifest scans, the commit) carries
  the op, and the manifest count grows during the run.

Each write op is followed by a read op on the same catalog:
`read_output(fp).count()` plus `metrics()`.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import functions as F

import checks
import inputs
from curator_spark.config import QualityConfig
from curator_spark.oracle.quality_oracle import run_oracle
from curator_spark.pipeline.run import QualityPipeline
from curator_spark.pipeline.snapshot import SnapshotTable
from spans import Tracer, instrument


@dataclass(frozen=True)
class Sizes:
    crawl_pages: int = 10_000
    slice_pages: int = 2_500
    pool_slices: int = 4      # page blocks the slices cycle through (one crawl_pages input)
    warmup_ops: int | None = None  # warm-up pairs; None: the workload's own count


class Workload:
    name = ""
    warmup_ops = 3  # JIT and worker warm-up pairs before the window

    def __init__(self, spark, seed: int, sizes: Sizes, work: str, cache: str,
                 tracer: Tracer, catalog_stats: dict | None):
        self.spark, self.seed, self.sizes = spark, seed, sizes
        self.work, self.cache, self.tracer = work, cache, tracer
        self.catalog_stats = catalog_stats  # None: catalog not instrumented
        self.cfg = QualityConfig()

    def table(self, root: str) -> SnapshotTable:
        t = SnapshotTable(root)
        if self.catalog_stats is not None:
            instrument(t, self.tracer, self.catalog_stats)
        return t

    def prepare(self) -> None: ...
    def op(self, i: int) -> int: ...        # docs committed
    def read(self, i: int) -> list[str]: ...  # problems
    def check(self) -> dict[int, list[str]]: ...  # op index -> problems
    def probe_pages(self): ...               # pages-shaped DataFrame of one op
    def probe_path(self) -> str: ...         # input identity of one op
    def manifests(self) -> int: ...          # commits in the output table


class FreshCrawl(Workload):
    name = "fresh_crawl"

    def prepare(self) -> None:
        self.pages = inputs.pages(self.spark, self.cache, self.sizes.crawl_pages, self.seed)
        self.runs: dict[int, tuple[QualityPipeline, str, int]] = {}

    def op(self, i: int) -> int:
        root = os.path.join(self.work, f"fresh-{i}")
        pipe = QualityPipeline(root, self.cfg, table=self.table(root))
        r = pipe.run(self.spark, self.pages)
        self.runs[i] = (pipe, r.fingerprint, r.docs_seen)
        return r.docs_seen

    def read(self, i: int) -> list[str]:
        pipe, fp, docs = self.runs[i]
        n = pipe.read_output(self.spark, fp).count()
        pipe.metrics(self.spark, fp).count()
        return [] if n == docs else [f"read {n} rows of {docs} committed"]

    def oracle(self) -> pd.DataFrame:
        if not hasattr(self, "_oracle"):
            pages = pd.read_parquet(self.pages, columns=["url", "text"])
            self._oracle = run_oracle(pages, self.cfg)
        return self._oracle

    def output(self, i: int) -> pd.DataFrame:
        pipe, fp, _ = self.runs[i]
        return (pipe.read_output(self.spark, fp)
                .select("url", "keep", "drop_reason", "scrubbed_text").toPandas())

    def check(self) -> dict[int, list[str]]:
        out = {}
        for i, (pipe, _, _) in sorted(self.runs.items()):
            out[i] = checks.check_crawl(self.output(i), self.oracle())
            shutil.rmtree(pipe.table.root, ignore_errors=True)
        return out

    def probe_pages(self):
        return self.spark.read.parquet(self.pages)

    def probe_path(self) -> str:
        return self.pages

    def manifests(self) -> int:
        return len(self.runs[max(self.runs)][0].table.commits())


class IncrementalSlices(Workload):
    name = "incremental_slices"
    warmup_ops = 5  # its many small jobs warm the JIT slower per op

    def prepare(self) -> None:
        s = self.sizes
        self.pool = inputs.pages(self.spark, self.cache, s.slice_pages * s.pool_slices, self.seed)
        self.input = self.table(os.path.join(self.work, "crawl"))
        root = os.path.join(self.work, "curated")
        self.pipe = QualityPipeline(root, self.cfg, table=self.table(root))
        self.slices = 0
        self.op_slice: dict[int, int] = {}
        self.op_problems: dict[int, list[str]] = {}
        self.slice_rows: dict[int, int] = {}
        self.last_fp = ""

    def slice_df(self, k: int, blocks: int = 1):
        s = self.sizes
        return inputs.slice_frame(self.spark, self.pool, k, s.slice_pages, s.pool_slices, blocks)

    def op(self, i: int) -> int:
        # the first (cold) op appends the whole pool, so the row-level
        # code is warm before the window; the rest warm the per-job code
        k = self.slices
        blocks = self.sizes.pool_slices if k == 0 else 1
        self.input.append(self.slice_df(k, blocks), {"slice": k})
        self.slices += 1
        self.op_slice[i] = k
        self.slice_rows[k] = blocks * self.sizes.slice_pages
        r = self.pipe.run_incremental(self.spark, self.input)
        self.op_problems[i] = checks.check_slice(r.docs_seen, self.slice_rows[k])
        self.last_fp = r.fingerprint
        return r.docs_seen

    def read(self, i: int) -> list[str]:
        n = self.pipe.read_output(self.spark, self.last_fp).count()
        self.pipe.metrics(self.spark).count()
        want = self.slice_rows[self.op_slice[i]]
        return [] if n == want else [f"read {n} rows of the {want}-row slice"]

    def per_slice(self) -> pd.DataFrame:
        """Committed rows and distinct urls per slice, whole table."""
        return (
            self.pipe.table.read(self.spark)
            .withColumn("slice", F.regexp_extract("url", r"^https://s([0-9]+)\.", 1).cast("int"))
            .groupBy("slice")
            .agg(F.count("*").alias("rows"), F.countDistinct("url").alias("urls"))
            .toPandas()
        )

    def check(self) -> dict[int, list[str]]:
        bad = checks.check_slices(self.per_slice(), self.slice_rows)
        return {i: self.op_problems.get(i, []) + bad.get(k, []) + bad.get(-1, [])
                for i, k in self.op_slice.items()}

    def probe_pages(self):
        return self.slice_df(0, self.sizes.pool_slices)

    def probe_path(self) -> str:
        return f"table:{self.input.root}@0..{self.input.current_snapshot_id()}"

    def manifests(self) -> int:
        return len(self.pipe.table.commits())


WORKLOADS = {w.name: w for w in (FreshCrawl, IncrementalSlices)}
