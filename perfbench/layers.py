"""Per-layer probes of the traced run. Each times one layer from
outside by calling that layer's public functions, after the measured
window: on the workload's own pages, or (the query probe) on seeded
tables of the registry's schema."""

from __future__ import annotations

import statistics
import time
from collections import defaultdict

import pandas as pd
from pyspark.sql import functions as F

from curator_spark.functions import vectorized as V
from curator_spark.functions.scrub_core import scrub_series
from curator_spark.oracle.compare import compare_query
from curator_spark.pipeline.dedup_index import DedupIndex
from curator_spark.pipeline.fingerprint import run_fingerprint
from curator_spark.pipeline.run import quality_plan, staged_plan, with_bucket
from curator_spark.queries import QUERIES
from curator_spark.stages.extract import with_extracted_text
from curator_spark.stages.rules import with_rule_flags, with_rule_stats
from curator_spark.stages.score import make_score_udf

BATCH = 4096  # spark.sql.execution.arrow.maxRecordsPerBatch of the session

# One driver-measured query per registry module, each with a DuckDB
# oracle; dsir_importance is the mark_top_frac path (functions/topk).
PROBE_QUERIES = (
    "rule_stats", "gopher_repetition", "dedup_minhash_lsh", "dedup_simhash",
    "knn_brute", "decontaminate", "dsir_importance", "pricing_summary",
    "json_repair_stats",
)


def median_time(fn, repeats: int) -> float:
    out = []
    for _ in range(repeats):
        t = time.perf_counter()
        fn()
        out.append(time.perf_counter() - t)
    return statistics.median(out)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def stage_busy(pages, cfg, repeats: int = 2) -> dict[str, float]:
    """Prefix-plan differences into a noop sink over the same pages:
    scan, +extract, +rules, quality_plan, staged_plan."""
    bucketed = with_bucket(pages, cfg.n_buckets)
    ex = with_extracted_text(bucketed, out="doc_text")
    plans = {
        "scan": bucketed.select("url", "bucket_id", "html"),
        "extract": ex.select("url", "bucket_id", "doc_text"),
        "rules": with_rule_flags(with_rule_stats(ex, "doc_text"), cfg),
        "score": quality_plan(ex, cfg, text_col="doc_text"),
        "staged": staged_plan(bucketed, cfg),
    }
    t = {k: median_time(lambda p=p: noop(p), repeats) for k, p in plans.items()}
    return {
        "stages.extract.busy_s": t["extract"] - t["scan"],
        "stages.rules.busy_s": t["rules"] - t["extract"],
        "stages.score.busy_s": t["score"] - t["rules"],
        "stages.route.busy_s": t["staged"] - t["score"],
    }


def function_costs(texts: list[str], cfg, repeats: int = 3) -> dict[str, float]:
    """Direct calls of the scorer's compute cores on the workload's
    text, in Arrow-batch-sized chunks; ms per 10k docs."""
    batches = [texts[i:i + BATCH] for i in range(0, len(texts), BATCH)]
    series = [pd.Series(b) for b in batches]
    encoded = [V.encode_texts(b) for b in batches]
    lm = V.get_bigram_lm()
    per10k = 1e4 / len(texts) * 1e3
    udf = make_score_udf(cfg).func
    list(udf(iter(series[:1])))  # builds the worker-side models once

    changed = sum(int((scrub_series(s)[0] != s).sum()) for s in series)
    return {
        "functions.vectorized.encode_ms": per10k * median_time(
            lambda: [V.encode_texts(b) for b in batches], repeats),
        "functions.vectorized.langid_ms": per10k * median_time(
            lambda: [V.langid_scores(b, cfg.langs, encoded=e)
                     for b, e in zip(batches, encoded)], repeats),
        "functions.vectorized.perplexity_ms": per10k * median_time(
            lambda: [V.perplexities(b, lm, encoded=e)
                     for b, e in zip(batches, encoded)], repeats),
        "functions.scrub_core.scrub_ms": per10k * median_time(
            lambda: [scrub_series(s) for s in series], repeats),
        "functions.scrub_core.rows_changed_frac": changed / len(texts),
        "stages.score.udf_ms": per10k * median_time(
            lambda: list(udf(iter(series))), repeats),
    }


def fingerprint_s(spark, path: str, cfg, repeats: int = 3) -> float:
    if path.startswith("table:"):
        return median_time(lambda: run_fingerprint(path, cfg, identity=path), repeats)
    return median_time(lambda: run_fingerprint(path, cfg, spark=spark), repeats)


def seeded_index(spark, pages, root: str) -> tuple[DedupIndex, frozenset[str]]:
    """A url-keyed index holding 80% of the pages' urls, chosen by hash."""
    idx = DedupIndex(root, spark=spark)
    seen = pages.where(F.pmod(F.xxhash64("url"), F.lit(10)) < 8).select("url")
    idx.add_keys(spark, seen)
    return idx, frozenset(r["url"] for r in seen.collect())


def dedup_mark(spark, idx: DedupIndex, pages, cfg, repeats: int = 2) -> dict[str, float]:
    bucketed = with_bucket(pages, cfg.n_buckets)
    t = median_time(lambda: noop(idx.mark_history_dups(spark, bucketed)), repeats)
    marked = idx.mark_history_dups(spark, bucketed)
    n = marked.count()
    return {
        "dedup_index.mark_s": t,
        "dedup_index.dup_frac": marked.where("dup_of_history").count() / n,
    }


def query_probe(spark, sf_dir: str) -> tuple[dict[str, float], list[str]]:
    """Checks each probe query against DuckDB (which also warms it),
    then times one pass into a noop sink, summed per module."""
    problems = []
    for name in PROBE_QUERIES:
        r = compare_query(spark, name, sf_dir)
        if not r.ok:
            problems.append(f"{name}: {r.detail[:200]}")
    out: dict[str, float] = defaultdict(float)
    for name in PROBE_QUERIES:
        fn = QUERIES[name]
        t = time.perf_counter()
        noop(fn(spark, sf_dir))
        dt = time.perf_counter() - t
        out[f"queries.{fn.__module__.rsplit('.', 1)[-1]}_s"] += dt
        if name == "dsir_importance":
            out["functions.topk.mark_top_frac_s"] = dt
    return dict(out), problems
