"""Seeded benchmark inputs.

Pages come from `engine.synth.generate_pages(seed=...)`; the query-suite
tables come from a small seeded generator that mirrors the shapes of the
repository's TPC-H-ish test tables (TESTDATA.md). Everything is written once per
(seed, size) into the benchmark's cache directory, outside any timed
window, and the program only ever receives the written paths.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from curator_spark.engine.synth import generate_pages


def _fresh(path: str) -> bool:
    """True when `path` still has to be written (no completed copy)."""
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return False
    shutil.rmtree(path, ignore_errors=True)
    return True


def pages(spark: SparkSession, cache: str, n: int, seed: int) -> str:
    """Parquet dir of `n` synthetic pages for `seed`."""
    path = os.path.join(cache, f"pages-s{seed}-n{n}")
    if _fresh(path):
        generate_pages(spark, n, seed=seed).write.parquet(path)
    return path


def slice_frame(spark: SparkSession, pool: str, k: int, slice_pages: int,
                pool_slices: int, blocks: int = 1) -> DataFrame:
    """Slice `k` of a crawl: `blocks` consecutive blocks of the page
    pool under a url prefix of its own, so every slice's urls are new
    to the table."""
    idx = F.regexp_extract("url", r"/p/([0-9]+)$", 1).cast("long")
    first = (k % pool_slices) * slice_pages
    take = (idx - first + pool_slices * slice_pages) % (pool_slices * slice_pages)
    return (
        spark.read.parquet(pool)
        .where(take < blocks * slice_pages)
        .withColumn("url", F.regexp_replace("url", "^https://", f"https://s{k}."))
    )


# -- query-suite tables ------------------------------------------------------

_WORDS = (
    "scan column window order sort part agg value line key join merge group "
    "query a vector hash slow stream filter fast the batch spark table small "
    "data big customer row"
).split()
_ADJ = "blue cold hot large new red small".split()
_NOUN = "anvil bolt gear ring rod widget".split()


def _ts(rng: np.random.Generator, lo: str, hi: str, n: int, day: bool) -> pd.Series:
    a, b = pd.Timestamp(lo).value // 1000, pd.Timestamp(hi).value // 1000
    us = rng.integers(a, b, n)
    if day:
        us -= us % 86_400_000_000
    return pd.Series(pd.to_datetime(us, unit="us")).astype("datetime64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def query_tables(cache: str, seed: int) -> str:
    """Directory of the ten `<name>.parquet` tables the registry
    queries read, at the size of the smallest test scale (sf0.001)."""
    path = os.path.join(cache, f"tables-s{seed}")
    if not _fresh(path):
        return path
    os.makedirs(path)
    rng = np.random.default_rng(seed)
    i32 = np.int32
    n_cust, n_supp, n_part, n_ord, n_line, n_ev, n_doc, n_emb = (
        150, 10, 200, 1500, 6000, 1000, 500, 500,
    )
    t: dict[str, pd.DataFrame] = {}
    t["region"] = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(i32),
    })
    t["customer"] = pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust),
    })
    t["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    t["part"] = pd.DataFrame({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{rng.choice(_ADJ)} {rng.choice(_NOUN)}" for _ in range(n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(
            ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
        "p_size": rng.integers(1, 51, n_part).astype(i32),
        "p_retailprice": np.round(900.0 + np.arange(n_part) * 0.1, 2),
    })
    t["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 900.0, 500000.0, n_ord),
        "o_orderdate": _ts(rng, "1995-01-01", "2001-08-02", n_ord, day=True),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord),
    })
    t["lineitem"] = pd.DataFrame({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(i32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _ts(rng, "1995-01-02", "2001-11-05", n_line, day=True),
    })
    t["events"] = pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(rng, "2024-01-01", "2024-01-31", n_ev, day=False)
        .sort_values(ignore_index=True),
        "user_id": rng.integers(0, 15, n_ev),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.round(rng.exponential(50.0, n_ev) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts = []
    for i in range(n_doc):
        if i % 17 == 16:  # near-duplicate of the previous doc
            texts.append(texts[-1] + " dup")
        else:
            texts.append(" ".join(rng.choice(_WORDS, int(rng.integers(20, 90)))))
    t["documents"] = pd.DataFrame({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "en", "de", "es", "fr", "zh"], n_doc),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    })
    vec = rng.standard_normal((n_emb, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": list(vec),
        "label": rng.integers(0, 10, n_emb).astype(i32),
    })
    for name, df in t.items():
        df.to_parquet(os.path.join(path, f"{name}.parquet"), index=False)
    open(os.path.join(path, "_SUCCESS"), "w").close()
    return path
