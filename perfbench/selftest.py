#!/usr/bin/env python3
"""Self-test of the benchmark at tiny sizes.

    python3 perfbench/selftest.py

Checks that
- every metric BENCHMARK.json names is printed, with its unit, by both
  workloads, untraced (end-to-end) and traced (per-layer);
- each correctness check rejects a tampered output: one flipped
  `keep`, one altered scrubbed byte, one dropped slice row;
- another seed changes the inputs but not the metric names.
Exits non-zero on the first failure.
"""

from __future__ import annotations

import io
import json
import os
import shutil
import sys
import time

import pandas as pd

import run as bench  # run.py puts the checkout root on sys.path
import checks
from spans import Tracer
from workloads import FreshCrawl, IncrementalSlices, Sizes

TINY = Sizes(crawl_pages=400, slice_pages=200, pool_slices=2, warmup_ops=1)


def expect(cond: bool, what: str) -> None:
    print(("ok   " if cond else "FAIL ") + what, flush=True)
    if not cond:
        sys.exit(1)


def tamper_checks(work: str, cache: str) -> None:
    spark = bench.session(2, os.path.join(work, "tmp"))
    try:
        fresh = FreshCrawl(spark, 7, TINY, work, cache, Tracer(), None)
        fresh.prepare()
        fresh.op(0)
        out, oracle = fresh.output(0), fresh.oracle()
        expect(checks.check_crawl(out, oracle) == [], "fresh_crawl output passes its check")
        flipped = out.copy()
        flipped.loc[0, "keep"] = not flipped.loc[0, "keep"]
        expect(checks.check_crawl(flipped, oracle) != [], "one flipped keep is rejected")
        altered = out.copy()
        row = altered.index[altered["keep"]][0]
        text = altered.at[row, "scrubbed_text"]
        altered.at[row, "scrubbed_text"] = text[:-1] + chr(ord(text[-1]) ^ 1)
        expect(checks.check_crawl(altered, oracle) != [], "one altered scrubbed byte is rejected")
        dup_urls = frozenset(out["url"][:3])
        expect(checks.check_crawl(out, oracle, dup_urls) != [],
               "indexed urls that were not dropped as dups are rejected")

        inc = IncrementalSlices(spark, 7, TINY, work, cache, Tracer(), None)
        inc.prepare()
        inc.op(0)
        inc.op(1)
        counts = inc.per_slice()
        expect(all(not p for p in inc.check().values()), "incremental_slices output passes its check")
        dropped = counts.copy()
        dropped.loc[dropped["slice"] == 1, ["rows", "urls"]] -= 1
        expect(checks.check_slices(dropped, inc.slice_rows) != {},
               "one dropped slice row is rejected")
        expect(checks.check_slice(TINY.slice_pages - 1, TINY.slice_pages) != [],
               "a short docs_seen is rejected")
    finally:
        bench.shutdown(spark)


def main() -> None:
    with open(os.path.join(bench.ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)
    base = os.path.join(bench.ROOT, ".perfbench", "selftest")
    shutil.rmtree(base, ignore_errors=True)
    cache = os.path.join(base, "cache")
    os.makedirs(os.path.join(base, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(base, "tmp")

    tamper_checks(base, cache)

    names: dict[tuple[str, int, int], list[str]] = {}
    for workload in sorted(bench.WORKLOADS):
        for trace, seed in ((0, 1), (1, 1), (0, 2)):
            buf = io.StringIO()
            res = bench.run(workload, seed, 1.0, bool(trace), TINY, out=buf,
                            t_start=time.time())
            want = declared["per_layer" if trace else "end_to_end"]
            got = res["metrics"]
            label = f"{workload} trace={trace} seed={seed}"
            expect(res["correct"] and res["failed"] == 0 and res["attempted"] >= 1,
                   f"{label}: outputs correct")
            expect({m["name"]: m["unit"] for m in want}
                   == {k: v["unit"] for k, v in got.items()},
                   f"{label}: every declared metric, with its unit")
            printed = buf.getvalue()
            expect(all(f"\n{m['name']} = " in printed and printed.split(
                f"\n{m['name']} = ")[1].split("\n")[0].endswith(f" {m['unit']}")
                for m in want), f"{label}: every metric printed with its unit")
            names[(workload, trace, seed)] = sorted(got)
        expect(names[(workload, 0, 1)] == names[(workload, 0, 2)],
               f"{workload}: another seed keeps the metric names")

    a = pd.read_parquet(os.path.join(base, "..", "cache", f"pages-s1-n{TINY.crawl_pages}"))
    b = pd.read_parquet(os.path.join(base, "..", "cache", f"pages-s2-n{TINY.crawl_pages}"))
    expect(len(a) == len(b) and not a["text"].sort_values().reset_index(drop=True)
           .equals(b["text"].sort_values().reset_index(drop=True)),
           "another seed changes the input pages")
    shutil.rmtree(base, ignore_errors=True)
    print("selftest passed")


if __name__ == "__main__":
    main()
