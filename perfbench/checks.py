"""Output checks, run outside the timed window. Each returns a list of
problems; an empty list means the op's output is correct."""

from __future__ import annotations

import pandas as pd


def check_crawl(out: pd.DataFrame, oracle: pd.DataFrame,
                dup_urls: frozenset[str] = frozenset()) -> list[str]:
    """One committed crawl against the pandas oracle: one row per url,
    `keep` equal to the oracle, scrubbed text identical on kept rows.
    Urls in `dup_urls` were in the dedup index and must come back
    keep=false with drop_reason 'dup_of_history'."""
    problems = []
    if out["url"].duplicated().any():
        problems.append(f"{int(out['url'].duplicated().sum())} urls repeated")
    o = out.drop_duplicates("url").set_index("url")
    g = oracle.set_index("url")
    missing = g.index.difference(o.index)
    extra = o.index.difference(g.index)
    if len(missing) or len(extra):
        problems.append(f"{len(missing)} urls missing, {len(extra)} unexpected")
    common = g.index.intersection(o.index)
    o, g = o.loc[common], g.loc[common]
    dup = common.isin(list(dup_urls))
    bad_dup = dup & (o["keep"].to_numpy() | (o["drop_reason"] != "dup_of_history").to_numpy())
    if bad_dup.any():
        problems.append(f"{int(bad_dup.sum())} indexed urls not dropped as dup_of_history")
    o, g = o[~dup], g[~dup]
    flipped = o["keep"].to_numpy() != g["keep"].to_numpy()
    if flipped.any():
        problems.append(f"{int(flipped.sum())} keep decisions differ from the oracle")
    kept = g["keep"].to_numpy() & ~flipped
    diff = o["scrubbed_text"][kept].to_numpy() != g["scrubbed_text"][kept].to_numpy()
    if diff.any():
        problems.append(f"{int(diff.sum())} kept rows with different scrubbed text")
    return problems


def check_slice(docs_seen: int, slice_pages: int) -> list[str]:
    if docs_seen != slice_pages:
        return [f"docs_seen {docs_seen} for a {slice_pages}-page slice"]
    return []


def check_slices(per_slice: pd.DataFrame,
                 appended: dict[int, int]) -> dict[int, list[str]]:
    """Committed rows per slice (`slice`, `rows`, `urls` distinct)
    against the rows appended per slice: every slice present, one row
    per appended url. Keyed by slice; -1 holds rows of slices never
    appended."""
    got = per_slice.set_index("slice")
    out: dict[int, list[str]] = {}
    for k, want in appended.items():
        if k not in got.index:
            out[k] = ["slice missing from the output"]
            continue
        rows, urls = int(got.at[k, "rows"]), int(got.at[k, "urls"])
        if rows != want or urls != want:
            out[k] = [f"{rows} rows / {urls} urls for {want} appended"]
    extra = set(got.index) - set(appended)
    if extra:
        out[-1] = [f"rows of {len(extra)} slices never appended"]
    return out
