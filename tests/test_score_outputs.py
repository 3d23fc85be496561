"""Each scorer output set is bit-identical to the matching columns of
the full scorer: `with_langid`, `with_perplexity`, `with_scrub` and
`with_model_scores` ask `make_score_udf` for a subset of its outputs,
and a subset must never change a value — including on NULL text,
empty text, PII and toxic words."""

from __future__ import annotations

import pandas as pd
import pytest

from curator_spark.stages.langid import with_langid
from curator_spark.stages.perplexity import with_perplexity
from curator_spark.stages.score import with_model_scores, with_scores
from curator_spark.stages.scrub import with_scrub

LANGID = ["lang_pred", "lang_score"]
SCRUB = ["scrubbed_text", "scrub_counts"]

CASES = {
    "langid": (lambda df, cfg: with_langid(df, cfg, "text"), LANGID),
    "perplexity": (lambda df, cfg: with_perplexity(df, "text"), ["perplexity"]),
    "scrub": (lambda df, cfg: with_scrub(df, "text"), SCRUB),
    "model_scores": (
        lambda df, cfg: with_model_scores(df, cfg, "text"),
        LANGID + ["perplexity"],
    ),
}


@pytest.fixture(scope="module")
def docs(spark, pages_path):
    extra = spark.createDataFrame(
        [
            ("x:null", None),
            ("x:empty", ""),
            ("x:pii", "mail bob@example.com or call (555) 123-4567, "
                      "ssn 123-45-6789 please"),
            ("x:toxic", "what an idiot, a total MORON and a loser"),
            ("x:mixed", "der hund und die katze, jerk at a@b.de"),
        ],
        "url string, text string",
    )
    return spark.read.parquet(pages_path).select("url", "text").unionByName(extra)


def _collect(df, cols) -> pd.DataFrame:
    return df.select("url", *cols).toPandas().set_index("url").sort_index()


@pytest.fixture(scope="module")
def full(docs, cfg) -> pd.DataFrame:
    return _collect(with_scores(docs, cfg, "text"), LANGID + ["perplexity"] + SCRUB)


@pytest.mark.parametrize("name", sorted(CASES))
def test_output_set_matches_full_scorer(docs, cfg, full, name):
    fn, cols = CASES[name]
    got = _collect(fn(docs, cfg), cols)
    pd.testing.assert_frame_equal(got, full[cols], check_exact=True)
    if "scrubbed_text" in cols:
        # the rows that exercise the NULL-for-unchanged return path
        assert got.loc["x:null", "scrubbed_text"] is None
        assert got.loc["x:empty", "scrubbed_text"] == ""
        assert "<EMAIL>" in got.loc["x:pii", "scrubbed_text"]
        assert got.loc["x:toxic", "scrub_counts"]["toxic"] == 3
