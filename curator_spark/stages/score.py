"""Model scoring: langid, perplexity and scrub from ONE pandas UDF.

Every model-scored column in the package comes from `make_score_udf`;
`outputs` picks which of the three scorers a plan needs. Each chained
pandas UDF plans as its own ArrowEvalPython node — one more
JVM->Python->JVM serialization of the text column per batch — so a
plan that needs several outputs asks for them in one call and the
text crosses the Python boundary once. All outputs run the same
compute cores as the oracle (functions/vectorized.py,
functions/scrub_core.py), so any output set is bit-identical to the
matching columns of the full scorer.

Models are built (or loaded from a shipped .npz: `SPARK_LANGID_NPZ`
env or a SparkFiles path, for spark-submit --files) once per Python
worker and reused across batches; every Arrow batch is scored in one
numpy pass — no per-row Python.

Reference analog: the offline processor also loads its model once per
worker and scores everything a batch needs in one call
(vllm_offline_request_processor.py:41-53,167-201).
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from curator_spark.config import QualityConfig
from curator_spark.functions import vectorized as V
from curator_spark.functions.scrub_core import scrub_series

OUTPUTS = ("langid", "perplexity", "scrub")
_COUNTS = ("emails", "ids", "phones", "toxic")
_FIELDS = {
    "langid": "lang_pred string, lang_score double",
    "perplexity": "perplexity double",
    "scrub": "scrubbed_text string, "
    + ", ".join(f"{c} long" for c in _COUNTS),
}


def _resolve_tables(langs: tuple[str, ...]) -> tuple[np.ndarray, tuple[str, ...]]:
    path = os.environ.get("SPARK_LANGID_NPZ", "")
    if path:
        try:
            from pyspark.files import SparkFiles

            cand = SparkFiles.get(os.path.basename(path))
            if os.path.exists(cand):
                path = cand
        except Exception:
            pass
        table, _, art_langs = V.load_artifacts(path)
        return table, art_langs
    return V.get_langid_table(langs), langs


def make_score_udf(cfg: QualityConfig, outputs: tuple[str, ...] = OUTPUTS):
    """Iterator-of-Series pandas UDF returning a struct with the fields
    of each requested output (a non-empty subset of OUTPUTS), in
    OUTPUTS order."""
    langid, ppl, scrub = (o in outputs for o in OUTPUTS)
    langs = cfg.langs

    @pandas_udf(", ".join(_FIELDS[o] for o in OUTPUTS if o in outputs))
    def score_udf(it: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        # models built/loaded once per worker, reused across batches
        if langid:
            table, model_langs = _resolve_tables(langs)
            lang_arr = np.array(model_langs, dtype=object)
        if ppl:
            lm = V.get_bigram_lm()
        for texts in it:
            out = {}
            if langid or ppl:
                # NULL text scores as empty text
                t = texts.fillna("").tolist()
                enc = V.encode_texts(t)
            if langid:
                pred_idx, conf = V.langid_scores(t, model_langs, table, encoded=enc)
                out["lang_pred"] = np.where(
                    pred_idx >= 0, lang_arr[np.maximum(pred_idx, 0)], "und"
                )
                out["lang_score"] = conf
            if ppl:
                out["perplexity"] = V.perplexities(t, lm, encoded=enc)
            if scrub:
                scrubbed, counts = scrub_series(texts)
                # Arrow return-path compression: rows the scrub did not
                # touch (all counts zero — replacements never
                # reintroduce a pattern, so zero counts <=>
                # byte-identical text) come back as NULL and are
                # restored JVM-side by the coalesce in with_scores.
                # Web corpora are mostly PII-free, so this removes ~95%
                # of the output text bytes from the Python->JVM
                # serialization. NULL-text rows NULL-propagate scrubbed
                # text and counts (the oracle's regexp semantics; the
                # coalesce restores the NULL).
                nulls = texts.isna().values
                unchanged = (counts.sum(axis=1).values == 0) & ~nulls
                out["scrubbed_text"] = scrubbed.mask(unchanged | nulls, None)
                for c in _COUNTS:
                    out[c] = pd.array(
                        np.where(nulls, None, counts[c].values), dtype="Int64"
                    )
            yield pd.DataFrame(out)

    return score_udf


def with_scores(
    df: DataFrame,
    cfg: QualityConfig,
    text_col: str = "text",
    outputs: tuple[str, ...] = OUTPUTS,
) -> DataFrame:
    """The model-scored columns of `outputs` from one Arrow pass:
    langid -> lang_pred, lang_score; perplexity -> perplexity;
    scrub -> scrubbed_text, scrub_counts."""
    df = df.withColumn("_score", make_score_udf(cfg, outputs)(F.col(text_col)))
    s = F.col("_score")
    cols = {}
    if "langid" in outputs:
        cols["lang_pred"] = s["lang_pred"]
        cols["lang_score"] = s["lang_score"]
    if "perplexity" in outputs:
        cols["perplexity"] = s["perplexity"]
    if "scrub" in outputs:
        # NULL from the UDF means "scrub touched nothing" — restore
        # the original bytes without ever shipping them back from
        # Python (see the UDF body)
        cols["scrubbed_text"] = F.coalesce(s["scrubbed_text"], F.col(text_col))
        cols["scrub_counts"] = F.struct(*(s[c].alias(c) for c in _COUNTS))
    return df.withColumns(cols).drop("_score")


def with_model_scores(
    df: DataFrame, cfg: QualityConfig, text_col: str = "text"
) -> DataFrame:
    """lang_pred / lang_score / perplexity (no scrub), one Arrow pass."""
    return with_scores(df, cfg, text_col, ("langid", "perplexity"))
