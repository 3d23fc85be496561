"""Perplexity stage: the `perplexity` output of the shared scorer
(stages/score.py) — char-bigram LM scored in one numpy pass per batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from curator_spark.config import DEFAULT_CONFIG
from curator_spark.stages.score import with_scores


def with_perplexity(df: DataFrame, text_col: str = "text") -> DataFrame:
    # the LM does not depend on the config; any config scores alike
    return with_scores(df, DEFAULT_CONFIG, text_col, ("perplexity",))
