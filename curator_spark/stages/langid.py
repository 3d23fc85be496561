"""Language-ID stage: the `langid` output of the shared scorer
(stages/score.py), which also resolves the model tables."""

from __future__ import annotations

from pyspark.sql import DataFrame

from curator_spark.config import QualityConfig
from curator_spark.stages.score import _resolve_tables, with_scores

__all__ = ["_resolve_tables", "with_langid"]


def with_langid(df: DataFrame, cfg: QualityConfig, text_col: str = "text") -> DataFrame:
    return with_scores(df, cfg, text_col, ("langid",))
