"""PII/toxicity scrub stage: the `scrub` output of the shared scorer
(stages/score.py).

Rewrites `text` (emails → <EMAIL>, SSNs → <ID>, phones → <PHONE>,
toxicity lexicon → <TOX>) into `scrubbed_text` and emits per-row
`scrub_counts`. The regex core lives in functions/scrub_core.py,
shared byte-for-byte with the oracle (FIXTURES.md §2 invariant).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from curator_spark.config import DEFAULT_CONFIG
from curator_spark.stages.score import with_scores


def with_scrub(df: DataFrame, text_col: str = "text") -> DataFrame:
    # the scrub does not depend on the config; any config scrubs alike
    return with_scores(df, DEFAULT_CONFIG, text_col, ("scrub",))
