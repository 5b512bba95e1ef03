"""Arrow-batched pandas UDFs over single text columns (language id, word
joining).

Extraction itself is not here: it crosses into Python only in the
mapInArrow lane (arrow_extract.py, called through
pipeline.extract_turns).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

from texoo_spark import textops


@pandas_udf(StringType())
def detect_language_udf(texts: pd.Series) -> pd.Series:
    from texoo_spark.langid import detect_language
    return texts.fillna("").map(detect_language)


@pandas_udf(StringType())
def words_to_text_udf(words: pd.Series) -> pd.Series:
    """Rule-based spacing join over an array<string> column (T4/wordsToText)."""
    return words.map(lambda ws: textops.words_to_text(list(ws or [])))
