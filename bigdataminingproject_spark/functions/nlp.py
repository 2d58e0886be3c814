"""Optional NLP parity UDFs (reference T2/T3 exact-parity path).

The reference tokenizes with ``nltk.word_tokenize`` and lemmatizes with
WordNet (base_dataset_loader.py:88-89). NLTK isn't part of this engine's
hard dependencies (executors shouldn't download corpora at import time —
the reference does, base_dataset_loader.py:9-11, a hidden network side
effect). These Arrow-vectorized UDFs activate only when NLTK + corpora
are importable; otherwise the engine's pure-SQL tokenizer (functions/
text.py) is the documented default, and ``lemmatize_udf`` degrades to
identity.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType

try:  # pragma: no cover - environment dependent
    import nltk  # noqa: F401
    from nltk.stem import WordNetLemmatizer

    _HAVE_NLTK = True
except Exception:  # pragma: no cover
    _HAVE_NLTK = False


@F.pandas_udf(ArrayType(StringType()))
def lemmatize_udf(tokens: pd.Series) -> pd.Series:
    """WordNet noun lemmatization per token (T3).

    Uses the real WordNetLemmatizer when NLTK + corpora are importable;
    otherwise the vendored rule-based approximation
    (functions/lemmatizer.py — same exception list and suffix rules,
    divergence documented there). Initialized once per executor batch
    (the lemmatizer is lazy-loaded, matching the per-process init the
    reference relies on).
    """
    if _HAVE_NLTK:
        lemmatizer = WordNetLemmatizer()
        return tokens.map(
            lambda toks: [lemmatizer.lemmatize(t) for t in toks]
            if toks is not None
            else None
        )
    from bigdataminingproject_spark.functions.lemmatizer import (
        lemmatize_tokens,
    )

    return tokens.map(lemmatize_tokens)


def lemmatize(col: Column) -> Column:
    """Lemmatize a token-array column (NLTK when present, else the
    vendored rule-based lemmatizer)."""
    return lemmatize_udf(col)
