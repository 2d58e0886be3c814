"""Text / tokenization column functions (SURVEY.md §2.2-§2.3, F1-F9, T1-T7).

Everything here is a *Column expression* built from pyspark.sql.functions —
JVM-side, whole-stage-codegen friendly, zero Python in the hot path. The
reference does all of this row-at-a-time in Python
(``data_loader/base_dataset_loader.py:67-93``); re-expressed declaratively
the same logic vectorizes and scales.

The stopword list is module-level data shared with the DuckDB oracle SQL
(``__spark_entry__.oracle_sql`` interpolates the identical literal) so the
Spark plan and the oracle can never drift.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from bigdataminingproject_spark.functions.lits import lit_array

# Compact English stopword list (NLTK-core subset) — the reference pulls the
# full NLTK list at import time (base_dataset_loader.py:9-14); we pin an
# explicit literal so executors need no corpus download and the oracle SQL
# can embed the same set.
ENGLISH_STOPWORDS: tuple[str, ...] = (
    "a", "an", "and", "are", "as", "at", "be", "been", "but", "by", "can",
    "did", "do", "does", "for", "from", "had", "has", "have", "he", "her",
    "his", "i", "if", "in", "is", "it", "its", "me", "my", "no", "not", "of",
    "on", "or", "our", "she", "so", "that", "the", "their", "them", "they",
    "this", "to", "was", "we", "were", "what", "when", "which", "who", "will",
    "with", "you", "your",
)

# Custom skip-words from the reference corpus domain
# (data_loader/base_dataset_loader.py:12-14).
SKIPWORDS: tuple[str, ...] = ("cindy", "jenkins", "enron", "u")


def tokenize(col: Column | str) -> Column:
    """Lowercase + split on non-letter runs, dropping empties.

    Maps reference T1+T2 (lower → word_tokenize,
    base_dataset_loader.py:88) to a pure-SQL expression. NLTK's tokenizer
    also splits punctuation into its own tokens; those are dropped anyway by
    the alphabetic filter (F5), so splitting *on* non-letters is
    semantics-preserving for the preprocessed output.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.lower(c), "[^\\p{L}]+"), lambda t: t != F.lit(""))


def alpha_tokens(tokens: Column) -> Column:
    """Keep Unicode-alphabetic tokens only (F5, base_dataset_loader.py:89)."""
    return F.filter(tokens, lambda t: t.rlike("^[\\p{L}]+$"))


def remove_stopwords(
    tokens: Column,
    stopwords: tuple[str, ...] = ENGLISH_STOPWORDS,
    use_skipwords: bool = True,
) -> Column:
    """Drop stop- and skip-words (F6, base_dataset_loader.py:81-90)."""
    drop = set(stopwords) | (set(SKIPWORDS) if use_skipwords else set())
    drop_arr = lit_array(sorted(drop))
    return F.filter(tokens, lambda t: ~F.array_contains(drop_arr, t))


def shingles(tokens: Column, k: int = 3) -> Column:
    """Overlapping word k-grams joined by spaces (T6).

    Matches the reference edge cases exactly
    (streaming/detectors/duplicate_detector.py:7-13): k<=1 degenerates to
    the token list; fewer than k tokens yields an empty array.
    """
    if k <= 1:
        return tokens
    n = F.size(tokens)
    # sequence(1, n-k+1) is empty when n < k → empty shingle array.
    return F.when(n < F.lit(k), F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(1), n - F.lit(k - 1)),
            lambda i: F.concat_ws(" ", F.slice(tokens, i, k)),
        )
    )


# Exact literal the dataset creators prepend (scc_dataset_loader.py:68-71).
FILE_DESCRIPTION_PREAMBLE = (
    "This message contains files. If the description for a file does not "
    "make sense, ignore it."
    "Here are descriptions of those files:\nDescription for file 1:"
)


def remove_file_description(col: Column | str) -> Column:
    """Boilerplate scrub (F4, data_loader/scc_dataset_loader.py:58-76).

    Literal removal of the preamble (str.replace in the reference — NOT a
    regex) followed by regex removal of remaining `Description for file
    N:` markers.
    """
    c = F.col(col) if isinstance(col, str) else col
    c = F.replace(c, F.lit(FILE_DESCRIPTION_PREAMBLE), F.lit(""))
    return F.regexp_replace(c, "Description for file \\d+:", "")


def preprocess_body(
    col: Column | str,
    stopwords: tuple[str, ...] = ENGLISH_STOPWORDS,
    use_skipwords: bool = True,
) -> Column:
    """Full reference preprocessing chain re-joined to one string.

    lower → tokenize → alpha filter → stop/skip-word removal → join
    (base_dataset_loader.py:88-91, minus lemmatization which is the
    pandas_udf parity path in functions/nlp.py).
    """
    toks = remove_stopwords(tokenize(col), stopwords, use_skipwords)
    return F.array_join(toks, " ")
