"""Tokenization with the reference engine's exact delimiter semantics.

Two distinct delimiter sets (an asymmetry the reference ships, reproduced
faithfully — semantics derived from /root/reference/component/HTMLParser.cpp:16-28,66-122
and query_process/QueryExecution.cpp:36-37,264-281):

* INDEX side: 29 ASCII delimiters (includes ``@!#%><|~``) plus 20
  multi-byte unicode delimiter characters. NOTE the quirk: ``$`` appears in
  the reference's *unicode* delimiter set but is a single-byte char, so the
  unicode branch never fires for it — ``$`` is therefore NOT a delimiter,
  and we match that.
* QUERY side: only 21 ASCII delimiters (no ``@!#%><|~``), no unicode
  handling (multi-byte chars pass through into terms).

No lowercasing, no stemming, no stop-words. ``doc_length`` is the TOKEN
COUNT, not byte length (HTMLParser.cpp:79). Query terms are DEDUPED; the
reference uses an unordered_set (nondeterministic order) — we canonicalize
to sorted order for deterministic float accumulation.

The hot path is :func:`tokenize_col` — a pure-JVM ``split`` + ``filter``
Catalyst expression (whole-stage codegen, no Python worker, no Arrow
channel). The Arrow-batched pandas UDF (:func:`register_udfs`) and the
vectorized pandas pipeline (:func:`tokenize_series`) remain as twins:
benchmarked within ~15% of the JVM path per-core, but the JVM path
scales without the per-node Python-worker socket and keeps the tokens
stage inside codegen. All three are asserted token-identical in
tests/test_tokenizer.py.
"""

from __future__ import annotations

import re

import pandas as pd

INDEX_ASCII_DELIMS = " ,.;:?[]{}()-/+*&^\"'@!#%><|~\n"
QUERY_ASCII_DELIMS = " ,.;:?[]{}()-/+*&^\"'\n"
# '$' intentionally absent (see module docstring).
UNICODE_DELIMS = "，。（）·～？》《｜、；：「」【】“’"

_INDEX_CLASS = "[" + re.escape(INDEX_ASCII_DELIMS + UNICODE_DELIMS) + "]+"
_QUERY_CLASS = "[" + re.escape(QUERY_ASCII_DELIMS) + "]+"
_INDEX_RE = re.compile(_INDEX_CLASS)
_QUERY_RE = re.compile(_QUERY_CLASS)


def tokenize_text(text: str) -> list[str]:
    """Pure-Python index-side tokenizer (oracle / driver-side use)."""
    if not text:
        return []
    return [t for t in _INDEX_RE.split(text) if t]


def tokenize_query(query: str) -> list[str]:
    """Query-side tokenizer + dedup, canonical sorted order. A query
    that is not valid Unicode (a lone surrogate, which no index term
    can hold) raises ValueError."""
    if not query:
        return []
    try:
        query.encode("utf-8")
    except UnicodeEncodeError as e:
        raise ValueError(
            f"query text holds a lone surrogate at index {e.start}"
        ) from None
    return sorted({t for t in _QUERY_RE.split(query) if t})


def tokenize_series(texts: pd.Series) -> pd.Series:
    """Vectorized index tokenization of a pandas Series -> Series[list[str]].

    Collapses delimiter runs to a single space, strips, splits — equivalent
    to the reference scan loop for valid UTF-8 input, but executed through
    pandas' C string kernels.
    """
    s = texts.fillna("")
    # strip ONLY the space delimiter runs collapse into: bare
    # .strip() would also eat tab/CR/NBSP at token edges, which are
    # NOT reference delimiters — tokenize_text('\tfoo') is ['\tfoo']
    # and the three twins must stay token-identical
    s = s.str.replace(_INDEX_CLASS, " ", regex=True).str.strip(" ")
    out = s.str.split(" ")
    # rows that were empty/all-delims become [''] after split; fix to [].
    empty = s.str.len() == 0
    if empty.any():
        out = out.where(~empty, other=pd.Series([[]] * int(empty.sum()), index=s.index[empty]))
    return out


def _java_class(chars: str) -> str:
    """Java-regex character class for a set of literal chars: ASCII
    punctuation is backslash-escaped (always literal inside a class);
    non-ASCII chars are included raw (backslash before a non-ASCII
    letterlike char is an error in Java regex, and these chars carry no
    regex meaning)."""
    out = []
    for c in chars:
        if c == "\n":
            out.append("\\n")
        elif ord(c) < 128 and not c.isalnum():
            out.append("\\" + c)
        else:
            out.append(c)
    return "[" + "".join(out) + "]+"


JAVA_INDEX_CLASS = _java_class(INDEX_ASCII_DELIMS + UNICODE_DELIMS)
JAVA_QUERY_CLASS = _java_class(QUERY_ASCII_DELIMS)


def tokenize_col(col):
    """JVM-side index tokenizer: ``filter(split(text, delims), x -> x
    != '')`` — pure Catalyst expressions, no Python/Arrow round-trip.
    Token-identical to :func:`tokenize_series` (asserted in
    tests/test_tokenizer.py); this is the build/query hot path, the
    pandas-UDF twin remains for environments where it benchmarks
    faster. Split of '' yields [''], so empty/all-delimiter docs
    correctly produce []."""
    from pyspark.sql import functions as F

    return F.filter(
        F.split(F.coalesce(col, F.lit("")), JAVA_INDEX_CLASS, -1),
        lambda x: x != F.lit(""),
    )


def unique_tf_cols(srt_col):
    """(uterms, utfs) Columns from a SORTED token-array column — pure
    Catalyst, no Python: group boundaries are the positions where the
    sorted array changes value; tf = distance to the next boundary.
    O(n) array ops per doc after the sort. Empty docs yield ([], []).

    This is the JVM twin of the Arrow ``_tokenize_count_batches`` pass:
    same (unique terms, counts) contract, but the tokens stage stays
    inside whole-stage codegen with no JVM<->Python transfer.
    """
    from pyspark.sql import functions as F

    n = F.size(srt_col)
    idx = F.when(n <= 0, F.array().cast("array<int>")).otherwise(
        F.sequence(F.lit(1), n)
    )
    bounds = F.filter(
        idx,
        lambda i: F.when(i == F.lit(1), F.lit(True)).otherwise(
            F.element_at(srt_col, i) != F.element_at(srt_col, i - F.lit(1))
        ),
    )
    nxt = F.concat(
        F.slice(bounds, 2, F.greatest(F.size(bounds) - 1, F.lit(0))),
        F.array(n + 1),
    )
    uterms = F.when(n <= 0, F.array().cast("array<string>")).otherwise(
        F.transform(bounds, lambda i: F.element_at(srt_col, i))
    )
    utfs = F.when(n <= 0, F.array().cast("array<int>")).otherwise(
        F.zip_with(bounds, nxt, lambda a, b: (b - a).cast("int"))
    )
    return uterms, utfs


def register_udfs():
    """Return (tokenize_udf,) — created lazily so importing this module
    does not require an active SparkSession."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, StringType

    @pandas_udf(ArrayType(StringType()))
    def tokenize_udf(texts: pd.Series) -> pd.Series:
        return tokenize_series(texts)

    return tokenize_udf
