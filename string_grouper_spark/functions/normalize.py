"""Text normalization + character n-gram shingling.

Reproduces the reference tokenizer ``StringGrouper.n_grams``
(/root/reference/string_grouper/string_grouper.py:365-378):

    1. lower-case             (if ignore_case)
    2. NFKD normalize -> encode ASCII ignoring errors   (if normalize_to_ascii)
    3. strip chars matching ``regex`` (default ``[,-./]|\\s``)
    4. overlapping character n-grams of size ``ngram_size``

Golden behavior: ``'McDonalds' -> ['mcd','cdo','don','ona','nal','ald','lds']``
(reference test_string_grouper.py:503-517).

Spark-first design: steps 1, 3 and 4 are pure Catalyst expressions
(``lower``, ``regexp_replace``, ``sequence``+``transform``+``substring``) so
they run inside whole-stage codegen.  Step 2 (NFKD) has no JVM builtin, so it
is an Arrow-vectorized pandas UDF — the only Python in the tokenize path, and
it is skipped entirely when ``normalize_to_ascii=False`` or when the caller
declares the input ASCII-only (``assume_ascii``).
"""

from __future__ import annotations

import re
import unicodedata
from typing import List, Optional

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

from ..config import MatchConfig


@pandas_udf(StringType())
def _nfkd_ascii(s: pd.Series) -> pd.Series:
    """Vectorized NFKD -> ASCII fold (reference string_grouper.py:374-375).

    Fast path: ``str.isascii`` is a C-level scan and NFKD is the identity on
    pure ASCII, so ASCII rows (the overwhelming majority of webtext after
    lang filtering) skip the expensive normalize entirely.
    """
    def fold(x: Optional[str]) -> Optional[str]:
        if x is None or x.isascii():
            return x
        return unicodedata.normalize("NFKD", x).encode("ASCII", "ignore").decode()

    return s.map(fold)


def normalize_expr(col: Column, cfg: MatchConfig, assume_ascii: bool = False) -> Column:
    """Column expression producing the reference-normalized string."""
    out = col
    if cfg.ignore_case:
        out = F.lower(out)
    if cfg.normalize_to_ascii and not assume_ascii:
        out = _nfkd_ascii(out)
    # the default pattern runs as the explicit class of what Python's ``\s``
    # strips: Java's ``\s`` keeps \x1c-\x1f and the Unicode spaces
    pattern = _JAVA_DEFAULT_STRIP if cfg.regex == _DEFAULT_STRIP_RE else cfg.regex
    return F.regexp_replace(out, pattern, "")


def ngrams_expr(norm_col: Column, ngram_size: int) -> Column:
    """Overlapping char n-grams as array<string>, pure Catalyst (no UDF).

    ``sequence(1, L-n+1)`` is only valid when L >= n (Spark's sequence counts
    DOWN when stop < start), hence the guard returning an empty array — which
    matches sklearn's behavior of a zero row for too-short strings.
    """
    n = int(ngram_size)
    return F.when(
        F.length(norm_col) >= n,
        F.transform(
            F.sequence(F.lit(1), F.length(norm_col) - (n - 1)),
            lambda i: F.substring(norm_col, i, n),
        ),
    ).otherwise(F.array().cast("array<string>"))


# Deletion table equivalent to the DEFAULT strip regex ``[,-./]|\s``: every
# codepoint the pattern matches (each alternative consumes exactly one char
# and the replacement is empty, so sub == translate).  Built by probing the
# compiled pattern itself, so the two can never drift; str.translate with a
# deletion table measured 4.7x faster than re.sub on the 45-word corpus
# (1.18 s -> 0.25 s per 100k docs) — and this sits on the flagship's terms
# stage via _encode_doc.
_DEFAULT_STRIP_RE = r"[,-./]|\s"
_DEFAULT_STRIP_TABLE = {
    cp: None
    for cp in range(0x10000)
    if re.fullmatch(_DEFAULT_STRIP_RE, chr(cp))
}


def _java_char_class(cps) -> str:
    """Java regex character class matching exactly the code points ``cps``
    (BMP only), as ``\\uXXXX`` ranges."""
    cps = sorted(cps)
    runs, start = [], cps[0]
    for prev, cp in zip(cps, cps[1:] + [None]):
        if cp != prev + 1:
            runs.append((start, prev))
            start = cp
    return "[" + "".join(
        f"\\u{a:04x}" if a == b else f"\\u{a:04x}-\\u{b:04x}" for a, b in runs
    ) + "]"


# the JVM form of the default strip regex, generated from the same table so
# ``normalize_expr`` and ``py_normalize`` strip the same characters
_JAVA_DEFAULT_STRIP = _java_char_class(_DEFAULT_STRIP_TABLE)


def py_normalize(s: str, cfg: MatchConfig) -> str:
    """Single-string normalization (driver-side parity helper; also the
    per-doc kernel of the fast plan's ``_encode_doc`` terms stage).

    Two measured fast paths, both exact: the ``str.isascii`` gate skips
    NFKD on pure-ASCII rows (NFKD is the identity there), and the default
    strip regex runs as a C-level ``str.translate`` deletion instead of
    ``re.sub`` (the regex engine was the dominant cost of this function on
    ASCII webtext).
    """
    if cfg.ignore_case and s is not None:
        s = s.lower()
    if cfg.normalize_to_ascii and not s.isascii():
        s = unicodedata.normalize("NFKD", s).encode("ASCII", "ignore").decode()
    if cfg.regex == _DEFAULT_STRIP_RE:
        return s.translate(_DEFAULT_STRIP_TABLE)
    return re.sub(cfg.regex, "", s)


def py_ngrams(s: str, cfg: Optional[MatchConfig] = None) -> List[str]:
    """Reference ``n_grams`` re-implemented for tests/oracles (SG:365-378)."""
    cfg = cfg or MatchConfig()
    s = py_normalize(s, cfg)
    n = cfg.ngram_size
    return ["".join(g) for g in zip(*[s[i:] for i in range(n)])]
