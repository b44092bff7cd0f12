"""Text utilities: detokenization, normalization, sentence trimming.

Reference parity: ``detokenize`` removes spaces before punctuation and
after brackets (``BlackLabSnippetParser.java:240-246``, F5);
lemma normalization is ``lower(trim(·))`` throughout
(``BlackLabQueryExecutor.java:226-227``, F2). The reference's
sentence-boundary trimming (F4, ``BlackLabSnippetParser.java:84-215``)
is obviated by structural sentence ids, but the plain-text variant is
kept for raw-snippet display parity.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def normalize_expr(col: Column) -> Column:
    """F2: ``lower(trim(·))`` — the reference's lemma normalization."""
    return F.lower(F.trim(col))


def detokenize_expr(col: Column) -> Column:
    """F5: drop spaces before punctuation / after opening brackets
    (``BlackLabSnippetParser.detokenize``)."""
    c = F.regexp_replace(col, r"\s+([.,;:!?%)\]}])", r"$1")
    c = F.regexp_replace(c, r"([(\[{])\s+", r"$1")
    return c
