"""Text-analysis column functions (LLM-pipeline scope, beyond the reference).

All builders return Catalyst Column expressions — JVM-side, inside
whole-stage codegen, no Python UDFs in the hot path.  Every function has an
exact DuckDB-SQL equivalent (used by the oracle strings in queries/llm.py),
which is what makes the corpus hash-matchable across engines:

* hashing is md5 (hex string, identical in Spark/DuckDB);
* char-class regexes only (portable between Java regex and RE2);
* list ops via transform/filter lambdas (both engines).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Tiny stopword list used for quality scoring (kept deliberately small and
#: hard-coded so the oracle SQL can inline the same list).
STOPWORDS = ("the", "a", "of", "and", "to", "in", "is")

#: Marker words for the n-gram-free language-ID heuristic.  The synthetic
#: corpus is English-ish word soup, so markers are chosen from it; real
#: deployments would swap in per-language frequency tables.
LANG_MARKERS = {
    "en": ("the", "a"),
    "es": ("el", "la"),
    "de": ("der", "die"),
    "fr": ("le", "la"),
}


def tokens(text: Column) -> Column:
    """Whitespace tokenization (documents are single-space separated)."""
    return F.split(text, " ")


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def bpe_ish_token_count(text: Column) -> Column:
    """BPE-ish sub-word count: alpha runs, digit runs, and single symbols —
    the standard pre-tokenizer regex, counted JVM-side."""
    return F.size(F.regexp_extract_all(text, F.lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), F.lit(0)))


def punct_ratio(text: Column) -> Column:
    """Fraction of characters that are not [a-z0-9 ] (lowercased input)."""
    stripped = F.regexp_replace(F.lower(text), "[a-z0-9 ]", "")
    return F.length(stripped) / F.length(text)


def stopword_ratio(text: Column) -> Column:
    toks = tokens(F.lower(text))
    stop_list = ", ".join(f"'{w}'" for w in STOPWORDS)
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
    _ = stop_list  # documented for oracle parity; Catalyst uses isin above
    return n_stop / F.size(toks)


def avg_token_len(text: Column) -> Column:
    """Mean token length, computed arithmetically (len - separators)/n so
    both engines evaluate the identical formula."""
    n = token_count(text)
    return (F.length(text) - (n - F.lit(1))) / n


def quality_score(text: Column) -> Column:
    """Composite heuristic quality score in [0,1]: long-enough docs with
    moderate stopword density and low punctuation score high.  The exact
    CASE thresholds are mirrored in the oracle SQL."""
    n = token_count(text)
    length_part = F.when(n >= 50, F.lit(0.4)).when(n >= 20, F.lit(0.25)).otherwise(F.lit(0.1))
    stop_part = F.when(stopword_ratio(text) > 0.01, F.lit(0.3)).otherwise(F.lit(0.1))
    punct_part = F.when(punct_ratio(text) < 0.05, F.lit(0.3)).otherwise(F.lit(0.0))
    return length_part + stop_part + punct_part


def fingerprint(text: Column) -> Column:
    """Document fingerprint: md5 of whitespace-normalized lowercase text.
    (A content-defined stand-in for a rolling hash; identical across
    engines.)"""
    return F.md5(F.regexp_replace(F.lower(text), "\\s+", " "))


def lang_id(text: Column) -> Column:
    """Marker-word language heuristic (n-gram-free, deterministic)."""
    toks = tokens(F.lower(text))
    expr = F.lit("unknown")
    # Reverse order so earlier languages win ties via the final WHEN chain.
    for lang in reversed(list(LANG_MARKERS)):
        markers = LANG_MARKERS[lang]
        hit = F.size(F.filter(toks, lambda t: t.isin(*markers))) > 0
        expr = F.when(hit, F.lit(lang)).otherwise(expr)
    return expr
