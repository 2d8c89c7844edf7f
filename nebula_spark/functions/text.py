"""Text-analysis operators for training-data pipelines — all pure
Column expressions (JVM-side, whole-stage-codegen; zero Python in the
hot path). Each has an exact ANSI-SQL twin used by the DuckDB oracle.

These extend the reference's transform surface (its TransformFunc hooks,
/root/reference/internal/pipeline/simple_pipeline.go:93-96) with the
operations a 100 TB pre-training corpus pipeline actually runs:
token counting, quality scoring, language ID, fingerprinting.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

# words that mark English-ish text; the oracle uses the same list
EN_STOPWORDS = ["the", "and", "of", "to", "in", "is", "a", "for", "with", "data"]


def words(text: Column | str) -> Column:
    """Whitespace tokenization of trimmed text."""
    c = F.col(text) if isinstance(text, str) else text
    return F.split(F.trim(c), r"\s+")


def words_sql(text: str) -> str:
    """:func:`words` as SQL text over the SQL expression ``text`` —
    the same split(trim(...)) tree once the JVM parses it."""
    return f"split(trim({text}), '\\\\s+')"


def token_count(text: Column | str) -> Column:
    """Whitespace token count — the cheap n_tok estimator."""
    return F.size(words(text))


def bpe_ish_token_count(text: Column | str) -> Column:
    """A BPE-flavored estimate: letter runs, digit runs, and single
    punctuation marks each count as one token ('foo_bar42!' → foo, bar,
    42, '_', '!' = 5). One RE2-compatible regexp_extract_all, JVM-side,
    with a verbatim DuckDB twin (RE2 has no lookarounds, so the pattern
    deliberately avoids them)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.size(
        F.regexp_extract_all(
            F.lower(F.trim(c)), F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"), F.lit(0)
        )
    )


def punct_ratio(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    n_punct = F.length(c) - F.length(F.regexp_replace(c, r"[.,;:!?]", ""))
    return n_punct / F.greatest(F.length(c), F.lit(1))


def mean_word_len(text: Column | str) -> Column:
    w = words(text)
    total = F.aggregate(w, F.lit(0), lambda acc, x: acc + F.length(x))
    return total / F.greatest(F.size(w), F.lit(1))


def stopword_hits(text: Column | str, stopwords: list[str] | None = None) -> Column:
    """How many distinct stopwords occur in the text's word set."""
    w = F.array_distinct(words(F.lower(F.col(text) if isinstance(text, str) else text)))
    sw = F.array(*[F.lit(s) for s in (stopwords or EN_STOPWORDS)])
    return F.size(F.array_intersect(w, sw))


def quality_score(text: Column | str) -> Column:
    """Composite [0,1] quality heuristic: length, word-length sanity,
    stopword presence. Deterministic, SQL-expressible."""
    c = F.col(text) if isinstance(text, str) else text
    len_ok = F.least(F.length(c) / F.lit(200.0), F.lit(1.0))
    wl = mean_word_len(c)
    wl_ok = F.when((wl >= 3) & (wl <= 10), F.lit(1.0)).otherwise(F.lit(0.4))
    sw_ok = F.least(stopword_hits(c) / F.lit(3.0), F.lit(1.0))
    return F.round(0.4 * len_ok + 0.3 * wl_ok + 0.3 * sw_ok, 4)


def lang_id(text: Column | str) -> Column:
    """Stopword-hit language ID: 'en' when ≥2 English stopwords appear,
    else 'unk'. (A real n-gram model plugs in the same shape — a
    Column in, a label out.)"""
    return F.when(stopword_hits(text) >= 2, F.lit("en")).otherwise(F.lit("unk"))


def fingerprint(text: Column | str, k: int = 8) -> Column:
    """Document fingerprint: md5 over the first k normalized words —
    a cheap rolling-hash stand-in, identical in DuckDB (md5)."""
    w = words(F.lower(F.col(text) if isinstance(text, str) else text))
    head = F.slice(w, 1, k)
    return F.md5(F.concat_ws(" ", head))
