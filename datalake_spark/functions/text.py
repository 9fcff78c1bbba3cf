"""Text-analysis functions for the training-data pipeline: tokenization,
quality scoring, language ID (n-gram/stopword heuristic), and document
fingerprinting.  All pure Column expressions (codegen'd) — no UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# minimal per-language stopword lists for the heuristic classifier
_LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "that"],
    "fr": ["le", "la", "de", "et", "un", "une", "est", "que"],
    "de": ["der", "die", "das", "und", "ein", "ist", "nicht", "zu"],
    "es": ["el", "la", "de", "y", "un", "una", "es", "que"],
}


def tokenize(text: Column | str) -> Column:
    """Whitespace tokenizer (array<string>)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.split(F.trim(c), r"\s+")


def token_count(text: Column | str) -> Column:
    return F.size(tokenize(text)).cast("bigint")


def stopword_ratio(text: Column | str, stopwords: list[str] | None = None) -> Column:
    toks = tokenize(text)
    stops = stopwords or _LANG_STOPWORDS["en"]
    return F.size(F.filter(toks, lambda x: x.isin(*stops))).cast("double") / F.size(toks)


def quality_score(text: Column | str) -> Column:
    """Composite document-quality heuristic in [0,1]: length saturation,
    lexical diversity, long-token share — the standard pre-filter signals."""
    toks = tokenize(text)
    n = F.size(toks).cast("double")
    uniq = F.size(F.array_distinct(toks)).cast("double") / n
    len_score = F.least(F.lit(1.0), n / F.lit(50.0))
    short = F.size(F.filter(toks, lambda x: F.length(x) <= 2)).cast("double") / n
    return F.lit(0.5) * len_score + F.lit(0.3) * uniq + F.lit(0.2) * (1 - short)


def lang_id(text: Column | str) -> Column:
    """Heuristic language ID: per-language stopword hit count, argmax with
    deterministic tie-break (alphabetical language order); 'und' if no hits.
    One pass over the token array per language — fine as a map-stage at scale.
    """
    toks = tokenize(text)

    def in_set(sw: list[str]):
        return lambda x: x.isin(*sw)

    # greatest() orders structs field by field: most hits, then the
    # highest rank.  'und' has 0 hits and outranks every language, so it
    # wins only when no language has a hit (a NULL text's NULL hits sort
    # below 0); among languages the alphabetically first wins a tie.
    candidates = [(F.lit(0), "und")] + [
        (F.size(F.filter(toks, in_set(sw))), lang)
        for lang, sw in sorted(_LANG_STOPWORDS.items())
    ]
    return F.greatest(*[
        F.struct(hits.alias("hits"), F.lit(-rank).alias("rank"),
                 F.lit(lang).alias("lang"))
        for rank, (hits, lang) in enumerate(candidates)
    ])["lang"]


def doc_fingerprint_portable(text: Column | str, k: int = 8) -> Column:
    """Cross-engine variant of :func:`doc_fingerprint`: md5-derived 60-bit
    group hashes folded by a polynomial rolling hash in exact bigint
    arithmetic (acc·B + h mod M, M = 2^31−1, B = 1000003 — acc·B < 2^51 and
    h < 2^60, so the fold never overflows int64).  Order-sensitive like the
    xxhash64 version, but byte-for-byte reproducible in DuckDB via
    list_reduce, which makes fingerprint dedup oracle-checkable."""
    from datalake_spark.functions.hashing import md5hash60

    toks = tokenize(text)
    groups = F.transform(
        F.sequence(F.lit(0).cast("long"), ((F.size(toks) - 1) / k).cast("long")),
        lambda i: md5hash60(F.concat_ws(" ", F.slice(toks, i * k + 1, k))),
    )
    return F.aggregate(
        groups,
        F.lit(97531).cast("long"),
        lambda acc, h: (acc * F.lit(1000003) + h) % F.lit(2147483647),
    )


def doc_fingerprint(text: Column | str, k: int = 8) -> Column:
    """Order-sensitive rolling fingerprint: xxhash64 over the concatenation of
    every k-th token group — cheap near-identity signature for exact-ish dedup
    (a content-defined variant of the reference's whole-file blake2b,
    client/datalake/dlfile.py:221-235)."""
    toks = tokenize(text)
    groups = F.transform(
        F.sequence(F.lit(0).cast("long"), ((F.size(toks) - 1) / k).cast("long")),
        lambda i: F.xxhash64(F.concat_ws(" ", F.slice(toks, i * k + 1, k))),
    )
    return F.xxhash64(F.concat_ws(",", F.transform(groups, lambda g: g.cast("string"))))


# -- PII scrubbing (shared by the batch pii_scrub query and the streaming
#    curation stage; pure regexp Columns, no UDF, streaming-stateless) ----
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IP = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_PHONE = r"\b555-\d{4}\b"


def scrub_pii(col) -> F.Column:
    """Redact emails, IPv4 literals, and (fixture-shaped) phone numbers to
    typed placeholders.  A Column-only transform: safe in batch, streaming,
    and foreachBatch alike."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(c, PII_EMAIL, "<EMAIL>"), PII_IP, "<IP>"
        ),
        PII_PHONE,
        "<PHONE>",
    )
