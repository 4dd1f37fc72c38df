"""Text-analysis expressions for training-data pipelines.

Whitespace tokenization, word-shingling, quality features, a
deterministic language-ID heuristic, and document fingerprinting —
all as native Column expressions (higher-order functions), so the hot
path never crosses into Python.  Each has an exactly-equivalent DuckDB
formulation used by the correctness oracle (see queries.py).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Deterministic mini stopword list for quality scoring.
STOPWORDS = ["the", "a", "and", "of", "to"]


def tokens(text: Column) -> Column:
    """Whitespace tokenization: empty tokens filtered, so empty /
    whitespace-only / tab-led text all behave (``trim`` strips only
    spaces, so a tab-led string splits with a leading '' — the filter,
    not the trim, is what makes this total).  Exact mirror of the
    oracle idiom ``list_filter(string_split_regex(trim(text), '\\s+'),
    x -> x <> '')``."""
    return F.filter(F.split(F.trim(text), r"\s+"), lambda t: t != "")


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def all_word_shingles_from_tokens(toks: Column, n: int = 3) -> Column:
    """ALL n-word shingles (duplicates kept, order preserved).

    O(len) construction: chain ``zip_with`` over shifted copies of the
    token array, then slice off the ragged tail.  The naive
    transform-over-indices + per-element ``slice`` form is O(len²)
    per document because higher-order functions re-evaluate the sliced
    operand per element — catastrophic on long documents.
    """
    shingle = toks
    for i in range(1, n):
        shifted = F.slice(toks, i + 1, F.greatest(F.size(toks) - i, F.lit(0)))
        shingle = F.zip_with(shingle, shifted, lambda a, b: F.concat_ws(" ", a, b))
    return F.slice(shingle, 1, F.greatest(F.size(toks) - (n - 1), F.lit(0)))


def word_shingles_from_tokens(toks: Column, n: int = 3) -> Column:
    """Distinct n-word shingles (single-space joined) from a token array."""
    return F.array_distinct(all_word_shingles_from_tokens(toks, n))


def word_shingles(text: Column, n: int = 3) -> Column:
    """Distinct n-word shingles of a text column."""
    return word_shingles_from_tokens(tokens(text), n)


def stopword_count(text: Column) -> Column:
    return F.size(F.filter(tokens(text), lambda t: t.isin(STOPWORDS)))


def char_class_counts(text: Column) -> tuple[Column, Column, Column]:
    """(n_chars, n_alpha, n_punct) — cheap quality signals."""
    n_chars = F.length(text)
    n_alpha = F.length(F.regexp_replace(text, r"[^A-Za-z]", ""))
    n_punct = F.length(F.regexp_replace(text, r"[^.,;:!?]", ""))
    return n_chars, n_alpha, n_punct


def quality_ok(text: Column) -> Column:
    """Keep-document predicate: length band + at least one stopword —
    the standard cheap-heuristic pre-filter for web corpora: 10 to
    10,000 tokens."""
    n = token_count(text)
    return (n >= 10) & (n <= 10_000) & (stopword_count(text) > 0)


def langid_heuristic(text: Column) -> Column:
    """Deterministic n-gram-flavored language guess.

    Real language ID needs character-ngram models; the engine's
    deterministic stand-in scores the two strongest English function
    words and falls back to 'unk'.  (Exactly reproducible in SQL for
    the oracle; swap in a Pandas-UDF model for production.)
    """
    toks = tokens(text)
    n = F.size(toks)
    the_n = F.size(F.filter(toks, lambda t: t == "the"))
    a_n = F.size(F.filter(toks, lambda t: t == "a"))
    return (
        F.when(n == 0, F.lit("unk"))
        .when((the_n + a_n) * 20 >= n, F.lit("en"))
        .otherwise(F.lit("unk"))
    )


#: "BPE-ish" pre-tokenizer: word runs or single non-space punctuation.
BPE_ISH_PATTERN = r"\w+|[^\w\s]"


def bpe_ish_token_count(text: Column) -> Column:
    """Token count under a BPE-style pre-tokenization regex."""
    return F.size(F.regexp_extract_all(text, F.lit(BPE_ISH_PATTERN), 0))


def rolling_hash(text: Column) -> Column:
    """Polynomial rolling hash over the character codes:
    h = fold(h*31 + code) mod 2^31-1 — the classic Rabin-Karp
    fingerprint, with modular arithmetic that never leaves int64 so
    the SQL oracle computes the identical value."""
    chars = F.filter(F.split(text, ""), lambda c: c != "")
    codes = F.transform(chars, lambda c: F.ascii(c).cast("bigint"))
    return F.aggregate(
        codes,
        F.lit(0).cast("bigint"),
        lambda acc, c: (acc * 31 + c) % 2147483647,
    )


def fingerprint(text: Column) -> Column:
    """Document fingerprint: md5 of the whitespace-normalized, lowercased
    text — stable across engines, usable as an exact-dedup key.

    Order matters: collapse ALL whitespace runs to single spaces FIRST,
    then trim.  trim() strips only spaces in both engines, so trimming
    first would leave a leading space for tab-led text — giving '\\tx'
    and 'x' different fingerprints (caught by fuzzing against a Python
    model)."""
    norm = F.lower(F.trim(F.regexp_replace(text, r"\s+", " ")))
    return F.md5(norm)


# --- PII scrubbing -------------------------------------------------------
#
# Patterns restricted to the regex subset Java (Spark) and RE2 (DuckDB)
# evaluate identically: no backreferences, no lookaround, ASCII \b only.
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_PHONE_RE = r"\+\d{7,15}\b|\b\d{3}-\d{3,4}-\d{4}\b"


def scrub_pii(text: Column) -> Column:
    """Redact emails, IPv4 addresses, and phone-shaped numbers.

    Order matters: emails first (their local parts contain digits and
    dots that the later patterns could chew on), then IPs, then phones.
    The training-data release gate for web corpora.
    """
    out = F.regexp_replace(text, PII_EMAIL_RE, "<EMAIL>")
    out = F.regexp_replace(out, PII_IPV4_RE, "<IP>")
    out = F.regexp_replace(out, PII_PHONE_RE, "<PHONE>")
    return out


def scrub_pii_sql(expr: str) -> str:
    """DuckDB expression computing the identical redaction."""
    out = f"regexp_replace({expr}, '{PII_EMAIL_RE}', '<EMAIL>', 'g')"
    out = f"regexp_replace({out}, '{PII_IPV4_RE}', '<IP>', 'g')"
    return f"regexp_replace({out}, '{PII_PHONE_RE}', '<PHONE>', 'g')"


# --- URL / domain extraction --------------------------------------------

URL_RE = r"https?://[^\s]+"
DOMAIN_RE = r"https?://([^/\s]+)"


def url_domains(text: Column) -> Column:
    """Distinct domains of the URLs a document links to (sorted) —
    the input to domain-level filtering/blocklists."""
    urls = F.regexp_extract_all(text, F.lit(URL_RE), 0)
    return F.array_sort(
        F.array_distinct(
            F.transform(urls, lambda u: F.regexp_extract(u, DOMAIN_RE, 1))
        )
    )


def ngram_repetition_stats(text: Column, n: int = 3) -> tuple[Column, Column]:
    """(n_ngrams, max_ngram_freq): duplicates-kept shingle count and the
    highest single-shingle frequency — the standard boilerplate /
    generated-spam repetition signal (a doc whose top trigram covers a
    large share of all trigrams is repetitive).  Integer outputs only;
    threshold with integer arithmetic, e.g. ``max_freq * 5 >= n`` for
    a 20% repetition gate.

    Max frequency = the longest equal-run in the SORTED shingle list,
    found by one ``aggregate`` pass — O(n log n) per document.  (The
    obvious per-distinct-shingle ``filter`` count is O(distinct×total)
    — exactly the quadratic HOF pattern ``word_shingles_from_tokens``'s
    docstring warns about, catastrophic on 100k-token web documents.)
    """
    all_sh = all_word_shingles_from_tokens(tokens(text), n)
    srt = F.array_sort(all_sh)
    zero = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0).alias("best"),
    )

    def merge(acc, x):
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            x.alias("prev"), run.alias("run"), F.greatest(acc["best"], run).alias("best")
        )

    max_freq = F.aggregate(srt, zero, merge, lambda acc: acc["best"])
    return F.size(all_sh), max_freq


def cdc_chunks(toks: Column) -> Column:
    """Content-defined chunk ranges over a token array.

    A token whose seeded portable hash is ``0 mod 16`` CLOSES the
    current chunk (expected chunk length ≈ 16 tokens).  Unlike
    fixed-size windows, boundaries move with the content, so inserting
    or deleting a sentence shifts only the chunks it touches — chunk
    hashes of the untouched remainder still match, which is what makes
    chunk-granular dedup robust to edits (the rsync/LBFS splitting
    idea applied to token streams).

    Returns ``array<struct<start:int, end:int>>`` (0-based,
    end-exclusive); empty token arrays produce no chunks.  Pure
    higher-order-function expressions — JVM-side, no shuffle.
    """
    from .hashing import portable_hash64

    # indices whose token closes a chunk (guard: sequence(0, -1) on an
    # empty array would yield a DESCENDING [0, -1], not [])
    idx = F.when(
        F.size(toks) > 0, F.sequence(F.lit(0), F.size(toks) - 1)
    ).otherwise(F.array().cast("array<int>"))
    closes = F.filter(
        idx,
        lambda i: portable_hash64(F.element_at(toks, i + 1), "cdc") % 16 == 0,
    )
    ends = F.concat(
        F.transform(closes, lambda i: i + 1),
        F.when(
            (F.size(toks) > 0)
            & (
                (F.size(closes) == 0)
                | (F.element_at(closes, -1) != F.size(toks) - 1)
            ),
            F.array(F.size(toks)),
        ).otherwise(F.array().cast("array<int>")),
    )
    starts = F.concat(
        F.array(F.lit(0)),
        F.slice(ends, 1, F.greatest(F.size(ends) - 1, F.lit(0))),
    )
    return F.filter(
        F.zip_with(
            starts,
            ends,
            lambda s, e: F.struct(s.cast("int").alias("start"), e.cast("int").alias("end")),
        ),
        lambda c: c["end"] > c["start"],
    )
