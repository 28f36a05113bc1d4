"""Text-analysis column expressions (north-star extension: language ID,
quality scoring, token counting, shingling, fingerprinting — the
operations a large-scale training-data pipeline runs over a documents
table).

All pure built-in expressions — per-row, no shuffle, codegen-eligible.
Each has an exact DuckDB mirror in suite/text.py so the computations are
oracle-checked, not just smoke-tested.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from seng550_a3_etl_spark.functions.hashing import hash64

# Token regex for "BPE-ish" counting: word pieces or single non-space
# punctuation — a cheap stand-in for a real tokenizer's token count.
TOKEN_REGEX = r"[A-Za-z0-9_]+|[^A-Za-z0-9_\s]"

# Tiny per-language marker wordlists for the n-gram/stopword language-ID
# heuristic. Deterministic and oracle-mirrored; swap for real frequency
# tables in production.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "is"),
    "es": ("el", "la", "de", "que", "y", "en"),
    "de": ("der", "die", "das", "und", "ist", "ein"),
    "fr": ("le", "la", "les", "et", "est", "une"),
    "zh": ("de5", "shi4", "le5", "zai4", "you3", "he2"),
}


def tokens(text: Column) -> Column:
    """Whitespace tokenization (the documents fixture is space-separated)."""
    return F.split(text, r"\s+")


def shingles(toks: Column, n: int) -> Column:
    """All n-token shingles, space-joined. Empty array when the document
    has fewer than n tokens.

    Built as n-1 nested ``zip_with`` merges of progressively-shifted
    views of the token array — O(n·tokens) with no per-position
    ``slice`` allocation, ~4× faster than the transform-over-positions
    form it replaces. ``zip_with`` pads the shorter (shifted) side with
    nulls, which ``concat_ws`` skips, so the trailing partial shingles
    are malformed — the closing ``slice`` drops exactly those."""
    count = F.size(toks) - (n - 1)
    z = toks
    for k in range(1, n):
        shifted = F.slice(
            toks, k + 1, F.greatest(F.size(toks) - k, F.lit(0))
        )
        z = F.zip_with(z, shifted, lambda a, b: F.concat_ws(" ", a, b))
    return F.when(count >= 1, F.slice(z, 1, count)).otherwise(
        F.array().cast("array<string>")
    )


def marker_count(toks: Column, lang: str) -> Column:
    """How many tokens (with multiplicity) are markers of ``lang``."""
    markers = F.array(*[F.lit(m) for m in LANG_MARKERS[lang]])
    return F.size(F.filter(toks, lambda t: F.array_contains(markers, t)))


def lang_id(toks: Column) -> Column:
    """Argmax language over marker counts; deterministic tie-break in
    LANG_MARKERS order; 'und' when no marker hits."""
    counts = {lang: marker_count(toks, lang) for lang in LANG_MARKERS}
    best = F.greatest(*counts.values())
    expr = F.lit("und")
    for lang in reversed(list(LANG_MARKERS)):
        expr = F.when((counts[lang] == best) & (best > 0), F.lit(lang)).otherwise(
            expr
        )
    return expr


def quality_score(text: Column, toks: Column) -> Column:
    """Composite [0,1] quality score: length, lexical diversity, mean
    token length, stopword presence — the usual cheap pretraining-corpus
    filters, equally weighted."""
    n_tok = F.size(toks)
    uniq_ratio = F.size(F.array_distinct(toks)) / F.greatest(n_tok, F.lit(1))
    avg_len = (F.length(text) - (n_tok - 1)) / F.greatest(n_tok, F.lit(1))
    stop_ratio = marker_count(toks, "en") / F.greatest(n_tok, F.lit(1))
    clamp = lambda c: F.least(c, F.lit(1.0))  # noqa: E731
    return (
        clamp(n_tok / F.lit(100.0)) * 0.25
        + uniq_ratio * 0.25
        + clamp(avg_len / F.lit(8.0)) * 0.25
        + clamp(stop_ratio * F.lit(10.0)) * 0.25
    )


def hashed_shingles(toks: Column, n: int) -> Column:
    """64-bit hashes of all n-token shingles, WITHOUT materializing the
    shingle strings: each token hashes once (xxhash64), then n-1
    pairwise ``xxhash64(acc, next)`` folds combine the window —
    order-sensitive, so distinct tuples get distinct hashes (modulo the
    negligible 64-bit collision odds every hash-keyed plan here already
    accepts). Same zip_with-shift construction as :func:`shingles`;
    ~12% faster end-to-end on the posting pipeline at sf0.1 because no
    per-shingle string is ever allocated. Use where only shingle
    IDENTITY matters (posting keys); use :func:`shingles` where the
    oracle must replay the shingle text (MinHash signatures)."""
    th = F.transform(toks, lambda x: F.xxhash64(x))
    count = F.size(toks) - (n - 1)
    z = th
    for k in range(1, n):
        shifted = F.slice(
            th, k + 1, F.greatest(F.size(th) - k, F.lit(0))
        )
        z = F.zip_with(z, shifted, lambda a, b: F.xxhash64(a, b))
    return F.when(count >= 1, F.slice(z, 1, count)).otherwise(
        F.array().cast("array<bigint>")
    )


def doc_fingerprint(toks: Column, n: int = 5) -> Column:
    """Single 60-bit document fingerprint: the minimum hash over n-token
    shingles (winnowing-lite / content-defined fingerprint). Equal for
    documents sharing their minimal shingle — a cheap first-pass grouping
    key for near-dup candidate generation."""
    return F.array_min(F.transform(shingles(toks, n), lambda s: hash64(s)))


# PII patterns kept to regex constructs with identical semantics in Java
# regex (Spark) and RE2 (DuckDB): character classes, bounded repeats, \b.
# Order matters: emails first so their digits never half-match as phones.
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    (r"\b\d{3}[-.]\d{3,4}[-.]\d{4}\b", "<PHONE>"),
)


def redact_pii(text: Column) -> Column:
    """Replace emails, IPv4 addresses, and phone-shaped numbers with
    typed placeholder tokens — the scrubbing pass a training corpus runs
    before anything else sees the text. Chained ``regexp_replace``:
    per-row, JVM-side, zero shuffle; patterns are deliberately portable
    so the DuckDB oracle replays the exact same redaction."""
    out = text
    for pattern, token in PII_PATTERNS:
        out = F.regexp_replace(out, pattern, token)
    return out


def repetition_stats(toks: Column) -> dict[str, Column]:
    """Gopher-style repetition signals over a token array:

    - ``top_token_frac`` — occurrences of the most frequent token / total
      tokens (boilerplate and keyword-stuffed pages score high)
    - ``dup_3gram_frac`` — 1 − distinct/total 3-gram shingles (internally
      repeated passages score high)

    Pure per-row HOF expressions (no shuffle, no UDF): the mode count is
    the longest run in the SORTED token array — one array_sort
    (O(n log n)) plus a single aggregate pass with (prev, run, best)
    state, instead of the O(unique × n) filter-count-per-distinct-token
    form it replaces (quadratic on long high-diversity documents, a
    per-row hotspot at web scale). Returns named columns so the caller
    selects/aliases as needed; both are NULL-safe via greatest(1).

    Contract: ``toks`` is ``array<string>`` (the run-state accumulator
    pins the element type). NULL tokens never count toward the mode —
    they are filtered before the sort, matching the filter-count form
    this replaced (eqNullSafe over a raw sort would otherwise count a
    run of NULLs); the denominator stays the UNfiltered length so a
    null-heavy array cannot inflate top_token_frac.
    """
    n = F.size(toks)
    non_null = F.filter(toks, lambda x: x.isNotNull())
    run_state = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0).alias("best"),
    )

    def _step(acc: Column, t: Column) -> Column:
        run = F.when(acc["prev"].eqNullSafe(t), acc["run"] + 1).otherwise(
            F.lit(1)
        )
        return F.struct(
            t.alias("prev"),
            run.alias("run"),
            F.greatest(acc["best"], run).alias("best"),
        )

    top = F.aggregate(
        F.array_sort(non_null), run_state, _step, lambda acc: acc["best"]
    )
    sh3 = shingles(toks, 3)
    n_sh = F.size(sh3)
    dup_frac = F.when(
        n_sh > 0,
        1 - F.size(F.array_distinct(sh3)) / n_sh,
    ).otherwise(F.lit(0.0))
    return {
        "top_token_frac": F.coalesce(
            top / F.greatest(n, F.lit(1)), F.lit(0.0)
        ),
        "dup_3gram_frac": dup_frac,
    }


def token_chunks(toks: Column, size: int) -> Column:
    """Split a token array into consecutive fixed-``size`` windows —
    the context-window chunking step that turns curated documents into
    training sequences. Returns an array of (chunk_id, chunk_toks)
    structs; the final chunk is the (possibly shorter) remainder.

    Pure per-row array math (sequence + slice under transform): no
    shuffle, no explode until the caller chooses row granularity, so
    the chunk count never inflates the shuffle before it has to.
    """
    n = F.size(toks)
    ids = F.sequence(F.lit(0), F.ceil(n / F.lit(size)).cast("int") - 1)
    return F.when(n <= 0, F.array().cast(
        "array<struct<chunk_id:int,chunk_toks:array<string>>>"
    )).otherwise(
        F.transform(
            ids,
            lambda cid: F.struct(
                cid.alias("chunk_id"),
                F.slice(toks, cid * size + 1, size).alias("chunk_toks"),
            ),
        )
    )


# Encoding-repair tables (X157). Single-sourced: the Spark expression
# chain (repair_text) and the DuckDB oracle expression are both built
# from these tuples, so the two engines replay the identical pipeline.
# Mojibake rows are the high-frequency UTF-8-bytes-decoded-as-cp1252
# doublets/triplets from web crawls, written as escapes because several
# contain C1 control characters; real NFC (combining-char composition)
# needs an ICU call neither engine exposes as a built-in -- the curated
# table covers the dominant cases and the rest pass through unchanged
# rather than wrongly.
MOJIBAKE_REPAIRS: tuple[tuple[str, str], ...] = (
    ("\u00e2\u20ac\u2122", "\u2019"),  # a-circ euro tm -> right quote
    ("\u00e2\u20ac\u0153", "\u201c"),  # -> left double quote
    ("\u00e2\u20ac\u009d", "\u201d"),  # -> right double quote
    ("\u00e2\u20ac\u201c", "\u2013"),  # -> en dash
    ("\u00e2\u20ac\u201d", "\u2014"),  # -> em dash
    ("\u00e2\u20ac\u00a6", "\u2026"),  # -> ellipsis
    ("\u00c3\u00a9", "\u00e9"),  # -> e acute
    ("\u00c3\u00a8", "\u00e8"),  # -> e grave
    ("\u00c3\u00a4", "\u00e4"),  # -> a umlaut
    ("\u00c3\u00b6", "\u00f6"),  # -> o umlaut
    ("\u00c3\u00bc", "\u00fc"),  # -> u umlaut
    ("\u00c3\u00b1", "\u00f1"),  # -> n tilde
    ("\u00c3\u00a7", "\u00e7"),  # -> c cedilla
)

# &amp; decodes LAST: decoding it first would double-decode
# "&amp;lt;" (a literal "&lt;" in the source text) into "<".
HTML_ENTITY_REPAIRS: tuple[tuple[str, str], ...] = (
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", chr(34)),
    ("&#39;", chr(39)),
    ("&apos;", chr(39)),
    ("&nbsp;", " "),
    ("&amp;", "&"),
)

# Deleted outright: C0/C1 controls (minus tab/newline/CR, which are
# whitespace and fold into the collapse), DEL, zero-width
# space/joiners, BOM, soft hyphen. \x{...} escapes parse
# identically in Java regex (Spark) and RE2 (DuckDB).
STRIP_CHARS_RE = (
    r"[\x00-\x08\x0B\x0C\x0E-\x1F\x7F-\x9F"
    r"\x{200B}-\x{200D}\x{FEFF}\x{00AD}]"
)

# Whitespace runs (plus N\P, which Java \s excludes) collapse to one
# ASCII space; trim then drops the possible leading/trailing space.
WS_COLLAPSE_RE = r"[\s\x{00A0}]+"


def repair_text(col: Column) -> Column:
    """Encoding-normalization projection (X157): mojibake repair ->
    HTML-entity decode -> control/zero-width strip -> whitespace
    collapse + trim. Pure chained literal ``replace`` +
    ``regexp_replace`` -- per-row, codegen-eligible, zero shuffle --
    and restricted to constructs DuckDB replays byte-identically."""
    out = col
    for bad, good in MOJIBAKE_REPAIRS + HTML_ENTITY_REPAIRS:
        out = F.replace(out, F.lit(bad), F.lit(good))
    out = F.regexp_replace(out, STRIP_CHARS_RE, "")
    return F.trim(F.regexp_replace(out, WS_COLLAPSE_RE, " "))


def duck_repair_expr(col: str) -> str:
    """The DuckDB expression replaying :func:`repair_text` exactly,
    built from the same repair tables."""

    def sq(s: str) -> str:
        return s.replace(chr(39), chr(39) * 2)

    q = chr(39)
    out = col
    for bad, good in MOJIBAKE_REPAIRS + HTML_ENTITY_REPAIRS:
        out = f"replace({out}, {q}{sq(bad)}{q}, {q}{sq(good)}{q})"
    out = f"regexp_replace({out}, {q}{STRIP_CHARS_RE}{q}, {q}{q}, {q}g{q})"
    return (
        f"trim(regexp_replace({out}, {q}{WS_COLLAPSE_RE}{q}, "
        f"{q} {q}, {q}g{q}))"
    )
