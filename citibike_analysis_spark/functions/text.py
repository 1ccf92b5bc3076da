"""Text-analysis column expressions (north-star surface, SURVEY.md §7 stage 7).

Everything is built-in array/string expressions (split/transform/filter/
aggregate) — JVM-side, no Python UDFs — so the same code runs unchanged over
a 100 TB documents table. Token-level ops operate on an ``array<string>``
produced once by :func:`tokens` and reused across derived features (Catalyst
collapses the shared projection).
"""

from __future__ import annotations

import pandas as pd  # noqa: F401 — pandas_udf type hints resolve via module globals
from pyspark.sql import Column
from pyspark.sql import functions as F

#: Tiny language-marker stopword lists for the n-gram/stopword language-ID
#: heuristic. Deliberately small and deterministic.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in", "is", "a"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein"),
    "es": ("el", "la", "los", "las", "es", "una", "que"),
    "fr": ("le", "la", "les", "et", "est", "une", "que"),
    "zh": ("de5", "shi4", "le5", "zai4", "he2", "you3", "wo3"),
}

#: Default stopword list for quality scoring.
STOPWORDS = ("the", "a", "and", "of", "to", "in", "is", "it", "that", "for")


def tokens(text: Column | str) -> Column:
    """Whitespace tokenization → array<string> (empty tokens dropped)."""
    text = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(F.trim(text), r"\s+"), lambda t: t != "")


def token_count(text: Column | str) -> Column:
    """Number of whitespace-delimited tokens."""
    return F.size(tokens(text)).cast("long")


def ngrams_of(toks: Column, n: int) -> Column:
    """Word n-gram MULTISET (order-preserving, duplicates kept) from a
    token-array column — the building block for repetition scoring,
    where multiplicity is the signal. See :func:`shingles_of` for the
    expression-shape constraints (same body, no array_distinct).
    """
    k = F.size(toks) - (n - 1)
    # guard: sequence(1, 0) counts DOWN, and element_at past the end
    # throws under ANSI — documents with < n tokens get an empty set
    idx = F.when(k < 1, F.array().cast("array<int>")).otherwise(
        F.sequence(F.lit(1), k)
    )
    return F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, i + j) for j in range(n)]
        ),
    )


def shingles_of(toks: Column, n: int = 3) -> Column:
    """Word n-gram shingle set from a token-array column (distinct).

    ``toks`` MUST be a *column reference* to an already-projected token
    array, not the ``tokens(...)`` expression itself: the expression is
    embedded ``n`` times (once per ``element_at`` position) inside an
    interpreted lambda, so inlining re-tokenizes the document n times per
    shingle (measured ~10x slowdown). A named projection below survives —
    CollapseProject keeps non-cheap aliases referenced more than once.
    CAVEAT (r14): that protection does NOT cover an EXPLODE consumer —
    InferFiltersFromGenerate synthesizes a ``size(expr) > 0`` pre-filter
    and pushdown substitutes the projections into it, re-inlining
    tokens() per lambda element (O(n_tokens²·n) per doc; measured 407 s
    → 2.5 s on 200-token docs). Hot explode paths over long docs should
    explode positions and compute row-side instead — see
    ``operators/dedup.py::_kgram_positions`` for the pattern and the
    captured plan.

    Built with per-position ``element_at`` concat rather than
    ``slice``+``concat_ws``: higher-order expressions run interpreted
    (CodegenFallback), and slice allocates an array per shingle — the
    element_at form measures ~7x faster on real documents.
    """
    return F.array_distinct(ngrams_of(toks, n))


def shingles(text: Column | str, n: int = 3) -> Column:
    """Word-level n-gram shingles → array<string> (space-joined, distinct).

    The unit of near-duplicate detection: MinHash/LSH and n-gram Jaccard
    both consume this. Distinct because shingle *sets* define Jaccard.
    Convenience form for small inputs/tests — hot paths should project
    ``tokens()`` to a column first and use :func:`shingles_of` (see its
    docstring for why).
    """
    return shingles_of(tokens(text), n)


#: GPT-2-style pre-tokenization pattern, simplified to the subset both
#: Java regex (Spark) and RE2 (DuckDB) implement identically (no
#: lookahead — RE2 has none): contraction suffixes, space-prefixed
#: letter/digit runs, space-prefixed punctuation runs, whitespace runs.
BPE_ISH_PATTERN = r"'(?:[sdmt]|ll|ve|re)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"


def bpe_ish_tokens(text: Column | str) -> Column:
    """BPE-style pre-tokenization → array<string> (the unit an LLM
    tokenizer would merge from; counts approximate LLM token counts far
    better than whitespace splitting on code/punctuation-heavy text)."""
    text = F.col(text) if isinstance(text, str) else text
    return F.regexp_extract_all(text, F.lit(BPE_ISH_PATTERN), 0)


def bpe_ish_token_count(text: Column | str) -> Column:
    """Number of BPE-style pre-tokens (whitespace runs excluded —
    merged tokenizers fold leading spaces into the following token)."""
    return F.size(
        F.filter(bpe_ish_tokens(text), lambda t: F.trim(t) != "")
    ).cast("long")


def stopword_hits_tokens(
    toks: Column, words: tuple[str, ...] = STOPWORDS
) -> Column:
    """Count of tokens that are stopwords — over an already-projected
    token-array column (the shingles_of expression-shape rule: a token
    COLUMN is referenced for free; an inlined tokens(text) expression
    re-tokenizes per referencing site)."""
    arr = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(toks, lambda t: F.array_contains(arr, t))).cast("long")


def stopword_hits(text: Column | str, words: tuple[str, ...] = STOPWORDS) -> Column:
    """Count of tokens that are stopwords."""
    return stopword_hits_tokens(tokens(text), words)


def punct_ratio(text: Column | str) -> Column:
    """Fraction of characters that are not [a-zA-Z0-9 ] — crude noise score."""
    text = F.col(text) if isinstance(text, str) else text
    stripped = F.regexp_replace(text, r"[a-zA-Z0-9 ]", "")
    return F.length(stripped) / F.greatest(F.length(text), F.lit(1))


def lang_id_tokens(toks: Column) -> Column:
    """Heuristic language ID over a PROJECTED token-array column: argmax
    of marker-list hit counts. Ties break by the fixed ordering of
    ``LANG_MARKERS`` keys ('unk' when nothing matches) — fully
    deterministic, oracle-expressible. The scores reference the token
    column ~2× per language; as a column reference that is free, which
    is why callers should project tokens first (see :func:`lang_id`)."""
    scores = {
        lang: stopword_hits_tokens(toks, LANG_MARKERS[lang])
        for lang in LANG_MARKERS
    }
    best = F.greatest(*scores.values())
    out = F.lit("unk")
    for lang in reversed(list(LANG_MARKERS)):  # earlier keys win ties
        out = F.when((scores[lang] > 0) & (scores[lang] == best), F.lit(lang)).otherwise(out)
    return out


def lang_id(text: Column | str) -> Column:
    """Heuristic language ID from raw text. Convenience form: this
    EMBEDS the tokenization once per marker-list reference (~10×
    re-tokenization per row — the inlining trap shingles_of documents;
    r04 review). Hot paths should project ``tokens(text)`` into a named
    column and call :func:`lang_id_tokens` (as q33 does)."""
    return lang_id_tokens(tokens(text))


def kgram_hashes_of(toks: Column, k: int = 3) -> Column:
    """Positional k-gram hash sequence (NOT distinct — order preserved).

    The winnowing substrate: element i hashes tokens [i, i+k). Same
    expression-shape rule as :func:`shingles_of`: pass a *projected*
    token-array column, never the ``tokens(...)`` expression.
    """
    n = F.size(toks) - (k - 1)
    # same short-document guard as shingles_of (sequence(1,0) counts down)
    idx = F.when(n < 1, F.array().cast("array<int>")).otherwise(
        F.sequence(F.lit(1), n)
    )
    return F.transform(
        idx,
        lambda i: F.xxhash64(
            F.concat_ws(" ", *[F.element_at(toks, i + j) for j in range(k)])
        ),
    )


def winnow_of(hashes: Column, w: int = 4) -> Column:
    """Winnowing fingerprint selection (Schleimer et al., SIGMOD'03
    "Winnowing: Local Algorithms for Document Fingerprinting"): slide a
    window of ``w`` over the positional k-gram hash sequence, keep each
    window's minimum, dedupe. Guarantee: two documents sharing a token
    run of ≥ w+k-1 tokens share at least one fingerprint — positional
    (unlike MinHash, which samples the global set), so it catches long
    verbatim spans inside otherwise-different documents.

    ``hashes`` must be a projected column (CSE-through-lambda rule).
    Documents with fewer than w k-grams contribute one window over what
    exists; empty documents produce an empty fingerprint set.
    """
    m = F.size(hashes) - (w - 1)
    upper = F.greatest(m, F.least(F.size(hashes), F.lit(1)))
    # sequence(1, 0) would count DOWN; empty docs need an empty window list
    widx = F.when(upper < 1, F.array().cast("array<int>")).otherwise(
        F.sequence(F.lit(1), upper)
    )
    fps = F.transform(widx, lambda i: F.array_min(F.slice(hashes, i, w)))
    return F.array_distinct(F.filter(fps, lambda x: x.isNotNull()))


def normalize_text(text: Column | str) -> Column:
    """Canonicalization for dedup: lowercase, strip non-alphanumerics to
    spaces, collapse whitespace runs, trim. Two documents differing only
    in case/punctuation/spacing normalize byte-identically — run exact
    or near-dup on the normalized form to catch them.

    Scope: ASCII character classes on purpose. Unicode-aware classes
    (``\\p{L}``) would keep non-Latin text, but unicode lowercasing
    rules differ between engines (Java vs RE2: Turkish i, ß, …), which
    would silently break cross-engine hash parity; widen only together
    with a normalization spec (NFKC + casefold via pandas_udf).
    """
    text = F.col(text) if isinstance(text, str) else text
    squashed = F.regexp_replace(F.lower(text), r"[^a-z0-9]+", " ")
    return F.trim(squashed)


#: PII patterns, restricted to the Java-regex ∩ RE2 common subset (no
#: lookaround, no backreferences — RE2 has neither) so the same pattern
#: string runs identically in Spark and any RE2-based engine. Both
#: engines use leftmost-first matching for these constructs. Redaction
#: order is load-bearing: SSN before PHONE (a phone pattern would eat
#: the digit runs of an SSN), EMAIL before IP (a host part can look
#: numeric); placeholders contain no digits so later patterns never
#: match inside earlier redactions.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "[SSN]"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "[IP]"),
    ("phone", r"\+?\b\d{3}[-. ]\d{3}[-. ]\d{4}\b", "[PHONE]"),
)


def redact_pii(text: Column | str) -> Column:
    """Sequentially replace emails, SSNs, IPv4 addresses, and phone
    numbers with typed placeholders — the PII-scrubbing pass of a
    training-data pipeline. Pure ``regexp_replace`` chain: JVM-side,
    codegen, no UDF; replace-all semantics in every engine (DuckDB
    needs the explicit 'g' flag — the oracle carries it)."""
    out = F.col(text) if isinstance(text, str) else text
    for _, pattern, placeholder in PII_PATTERNS:
        out = F.regexp_replace(out, pattern, placeholder)
    return out


def pii_counts(text: Column | str) -> dict[str, Column]:
    """Per-kind match counts, each measured INDEPENDENTLY on the
    original text (an SSN also counts as a phone-shaped digit run if the
    phone pattern matches it — counts are per-pattern audits, not a
    partition of the string; the sequential :func:`redact_pii` is where
    precedence applies)."""
    t = F.col(text) if isinstance(text, str) else text
    return {
        name: F.regexp_count(t, F.lit(pattern)).cast("long")
        for name, pattern, _ in PII_PATTERNS
    }


def nfc_lower(text: Column | str) -> Column:
    """Unicode canonicalization for dedup: NFC normalization + Unicode
    lowercase, as an Arrow-batched pandas UDF — the widening of
    :func:`normalize_text`'s deliberate ASCII scope to full Unicode.
    Composed vs decomposed accents (é vs e+◌́) and case variants
    normalize byte-identically, so exact dedup on the result catches
    encoding-variant duplicates.

    Convention: NFC + SIMPLE Unicode lowercase (one char → one char,
    no context) — the convention of SQL engines' ``lower`` (utf8proc /
    ICU simple mapping), which DuckDB's ``lower(nfc_normalize(s))``
    reproduces exactly (pytest pins parity on non-ASCII samples).
    Python's ``str.lower()`` is the FULL mapping and diverges in exactly
    two measured places: the context-sensitive Greek final sigma
    (ΣΑΣ → σας full vs σασ simple) and one-to-many İ → i+̇ (simple: i);
    per-character lowering with an İ override reproduces the simple
    mapping. Not ``casefold`` (ß→ss etc. diverges further). Python-side
    on purpose: the JVM has no NFC expression — this is the documented
    seam where a pandas UDF is the right tool (SURVEY.md §2.10), and it
    stays Arrow-vectorized per batch with an ASCII fast path.
    """
    import unicodedata

    from pyspark.sql.functions import pandas_udf

    def _simple_lower(x: str) -> str:
        if x.isascii():
            return x.lower()
        nfc = unicodedata.normalize("NFC", x)
        return "".join(map(str.lower, nfc.translate({0x130: "i"})))

    @pandas_udf("string")
    def _nfc_lower(s: pd.Series) -> pd.Series:
        return s.map(lambda x: None if x is None else _simple_lower(x))

    text = F.col(text) if isinstance(text, str) else text
    return _nfc_lower(text)


def bag_fingerprint(text: Column | str) -> Column:
    """Document fingerprint: md5 of the sorted distinct token bag.

    Catches reorder-only and repetition-only duplicates that exact-hash
    dedup misses; a cheap complement to shingle-based near-dup.

    NULL text → NULL fingerprint (``concat_ws`` would silently fold a
    NULL token array into '', making NULL-text documents byte-identical
    to empty ones — and diverging from the SQL oracle's NULL-in-NULL-out).
    """
    text = F.col(text) if isinstance(text, str) else text
    return F.when(
        text.isNotNull(),
        F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(tokens(text))))),
    )
