"""Text-analysis expressions for LLM training-data pipelines.

Extension surface beyond the reference (SURVEY.md §7.2 step 10): token
counting, shingling, quality metrics, language ID, fingerprinting —
each a **native Column expression builder** (JVM-side, codegen'd, no
Python UDFs) so they run at 100 TB the same way the CMS transforms do.

Determinism contract: every expression here has an exact ANSI-SQL
restatement (used by the DuckDB oracles in ``plans/llm.py``) — hashing
is md5-based (identical in any engine), ratios are IEEE double
divisions of integer counts, and no expression depends on row order.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# ----------------------------------------------------------------------
# tokenization / shingling
# ----------------------------------------------------------------------


def tokens(col: Column) -> Column:
    """Whitespace tokens of trimmed text; empty text → empty array."""
    t = F.trim(col)
    return F.when(t == "", F.array().cast("array<string>")).otherwise(
        F.split(t, r"\s+")
    )


def token_count(col: Column) -> Column:
    """Token count — the whitespace half of the reference-free
    tokenizer (a BPE-ish regex count is ``bpe_piece_count``)."""
    return F.size(tokens(col))


def bpe_piece_count(col: Column) -> Column:
    """BPE-ish piece count: runs of letters, runs of digits, or single
    non-alphanumeric non-space characters — a deterministic stand-in
    for subword tokenization cost estimates."""
    return F.size(
        F.regexp_extract_all(col, F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), 0)
    )


def word_shingles(col: Column, n: int = 3) -> Column:
    """Distinct n-grams of words, space-joined (``"a b c"``), the unit
    for Jaccard near-dup detection. Texts with <n tokens → empty."""
    t = tokens(col)
    grams = F.transform(
        F.sequence(F.lit(1), F.size(t) - (n - 1)),
        lambda i: F.concat_ws(" ", F.slice(t, i, n)),
    )
    return F.when(F.size(t) >= n, F.array_distinct(grams)).otherwise(
        F.array().cast("array<string>")
    )


# ----------------------------------------------------------------------
# quality metrics
# ----------------------------------------------------------------------

#: compact English stopword list for quality/lang scoring (public,
#: standard closed-class words)
STOPWORDS = {
    "en": ("the", "a", "an", "of", "and", "to", "in", "is", "it", "that", "for", "on", "with", "as"),
    "de": ("der", "die", "das", "und", "ist", "von", "zu", "mit", "den", "nicht", "ein", "eine"),
    "es": ("el", "la", "los", "las", "de", "y", "es", "en", "que", "un", "una", "por", "con"),
    "fr": ("le", "la", "les", "et", "est", "de", "des", "un", "une", "que", "pour", "dans"),
}


def _hit_count(toks: Column, words: tuple[str, ...]) -> Column:
    wordlist = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(toks, lambda t: F.array_contains(wordlist, F.lower(t))))


def stopword_ratio(col: Column, lang: str = "en") -> Column:
    """Fraction of tokens that are closed-class stopwords — the classic
    'is this prose or noise' signal."""
    t = tokens(col)
    return F.when(F.size(t) > 0, _hit_count(t, STOPWORDS[lang]) / F.size(t)).otherwise(
        F.lit(0.0)
    )


def punct_ratio(col: Column) -> Column:
    """Punctuation characters per character of text.

    Counted with ``regexp_count`` rather than length-of-
    ``regexp_replace`` (optimization round 12): a single-char-class
    match consumes exactly one character, so the match count equals the
    removed-length difference (same regex engine, same class — parity
    verified value-for-value at sf1, and the DuckDB oracles keep their
    independent length-of-replace form), while the count is one scan
    with no replacement-string allocation per document — measured 2×
    on the punct+digit lanes at sf1 (0.97 → 0.50 s)."""
    n = F.length(col)
    punct = F.regexp_count(col, F.lit(r"[^\w\s]"))
    return F.when(n > 0, punct / n).otherwise(F.lit(0.0))


def digit_ratio(col: Column) -> Column:
    """Digit characters per character of text (see :func:`punct_ratio`
    for the regexp_count-vs-replace rationale)."""
    n = F.length(col)
    digits = F.regexp_count(col, F.lit(r"[0-9]"))
    return F.when(n > 0, digits / n).otherwise(F.lit(0.0))


def quality_score(col: Column) -> Column:
    """Composite [0,1] quality score: length sweet spot + stopword
    presence − punctuation/digit noise. Deterministic double math; the
    exact formula is mirrored in the DuckDB oracle.
    """
    n_tok = token_count(col)
    length_component = F.least(n_tok / F.lit(50.0), F.lit(1.0))
    stop_component = F.least(stopword_ratio(col) * 5.0, F.lit(1.0))
    noise = F.least(punct_ratio(col) * 4.0 + digit_ratio(col) * 2.0, F.lit(1.0))
    score = 0.5 * length_component + 0.5 * stop_component - 0.25 * noise
    return F.greatest(F.least(score, F.lit(1.0)), F.lit(0.0))


# ----------------------------------------------------------------------
# language identification
# ----------------------------------------------------------------------


def lang_ratio_columns(col: Column) -> dict[str, Column]:
    """Per-language stopword hit ratio expressions, one per language.

    Materialize these as real columns (one ``select``) before the
    argmax: referencing each ratio several times inside the nested CASE
    would otherwise duplicate the whole token-scan subtree per
    reference — a measured ~20× plan blowup at sf0.1.
    """
    t = tokens(col)
    n = F.size(t)
    return {
        lang: F.when(n > 0, _hit_count(t, STOPWORDS[lang]) / n).otherwise(F.lit(0.0))
        for lang in sorted(STOPWORDS)
    }


def langid_from_ratios(ratios: dict[str, Column], min_ratio: float = 0.1) -> Column:
    """Argmax over precomputed ratio columns with deterministic
    tie-break: languages evaluated in sorted order, strict ``>`` keeps
    the earliest maximum; below ``min_ratio`` → 'unknown'."""
    best_lang = F.lit("unknown")
    best_ratio = F.lit(min_ratio).cast("double")
    for lang in sorted(ratios):
        is_better = ratios[lang] > best_ratio
        best_lang = F.when(is_better, F.lit(lang)).otherwise(best_lang)
        best_ratio = F.when(is_better, ratios[lang]).otherwise(best_ratio)
    return best_lang


def langid(col: Column, min_ratio: float = 0.1) -> Column:
    """Heuristic language ID as a single expression (convenience form;
    for wide scans prefer ``lang_ratio_columns`` + a select +
    ``langid_from_ratios`` so each ratio is computed once)."""
    return langid_from_ratios(lang_ratio_columns(col), min_ratio)


# ----------------------------------------------------------------------
# fingerprinting
# ----------------------------------------------------------------------


def normalized_text(col: Column) -> Column:
    """Canonical form for exact-dup hashing: lowercase, collapse runs
    of whitespace, trim."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def content_fingerprint(col: Column) -> Column:
    """md5 of the normalized text — the exact-dedup grouping key."""
    return F.md5(normalized_text(col))


#: Rabin-Karp parameters: base > alphabet, Mersenne-prime modulus small
#: enough that h*B + c never leaves BIGINT range
ROLLING_BASE = 257
ROLLING_MOD = 2_147_483_647


def rolling_fingerprint(col: Column) -> Column:
    """Rabin-Karp rolling hash of the normalized text: the left fold
    ``h = (h*B + codepoint) mod M`` over characters — the incremental
    fingerprint whose window form powers content-defined chunking.

    The fold is order-dependent by construction (that's the point of a
    rolling hash), so it runs as a per-document ``aggregate`` over the
    character array — one doc never spans partitions, so the plan stays
    embarrassingly parallel. Empty/whitespace-only docs pin to 0.
    """
    t = normalized_text(col)
    folded = F.aggregate(
        F.split(t, ""),
        F.lit(0).cast("long"),
        lambda h, c: (h * F.lit(ROLLING_BASE) + F.ascii(c)) % F.lit(ROLLING_MOD),
    )
    return F.when(F.length(t) == 0, F.lit(0).cast("long")).otherwise(folded)


#: number of simhash bits (one per md5 hex nibble)
SIMHASH_BITS = 32


def simhash_nibble_contrib(token_md5: Column, bit: int) -> Column:
    """±1 contribution of one token to simhash bit ``bit``: the parity
    of hex nibble ``bit`` of the token's md5. Engine-portable: md5 +
    substring + strpos exist everywhere with identical results."""
    nibble = (
        F.instr(F.lit("0123456789abcdef"), F.substring(token_md5, bit + 1, 1)) - 1
    )
    return (nibble % 2) * 2 - 1


def _nibble_contrib_sql(col: str, bit: int) -> str:
    """SQL twin of :func:`simhash_nibble_contrib` (same ops, same
    order) — built as ONE parsed fragment because constructing the
    per-bit Column chains through py4j costs ~6 driver round trips per
    bit and the 32/64-lane builders were spending more wall time
    building the DAG than executing it. ``col`` is an IDENTIFIER, not
    an expression — backtick-quoted so names needing quoting (dots,
    spaces) parse the same way the Column-based twin resolves them."""
    return (
        f"((instr('0123456789abcdef', substring(`{col}`, {bit + 1}, 1)) - 1) % 2)"
        f" * 2 - 1"
    )


def simhash32_agg_exprs(token_md5: str = "tok_md5") -> list[Column]:
    """The 32 per-bit SUM expressions for a grouped simhash: use after
    exploding tokens, ``groupBy(doc)``; combine with
    :func:`assemble_simhash`. Takes the md5 COLUMN NAME (the exprs are
    parsed SQL — see :func:`_nibble_contrib_sql`)."""
    return [
        F.expr(f"sum({_nibble_contrib_sql(token_md5, b)}) AS _sh{b}")
        for b in range(SIMHASH_BITS)
    ]


def assemble_simhash(prefix: str = "_sh") -> Column:
    """Fold the 32 per-bit sums into one integer: bit b set ⟺ sum > 0."""
    terms = " + ".join(
        f"(CASE WHEN {prefix}{b} > 0 THEN {1 << b}L ELSE 0L END)"
        for b in range(SIMHASH_BITS)
    )
    return F.expr(terms)


#: width of the wide simhash — 64 bits kills the tiny-bucket ceiling of
#: the 32-bit variant (16-bit bands ⇒ 65 536 buckets per band instead
#: of 256: at billions of documents, band buckets stay fine-grained
#: instead of degenerating into quadratic hot keys)
SIMHASH64_BITS = 64


def simhash64_agg_exprs(
    token_md5: str = "tok_md5", token_md5b: str = "tok_md5b"
) -> list[Column]:
    """The 64 per-bit SUM expressions: bits 0–31 from the parity of
    ``md5(token)``'s nibbles, bits 32–63 from ``md5('x' ‖ token)`` — two
    independent 128-bit digests give 64 independent ±1 lanes with the
    same engine-portable construction as the 32-bit variant. Takes the
    two md5 COLUMN NAMES (parsed SQL, see :func:`_nibble_contrib_sql`)."""
    exprs = [
        F.expr(f"sum({_nibble_contrib_sql(token_md5, b)}) AS _sh{b}")
        for b in range(32)
    ]
    exprs += [
        F.expr(f"sum({_nibble_contrib_sql(token_md5b, b - 32)}) AS _sh{b}")
        for b in range(32, SIMHASH64_BITS)
    ]
    return exprs


def assemble_simhash64(prefix: str = "_sh") -> Column:
    """Fold 64 per-bit sums into one signed long. Bit 63 is the sign
    bit: added as −2⁶³ (two's complement) so the value stays inside
    BIGINT in both engines — ``1 << 63`` would overflow."""
    terms = " + ".join(
        f"(CASE WHEN {prefix}{b} > 0 THEN {1 << b}L ELSE 0L END)"
        for b in range(SIMHASH64_BITS - 1)
    )
    sign = (
        f"(CASE WHEN {prefix}{SIMHASH64_BITS - 1} > 0 "
        f"THEN CAST(-9223372036854775808 AS BIGINT) ELSE 0L END)"
    )
    return F.expr(f"{terms} + {sign}")
