"""Text-analysis expression builders for large-scale corpus pipelines.

Everything here is a pure Spark SQL *expression builder* — shingling,
MinHash, SimHash, token stats, language ID, fingerprints all compile
to Catalyst higher-order functions (transform/aggregate/sequence)
that run inside whole-stage codegen on the JVM. No Python UDFs: at
100 TB the per-row Python hop would dominate the job.

One rule for every builder: it takes SQL fragments (a column name or
a nested builder call) and returns SQL text. Callers parse it once,
``F.expr(tokens("text"))`` or ``selectExpr(f"{tokens('text')} AS t")``:
one py4j round-trip per projection, where building the same trees
from Column objects cost one per node (~1,430 for a q32 build).
A fragment spliced inside a builder's lambda must not name that
lambda's variables (``t``, ``i``, ``s``, ``acc``, ...).

Hashing convention: 60-bit values derived from md5 (first 15 hex
chars), which is identical in every engine — chosen over xxhash /
murmur so DuckDB oracles can reproduce results bit-for-bit.
"""

from __future__ import annotations

# Tiny per-language stopword lists for the n-gram/stopword language
# heuristic. Deliberately small and deterministic.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a", "in", "is", "it", "that", "for"),
    "fr": ("le", "la", "et", "les", "des", "un", "une", "du", "est", "pour"),
    "es": ("el", "la", "de", "los", "las", "un", "una", "es", "por", "para"),
    "de": ("der", "die", "das", "und", "ist", "ein", "eine", "von", "mit", "für"),
}


def sql_str(s: str) -> str:
    """``s`` as a Spark SQL string literal (quotes and backslashes
    escaped), for splicing caller-supplied text into fragments."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def h60(s: str, seed: int | None = None) -> str:
    """Deterministic 60-bit hash of a string expression (md5-based).

    Cross-engine reproducible: DuckDB equivalent is
    ``CAST(('0x' || substr(md5(s || '#' || seed), 1, 15)) AS BIGINT)``.
    """
    if seed is not None:
        s = f"concat({s}, '#', '{seed}')"
    return (
        f"CAST(conv(substring(md5(encode({s}, 'UTF-8')), 1, 15), 16, 10) "
        f"AS BIGINT)"
    )


def h60_fast(s: str) -> str:
    """60-bit hash via native ``xxhash64`` — one codegen'd JVM call
    per element vs md5's hash + hex-substring + base-conv chain
    (~3-5x less CPU over a 100 TB shingle stream). NOT cross-engine
    reproducible: use ``h60`` wherever a DuckDB oracle must replay
    the exact hashes. Masked to 60 bits so downstream modular
    arithmetic (minhash seeds, simhash bit folds) sees the same
    non-negative range as h60."""
    return f"(xxhash64({s}) & {(1 << 60) - 1})"


def tokens(text: str) -> str:
    """Whitespace tokenization (lowercased), empty tokens removed."""
    return f"filter(split(lower({text}), '\\\\s+'), t -> t != '')"


def bigrams(ts: str) -> str:
    """Adjacent word-bigram array from a MATERIALIZED token array.

    ``ts`` must name an already-projected column (same inlining caveat
    as :func:`char_shingles`): the per-position lambda indexes it
    twice per bigram.  Returns an empty array for <2 tokens.
    """
    return (
        f"CASE WHEN size({ts}) >= 2 THEN transform(sequence(1, size({ts}) - 1), "
        f"i -> concat_ws(' ', element_at({ts}, i), element_at({ts}, i + 1))) "
        f"ELSE CAST(array() AS ARRAY<STRING>) END"
    )


def char_shingles(lowered: str, k: int = 5, distinct: bool = True) -> str:
    """Character k-gram shingle set.

    ``lowered`` MUST name a materialized (already-selected) lowercase
    column, not an inline ``lower(text)`` expression: the per-position
    lambda references it once per shingle, and Catalyst inlines
    single-use projected expressions into lambdas — an inline lower()
    would be recomputed O(len) times (O(len²) total). Referencing the
    column here twice (length + lambda) keeps the projection
    materialized.
    """
    sh = (
        f"transform(sequence(1, greatest(length({lowered}) - {k - 1}, 1)), "
        f"i -> substring({lowered}, i, {k}))"
    )
    return f"array_distinct({sh})" if distinct else sh


def word_ngrams(toks: str, n: int = 3) -> str:
    """Distinct word n-grams (space-joined) from a materialized tokens
    column (same inlining caveat as ``char_shingles``: pass an
    attribute, not an inline ``tokens(text)`` expression)."""
    return f"array_distinct({word_ngrams_all(toks, n)})"


# Mersenne prime 2^31-1: universal-hash modulus. (h % P) * (2j+1) stays
# under 2^36, so the arithmetic never overflows ANSI bigint in any engine.
HASH_P = 2_147_483_647


def hash_array(strings: str, fast: bool = False) -> str:
    """One 60-bit hash per array element — the single expensive
    hashing pass; everything downstream derives from these integers.
    ``fast=True`` swaps md5 for native xxhash64 (see ``h60_fast``):
    same downstream algebra, no oracle reproducibility."""
    fn = h60_fast if fast else h60
    return f"transform({strings}, s -> {fn('s')})"


def minhash_signature(hashes: str, num_hashes: int = 16) -> str:
    """MinHash signature from pre-hashed elements (see ``hash_array``).

    Per-seed hashes are derived arithmetically — ``((h % P) * (2j+1)
    + 7919 j) % P`` — instead of re-hashing every shingle per seed,
    so the md5 cost is O(|shingles|), not O(num_hashes · |shingles|).
    The signature is O(num_hashes) per document regardless of size, so
    the downstream LSH join shuffles only signatures, never documents.

    Single-pass fold: the hash array sits in ``aggregate``'s *input*
    position (evaluated once per row no matter how Catalyst collapses
    projections); the fold maintains all ``num_hashes`` running minima
    at once via ``zip_with``.
    """
    return (
        f"aggregate({hashes}, "
        f"array_repeat(CAST({HASH_P} AS BIGINT), {num_hashes}), "
        f"(acc, h) -> zip_with(acc, sequence(0, {num_hashes - 1}), "
        f"(m, j) -> least(m, ((h % {HASH_P}) * (j * 2 + 1) + j * 7919) "
        f"% {HASH_P})))"
    )


def lsh_band_keys(signature: str, bands: int, rows_per_band: int) -> str:
    """Array of (band_idx, band_hash) structs for LSH bucketing.

    Documents agreeing on any band land in the same bucket; the
    bucket join replaces the O(n²) pair comparison.
    """
    return (
        f"transform(sequence(0, {bands - 1}), "
        f"b -> struct(b AS band, md5(encode(concat_ws(',', "
        f"transform(slice({signature}, b * {rows_per_band} + 1, "
        f"{rows_per_band}), x -> CAST(x AS STRING))), 'UTF-8')) AS bucket))"
    )


def simhash60_from_hashes(hashes: str) -> str:
    """60-bit SimHash from pre-hashed tokens (see ``hash_array``).

    Bit b of the result is 1 iff the sum over tokens of
    (bit b of h60(token)) * 2 - 1 is positive.

    Single pass over the hash array: the inner ``aggregate`` folds all
    60 bit-vote counters at once (``zip_with`` against the bit-index
    sequence), so the hash expression — which Catalyst may inline into
    the aggregate's input position — is still evaluated exactly once
    per row. The shift amount is a lambda variable, which SQL's
    ``shiftright`` accepts (pyspark's only takes int literals).
    """
    return """aggregate(
              zip_with(
                aggregate({hs},
                  array_repeat(0, 60),
                  (acc, h) -> zip_with(acc, sequence(0, 59),
                    (c, b) -> c + CAST(((shiftright(h, b) & 1) * 2 - 1) AS INT))),
                sequence(0, 59),
                (c, b) -> CASE WHEN c > 0 THEN shiftleft(CAST(1 AS BIGINT), b)
                          ELSE CAST(0 AS BIGINT) END),
              CAST(0 AS BIGINT), (acc, x) -> acc | x)""".format(hs=hashes)


def jaccard(a: str, b: str) -> str:
    """Exact Jaccard similarity of two distinct-element arrays.

    The intersection size is bound ONCE as an ``aggregate`` input
    (single-element array -> lambda variable) instead of appearing as
    three textual copies inside the CASE tree: a naive
    ``CASE WHEN union > 0 THEN inter / union`` expands to three
    ``array_intersect`` subtrees, and when a caller filters on the
    result the pushed-down predicate duplicates all of them into the
    join condition — measured SIX intersect evaluations per verified
    pair in the q32 plan.  With the binding, each expression instance
    evaluates the intersect exactly once (plan shows 2: once in the
    pushed filter, once in the surviving-row projection).
    """
    sizes = f"CAST(size({a}) + size({b}) AS DOUBLE)"
    return (
        f"aggregate(array(CAST(size(array_intersect({a}, {b})) AS DOUBLE)), "
        f"0.0D, (acc, i) -> CASE WHEN {sizes} - i > 0 "
        f"THEN i / ({sizes} - i) ELSE 0.0D END)"
    )


def token_count(text: str) -> str:
    """Whitespace token count."""
    return f"size({tokens(text)})"


def bpe_ish_token_count(text: str) -> str:
    """BPE-ish token estimate: count of word/number/punct chunks.

    Splits words longer than 4 chars into ceil(len/4) subword units —
    a deterministic stand-in for a real tokenizer's piece count.
    """
    return (
        f"aggregate({tokens(text)}, CAST(0 AS BIGINT), "
        f"(acc, t) -> acc + CAST(ceil(length(t) / 4.0D) AS BIGINT))"
    )


def _lit_array(words: tuple[str, ...]) -> str:
    """Literal string array (``IN`` lists are unusable inside HOF
    lambdas)."""
    return "array(" + ", ".join(map(sql_str, words)) + ")"


def quality_features(text: str, toks: str) -> dict[str, str]:
    """Quality-scoring features: length, word stats, ratios.

    ``toks`` must name a materialized tokens column (see the
    ``char_shingles`` inlining caveat) — it is referenced by several
    features and would otherwise be re-tokenized per feature.
    """
    n_tok = f"CAST(size({toks}) AS DOUBLE)"
    n_chars = f"CAST(length({text}) AS DOUBLE)"
    alpha = (
        f"CAST(length(regexp_replace(lower({text}), '[^a-z]', '')) AS DOUBLE)"
    )
    punct = f"CAST(length(regexp_replace({text}, '[^.,;:!?]', '')) AS DOUBLE)"
    stop_en = _lit_array(LANG_STOPWORDS["en"])
    n_stop = (
        f"CAST(size(filter({toks}, t -> array_contains({stop_en}, t))) "
        f"AS DOUBLE)"
    )
    guard = "CASE WHEN {c} > 0 THEN {v} ELSE 0.0D END"
    return {
        "n_chars": n_chars,
        "n_tokens": n_tok,
        "alpha_ratio": guard.format(c=n_chars, v=f"{alpha} / {n_chars}"),
        "punct_ratio": guard.format(c=n_chars, v=f"{punct} / {n_chars}"),
        "stopword_ratio": guard.format(c=n_tok, v=f"{n_stop} / {n_tok}"),
        "mean_word_len": guard.format(c=n_tok, v=f"{alpha} / {n_tok}"),
    }


def lang_scores(toks: str) -> dict[str, str]:
    """Stopword-hit count per language (language-ID heuristic)."""
    return {
        lang: f"size(filter({toks}, t -> array_contains({_lit_array(sw)}, t)))"
        for lang, sw in LANG_STOPWORDS.items()
    }


def collapse_ws(text: str) -> str:
    """Lowercased, trimmed, whitespace runs collapsed to one space —
    the normalization behind exact-dedup keys and line dedup."""
    return f"regexp_replace(trim(lower({text})), '\\\\s+', ' ')"


def fingerprint60(text: str) -> str:
    """Document fingerprint: 60-bit hash of the normalized text
    (lowercased, whitespace collapsed) — exact-dedup key."""
    return h60(collapse_ws(text))


def word_ngrams_all(toks: str, n: int = 2) -> str:
    """ALL word n-grams (space-joined), duplicates kept — the
    multiset ``word_ngrams`` is the distinct set of. Repetition
    signals need the multiset (same inlining caveat: pass a
    materialized tokens column)."""
    return (
        f"transform(sequence(1, greatest(size({toks}) - {n - 1}, 1)), "
        f"i -> concat_ws(' ', slice({toks}, i, {n})))"
    )


def duplicate_ngram_fraction(grams: str) -> str:
    """Fraction of n-gram occurrences that are repeats of an earlier
    occurrence: ``1 - distinct/total`` over the n-gram multiset
    (Gopher-style repetition signal; Rae et al. 2021 use the dual
    "fraction of characters in duplicate n-grams"). 0 for empty
    inputs. Pass a materialized ``word_ngrams_all`` column."""
    total = f"CAST(size({grams}) AS DOUBLE)"
    return (
        f"CASE WHEN {total} > 0 THEN 1.0D - "
        f"CAST(size(array_distinct({grams})) AS DOUBLE) / {total} "
        f"ELSE 0.0D END"
    )


def top_ngram_fraction(grams: str) -> str:
    """Fraction of n-gram occurrences taken by the single most
    frequent n-gram (Gopher-style: a document whose top 2-gram covers
    >20% of all 2-grams is boilerplate/spam). Single-pass JVM
    expression: sort the multiset, then one fold tracking
    (previous gram, current run, best run) — no explode, no shuffle.
    """
    run = "CASE WHEN g = acc.prev THEN acc.run + 1 ELSE CAST(1 AS BIGINT) END"
    folded = (
        f"aggregate(array_sort({grams}), "
        f"struct('' AS prev, CAST(0 AS BIGINT) AS run, "
        f"CAST(0 AS BIGINT) AS best), "
        f"(acc, g) -> struct(g AS prev, {run} AS run, "
        f"greatest(acc.best, {run}) AS best))"
    )
    total = f"CAST(size({grams}) AS DOUBLE)"
    return (
        f"CASE WHEN {total} > 0 THEN CAST({folded}.best AS DOUBLE) / {total} "
        f"ELSE 0.0D END"
    )


# --- ingest cleaning (PII scrub / normalization) ---------------------------
# Standard pre-training text hygiene (C4/RefinedWeb-style): regex
# redaction of emails, phone numbers, IPs, and URLs, plus whitespace
# and control-char normalization. Pure regexp_replace expressions —
# JVM-side, codegen'd, no UDFs.

_PII_PATTERNS = (
    # order matters: emails and URLs first (they contain digit runs
    # and dots), then IPs (dot-separated digits would match the phone
    # pattern), phones last
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"https?://[^\s]+", "<URL>"),
    (r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    (r"(?<![\w.])\+?\d(?:[\s().-]*\d){6,13}(?!\d)", "<PHONE>"),
)


def scrub_pii(text: str) -> str:
    """Redact emails, URLs, IPv4 addresses, and phone numbers with
    typed placeholder tokens. Deliberately aggressive on digit runs
    (7-14 digits with separators read as phones) — pre-training
    hygiene favors recall over precision here."""
    out = text
    for pat, repl in _PII_PATTERNS:
        out = f"regexp_replace({out}, {sql_str(pat)}, {sql_str(repl)})"
    return out


_CONTROL_CHARS = r"[\x00-\x08\x0b-\x1f\x7f-\x9f]"
_BLANK_RUN = r"[ \t]+"


def normalize_text(text: str) -> str:
    """Ingest normalization: strip C0/C1 control chars (keep \\n\\t),
    collapse runs of spaces/tabs, trim."""
    no_ctl = f"regexp_replace({text}, {sql_str(_CONTROL_CHARS)}, '')"
    return f"trim(regexp_replace({no_ctl}, {sql_str(_BLANK_RUN)}, ' '))"


def charclass_counts(text: str) -> dict[str, str]:
    """Character-class census: uppercase / digit / punctuation /
    whitespace counts and ratios over the raw text.

    Mirrors the reference's quality heuristics (symbol-to-word and
    capital-ratio rules) as pure length-difference expressions — the
    count of class C is ``len(s) - len(regexp_replace(s, C, ''))``,
    entirely JVM-side, no UDF. ASCII classes only, so Java regex and
    RE2 (DuckDB oracle) agree byte-for-byte.
    """
    n_chars = f"CAST(length({text}) AS DOUBLE)"

    def _count(cls: str) -> str:
        return (
            f"CAST(length({text}) - length(regexp_replace({text}, "
            f"{sql_str(cls)}, '')) AS BIGINT)"
        )

    counts = {
        "n_upper": _count("[A-Z]"),
        "n_digit": _count("[0-9]"),
        "n_punct": _count("[.,;:!?]"),
        "n_space": _count("[ \\t\\n]"),
    }
    safe = f"CASE WHEN {n_chars} > 0 THEN {n_chars} ELSE 1.0D END"
    return {
        "n_chars": f"CAST(length({text}) AS BIGINT)",
        **counts,
        **{
            f"{k[2:]}_ratio": f"CAST({c} AS DOUBLE) / {safe}"
            for k, c in counts.items()
        },
    }


def readability_features(text: str) -> dict[str, str]:
    """Flesch reading-ease via deterministic proxies: words =
    whitespace tokens, sentences = ``[.!?]+`` runs (min 1),
    syllables = ``[aeiouy]+`` vowel groups in the lowercased text.

    The syllable proxy is the standard cheap estimator (one vowel
    group ~ one syllable); scores are comparable across documents,
    which is what corpus-quality filtering needs. All counts are
    ``regexp_extract_all`` sizes — vectorized, no UDF.
    """
    n_words = f"CAST(size({tokens(text)}) AS DOUBLE)"
    n_sents = (
        f"CAST(greatest(size(regexp_extract_all({text}, '[.!?]+', 0)), 1) "
        f"AS DOUBLE)"
    )
    n_syll = (
        f"CAST(size(regexp_extract_all(lower({text}), '[aeiouy]+', 0)) "
        f"AS DOUBLE)"
    )
    flesch = (
        f"CASE WHEN {n_words} > 0 THEN 206.835D - 1.015D * "
        f"({n_words} / {n_sents}) - 84.6D * ({n_syll} / {n_words}) "
        f"ELSE 0.0D END"
    )
    return {
        "n_words": f"CAST({n_words} AS BIGINT)",
        "n_sentences": f"CAST({n_sents} AS BIGINT)",
        "n_syllables": f"CAST({n_syll} AS BIGINT)",
        "flesch": flesch,
    }
