"""Pin the Spark SQL text/dedup fragments against DuckDB spellings.

Every hashing, shingling, MinHash, band-key, Jaccard, quality and
pair-expansion builder is SQL text that Spark parses (functions/text.py,
operators/dedup.py). Each test evaluates a builder on the same rows in
Spark and in an independent DuckDB spelling — the oracles' ``dd_*``
helpers (plans/queries_docs.py), or the spelling copied from the oracle
of the query that replays it — and asserts element-wise equality with no
tolerance. The pair expanders are pinned against ``itertools``.

The rows include the degenerate inputs: NULL text, ``""``, whitespace
only, a 1-char text, texts shorter than the shingle width ``k`` and the
n-gram width ``n``, unicode, and exact duplicates. Where the engines
disagree by design the test asserts the documented Spark value for that
row (``_NULL_TEXT`` below; ROADMAP lists them).
"""

from __future__ import annotations

import itertools

import pytest

from model_presto_spark.functions import text as T
from model_presto_spark.operators.dedup import _chain_pairs, _pairs_within
from model_presto_spark.plans.queries_docs import (
    dd_h60,
    dd_hash_array,
    dd_minhash,
    dd_shingles,
    dd_tokens,
)
from model_presto_spark.testing import eval_fragments

_NULL_TEXT = 9  # the id of the NULL-text row


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),
        (3, ""),
        (4, "a"),
        (5, "  mixed   Whitespace\tand UPPER case  "),
        (6, "héllo wörld ünicode text für tests"),
        (7, "repeat repeat repeat repeat repeat repeat"),
        (8, "the quick brown fox jumps over the lazy dog"),
        (_NULL_TEXT, None),
        (10, "   "),
        (11, "abc"),
        (12, "two words"),
        (13, "Is it the end? Yes. Of the story, for it is!"),
    ]
    return spark.createDataFrame(rows, "id INT, text STRING")


@pytest.fixture(scope="module")
def toksed(docs):
    return docs.selectExpr(
        "id",
        "text",
        "lower(text) AS lc",
        f"{T.tokens('text')} AS toks",
    ).localCheckpoint()


def _same(df, spark_sql, duck_sql, as_set=False, expect_spark=None):
    """Spark == DuckDB per row; ``expect_spark`` maps ids where the
    engines differ by design to the value Spark must produce."""
    got, want = eval_fragments(df, spark_sql, duck_sql)
    for k, v in (expect_spark or {}).items():
        assert got.pop(k) == v, k
        want.pop(k)
    if as_set:  # distinct-element arrays: DuckDB's list_distinct is unordered
        got = {k: None if v is None else sorted(v) for k, v in got.items()}
        want = {k: None if v is None else sorted(v) for k, v in want.items()}
    assert got == want


def test_h60_twins(docs):
    _same(docs, T.h60("text"), dd_h60("text"))
    _same(docs, T.h60("text", seed=7), dd_h60("text || '#' || '7'"))
    _same(docs, T.fingerprint60("text"), dd_h60(
        "regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')"
    ))
    # h60_fast (xxhash64) has no oracle spelling by design; pin its
    # 60-bit range instead. xxhash64(NULL) is the seed (42), so a NULL
    # string hashes to a real value.
    got, _ = eval_fragments(docs, T.h60_fast("text"), "NULL")
    assert got[_NULL_TEXT] == 42
    assert all(0 <= v < 1 << 60 for v in got.values())


def test_tokens_and_ngrams_twins(docs, toksed):
    _same(docs, T.tokens("text"), dd_tokens("text"))
    _same(docs, T.token_count("text"), f"len({dd_tokens('text')})")
    _same(
        docs,
        T.bpe_ish_token_count("text"),
        f"CAST(list_sum(list_transform({dd_tokens('text')}, "
        f"t -> CAST(ceil(length(t) / 4.0) AS BIGINT))) AS BIGINT)",
        # no tokens: the Spark fold starts at 0, DuckDB's list_sum over an
        # empty list is NULL (q38 sums per language, so totals agree)
        expect_spark={3: 0, 10: 0},
    )
    # q34's gram spelling; n = 3 exceeds the token count of several rows
    dd_grams = (
        "list_distinct(list_transform("
        "generate_series(1, greatest(len(toks) - 2, 1)), "
        "i -> array_to_string(toks[i:i+2], ' ')))"
    )
    _same(
        toksed, T.word_ngrams("toks", 3), dd_grams, as_set=True,
        # no tokens (NULL, "", blank): Spark pads to one '' gram — its
        # greatest() skips a NULL size and concat_ws renders an empty or
        # NULL slice as '' — where DuckDB has none (ROADMAP defect)
        expect_spark={3: [""], 10: [""], _NULL_TEXT: [""]},
    )


def test_shingles_and_hash_twins(toksed):
    _same(
        toksed, T.char_shingles("lc", 5), dd_shingles("lc", 5), as_set=True,
        # NULL text: one NULL shingle in Spark, none in DuckDB (ROADMAP
        # defect)
        expect_spark={_NULL_TEXT: [None]},
    )
    sh = toksed.selectExpr("id", f"{T.char_shingles('lc', 5)} AS s")
    _same(sh, T.hash_array("s"), dd_hash_array("s"))


def test_signature_band_jaccard_twins(spark, toksed):
    hs = toksed.selectExpr(
        "id", f"{T.hash_array(T.char_shingles('lc', 5))} AS hs"
    ).where("text IS NOT NULL").unionByName(
        # an empty hash set: Spark's fold keeps its initial P per seed,
        # DuckDB's list_min over nothing is NULL
        spark.createDataFrame([(99, [])], "id INT, hs ARRAY<BIGINT>")
    )
    empty_sig = [T.HASH_P] * 16
    _same(hs, T.minhash_signature("hs", 16), dd_minhash("hs", 16),
          expect_spark={99: empty_sig})
    sig = hs.selectExpr("id", f"{T.minhash_signature('hs', 16)} AS sig")
    # q32's band-key spelling
    dd_bands = (
        "list_transform(generate_series(0, 3), b -> {'band': b, "
        "'bucket': md5(array_to_string(list_transform("
        "sig[b * 4 + 1 : b * 4 + 4], x -> CAST(x AS VARCHAR)), ','))})"
    )
    _same(sig, T.lsh_band_keys("sig", 4, 4), dd_bands)
    # jaccard over every pair of hash sets, incl. self, disjoint and
    # empty pairs (q32's verify spelling; 0/0 is guarded to 0.0)
    pairs = hs.toDF("id_a", "a").crossJoin(hs.toDF("id_b", "b")).selectExpr(
        "id_a * 1000 + id_b AS id", "a", "b"
    )
    dd_jac = (
        "CASE WHEN len(a) + len(b) - len(list_intersect(a, b)) > 0 "
        "THEN CAST(len(list_intersect(a, b)) AS DOUBLE) "
        "/ (len(a) + len(b) - len(list_intersect(a, b))) ELSE 0.0 END"
    )
    _same(pairs, T.jaccard("a", "b"), dd_jac)


def test_simhash_twin(docs):
    # q33's spelling
    dd_simhash = f"""CAST(list_sum(list_transform(generate_series(0, 59), b ->
      CASE WHEN list_sum(list_transform({dd_tokens('text')},
             t -> (({dd_h60('t')} >> b) & 1) * 2 - 1)) > 0
      THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END)) AS BIGINT)"""
    _same(
        docs,
        T.simhash60_from_hashes(T.hash_array(T.tokens("text"))),
        dd_simhash,
        # NULL text: the Spark fold over a NULL array is NULL; DuckDB's
        # per-bit CASE falls through to 0 for every bit
        expect_spark={_NULL_TEXT: None},
    )


def test_lang_score_and_quality_twins(toksed):
    for lang, score in T.lang_scores("toks").items():
        words = ", ".join(f"'{w}'" for w in T.LANG_STOPWORDS[lang])
        _same(toksed, score, f"len(list_filter(toks, t -> t IN ({words})))")
    # q37's spelling
    n_chars = "CAST(length(text) AS DOUBLE)"
    n_tok = "CAST(len(toks) AS DOUBLE)"
    alpha = (
        "CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) "
        "AS DOUBLE)"
    )
    punct = "CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE)"
    stop = ", ".join(f"'{w}'" for w in T.LANG_STOPWORDS["en"])
    n_stop = f"CAST(len(list_filter(toks, t -> t IN ({stop}))) AS DOUBLE)"
    guard = "CASE WHEN {c} > 0 THEN {v} ELSE 0.0 END"
    dd_feats = {
        "n_chars": n_chars,
        "n_tokens": n_tok,
        "alpha_ratio": guard.format(c=n_chars, v=f"{alpha} / {n_chars}"),
        "punct_ratio": guard.format(c=n_chars, v=f"{punct} / {n_chars}"),
        "stopword_ratio": guard.format(c=n_tok, v=f"{n_stop} / {n_tok}"),
        "mean_word_len": guard.format(c=n_tok, v=f"{alpha} / {n_tok}"),
    }
    feats = T.quality_features("text", "toks")
    assert feats.keys() == dd_feats.keys()
    for k in feats:
        # NULL text: Spark's CASE guards fall to 0.0 on a NULL count,
        # DuckDB's as well — no exemption needed
        _same(toksed, feats[k], dd_feats[k])


def test_readability_twin(docs):
    # q131's spelling
    w = f"CAST(length({dd_tokens('text')}) AS DOUBLE)"
    s = "CAST(greatest(length(regexp_extract_all(text, '[.!?]+')), 1) AS DOUBLE)"
    syl = "CAST(length(regexp_extract_all(lower(text), '[aeiouy]+')) AS DOUBLE)"
    dd = {
        "n_words": f"CAST({w} AS BIGINT)",
        "n_sentences": f"CAST({s} AS BIGINT)",
        "n_syllables": f"CAST({syl} AS BIGINT)",
        "flesch": f"CASE WHEN {w} > 0 THEN 206.835 - 1.015 * ({w} / {s}) "
        f"- 84.6 * ({syl} / {w}) ELSE 0.0 END",
    }
    rf = T.readability_features("text")
    assert rf.keys() == dd.keys()
    for k in rf:
        _same(docs, rf[k], dd[k])


def test_pair_expansion_twins(spark):
    arrays = [[1, 2, 3, 4, 5], [10, 20], [7], [], None]
    df = spark.createDataFrame(
        list(enumerate(arrays)), "id INT, ids ARRAY<BIGINT>"
    )

    def expand(frag, where="true"):
        rows = df.where(where).selectExpr("id", f"{frag} AS p").collect()
        return {i: p if p is None else [tuple(x) for x in p] for i, p in rows}

    within = expand(_pairs_within("ids"))
    # the chain slice has length size - 1, which Spark rejects for an
    # empty array (ROADMAP defect; every caller keeps buckets of size > 1)
    chain = expand(_chain_pairs("ids"), "ids IS NULL OR size(ids) > 0")
    with pytest.raises(Exception, match="INVALID_PARAMETER_VALUE"):
        expand(_chain_pairs("ids"), "size(ids) = 0")
    for i, ids in enumerate(arrays):
        if ids is None:
            assert within[i] is None and chain[i] is None
            continue
        assert within[i] == list(itertools.combinations(ids, 2))
        if ids:
            assert chain[i] == list(itertools.pairwise(ids))
