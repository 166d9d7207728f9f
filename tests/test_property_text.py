"""Property-based parity (hypothesis): the Spark text functions agree
with their Python oracles on arbitrary generated input, not just the
hand-picked cases."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from tests.test_text_functions import (
    oracle_dedupe_key,
    oracle_fuzzy,
    oracle_normalize,
    oracle_trigram,
)
from trendr_data_pipeline_spark.functions import text as TX

# text with accents, punctuation, venue words, whitespace runs
_CHARS = st.text(alphabet=list("abcdefghij éèêëàâçœæ'’&.,-|\""), min_size=0, max_size=20)
_WORDS = st.lists(
    st.sampled_from(["café", "st", "Bar", "Restaurant", "cœur", "&"]), min_size=0, max_size=4
)
TEXT = st.builds(lambda c, ws: (c + " " + " ".join(ws)).strip(), _CHARS, _WORDS)

_SETTINGS = settings(
    max_examples=30,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.data_too_large],
)


@given(texts=st.lists(TEXT, min_size=1, max_size=8))
@_SETTINGS
def test_normalize_property(spark, texts):
    df = spark.createDataFrame([(t,) for t in texts], "t string")
    got = [r[0] for r in df.select(TX.normalize_text(F.col("t"))).collect()]
    assert got == [oracle_normalize(t) for t in texts]


@given(pairs=st.lists(st.tuples(TEXT, TEXT), min_size=1, max_size=6))
@_SETTINGS
def test_trigram_fuzzy_property(spark, pairs):
    df = spark.createDataFrame(pairs, "a string, b string")
    tri = [r[0] for r in df.select(TX.trigram_similarity(F.col("a"), F.col("b"))).collect()]
    fuz = [r[0] for r in df.select(TX.fuzzy_ratio(F.col("a"), F.col("b"))).collect()]
    for (a, b), t, fz in zip(pairs, tri, fuz):
        assert abs(t - oracle_trigram(a, b)) < 1e-12, (a, b)
        assert abs(fz - oracle_fuzzy(a, b)) < 1e-12, (a, b)


URL = st.builds(
    lambda host, path, suffix, lang: f"https://{host}.fr/{lang}{path}{suffix}",
    host=st.sampled_from(["www.site", "blog.site", "a.b.site"]),
    path=st.sampled_from(["articles/x", "p/deep/path", "x.html", "y.php"]),
    suffix=st.sampled_from(["", "-part2", "-v3", "-update", "-12"]),
    lang=st.sampled_from(["", "fr/", "en/", "us/en/"]),
)


@given(urls=st.lists(URL, min_size=1, max_size=8))
@_SETTINGS
def test_dedupe_key_property(spark, urls):
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    got = [r[0] for r in df.select(TX.dedupe_key(F.col("url"))).collect()]
    assert got == [oracle_dedupe_key(u) for u in urls]


def test_word_ngram_hash_flags_match_string_flags(spark):
    """Property: contamination flags computed over hashed grams must
    equal flags computed over string grams for random corpora (the
    hashed encoder is an internal join-key optimization, not a
    semantic change)."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from trendr_data_pipeline_spark.operators.dedup import (
        word_ngram_hashes,
        word_ngrams,
    )

    words = st.sampled_from(["aa", "bb", "cc", "dd", "ee", "ff"])
    doc = st.lists(words, min_size=0, max_size=12).map(" ".join)

    @given(texts=st.lists(doc, min_size=1, max_size=8))
    @settings(
        max_examples=15,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def inner(texts):
        df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
        n = 3
        str_grams = {
            r["doc_id"]: set(r["g"])
            for r in df.select("doc_id", word_ngrams(F.col("text"), n).alias("g")).collect()
        }
        hash_grams = {
            r["doc_id"]: set(r["g"])
            for r in df.select(
                "doc_id", word_ngram_hashes(F.col("text"), n).alias("g")
            ).collect()
        }
        # same gram counts per doc, and identical overlap structure
        for i in str_grams:
            assert len(str_grams[i]) == len(hash_grams[i]), texts[i]
        ids = list(str_grams)
        for a in ids:
            for b in ids:
                assert bool(str_grams[a] & str_grams[b]) == bool(
                    hash_grams[a] & hash_grams[b]
                ), (texts[a], texts[b])

    inner()


def test_shingle_hash_counts_match_string_shingles_random(spark):
    """Property: packed-byte shingles have exactly the string form's
    distinct counts and pairwise intersection sizes on random ASCII
    text (injective encoding — not a hash)."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from trendr_data_pipeline_spark.operators.dedup import shingle_hashes, shingle_set

    text = st.text(alphabet="abcdef ", min_size=0, max_size=30)

    @given(texts=st.lists(text, min_size=1, max_size=6))
    @settings(
        max_examples=15,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def inner(texts):
        df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, t string")
        rows = df.select(
            "doc_id",
            shingle_set(F.col("t"), 5).alias("s"),
            shingle_hashes(F.col("t"), 5).alias("h"),
        ).collect()
        strs = {r["doc_id"]: set(r["s"]) for r in rows}
        hshs = {r["doc_id"]: set(r["h"]) for r in rows}
        for i in strs:
            assert len(strs[i]) == len(hshs[i])
        ids = list(strs)
        for a in ids:
            for b in ids:
                assert len(strs[a] & strs[b]) == len(hshs[a] & hshs[b])

    inner()


@given(
    st.lists(
        st.lists(st.sampled_from(list("abcd")), min_size=0, max_size=12).map(" ".join),
        min_size=1, max_size=6,
    )
)
@_SETTINGS
def test_duplicated_spans_match_bruteforce(spark, docs_texts):
    """x13 property parity vs a brute-force Python oracle on random
    tiny-alphabet corpora (maximally collision-prone gram sets):
    window counts and covered-position unions must match exactly."""
    import re

    from trendr_data_pipeline_spark.operators.dedup import duplicated_span_coverage

    n = 3
    rows = [(i, t) for i, t in enumerate(docs_texts)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {r["doc_id"]: (r["n_tok"], r["n_dup_windows"], r["covered_tok"])
           for r in duplicated_span_coverage(df, n=n).collect()}

    toks = {i: [w for w in re.split(r"\s+", t.lower()) if w] for i, t in rows}
    gram_docs: dict[tuple, set] = {}
    for i, ts in toks.items():
        for j in range(len(ts) - n + 1):
            gram_docs.setdefault(tuple(ts[j:j + n]), set()).add(i)
    dup = {g for g, ds in gram_docs.items() if len(ds) >= 2}
    want = {}
    for i, ts in toks.items():
        wins = [j for j in range(len(ts) - n + 1) if tuple(ts[j:j + n]) in dup]
        covered = set()
        for j in wins:
            covered.update(range(j, j + n))
        want[i] = (len(ts), len(wins), len(covered))
    assert got == want
