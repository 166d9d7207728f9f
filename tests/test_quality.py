"""Repetition-metric oracles: the shuffle-free sorted-run fold in
``operators/quality`` vs a plain-Python ``collections.Counter``
reference, on constructed corpora (multi-line, ties, degenerate) and
hypothesis-generated token streams."""

from __future__ import annotations

import re
from collections import Counter

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from trendr_data_pipeline_spark.operators.quality import repetition_metrics


def py_metrics(text: str) -> dict:
    """Reference implementation of repetition_metrics for one doc."""
    toks = [t for t in re.split(r"\s+", text.lower()) if t]
    lines = [ln for ln in text.split("\n") if ln.strip()]
    out: dict = {
        "dup_line_frac": None,
        "dup_line_char_frac": None,
        "rep_top_token_frac": None,
        "top_bigram_cnt": 0,
        "rep_top_bigram_frac": None,
    }
    if lines:
        out["dup_line_frac"] = round(1.0 - len(set(lines)) / len(lines), 6)
        total = sum(len(ln) for ln in lines)
        if total > 0:
            dedup = sum(len(ln) for ln in set(lines))
            out["dup_line_char_frac"] = round(1.0 - dedup / total, 6)
    if toks:
        c = Counter(toks)
        best = max(c.values())
        out["rep_top_token_frac"] = round(best / len(toks), 6)
    if len(toks) >= 2:
        grams = [f"{a} {b}" for a, b in zip(toks, toks[1:])]
        c = Counter(grams)
        best_cnt = max(c.values())
        best_gram = min(g for g, n in c.items() if n == best_cnt)
        out["top_bigram_cnt"] = best_cnt
        tok_chars = sum(len(t) for t in toks)
        if tok_chars > 0:
            out["rep_top_bigram_frac"] = round(
                best_cnt * (len(best_gram) - 1) / tok_chars, 6
            )
    return out


def spark_metrics(spark, texts: list[str]) -> list[dict]:
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    rows = repetition_metrics(df).orderBy("doc_id").collect()
    cols = [
        "dup_line_frac",
        "dup_line_char_frac",
        "rep_top_token_frac",
        "top_bigram_cnt",
        "rep_top_bigram_frac",
    ]
    return [{c: r[c] for c in cols} for r in rows]


CASES = [
    # repeated lines dominate
    "the cat sat\nthe cat sat\nthe cat sat\na dog ran",
    # all-distinct lines
    "alpha beta\ngamma delta\nepsilon zeta",
    # blank separator lines must not count as duplicates of each other
    "one two\n\n\none two\n\n",
    # tie between bigrams -> lexicographically smallest must win
    "b b a a b b a a",
    # single token / empty / whitespace-only degenerates
    "solo",
    "",
    "   \n \n  ",
    # heavy token repetition, overlapping bigram runs
    "go go go go go stop",
    # mixed case folds to the same token
    "The THE the tHe",
]


def approx_eq(a, b):
    if a is None or b is None:
        return a is None and b is None
    return a == pytest.approx(b, abs=2e-6)


def test_constructed_cases_match_reference(spark):
    got = spark_metrics(spark, CASES)
    for text, g in zip(CASES, got):
        want = py_metrics(text)
        for k, w in want.items():
            assert approx_eq(g[k], w), (text, k, g[k], w)


@settings(max_examples=25, deadline=None)
@given(
    st.lists(
        st.lists(
            st.sampled_from(["a", "b", "cc", "ddd", "éé", "b"]),
            min_size=0,
            max_size=30,
        ),
        min_size=1,
        max_size=8,
    )
)
def test_property_token_streams(spark, docs):
    texts = [" ".join(toks) for toks in docs]
    got = spark_metrics(spark, texts)
    for text, g in zip(texts, got):
        want = py_metrics(text)
        for k, w in want.items():
            assert approx_eq(g[k], w), (text, k, g[k], w)


def test_multiline_char_fraction_exact(spark):
    # 'xx' appears 3 times (chars 6, 2 original + 4 dup), 'y' once.
    text = "xx\nxx\ny\nxx"
    (g,) = spark_metrics(spark, [text])
    assert g["dup_line_frac"] == pytest.approx(1 - 2 / 4)
    assert g["dup_line_char_frac"] == pytest.approx(1 - 3 / 7)


def test_gate_columns_nonvacuous_on_fixture(spark):
    """The fixture's word-bag docs must produce varied, non-null
    repetition values — guards the t03 gate columns against silently
    degenerating to a constant."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    rows = repetition_metrics(docs).select("rep_top_token_frac", "top_bigram_cnt").collect()
    fracs = {r["rep_top_token_frac"] for r in rows if r["rep_top_token_frac"] is not None}
    assert len(fracs) > 10
    assert any(r["top_bigram_cnt"] and r["top_bigram_cnt"] > 1 for r in rows)


def test_dedup_lines(spark):
    from pyspark.sql import functions as F

    from trendr_data_pipeline_spark.operators.quality import dedup_lines

    cases = [
        ("a b\nc d\na b\n\nc d\ne", "a b\nc d\ne"),
        ("only", "only"),
        ("", ""),
        ("x\nx\nx", "x"),
        ("  \n\n  ", ""),
    ]
    df = spark.createDataFrame([(i, t) for i, (t, _) in enumerate(cases)], "i long, t string")
    got = {r["i"]: r["d"] for r in df.select("i", dedup_lines(F.col("t")).alias("d")).collect()}
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (i, got[i], want)


def test_quality_classifier_auc_and_determinism(spark):
    """x16: the LR pipeline separates the weak label on HELD-OUT rows
    (AUC ≥ 0.9 — the features contain the signal the label was built
    from, so failure means broken plumbing, not a hard task), the
    hash split is deterministic, and probabilities are calibrated to
    [0, 1]."""
    from trendr_data_pipeline_spark.operators.quality_model import (
        train_and_score_quality,
    )

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    out = train_and_score_quality(docs).collect()
    assert all(0.0 <= r["prob"] <= 1.0 for r in out)
    holdout = [r for r in out if not r["is_train"]]
    assert len(holdout) > 30
    # rank-based AUC (Mann-Whitney)
    pos = sorted(r["prob"] for r in holdout if r["label"] == 1.0)
    neg = sorted(r["prob"] for r in holdout if r["label"] == 0.0)
    assert pos and neg
    import bisect

    wins = sum(
        bisect.bisect_left(neg, p) + 0.5 * (bisect.bisect_right(neg, p) - bisect.bisect_left(neg, p))
        for p in pos
    )
    auc = wins / (len(pos) * len(neg))
    assert auc >= 0.9, f"held-out AUC too low: {auc}"
    again = train_and_score_quality(docs).collect()
    assert {r["doc_id"]: r["is_train"] for r in again} == {
        r["doc_id"]: r["is_train"] for r in out
    }


def test_classifier_after_observation(spark):
    """Regression: scoring must work in a session where a df.observe
    query has already run (A13). Model.transform's UDF closure drags
    the session's ObservationManager into task serialization and
    fails with "Task not serializable" once an Observation is
    registered; scoring via extracted-coefficient expressions (the
    serve-without-the-model practice) must be immune."""
    from trendr_data_pipeline_spark.operators.mentions import observed_run_summary
    from trendr_data_pipeline_spark.operators.quality_model import (
        train_and_score_quality,
    )

    df = spark.createDataFrame([("p1", "ACCEPT"), ("p2", "REJECT")],
                               "poi_id string, decision string")
    observed, obs = observed_run_summary(df)
    observed.collect()
    assert obs.get["n_candidates"] == 2
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = train_and_score_quality(docs).collect()
    assert len(out) > 0


def test_token_entropy_hand_values_and_edges(spark):
    """Hand-computed entropies under the gate's exact quantization
    (9-dp terms, 6-dp decimal accumulation), uniform and degenerate
    distributions, token-less docs absent."""
    from decimal import Decimal

    import math

    from trendr_data_pipeline_spark.operators.quality import token_entropy

    df = spark.createDataFrame(
        [(1, "a a b"), (2, "x x x x"), (3, "q w e r t y"), (4, "  "), (5, None),
         (6, "Tt tT")],  # case-folded: two equal tokens
        "doc_id long, text string",
    )
    got = {r["doc_id"]: (r["n_tok"], r["entropy"]) for r in token_entropy(df).collect()}
    assert set(got) == {1, 2, 3, 6}

    def h(counts):
        n = sum(counts)
        acc = Decimal(0)
        for c in counts:
            acc += Decimal(str(round(-(c / n) * math.log(c / n), 9))).quantize(
                Decimal("0.000001")
            )
        return float(round(acc, 6))

    assert got[1] == (3, h([2, 1]))
    assert got[2] == (4, 0.0)
    assert got[3] == (6, h([1] * 6))
    assert got[6] == (2, 0.0)


def test_grouped_quantile_rank_hand_built(spark):
    """⊕T24 (r10) vs a direct Python oracle: per-group strictly-below
    deciles, tie sharing, top clamp to n_q-1, NULL drop — and the
    calibration point: a group's bucket structure is invariant to the
    SCALE of its scores (the reason per-source thresholds beat one
    global cut)."""
    from trendr_data_pipeline_spark.operators.quality import grouped_quantile_rank

    rows = (
        [("a", float(v)) for v in range(1, 21)]        # 20 distinct values
        + [("b", 5.0)] * 4                              # all tied
        + [("c", 100.0), ("c", 200.0), ("c", 300.0), ("c", 400.0)]
        + [("c", None)]                                 # dropped
    )
    df = spark.createDataFrame(rows, "source string, quality double")
    got = grouped_quantile_rank(df, "quality", "source", n_q=10).collect()

    def oracle(group, v):
        vals = [x for g, x in rows if g == group and x is not None]
        below = sum(1 for x in vals if x < v)
        return min(9, (10 * below) // len(vals))

    assert len(got) == 28  # NULL row dropped
    for r in got:
        assert r["q_bucket"] == oracle(r["source"], r["quality"]), r
    # scale invariance: group c (100..400) has the same bucket
    # structure as 4 equally-ranked values anywhere: 0, 2, 5, 7
    assert sorted(r["q_bucket"] for r in got if r["source"] == "c") == [0, 2, 5, 7]
    # ties share: group b all in bucket 0
    assert {r["q_bucket"] for r in got if r["source"] == "b"} == {0}
    # top-decile-per-source selection keeps ~10% of each group
    top = [r for r in got if r["source"] == "a" and r["q_bucket"] >= 9]
    # sorted: collect() row order is partition-scheduling-dependent
    assert sorted(r["quality"] for r in top) == [19.0, 20.0]
