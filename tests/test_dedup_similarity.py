"""Operator-level tests: SimHash Python oracle, MinHash-LSH recall vs
exact Jaccard, embedding near-dup pairs and semantic dedup."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SMOKE_SF
from trendr_data_pipeline_spark.io import read_table
from trendr_data_pipeline_spark.operators.dedup import (
    _simhash_py,
    jaccard_similarity_pairs,
    minhash_lsh_pairs,
    simhash_fingerprints,
)
from trendr_data_pipeline_spark.operators.similarity import cosine_topk_bruteforce


def test_simhash_matches_python_oracle(spark):
    docs = read_table(spark, SMOKE_SF, "documents").limit(50)
    got = {r["id"]: r["simhash"] for r in simhash_fingerprints(docs).collect()}
    raw = docs.select("doc_id", "text").collect()
    import pandas as pd

    for r in raw:
        toks = sorted(set(w for w in r["text"].lower().split() if w))
        want = _simhash_py(pd.Series([toks])).iloc[0]
        assert got[r["doc_id"]] == want


def test_simhash_bands_cover_fingerprint(spark):
    docs = read_table(spark, SMOKE_SF, "documents").limit(20)
    rows = simhash_fingerprints(docs).collect()
    for r in rows:
        recon = 0
        for i in range(4):
            recon |= (r[f"band{i}"] & 0xFFFF) << (16 * i)
        assert recon == r["simhash"] & 0xFFFFFFFFFFFFFFFF


def test_minhash_lsh_equals_exact_jaccard(spark):
    docs = read_table(spark, SMOKE_SF, "documents")
    exact = {(r["id_a"], r["id_b"]) for r in jaccard_similarity_pairs(docs, 0.8).collect()}
    lsh = {(r["id_a"], r["id_b"]) for r in minhash_lsh_pairs(docs, 0.8).collect()}
    # recall at 0.8 with 32 bands of 4 is 1 - 5e-8 per pair — must be equal here
    assert lsh == exact
    assert exact  # fixture must actually contain near-dups


def test_incremental_topk_exact_equals_lsh(spark):
    from pyspark.sql import functions as F

    from trendr_data_pipeline_spark.operators.dedup import (
        jaccard_topk_join,
        minhash_lsh_topk_join,
    )

    docs = read_table(spark, SMOKE_SF, "documents")
    incoming = docs.filter(F.col("doc_id") % 10 == 0)
    exact = {(r["id_a"], r["id_b"], r["rk"]) for r in jaccard_topk_join(incoming, docs, 0.8).collect()}
    lsh = {(r["id_a"], r["id_b"], r["rk"]) for r in minhash_lsh_topk_join(incoming, docs, 0.8).collect()}
    assert exact == lsh
    assert exact


def test_shingle_set_parity_and_edges(spark):
    """Char n-gram shingles: JVM expression vs Python set-of-substrings,
    including shorter-than-n and empty strings."""
    from trendr_data_pipeline_spark.operators.dedup import shingle_set

    texts = ["Hello World", "abc", "abcde", "abcdef", "", "aaaaaaa", "ab cd ef"]
    df = spark.createDataFrame([(t,) for t in texts], "t string")
    got = {r["t"]: r["sh"] for r in df.select("t", shingle_set(F.col("t"), 5).alias("sh")).collect()}
    for t in texts:
        s = t.lower()
        want = sorted({s[i:i + 5] for i in range(len(s) - 4)}) if len(s) >= 5 else []
        assert got[t] == want, t


def test_ngram_jaccard_topk_matches_bruteforce(spark):
    """d05's exact shingle path vs a brute-force pairwise oracle."""
    from trendr_data_pipeline_spark.operators.dedup import jaccard_topk_join, shingle_set

    docs = read_table(spark, SMOKE_SF, "documents").limit(200)
    incoming = docs.filter(F.col("doc_id") % 50 == 0)
    got = {
        (r["id_a"], r["id_b"], r["jaccard"], r["rk"])
        for r in jaccard_topk_join(
            incoming, docs, threshold=0.25, k=10, tokset_fn=lambda c: shingle_set(c, 5)
        ).collect()
    }

    def sh(s):
        s = s.lower()
        return {s[i:i + 5] for i in range(len(s) - 4)}

    rows = [(r["doc_id"], sh(r["text"])) for r in docs.collect()]
    import collections

    per_a = collections.defaultdict(list)
    for ida, sa in rows:
        if ida % 50 != 0 or not sa:
            continue
        for idb, sb in rows:
            if idb == ida or not sb:
                continue
            j = round(len(sa & sb) / len(sa | sb), 6)
            if j >= 0.25:
                per_a[ida].append((j, idb))
    want = set()
    for ida, lst in per_a.items():
        lst.sort(key=lambda p: (-p[0], p[1]))
        for rk, (j, idb) in enumerate(lst[:10], start=1):
            want.add((ida, idb, j, rk))
    assert got == want


def test_embedding_near_dup_finds_planted_pairs(spark):
    """d06: every planted perturbed copy is recovered at cosine ≥0.99
    with its source as the ONLY match (the fixture corpus is isotropic,
    so no background pair reaches the threshold)."""
    import numpy as np

    from trendr_data_pipeline_spark.operators.similarity import embedding_near_dup_join

    emb = read_table(spark, SMOKE_SF, "embeddings")
    corpus = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    perturbed = emb.filter(F.col("vec_id") % 4 == 0).select(
        (F.col("vec_id") + 10_000_000).alias("vec_id"),
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x, i: x * (1 + ((i % 7) - 3) / F.lit(100.0)),
        ).alias("embedding"),
    )
    rows = embedding_near_dup_join(perturbed, corpus, threshold=0.99).collect()
    n_planted = emb.filter(F.col("vec_id") % 4 == 0).count()
    assert len(rows) == n_planted
    assert all(r["id_b"] == r["id_a"] - 10_000_000 for r in rows)

    # cosine of the planted perturbation, recomputed in numpy
    src = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in emb.collect()}
    f = np.array([1 + ((i % 7) - 3) / 100.0 for i in range(64)])
    for r in rows:
        v = src[r["id_b"]]
        p = v * f
        want = round(float(p @ v / (np.linalg.norm(p) * np.linalg.norm(v))), 6)
        assert abs(r["cosine_sim"] - want) <= 1e-6


def test_shingle_hashes_distinct_counts_match_strings(spark):
    """The packed-byte shingle form is injective on ASCII text: per-doc
    distinct counts — and hence every Jaccard the count-based join can
    produce — equal the string form's."""
    from trendr_data_pipeline_spark.operators.dedup import shingle_hashes, shingle_set

    docs = read_table(spark, SMOKE_SF, "documents").limit(100)
    rows = docs.select(
        F.size(shingle_set(F.col("text"), 5)).alias("n_str"),
        F.size(shingle_hashes(F.col("text"), 5)).alias("n_pack"),
    ).collect()
    assert rows and all(r["n_str"] == r["n_pack"] for r in rows)

    # edge cases: empty, shorter-than-n, repeated content
    edge = spark.createDataFrame([("",), ("abc",), ("aaaaaaa",), ("abcde",)], "t string")
    got = edge.select(
        F.size(shingle_set(F.col("t"), 5)).alias("n_str"),
        F.size(shingle_hashes(F.col("t"), 5)).alias("n_pack"),
    ).collect()
    assert all(r["n_str"] == r["n_pack"] for r in got)


def test_jaccard_df_cap_boundary_equivalence(spark):
    """The df stop-list with its exact hot-token correction must leave
    results bit-identical to the uncapped plan — at an aggressive cap
    (many hot tokens), at the provable-safety cap, and at a cap high
    enough to be a no-op."""
    from trendr_data_pipeline_spark.operators.dedup import jaccard_topk_join, shingle_hashes

    docs = read_table(spark, SMOKE_SF, "documents").limit(200)
    incoming = docs.filter(F.col("doc_id") % 50 == 0)
    n = docs.count()

    def result(df_cap):
        return sorted(
            tuple(r)
            for r in jaccard_topk_join(
                incoming, docs, threshold=0.25, k=10,
                tokset_fn=shingle_hashes, df_cap=df_cap,
            ).collect()
        )

    base = result(None)
    assert base  # fixture has qualifying pairs
    assert result(n) == base        # no token exceeds n docs → no-op cap
    assert result(int(0.60 * n)) == base  # the registered d05 setting (r14)
    assert result(int(0.78 * n)) == base  # the r4-r13 d05 setting
    assert result(int(0.30 * n)) == base  # aggressive: large H, correction still exact


def test_minhash_verify_legs_agree(spark):
    """The two exact-verification legs (array_intersect vs count-based
    token stream) must produce identical results — both are exact, so
    any divergence is a bug in one of them."""
    from trendr_data_pipeline_spark.operators.dedup import minhash_lsh_topk_join

    docs = read_table(spark, SMOKE_SF, "documents")
    pred = F.col("doc_id") % 10 == 0
    a = sorted(tuple(r) for r in minhash_lsh_topk_join(pred, docs, 0.8, k=20).collect())
    b = sorted(
        tuple(r)
        for r in minhash_lsh_topk_join(pred, docs, 0.8, k=20, verify="counts").collect()
    )
    assert a and a == b


def test_ngram_contamination_flags(spark):
    """Decontamination screen: a doc sharing an exact word-8-gram with
    the benchmark is flagged; shared vocabulary WITHOUT a shared
    8-token sequence is not; short docs (<8 tokens) never flag."""
    from trendr_data_pipeline_spark.operators.dedup import ngram_contamination_flags

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog tonight")],
        "doc_id long, text string",
    )
    docs = spark.createDataFrame(
        [
            # contains "quick brown fox jumps over the lazy dog" (8-gram) verbatim
            (1, "we saw the quick brown fox jumps over the lazy dog yesterday"),
            # same words, different order → no shared 8-gram
            (2, "dog lazy the over jumps fox brown quick the tonight"),
            # unrelated
            (3, "completely different content with no overlap whatsoever at all"),
            # shorter than 8 tokens
            (4, "quick brown fox jumps over"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["is_contaminated"]
        for r in ngram_contamination_flags(docs, bench, n=8).collect()
    }
    assert got == {1: True, 2: False, 3: False, 4: False}


def test_mix_sampling_deterministic_and_weighted(spark):
    """Data-mixture sampling: n_copies is a pure function of (salt,
    key); w=0 drops, integer parts are guaranteed, fractional parts
    land near the expected rate; apply_mix materializes exactly
    n_copies rows per key."""
    from trendr_data_pipeline_spark.operators.sampling import apply_mix, mix_n_copies

    n = 2000
    df = spark.range(n).select(F.col("id"), (F.col("id") % 4).alias("grp"))
    w = (
        F.when(F.col("grp") == 0, 0.0)
        .when(F.col("grp") == 1, 0.5)
        .when(F.col("grp") == 2, 1.0)
        .otherwise(2.25)
    )
    flags = df.select("id", "grp", mix_n_copies(F.col("id"), w).alias("n"))
    rows = {r["id"]: (r["grp"], r["n"]) for r in flags.collect()}
    # determinism: second evaluation identical
    again = {r["id"]: (r["grp"], r["n"]) for r in
             df.select("id", "grp", mix_n_copies(F.col("id"), w).alias("n")).collect()}
    assert rows == again
    per_grp = {}
    for _, (g, c) in rows.items():
        per_grp.setdefault(g, []).append(c)
    assert set(per_grp[0]) == {0}            # dropped
    assert set(per_grp[1]) <= {0, 1}         # Bernoulli(0.5)
    assert abs(sum(per_grp[1]) / len(per_grp[1]) - 0.5) < 0.1
    assert set(per_grp[2]) == {1}            # identity
    assert set(per_grp[3]) <= {2, 3}         # 2 + Bernoulli(0.25)
    assert abs(sum(per_grp[3]) / len(per_grp[3]) - 2.25) < 0.1

    # apply_mix materializes the exact multiplicities
    mixed = apply_mix(df, w, key_col="id")
    counts = {r["id"]: r["cnt"] for r in
              mixed.groupBy("id").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    for i, (_, c) in rows.items():
        assert counts.get(i, 0) == c


def test_jaccard_df_cap_safety_check(spark):
    """df_cap_check: the provable-exactness bound passes for a safe
    cap and raises for one where a minimal qualifying pair could share
    only hot tokens."""
    import pytest as _pytest

    from trendr_data_pipeline_spark.operators.dedup import jaccard_topk_join

    # corpus of 20 docs over a tiny vocabulary: every token is in
    # every doc (df = 20), set size = 10
    text = " ".join(f"w{i}" for i in range(10))
    docs = spark.createDataFrame([(i, text) for i in range(20)], "doc_id long, text string")
    incoming = docs.filter(F.col("doc_id") % 5 == 0)
    # cap 25 > max df 20 → zero hot tokens → bound holds trivially
    ok = jaccard_topk_join(incoming, docs, 0.5, k=5, df_cap=25, df_cap_check=True)
    assert ok.count() > 0
    # cap 1 → all 10 tokens hot; ceil(0.5·10) = 5 ≤ 10 → must raise
    with _pytest.raises(ValueError, match="not provably exact"):
        jaccard_topk_join(incoming, docs, 0.5, k=5, df_cap=1, df_cap_check=True).count()


def test_jaccard_pairs_df_cap_boundary_equivalence(spark):
    """The corpus-vs-corpus prefix-filter form: excluding hot tokens
    from the prefix candidate stream leaves the pair set identical at
    provably-safe caps (verification always uses full sets, and hot
    tokens sort last in the df-ascending prefix ordering). This 200-doc
    slice has min set size 9 at t=0.8 → the bound needs H < 8 hot
    tokens: cap 160 gives H=4 (safe); cap 60 makes the whole 31-token
    vocabulary hot (H=30 ≫ 8) and demonstrably loses pairs — exactly
    the regime df_cap_check guards against."""
    docs = read_table(spark, SMOKE_SF, "documents").limit(200)
    n = docs.count()
    base = sorted(tuple(r) for r in jaccard_similarity_pairs(docs, 0.8).collect())
    assert base
    for cap in (n, 160):
        capped = sorted(
            tuple(r) for r in jaccard_similarity_pairs(docs, 0.8, df_cap=cap).collect()
        )
        assert capped == base, f"df_cap={cap} changed the pair set"
    # unsafe cap: candidates can only shrink (never invent pairs), and
    # on this vocabulary-dense slice it really does lose pairs
    lossy = sorted(
        tuple(r) for r in jaccard_similarity_pairs(docs, 0.8, df_cap=60).collect()
    )
    assert set(lossy) <= set(base)
    assert lossy != base


def test_semantic_dedup_invariants(spark):
    """⊕D10 semantic dedup: survivors contain no near-dup pair, and
    labels agree with union-find over the exact pair graph (a dropped
    row's representative is its component minimum, which under
    transitive closure is near-dup to a CHAIN, not necessarily to the
    row itself)."""
    from pyspark.sql import functions as F

    from trendr_data_pipeline_spark.operators.similarity import (
        embedding_near_dup_join,
        semantic_dedup,
    )

    emb = read_table(spark, SMOKE_SF, "embeddings")
    labels = semantic_dedup(emb, threshold=0.99).collect()
    assert len(labels) == emb.count()

    pairs = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup_join(emb, emb, threshold=0.99)
        .filter(F.col("id_a") < F.col("id_b"))
        .collect()
    }
    # union-find reference
    nodes = {r["node"] for r in labels}
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp_min = {}
    for n in nodes:
        r = find(n)
        comp_min[r] = min(comp_min.get(r, n), n)
    want = {n: comp_min[find(n)] for n in nodes}
    got = {r["node"]: r["component"] for r in labels}
    assert got == want

    survivors = {r["node"] for r in labels if r["is_canonical"]}
    for a, b in pairs:
        assert not (a in survivors and b in survivors), (a, b)


def test_temperature_mix_flattens_sources(spark):
    """α=1/2 temperature mixing: every rate ≤ 1, smaller sources keep
    a HIGHER fraction than larger ones (the flattening property), the
    total kept mass lands near target_frac, and the decision is
    deterministic."""
    from trendr_data_pipeline_spark.operators.sampling import temperature_mix

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    out = temperature_mix(docs, target_frac=0.5, salt="tmix").collect()
    assert out, "no sources survived"
    rows = sorted(out, key=lambda r: r["n_docs"])
    for r in rows:
        assert 0.0 < r["rate_q"] <= 1.0
        assert r["n_kept"] <= r["n_docs"]
    # flattening: keep-rate is non-increasing in source size
    rates = [r["rate_q"] for r in rows]
    assert all(a >= b - 1e-9 for a, b in zip(rates, rates[1:]))
    total = sum(r["n_docs"] for r in rows)
    kept = sum(r["n_kept"] for r in rows)
    assert abs(kept / total - 0.5) < 0.1
    again = sorted(
        temperature_mix(docs, target_frac=0.5, salt="tmix").collect(),
        key=lambda r: r["n_docs"],
    )
    assert [tuple(r) for r in again] == [tuple(r) for r in rows]


def test_duplicated_span_coverage_planted(spark):
    """x13's semantics on a hand-built corpus: a 10-token span shared
    by two docs marks 3 windows each (10-8+1) covering all 10 tokens;
    a doc of unique tokens reports zero; short docs (<8 tokens)
    report zero windows."""
    from trendr_data_pipeline_spark.operators.dedup import duplicated_span_coverage

    span = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    docs = spark.createDataFrame(
        [
            (1, span),
            (2, span + " kilo lima"),
            (3, "uniq1 uniq2 uniq3 uniq4 uniq5 uniq6 uniq7 uniq8 uniq9"),
            (4, "tiny doc"),
        ],
        "doc_id bigint, text string",
    )
    out = {r["doc_id"]: r for r in duplicated_span_coverage(docs, n=8).collect()}
    assert out[1]["n_tok"] == 10 and out[1]["n_dup_windows"] == 3
    assert out[1]["covered_tok"] == 10 and out[1]["dup_frac"] == 1.0
    # doc 2 shares only the 3 windows inside the common 10-token span
    assert out[2]["n_dup_windows"] == 3 and out[2]["covered_tok"] == 10
    assert out[2]["dup_frac"] == round(10 / 12, 6)
    assert out[3]["n_dup_windows"] == 0 and out[3]["dup_frac"] == 0.0
    assert out[4]["n_tok"] == 2 and out[4]["n_dup_windows"] == 0


def test_hashed_vectors_round_trip_into_similarity(spark):
    """x20's dense companion: assemble_dense scatters the sparse rows
    into the exact dense vector (python oracle), and the result drops
    straight into the cosine top-k operator."""
    from trendr_data_pipeline_spark.operators.vectorize import (
        assemble_dense,
        hashed_tf_sparse,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    sparse = hashed_tf_sparse(docs, dim=64)
    srows = sparse.collect()
    dense = {r["doc_id"]: r["embedding"] for r in assemble_dense(sparse, dim=64).collect()}
    want: dict[int, list] = {}
    for r in srows:
        v = want.setdefault(r["doc_id"], [0.0] * 64)
        v[r["bucket"]] = float(r["w"])
    assert dense == want
    # all_ids keeps zero-vector docs (token-less / fully-cancelled)
    extra = spark.createDataFrame([(999999, "")], "doc_id bigint, text string")
    with_zero = assemble_dense(
        sparse, dim=64, all_ids=docs.select("doc_id").union(extra.select("doc_id"))
    ).collect()
    by_id = {r["doc_id"]: r["embedding"] for r in with_zero}
    assert by_id[999999] == [0.0] * 64
    assert {k: v for k, v in by_id.items() if k != 999999} == dense
    # shape-compatible with the similarity operators
    emb = assemble_dense(sparse, dim=64)
    queries = emb.filter(F.col("doc_id") % 100 == 0)
    top = cosine_topk_bruteforce(queries, emb, k=3, id_col="doc_id").collect()
    assert top and all(r["rk"] <= 3 for r in top)


def _unscoped_persisted_rdds(spark, before_ids):
    """Persistent RDDs added since `before_ids` that are NOT local
    checkpoints (localCheckpoint registers in the persistent map too,
    but is ContextCleaner-managed; a plain .persist()/.cache() left
    behind is the leak class the r4 ADVICE flagged)."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    leaked = []
    for entry in jmap.entrySet().toArray():
        rid = entry.getKey()
        if rid in before_ids:
            continue
        if not entry.getValue().rdd().isLocallyCheckpointed():
            leaked.append(rid)
    return leaked


def _persistent_ids(spark):
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {e.getKey() for e in jmap.entrySet().toArray()}


def test_semantic_dedup_scopes_its_persist(spark):
    """r4 verdict item 5 / ADVICE: the symmetric sketch frame's
    persist must not outlive the call — after semantic_dedup returns
    (and its result is consumed), no NEW non-checkpoint persisted RDD
    may remain in the session."""
    from trendr_data_pipeline_spark.operators.similarity import semantic_dedup

    emb = read_table(spark, SMOKE_SF, "embeddings")
    before = _persistent_ids(spark)
    out = semantic_dedup(emb, threshold=0.99)
    assert not _unscoped_persisted_rdds(spark, before)
    assert out.count() == emb.count()
    assert not _unscoped_persisted_rdds(spark, before)


def test_quality_model_scopes_its_cache(spark):
    """ADVICE twin: train_and_score_quality's training cache is
    unpersisted before return."""
    from trendr_data_pipeline_spark.operators.quality_model import (
        train_and_score_quality,
    )

    docs = read_table(spark, SMOKE_SF, "documents")
    before = _persistent_ids(spark)
    out = train_and_score_quality(docs)
    assert not _unscoped_persisted_rdds(spark, before)
    assert out.count() > 0
    assert not _unscoped_persisted_rdds(spark, before)


def test_remove_duplicated_spans_keep_one_rule(spark):
    """c25: planted boilerplate is deleted from every doc EXCEPT the
    minimum-id owner; unique content is untouched; counts reconcile."""
    from trendr_data_pipeline_spark.operators.dedup import (
        duplicated_span_coverage,
        remove_duplicated_spans,
    )

    boiler = "subscribe to our newsletter for the latest updates every single day"
    rows = [
        (1, f"alpha beta gamma delta {boiler} epsilon zeta"),
        (2, f"{boiler} one two three four five six seven eight"),
        (3, "totally unique content with no repeated spans at all here today"),
        (4, f"nine ten eleven twelve {boiler}"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in remove_duplicated_spans(docs, n=8).collect()}

    # owner (doc 1) keeps the boilerplate text
    assert boiler in out[1]["cleaned_text"]
    # non-owners lose every boilerplate token
    for d in (2, 4):
        for w in boiler.split():
            assert w not in out[d]["cleaned_text"].split(), (d, w)
    # unique doc untouched
    assert out[3]["cleaned_text"] == rows[2][1]
    assert out[3]["n_removed"] == 0
    # counts reconcile: n_tok - n_removed == len(cleaned tokens)
    for d, r in out.items():
        n_clean = len([t for t in r["cleaned_text"].split(" ") if t])
        assert r["n_tok"] - r["n_removed"] == n_clean, d
    # non-boilerplate tokens of non-owners survive in order
    assert out[2]["cleaned_text"] == "one two three four five six seven eight"
    assert out[4]["cleaned_text"] == "nine ten eleven twelve"

    # after removal, re-measuring coverage on the cleaned corpus finds
    # no duplicated 8-gram windows (each span now exists once)
    cleaned = spark.createDataFrame(
        [(d, r["cleaned_text"]) for d, r in out.items()], "doc_id long, text string"
    )
    cov = duplicated_span_coverage(cleaned, n=8).collect()
    assert all(r["n_dup_windows"] == 0 for r in cov)


def test_winnow_fingerprints_matches_python_oracle(spark):
    """Full-set parity with a direct Python transcription of the
    SIGMOD'03 selection rule (incl. the truncated-window boundary
    for docs with <w grams), on real fixture docs + adversarial
    shorts."""
    import hashlib
    import re

    from trendr_data_pipeline_spark.operators.dedup import winnow_fingerprints

    docs = read_table(spark, SMOKE_SF, "documents").limit(80)
    extra = spark.createDataFrame(
        [  # <k tokens (no grams), ==k tokens (1 gram), <w grams
            (900001, "one two"),
            (900002, "one two three"),
            (900003, "a b c d e"),
            (900004, ""),
        ],
        "doc_id long, text string",
    )
    docs = docs.select("doc_id", "text").unionByName(extra)
    k, w = 3, 4
    got = {(r["doc_id"], r["fp"]) for r in winnow_fingerprints(docs, k=k, w=w).collect()}

    want = set()
    for r in docs.collect():
        ws = [x for x in re.split(r"\s+", r["text"].lower()) if x]
        if len(ws) < k:
            continue
        hs = [
            hashlib.md5(" ".join(ws[i : i + k]).encode()).hexdigest()
            for i in range(len(ws) - k + 1)
        ]
        for p in range(max(len(hs) - w, 0) + 1):
            want.add((r["doc_id"], min(hs[p : p + w])))
    assert got == want
    assert any(d == 900002 for d, _ in got)  # single-gram doc kept
    assert not any(d in (900001, 900004) for d, _ in got)


def test_winnowing_shared_run_guarantee(spark):
    """The paper's matching guarantee, executable: two documents
    sharing a run of ≥ w+k−1 tokens share ≥1 fingerprint — even when
    the surrounding text is completely disjoint."""
    from trendr_data_pipeline_spark.operators.dedup import winnow_fingerprints

    run = "alpha beta gamma delta epsilon zeta"  # 6 = w+k-1 tokens
    docs = spark.createDataFrame(
        [
            (1, f"left filler words here {run} and unrelated tail text"),
            (2, f"totally different prefix tokens {run} other suffix material"),
            (3, "no overlap with anything else at all in this document"),
        ],
        "doc_id long, text string",
    )
    fps = winnow_fingerprints(docs, k=3, w=4).collect()
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r["doc_id"], set()).add(r["fp"])
    assert by_doc[1] & by_doc[2]  # guaranteed shared fingerprint
    assert not (by_doc[1] & by_doc[3]) and not (by_doc[2] & by_doc[3])


def test_fingerprint_match_pairs_df_cap_and_floor(spark):
    """Match pairs: planted near-copies match with high shared count;
    a boilerplate fingerprint present in EVERY doc is dropped by the
    df cap (it would otherwise pair all docs); pairs below min_shared
    are suppressed."""
    from trendr_data_pipeline_spark.operators.dedup import fingerprint_match_pairs

    boiler = "standard license header applies to this file entirely"
    body_a = "the quick brown fox jumps over the lazy dog repeatedly today"
    docs = spark.createDataFrame(
        [
            (1, f"{boiler} {body_a}"),
            (2, f"{boiler} {body_a} with a tiny appended suffix"),
            (3, f"{boiler} completely different body text goes here instead now"),
            (4, f"{boiler} yet another unrelated body of words entirely apart"),
        ],
        "doc_id long, text string",
    )
    # df_cap=3 drops fingerprints present in all 4 docs (the boiler run)
    got = {
        (r["id_a"], r["id_b"]): r["shared_fps"]
        for r in fingerprint_match_pairs(
            docs, k=3, w=4, min_shared=2, df_cap=3
        ).collect()
    }
    assert (1, 2) in got and got[(1, 2)] >= 2
    # 3 and 4 share ONLY the boilerplate — capped away, no pair
    assert (3, 4) not in got


def test_fingerprint_match_pairs_scopes_its_persist(spark):
    """Scope twin for the fingerprint-frame persist: nothing cached
    outlives the call."""
    from trendr_data_pipeline_spark.operators.dedup import fingerprint_match_pairs

    docs = read_table(spark, SMOKE_SF, "documents")
    before = _persistent_ids(spark)
    out = fingerprint_match_pairs(docs)
    assert not _unscoped_persisted_rdds(spark, before)
    assert out.count() >= 0
    assert not _unscoped_persisted_rdds(spark, before)


def test_containment_pairs_python_oracle_and_asymmetry(spark):
    """Python brute-force parity, plus the reason the operator exists:
    a short doc quoted whole inside a much larger one must score
    containment 1.0 while its Jaccard stays below any dedup
    threshold."""
    import random

    from trendr_data_pipeline_spark.operators.dedup import containment_pairs

    random.seed(77)
    texts = {}
    for i in range(30):
        texts[i] = " ".join(random.choice("abcdefghijklmnop") for _ in range(random.randrange(3, 25)))
    # doc 100 = doc 0's text embedded in a long host document with a
    # disjoint-ish vocabulary tail
    texts[100] = texts[0] + " " + " ".join(f"z{j}" for j in range(60))
    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")

    got = {
        (r.id_a, r.id_b): (r.contained_id, r.containment)
        for r in containment_pairs(df, threshold=0.9).collect()
    }
    sets = {i: set(t.lower().split()) for i, t in texts.items()}
    want = {}
    for a in sets:
        for b in sets:
            if a < b and sets[a] and sets[b]:
                inter = len(sets[a] & sets[b])
                small = min(len(sets[a]), len(sets[b]))
                c = inter / small
                if c >= 0.9:
                    if len(sets[a]) < len(sets[b]):
                        cid = a
                    elif len(sets[b]) < len(sets[a]):
                        cid = b
                    else:
                        cid = min(a, b)
                    want[(a, b)] = (cid, round(c, 6))
    assert set(got) == set(want)
    for k, (cid, c) in want.items():
        assert got[k][0] == cid
        assert abs(got[k][1] - c) < 1e-9

    # the asymmetric case: full containment, low Jaccard
    assert got[(0, 100)][0] == 0 and got[(0, 100)][1] == 1.0
    j = len(sets[0] & sets[100]) / len(sets[0] | sets[100])
    assert j < 0.3, "fixture must make Jaccard miss this pair"


def test_containment_pairs_df_cap_equivalence(spark):
    """With a df_cap that satisfies the provable bound
    (ceil(t*s_min) > #hot), the capped plan's output must equal the
    uncapped plan's exactly."""
    import random

    from trendr_data_pipeline_spark.operators.dedup import containment_pairs

    random.seed(78)
    rows = []
    for i in range(60):
        # every doc gets the two hot tokens + a rare-token body
        body = " ".join(f"w{random.randrange(40)}" for _ in range(random.randrange(8, 20)))
        rows.append((i, f"hota hotb {body}"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    plain = {
        tuple(r) for r in containment_pairs(df, threshold=0.6).collect()
    }
    capped = {
        tuple(r) for r in containment_pairs(df, threshold=0.6, df_cap=45).collect()
    }
    assert plain == capped
    assert plain


def test_containment_df_cap_check_raises_when_bound_fails(spark):
    """The adversarial case the review fixture exposed: a corpus
    where qualifying pairs share ONLY hot tokens. With
    df_cap_check=True the call must refuse instead of silently
    returning an empty (wrong) result."""
    import pytest

    from trendr_data_pipeline_spark.operators.dedup import containment_pairs

    rows = [(i, "x y") for i in range(12)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    with pytest.raises(ValueError, match="not provably exact"):
        containment_pairs(df, threshold=0.9, df_cap=5, df_cap_check=True).collect()


def test_containment_pairs_randomized_oracle(spark):
    """Randomized corpora (varying vocab size, doc lengths, embedded
    full-quote docs) vs the Python brute force — one Spark round trip
    per corpus, several corpora (the chunk-geometry batching
    pattern: hypothesis's per-example Spark cost is the bottleneck,
    so sweep seeds instead)."""
    import random

    from trendr_data_pipeline_spark.operators.dedup import containment_pairs

    for seed in (101, 202, 303):
        rng = random.Random(seed)
        vocab = [f"v{j}" for j in range(rng.randrange(8, 60))]
        texts = {}
        for i in range(rng.randrange(20, 45)):
            texts[i] = " ".join(
                rng.choice(vocab) for _ in range(rng.randrange(1, 30))
            )
        # a couple of embedded-quote docs (src drawn from the ORIGINAL
        # id range — len(texts) grows as hosts are inserted and would
        # eventually draw a nonexistent key)
        n_orig = len(texts)
        for host in range(2):
            src = rng.randrange(n_orig)
            texts[1000 + host] = (
                texts[src] + " " + " ".join(rng.choice(vocab) for _ in range(40))
            )
        thr = rng.choice([0.7, 0.8, 0.9, 1.0])
        df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
        got = {
            (r.id_a, r.id_b): (r.contained_id, r.containment)
            for r in containment_pairs(df, threshold=thr).collect()
        }
        sets = {i: set(t.lower().split()) for i, t in texts.items()}
        want = {}
        for a in sets:
            for b in sets:
                if a < b and sets[a] and sets[b]:
                    inter = len(sets[a] & sets[b])
                    small = min(len(sets[a]), len(sets[b]))
                    if inter / small >= thr:
                        if len(sets[a]) != len(sets[b]):
                            cid = a if len(sets[a]) < len(sets[b]) else b
                        else:
                            cid = min(a, b)
                        want[(a, b)] = (cid, round(inter / small, 6))
        assert got.keys() == want.keys(), (seed, thr)
        for p, (cid, c) in want.items():
            assert got[p][0] == cid and abs(got[p][1] - c) < 1e-9, (seed, p)


def _suffix_oracle_runs(docs: dict[int, str], L: int):
    """Pure-Python SUFFIX oracle for maximal_duplicated_runs — the
    paper's definition computed the paper's way, independent of the
    operator's sorted-gram shape: sort all token suffixes of the
    corpus, take each suffix's max LCP with its sorted neighbors
    (= its max common prefix with ANY other suffix), and mark
    positions [i, i+lcp) covered wherever lcp >= L. Maximal covered
    intervals are the removal runs."""
    toks = {d: t.lower().split() for d, t in docs.items()}
    suffixes = sorted(
        (tuple(ws[i:]), d, i) for d, ws in toks.items() for i in range(len(ws))
    )

    def lcp(a, b):
        n = 0
        for x, y in zip(a, b):
            if x != y:
                break
            n += 1
        return n

    covered: dict[int, set[int]] = {d: set() for d in toks}
    for j, (s, d, i) in enumerate(suffixes):
        m = 0
        if j > 0:
            m = max(m, lcp(s, suffixes[j - 1][0]))
        if j + 1 < len(suffixes):
            m = max(m, lcp(s, suffixes[j + 1][0]))
        if m >= L:
            covered[d].update(range(i, i + m))
    runs = []
    for d, cs in covered.items():
        for p in sorted(cs):
            if runs and runs[-1][0] == d and runs[-1][2] == p - 1:
                runs[-1][2] = p
            else:
                runs.append([d, p, p])
    # 1-based inclusive (start, end), matching the operator
    return sorted((d, s + 1, e + 1, e - s + 1) for d, s, e in runs)


def test_maximal_duplicated_runs_vs_suffix_oracle(spark):
    """⊕D18 vs the suffix/LCP computation on a planted corpus with
    every interesting shape: a shared 2L-1 run (merges into ONE
    maximal run longer than any window — the case d12's fixed-window
    emission cannot express), an intra-document repeat (occurrence
    grain: duplicated with only ONE doc involved), two overlapping
    spans shared with DIFFERENT partners (runs merge across partner
    boundaries), and a unique doc (no runs)."""
    from trendr_data_pipeline_spark.operators.dedup import maximal_duplicated_runs

    L = 5
    shared = "q w e r t y u i o"          # 9 = 2L-1 tokens, docs 1+2
    a_half = "a1 a2 a3 a4 a5 a6"          # shared by docs 3 and 4
    b_half = "b1 b2 b3 b4 b5 b6"          # shared by docs 3 and 5
    docs = {
        1: f"u1 u2 {shared} u3 u4",
        2: f"v1 v2 v3 {shared}",
        # doc 3: a-span and b-span OVERLAP via the glue token 'g'
        # appearing in both partners' copies
        3: f"{a_half} {b_half} w9",
        4: f"x1 {a_half} b1 b2 b3 b4",     # a_half + prefix of b (overlap)
        5: f"a3 a4 a5 a6 {b_half} y1",     # suffix of a + b_half
        6: "z1 z2 z3 z4 z5 z6 z7 z8 z9 z10",  # unique
        7: "r1 r2 c1 c2 c3 c4 c5 r3 c1 c2 c3 c4 c5 r4",  # intra-doc repeat
    }
    df = spark.createDataFrame(list(docs.items()), "doc_id long, text string")
    got = sorted(tuple(r) for r in maximal_duplicated_runs(df, min_len=L).collect())
    want = _suffix_oracle_runs(docs, L)
    assert got == want and got
    by_doc = {}
    for d, s, e, n in got:
        by_doc.setdefault(d, []).append((s, e, n))
    # the 2L-1 shared run is ONE maximal run of 9 tokens (> any window)
    assert by_doc[1] == [(3, 11, 9)] and by_doc[2] == [(4, 12, 9)]
    # doc 3's two different-partner spans merge into one 12-token run
    assert by_doc[3] == [(1, 12, 12)]
    # intra-doc repeat: both copies covered, occurrence grain
    assert by_doc[7] == [(3, 7, 5), (9, 13, 5)]
    # unique doc emits nothing
    assert 6 not in by_doc


def test_maximal_runs_min_count_and_edges(spark):
    """min_count=3 drops pairs-only duplication; docs shorter than
    min_len emit nothing; min_len < 2 raises."""
    import pytest as _pytest

    from trendr_data_pipeline_spark.operators.dedup import maximal_duplicated_runs

    dup2 = "p1 p2 p3 p4 p5"
    dup3 = "t1 t2 t3 t4 t5"
    docs = [
        (1, f"{dup2} {dup3}"),
        (2, f"m1 {dup2} m2"),
        (3, f"{dup3} m3"),
        (4, f"m4 m5 {dup3}"),
        (5, "s1 s2 s3"),  # shorter than min_len
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got3 = sorted(
        tuple(r) for r in maximal_duplicated_runs(df, min_len=5, min_count=3).collect()
    )
    # only the thrice-occurring span survives min_count=3
    assert got3 == [(1, 6, 10, 5), (3, 1, 5, 5), (4, 3, 7, 5)]
    with _pytest.raises(ValueError):
        maximal_duplicated_runs(df, min_len=1)


def test_maximal_runs_property_random_corpora(spark):
    """Property fuzz: ⊕D18 equals the pure-Python suffix/LCP oracle on
    random tiny corpora over a 3-token alphabet — the densest-overlap
    regime, where run merging, occurrence-grain duplication and
    boundary truncation all interact."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from trendr_data_pipeline_spark.operators.dedup import maximal_duplicated_runs

    word = st.sampled_from(["aa", "bb", "cc"])
    doc = st.lists(word, min_size=0, max_size=12).map(" ".join)

    @given(texts=st.lists(doc, min_size=1, max_size=5), L=st.integers(2, 4))
    @settings(
        max_examples=12,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def inner(texts, L):
        docs = {i: t for i, t in enumerate(texts)}
        df = spark.createDataFrame(list(docs.items()), "doc_id long, text string")
        got = sorted(
            tuple(r) for r in maximal_duplicated_runs(df, min_len=L).collect()
        )
        assert got == _suffix_oracle_runs(docs, L), (texts, L)

    inner()


def test_run_removal_grain_consistency_with_maximal_runs(spark):
    """d13 (remove_duplicated_spans) at window n == c39's L removes
    exactly ⊕D18's covered positions minus the owner-kept ones — the
    two operators are the measure/rewrite pair at the SAME grain, so
    their position sets must reconcile: every doc's n_removed ≤ its
    total run coverage, and a doc with no runs loses nothing."""
    from trendr_data_pipeline_spark.operators.dedup import (
        maximal_duplicated_runs,
        remove_duplicated_spans,
    )

    L = 5
    shared = "alpha beta gamma delta epsilon zeta eta"
    docs = [
        (1, f"u1 u2 {shared}"),
        (2, f"{shared} v1 v2"),
        (3, "unique w1 w2 w3 w4 w5 w6 w7"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    runs = {}
    for r in maximal_duplicated_runs(df, min_len=L).collect():
        runs.setdefault(r["doc_id"], 0)
        runs[r["doc_id"]] += r["run_toks"]
    rem = {r["doc_id"]: r for r in remove_duplicated_spans(df, n=L).collect()}
    # doc 1 owns the shared span (min id) → keeps it; doc 2 loses
    # exactly its covered positions; doc 3 has no runs and no removal
    assert runs == {1: 7, 2: 7}
    assert rem[1]["n_removed"] == 0
    assert rem[2]["n_removed"] == 7
    assert rem[3]["n_removed"] == 0
    for d, covered in runs.items():
        assert rem[d]["n_removed"] <= covered


def test_keep_first_removal_occurrence_semantics(spark):
    """⊕D19 vs d13, hand-built: (1) an INTRA-doc repeat keeps only its
    first copy (d13 keeps both — the doc owns its own grams); (2)
    cross-doc, the first (doc, pos) occurrence survives, later docs
    lose theirs; (3) unique text survives untouched; (4) the kept
    corpus contains each duplicated span's content exactly once."""
    from trendr_data_pipeline_spark.operators.dedup import (
        remove_duplicated_runs_keep_first,
        remove_duplicated_spans,
    )

    L = 5
    span = "v w x y z"
    docs = [
        (1, f"a1 {span} a2 {span}"),        # intra-doc repeat
        (2, f"b1 b2 {span} b3"),            # later doc, loses its copy
        (3, "c1 c2 c3 c4 c5 c6"),           # unique
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r["doc_id"]: r for r in remove_duplicated_runs_keep_first(df, min_len=L).collect()}
    assert got[1]["cleaned_text"] == f"a1 {span} a2"
    assert got[1]["n_removed"] == 5
    assert got[2]["cleaned_text"] == "b1 b2 b3"
    assert got[2]["n_removed"] == 5
    assert got[3]["n_removed"] == 0 and got[3]["cleaned_text"] == "c1 c2 c3 c4 c5 c6"
    # exactly one copy of the span text survives corpus-wide
    assert sum(r["cleaned_text"].count(span) for r in got.values()) == 1
    # contrast with d13's doc-owner rule: doc 1 (min id) keeps BOTH
    # intra-doc copies
    d13 = {r["doc_id"]: r for r in remove_duplicated_spans(df, n=L).collect()}
    assert d13[1]["n_removed"] == 0
    assert d13[1]["cleaned_text"].count(span) == 2


def test_keep_first_removal_guard_and_self_overlap(spark):
    """r9 review findings on ⊕D19: (1) the composite occurrence key is
    GUARDED — an id ≥ 2³¹ raises loudly instead of silently wrapping
    the owner choice; (2) the documented self-overlap consequence: a
    self-overlapping repeat clips the owner's tail (ExactSubstr's
    delete-the-duplicated-positions behavior), shrinking below one
    intact copy."""
    import pytest as _pytest

    from trendr_data_pipeline_spark.operators.dedup import (
        remove_duplicated_runs_keep_first,
    )

    big = spark.createDataFrame(
        [(1 << 31, "p q r s t u"), (7, "p q r s t u")],
        "doc_id long, text string",
    )
    with _pytest.raises(Exception, match="2\\^31"):
        remove_duplicated_runs_keep_first(big, min_len=5).collect()

    tri = spark.createDataFrame([(1, "a a a b c")], "doc_id long, text string")
    got = {r["doc_id"]: r for r in remove_duplicated_runs_keep_first(tri, min_len=2).collect()}
    # gram 'a a' occurs at pos 1 (owner) and 2; removing pos 2-3
    # leaves 'a b c' — the self-overlap clip, documented
    assert got[1]["cleaned_text"] == "a b c"
    assert got[1]["n_removed"] == 2


def test_contaminated_runs_severity_beyond_binary_flag(spark):
    """r10 (verdict item 4), hand-built: the run grain reports a LONG
    contaminated span where the binary ⊕D7 flag says only "hit" — two
    docs both flag contaminated, but one quotes a 20-token eval answer
    (one run of 20) and the other shares one incidental 8-gram (one
    run of exactly n=8); the flag cannot rank them, the runs can.
    Also: a doc sharing nothing reports no runs, and two disjoint
    quotes in one doc stay two runs (no over-merge)."""
    from pyspark.sql import functions as F

    from trendr_data_pipeline_spark.operators.dedup import (
        contaminated_runs,
        ngram_contamination_flags,
    )

    quote = " ".join(f"q{i}" for i in range(20))       # 20-token answer
    gram8 = " ".join(f"g{i}" for i in range(8))        # one shared 8-gram
    other = " ".join(f"h{i}" for i in range(12))       # second quote
    bench = spark.createDataFrame(
        [(100, f"intro {quote} outro"), (101, f"{gram8} tail tail2"),
         (102, f"pre {other}")],
        "doc_id long, text string",
    )
    docs = spark.createDataFrame(
        [
            (1, f"a1 a2 {quote} a3 a4"),                 # long quote
            (2, f"b1 b2 b3 {gram8} b4 b5"),              # incidental 8-gram
            (3, "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10"),       # clean
            (4, f"d1 {gram8} dmid {other} d2"),          # two disjoint runs
        ],
        "doc_id long, text string",
    )
    flags = {
        r["doc_id"]: r["is_contaminated"]
        for r in ngram_contamination_flags(docs, bench, n=8).collect()
    }
    assert flags == {1: True, 2: True, 3: False, 4: True}

    runs = sorted(
        tuple(r)
        for r in contaminated_runs(docs, bench, n=8)
        .select("doc_id", "start_pos", "end_pos", "run_toks")
        .collect()
    )
    # doc 1: the WHOLE 20-token quote (positions 3..22) — the severity
    # the flag understates; doc 2: exactly the 8-gram; doc 4: two runs
    assert runs == [
        (1, 3, 22, 20),
        (2, 4, 11, 8),
        (4, 2, 9, 8),
        (4, 11, 22, 12),
    ]
    # severity ordering the flag cannot express
    by_doc = {}
    for d, s, e, n in runs:
        by_doc[d] = by_doc.get(d, 0) + n
    assert by_doc[1] > by_doc[2]

    # the registered c43 gate's shape on a synthetic dir is covered by
    # the driver-contract oracle test; here pin the removal twin's
    # position algebra: cleaned == tokens minus covered positions
    from trendr_data_pipeline_spark.operators.dedup import remove_contaminated_runs

    got = {
        r["doc_id"]: r for r in remove_contaminated_runs(docs, bench, n=8).collect()
    }
    assert got[1]["cleaned_text"] == "a1 a2 a3 a4" and got[1]["n_removed"] == 20
    assert got[2]["cleaned_text"] == "b1 b2 b3 b4 b5" and got[2]["n_removed"] == 8
    assert got[3]["n_removed"] == 0
    assert got[4]["cleaned_text"] == "d1 dmid d2" and got[4]["n_removed"] == 20
    # re-screen after removal: the flag goes quiet (no seam gram here)
    clean = remove_contaminated_runs(docs, bench, n=8)
    requery = ngram_contamination_flags(
        clean.select("doc_id", F.col("cleaned_text").alias("text")), bench, n=8
    )
    assert not [r for r in requery.collect() if r["is_contaminated"]]


def test_cdc_chunks_tiling_and_shift_invariance(spark):
    """⊕D21 (r10) — the two properties that make content-defined
    chunking the dedup-storage grain: (1) chunks TILE the document
    (disjoint, contiguous, covering every token — checked on fixture
    docs under the production xxhash64 boundary); (2) SHIFT
    INVARIANCE: prepending tokens leaves every chunk after the first
    boundary identical (the property fixed-width windows lose after
    one insertion)."""
    from trendr_data_pipeline_spark.operators.dedup import cdc_chunks

    # (1) tiling on real fixture text, production boundary
    docs = read_table(spark, SMOKE_SF, "documents").limit(50)
    ch = cdc_chunks(docs, p=8).collect()
    n_tok = {
        r["doc_id"]: r["n"]
        for r in docs.select(
            "doc_id", F.size(F.split(F.trim(F.lower("text")), r"\s+")).alias("n")
        ).collect()
    }
    by_doc: dict[int, list] = {}
    for r in ch:
        by_doc.setdefault(r["doc_id"], []).append((r["chunk_pos"], r["chunk_toks"]))
    assert set(by_doc) == set(n_tok)
    for d, chunks in by_doc.items():
        chunks.sort()
        assert chunks[0][0] == 1
        for (p0, t0), (p1, _) in zip(chunks, chunks[1:]):
            assert p1 == p0 + t0  # contiguous, disjoint
        assert sum(t for _, t in chunks) == n_tok[d]

    # (2) shift invariance under a known predicate boundary
    brk = lambda tok: tok == "brk"  # noqa: E731
    base = "a b brk c d e brk f g"
    shifted = "x y brk " + base
    two = spark.createDataFrame(
        [(1, base), (2, shifted)], "doc_id long, text string"
    )
    got = cdc_chunks(two, boundary=brk)
    keys = {
        i: {r["chunk_key"] for r in rows}
        for i, rows in (
            (1, got.filter(F.col("doc_id") == 1).collect()),
            (2, got.filter(F.col("doc_id") == 2).collect()),
        )
    }
    # every chunk of the original appears in the shifted doc (the
    # prefix ends with a breaker, so alignment is perfect)
    assert keys[1] <= keys[2]
    assert len(keys[2] - keys[1]) == 1  # exactly the prefix chunk


def test_dedup_cdc_chunks_keep_first_semantics(spark):
    """⊕D21's removal verb, hand-built under a known boundary: the
    first (doc, chunk_pos) occurrence of each duplicated ≥min_toks
    chunk survives corpus-wide (including against intra-doc repeats),
    short chunks are NEVER removed however duplicated, and the
    composite-key overflow guard raises loudly."""
    import pytest as _pytest

    from trendr_data_pipeline_spark.operators.dedup import dedup_cdc_chunks

    brk = lambda tok: tok == "brk"  # noqa: E731
    span = "a b brk"  # one 3-token chunk
    docs = spark.createDataFrame(
        [
            (1, f"{span} q r brk"),        # owner of 'a b brk'; unique tail
            (2, f"z1 brk {span} z3"),      # loses its copy
            (3, f"{span} {span} c"),       # intra-doc repeat: loses BOTH
            (4, "u brk u brk u brk"),      # short (2-tok) chunks: kept
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r
        for r in dedup_cdc_chunks(docs, min_toks=3, boundary=brk).collect()
    }
    assert got[1]["cleaned_text"] == f"{span} q r brk" and got[1]["n_removed"] == 0
    assert got[2]["cleaned_text"] == "z1 brk z3" and got[2]["n_removed"] == 3
    assert got[3]["cleaned_text"] == "c" and got[3]["n_removed"] == 6
    assert got[4]["n_removed"] == 0
    # exactly one copy of the duplicated chunk content corpus-wide
    assert sum(r["cleaned_text"].count(span) for r in got.values()) == 1

    big = spark.createDataFrame(
        [(1 << 31, f"{span} {span}")], "doc_id long, text string"
    )
    with _pytest.raises(Exception, match="2\\^31"):
        dedup_cdc_chunks(big, min_toks=3, boundary=brk).collect()


def test_fuzzy_decontaminate_catches_what_exact_grams_miss(spark):
    """⊕D22 (r10) — the selling point, hand-built: a corpus doc that
    paraphrases an eval doc with one token edited inside EVERY 8-token
    window shares ZERO 8-grams (⊕D7's exact flag stays quiet) but
    keeps high 3-gram-set Jaccard — the fuzzy screen flags it. Plus
    the exact-copy case, the clean-doc case, the best-match tie rule
    (max Jaccard then min match_id), and the removal verb."""
    from trendr_data_pipeline_spark.operators.dedup import (
        fuzzy_decontaminate,
        ngram_contamination_flags,
        remove_fuzzy_contaminated,
    )

    ev = " ".join(f"t{i}" for i in range(1, 25))  # 24 distinct tokens
    # edit positions 8, 16, 24 → every 8-window contains an edit;
    # shared 3-grams = 15 of 22 → J = 15 / (22+22-15) = 15/29 ≈ 0.5172
    para = ev.split()
    for k, pos in enumerate((8, 16, 24)):
        para[pos - 1] = f"x{k}"
    corpus = spark.createDataFrame(
        [
            (10, " ".join(para)),             # paraphrase of eval 100
            (11, " ".join(f"u{i}" for i in range(30))),  # clean
            (12, ev),                          # exact copy of eval 100
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, ev), (101, ev)], "doc_id long, text string"
    )

    # exact 8-gram flag misses the paraphrase entirely
    flags = {
        r["doc_id"]: r["is_contaminated"]
        for r in ngram_contamination_flags(corpus, bench, n=8).collect()
    }
    assert not flags.get(10, False)
    assert flags.get(12, False)

    got = {
        r["doc_id"]: r
        for r in fuzzy_decontaminate(corpus, bench, threshold=0.5, n=3).collect()
    }
    assert set(got) == {10, 12}
    assert abs(got[10]["jaccard"] - 15 / 29) < 1e-6
    assert got[10]["match_id"] == 100  # tie on jaccard → min match_id
    assert got[12]["jaccard"] == 1.0 and got[12]["match_id"] == 100

    kept = remove_fuzzy_contaminated(corpus, bench, threshold=0.5, n=3)
    assert [r["doc_id"] for r in kept.collect()] == [11]


def test_cluster_quality_keep_beats_min_id(spark):
    """c49 (r10), hand-built: per near-dup cluster the HIGHEST-quality
    member survives (ties → min doc_id) — against ⊕D9's min-id rule,
    which here would keep the WORST document of the cluster. Doc 1 is
    a token-soup near-dup of docs 2/3 (same token set — Jaccard 1.0)
    but doc 2 has the best length/stopword profile; singleton doc 9
    keeps itself."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from trendr_data_pipeline_spark.operators.dedup import jaccard_similarity_pairs
    from trendr_data_pipeline_spark.operators.graph import connected_components
    from trendr_data_pipeline_spark.plans.text_ops import _quality_expr, _stop_array
    from trendr_data_pipeline_spark.functions.text import tokens as _tokens

    base = "the quick brown fox jumps over a lazy dog and then some more words of it"
    docs = spark.createDataFrame(
        [
            (1, base),                               # shorter = lower length score
            (2, base + " " + base),                  # same SET, best length score
            (3, " ".join(base.split()[::-1])),       # same set, reversed
            (9, "completely unrelated content here entirely different tokens"),
        ],
        "doc_id long, text string",
    )
    pairs = jaccard_similarity_pairs(docs, threshold=0.8)
    labels = connected_components(pairs, nodes=docs, node_col="doc_id").select(
        F.col("node").alias("doc_id"), "component"
    )
    toks = _tokens(F.lower(F.col("text")))
    feat = docs.select(
        "doc_id",
        F.size(toks).alias("n_tok"),
        F.aggregate(F.transform(toks, F.length), F.lit(0), lambda a, x: a + x).alias("tok_chars"),
        F.size(F.filter(toks, lambda x: F.array_contains(_stop_array(), x))).alias("stop_hits"),
    )
    q = feat.select(
        "doc_id",
        F.round(_quality_expr(F.col("n_tok"), F.col("tok_chars"), F.col("stop_hits")), 6).alias("quality"),
    )
    j = labels.join(q, "doc_id")
    w = Window.partitionBy("component").orderBy(
        F.col("quality").desc_nulls_last(), F.col("doc_id").asc()
    )
    got = {r["doc_id"]: r for r in j.select(
        "doc_id", "component", "quality", (F.row_number().over(w) == 1).alias("keep")
    ).collect()}
    assert got[1]["component"] == got[2]["component"] == got[3]["component"] == 1
    kept = [d for d in (1, 2, 3) if got[d]["keep"]]
    assert kept == [2], kept            # quality rule keeps 2 ...
    assert min(got) == 1                 # ... where min-id would keep 1
    assert got[2]["quality"] > got[1]["quality"]
    assert got[9]["keep"] and got[9]["component"] == 9


def test_canonical_keep_giant_cluster_two_phase(spark):
    """r11 (r10 verdict item 3): a single near-dup cluster covering
    50 % of the corpus — the boilerplate-cluster shape that is REAL
    at 100 TB — must not land on one task. ``canonical_keep``'s
    argmax two-phases through partial aggregation, so the only thing
    a task ever holds for the giant component is per-partition
    partial maxima. Pinned three ways: (a) full-frame equality with
    the r10 window form on a corpus that is one giant cluster plus
    singletons plus an all-NULL-quality cluster, (b) the physical
    plan carries a ``partial_max`` BEFORE the exchange and NO Window
    node, (c) the NULLS-LAST / min-id tie-break semantics hold (max
    quality appears many times in the giant cluster; the minimum id
    among them must win)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from trendr_data_pipeline_spark.plans.dedup_ops import canonical_keep

    n = 4000
    labeled = (
        spark.range(n)
        .repartition(8)
        .select(
            F.col("id").alias("doc_id"),
            # ids 0..1999 → component 0 (one cluster = 50 % of corpus);
            # the rest are singletons; 3 ids form an all-NULL cluster
            F.when(F.col("id") < n // 2, F.lit(0))
            .when(F.col("id").isin(3001, 3002, 3003), F.lit(7777))
            .otherwise(F.col("id"))
            .alias("component"),
            # heavy ties (7 distinct values) + NULLs sprinkled in;
            # the all-NULL cluster stays NULL
            F.when(F.col("id").isin(3001, 3002, 3003), F.lit(None).cast("double"))
            .when(F.col("id") % 13 == 0, F.lit(None).cast("double"))
            .otherwise(F.round((F.col("id") % 7) / 7.0, 3))
            .alias("quality"),
        )
    )

    got = canonical_keep(labeled)
    plan = got._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        got._jdf.queryExecution(), "formatted"
    )
    assert "partial_max" in plan, plan  # map-side combine proves two-phase
    assert "Window" not in plan, plan   # no per-component window task

    w = Window.partitionBy("component").orderBy(
        F.col("quality").desc_nulls_last(), F.col("doc_id").asc()
    )
    want = labeled.select(
        "doc_id", "component", "quality", (F.row_number().over(w) == 1).alias("keep")
    )
    grows = sorted(map(tuple, got.select("doc_id", "component", "quality", "keep").collect()))
    wrows = sorted(map(tuple, want.collect()))
    assert grows == wrows

    by_id = {r[0]: r for r in grows}
    # giant cluster: max non-NULL quality is 6/7 ≈ 0.857 at ids ≡ 6
    # (mod 7) not ≡ 0 (mod 13); the smallest such id must be the keeper
    giant_best = min(
        i for i in range(n // 2) if i % 7 == 6 and i % 13 != 0
    )
    keepers = [i for i in range(n // 2) if by_id[i][3]]
    assert keepers == [giant_best]
    # all-NULL cluster → min id keeps
    assert by_id[3001][3] and not by_id[3002][3] and not by_id[3003][3]


def test_canonical_keep_null_component_rows_survive(spark):
    """r11 review finding: the flag join must be NULL-SAFE — rows with
    a NULL component are one cluster to the window semantics the
    aggregate replaces (SQL windows put all NULLs in one partition,
    and groupBy groups them the same way), so a plain inner equi-join
    would silently DROP them from the output. c49 never produces NULL
    components; the generic helper must keep them."""
    from pyspark.sql import functions as F

    from trendr_data_pipeline_spark.plans.dedup_ops import canonical_keep

    labeled = spark.createDataFrame(
        [
            (1, None, 0.5),
            (2, None, 0.9),   # NULL cluster: highest quality → keeper
            (3, None, None),
            (4, 10, 0.1),     # singleton in a real component
        ],
        "doc_id long, component long, quality double",
    )
    got = {r["doc_id"]: r for r in canonical_keep(labeled).collect()}
    assert sorted(got) == [1, 2, 3, 4], "NULL-component rows were dropped"
    assert [d for d in got if got[d]["keep"]] == [2, 4]


def test_dedup_cdc_chunks_random_vs_python_oracle(spark):
    """⊕D21 seed-sweep fuzz (the containment-pairs pattern — Spark
    cost per example dominates, so sweep seeds rather than
    hypothesis): random corpora with a breaker token mixed into the
    stream plus planted cross-doc duplicated runs, checked
    end-to-end against a pure-Python CDC + keep-first oracle."""
    import random

    from trendr_data_pipeline_spark.operators.dedup import dedup_cdc_chunks

    MIN_TOKS, MIN_COUNT, LIM = 3, 2, 1 << 31

    def py_oracle(texts):
        chunks = []  # (doc, start_pos, tuple(toks))
        for d in sorted(texts):
            toks = texts[d].lower().split()
            cur, start = [], 1
            for i, tok in enumerate(toks, 1):
                cur.append(tok)
                if tok == "brk" or i == len(toks):
                    chunks.append((d, start, tuple(cur)))
                    cur, start = [], i + 1
        occ = {}
        for d, p, c in chunks:
            if len(c) >= MIN_TOKS:
                occ.setdefault(c, []).append((d, p))
        removal = {d: set() for d in texts}
        for key, lst in occ.items():
            if len(lst) >= MIN_COUNT:
                owner = min(d * LIM + p for d, p in lst)
                for d, p in lst:
                    if d * LIM + p != owner:
                        removal[d].update(range(p, p + len(key)))
        out = {}
        for d in texts:
            toks = texts[d].lower().split()
            kept = [t for i, t in enumerate(toks, 1) if i not in removal[d]]
            out[d] = (len(toks), len(toks) - len(kept), " ".join(kept))
        return out

    brk = lambda tok: tok == "brk"  # noqa: E731
    for seed in (11, 22, 33):
        rng = random.Random(seed)
        vocab = [f"v{j}" for j in range(rng.randrange(5, 25))] + ["brk"] * 3
        texts = {}
        for i in range(rng.randrange(6, 14)):
            texts[i] = " ".join(
                rng.choice(vocab) for _ in range(rng.randrange(1, 40))
            )
        # plant cross-doc duplicated runs at different offsets (the
        # content-alignment case fixed windows would miss)
        n_orig = len(texts)
        run = " ".join(rng.choice(vocab) for _ in range(rng.randrange(6, 12)))
        for host in range(2):
            src = rng.randrange(n_orig)
            prefix = " ".join(rng.choice(vocab) for _ in range(rng.randrange(0, 7)))
            texts[100 + host] = (prefix + " " + run + " " + texts[src]).strip()
        df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
        got = {
            r["doc_id"]: (r["n_tok"], r["n_removed"], r["cleaned_text"])
            for r in dedup_cdc_chunks(
                df, min_toks=MIN_TOKS, min_count=MIN_COUNT, boundary=brk
            ).collect()
        }
        assert got == py_oracle(texts), seed


def test_benchmark_contamination_report_hand_built(spark):
    """⊕D24 (r10), hand-built — the eval-side severity view: an eval
    item whose 20-token answer is quoted by TWO training docs reports
    n_hit_docs=2 and covered_toks=20; an item sharing one incidental
    8-gram with one doc reports (1, 8); a clean item reports (0, 0)
    and is INCLUDED."""
    from trendr_data_pipeline_spark.operators.dedup import (
        benchmark_contamination_report,
    )

    answer = " ".join(f"a{i}" for i in range(20))
    gram8 = " ".join(f"g{i}" for i in range(8))
    corpus = spark.createDataFrame(
        [
            (1, f"t1 t2 {answer} t3"),
            (2, f"u1 {answer}"),
            (3, f"v1 v2 v3 {gram8} v4"),
            (4, "w1 w2 w3 w4 w5 w6 w7 w8 w9"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [
            (100, answer),                      # fully burned, 2 hits
            (101, f"x1 x2 {gram8} x3 x4"),      # one incidental gram
            (102, "y1 y2 y3 y4 y5 y6 y7 y8 y9 y10"),  # clean
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_hit_docs"], r["covered_toks"])
        for r in benchmark_contamination_report(corpus, bench, n=8).collect()
    }
    assert got == {100: (2, 20), 101: (1, 8), 102: (0, 0)}


def test_embedding_near_dup_join_corpus_extra_cols(spark):
    """r13-opt O7 surface: corpus-side passthrough columns ride the
    candidate distinct and land after cosine_sim; the default ()
    keeps the historical 3-column schema byte-identical. A corpus id
    present under two tag values yields one pair row per value."""
    import numpy as np

    from trendr_data_pipeline_spark.operators.similarity import (
        embedding_near_dup_join,
    )

    r = np.random.RandomState(42)
    v = r.randn(64)
    v = v / np.linalg.norm(v)
    w = r.randn(64)
    w = w / np.linalg.norm(w)  # isotropic: cos(v, w) far below 0.99

    def frame(rows):
        return spark.createDataFrame(
            [(i, [float(x) for x in vec], t) for i, vec, t in rows],
            "vec_id long, embedding array<double>, tag string",
        )

    incoming = frame([(10, v, "q")]).select("vec_id", "embedding")
    corpus = frame(
        [(1, v, "a"), (1, v, "b"), (2, w, "a")]  # id 1 under BOTH tags
    )

    got = embedding_near_dup_join(
        incoming, corpus, threshold=0.99, corpus_extra_cols=("tag",)
    ).collect()
    assert sorted((r["id_a"], r["id_b"], r["tag"]) for r in got) == [
        (10, 1, "a"),
        (10, 1, "b"),
    ]
    assert all(abs(r["cosine_sim"] - 1.0) < 1e-6 for r in got)

    # default: schema unchanged from the pre-passthrough contract
    plain = embedding_near_dup_join(incoming, corpus, threshold=0.99)
    assert plain.columns == ["id_a", "id_b", "cosine_sim"]
