"""Python-oracle tests for the r7 data-selection operators: the
interpolated bigram-LM perplexity (t08) and the DSIR hashed
importance weights (t10). Exact cross-engine equality is the driver
gate's job (DuckDB twins); here we pin the SEMANTICS — counts exact,
scores to float tolerance, the band/separation rules exact."""

from __future__ import annotations

import hashlib
import math
import random
from collections import Counter

from pyspark.sql import functions as F

from tests.conftest import SMOKE_SF


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def _py_bigram(texts, lam=0.7):
    toks = {i: t.lower().split() for i, t in enumerate(texts)}
    toks = {i: ws for i, ws in toks.items() if len(ws) >= 2}
    cbi, cw1, cu = Counter(), Counter(), Counter()
    for ws in toks.values():
        for a, b in zip(ws, ws[1:]):
            cbi[(a, b)] += 1
            cw1[a] += 1
        cu.update(ws)
    total = sum(cu.values())
    out = {}
    for i, ws in toks.items():
        s = 0.0
        for a, b in zip(ws, ws[1:]):
            p = lam * (cbi[(a, b)] / cw1[a]) + (1 - lam) * (cu[b] / total)
            s += math.log(p)
        n = len(ws) - 1
        out[i] = (n, -s / n)
    return out


def test_bigram_perplexity_python_oracle(spark):
    from trendr_data_pipeline_spark.plans.text_ops import bigram_perplexity

    random.seed(41)
    texts = [
        " ".join(random.choice("abcdefg") for _ in range(random.randrange(0, 40)))
        for _ in range(60)
    ]
    rows = {
        r.doc_id: r
        for r in bigram_perplexity(
            _docs(spark, [(i, t, "en") for i, t in enumerate(texts)])
        ).collect()
    }
    want = _py_bigram(texts)
    assert set(rows) == set(want)
    for i, (n, nll) in want.items():
        assert rows[i].n_big == n
        assert abs(rows[i].avg_nll - nll) < 2e-6, (i, rows[i].avg_nll, nll)
        assert abs(rows[i].ppl - math.exp(nll)) < 1e-2

    # band rule recomputed EXACTLY from the returned ppls: value-level
    # cumulative tertiles (equal ppl => equal band)
    ppls = sorted(r.ppl for r in rows.values())
    nd = len(ppls)
    cum = {}
    c = 0
    for v in ppls:
        c += 1
        cum[v] = c  # last occurrence wins == cumulative count at v
    for r in rows.values():
        cc = cum[r.ppl]
        band = "head" if 3 * cc <= nd else ("middle" if 3 * cc <= 2 * nd else "tail")
        assert r.band == band


def test_bigram_perplexity_wide_histogram_fallback(spark, monkeypatch):
    """r7 verdict item 5: the tertile cumulative sum's
    single-partition bound is now GUARDED, not asserted. Force the
    two-phase fallback by shrinking the threshold on a wide-ppl
    corpus (every doc a distinct random text → distinct ppls beyond
    the bound) and pin hash-equality with the single-partition path."""
    from trendr_data_pipeline_spark.plans import text_ops

    random.seed(43)
    texts = [
        " ".join(random.choice("abcdefghij") for _ in range(random.randrange(5, 60)))
        for _ in range(80)
    ]
    docs = _docs(spark, [(i, t, "en") for i, t in enumerate(texts)])
    base = {tuple(r) for r in text_ops.bigram_perplexity(docs).collect()}
    monkeypatch.setattr(text_ops, "_PPL_HIST_SINGLE_PARTITION_MAX", 4)
    fb = {tuple(r) for r in text_ops.bigram_perplexity(docs).collect()}
    assert len({r[3] for r in base}) > 4  # the fallback actually engaged
    assert fb == base


def test_bigram_perplexity_uniform_corpus_degenerate(spark):
    """All-identical docs: every bigram is deterministic given its
    context, so ppl is identical for every doc and the value-level
    band rule puts ALL docs in one band (no doc-id tie splitting)."""
    from trendr_data_pipeline_spark.plans.text_ops import bigram_perplexity

    rows = bigram_perplexity(
        _docs(spark, [(i, "x y x y x", "en") for i in range(9)])
    ).collect()
    assert len(rows) == 9
    assert len({r.ppl for r in rows}) == 1
    assert {r.band for r in rows} == {"tail"}  # cc == nd for the single value


def _py_dsir(texts, langs, dim=64, salt="ir"):
    def bucket(tok):
        h = int(hashlib.md5((salt + tok).encode()).hexdigest()[:8], 16)
        return h % dim

    craw, ctgt = Counter(), Counter()
    per_doc = []
    for t, lang in zip(texts, langs):
        bs = [bucket(w) for w in t.lower().split()]
        per_doc.append(bs)
        craw.update(bs)
        if lang == "en":
            ctgt.update(bs)
    nraw, ntgt = sum(craw.values()), sum(ctgt.values())
    lr = {
        b: math.log(
            ((ctgt[b] + 1) / (ntgt + dim)) / ((craw[b] + 1) / (nraw + dim))
        )
        for b in range(dim)
    }
    return {
        i: (len(bs), sum(lr[b] for b in bs))
        for i, bs in enumerate(per_doc)
        if bs
    }


def test_dsir_python_oracle(spark):
    from trendr_data_pipeline_spark.operators.sampling import dsir_log_weights

    random.seed(42)
    texts, langs = [], []
    for i in range(80):
        lang = "en" if i % 2 == 0 else "de"
        pool = "abcdefgh" if lang == "en" else "ijklmnop"
        texts.append(
            " ".join(random.choice(pool) * 2 for _ in range(random.randrange(0, 30)))
        )
        langs.append(lang)
    rows = {
        r.doc_id: r
        for r in dsir_log_weights(
            _docs(spark, list(zip(range(80), texts, langs))),
            target=F.col("lang") == "en",
        ).collect()
    }
    want = _py_dsir(texts, langs)
    assert set(rows) == set(want)
    for i, (n, lw) in want.items():
        assert rows[i].n_tok == n
        assert abs(rows[i].log_w - lw) < 2e-5, (i, rows[i].log_w, lw)

    # separation: disjoint vocab pools => target docs score higher
    en = [r.log_w / r.n_tok for i, r in rows.items() if langs[i] == "en"]
    de = [r.log_w / r.n_tok for i, r in rows.items() if langs[i] == "de"]
    assert min(en) > max(de)


def test_dsir_model_table_is_broadcast(spark):
    """The dim-row model join must be a broadcast — a shuffle there
    would key the scoring pass on a 64-value column (max 64-way
    parallelism at 100 TB)."""
    from trendr_data_pipeline_spark.operators.sampling import dsir_log_weights

    df = dsir_log_weights(
        _docs(spark, [(1, "a b c", "en"), (2, "d e", "de")]),
        target=F.col("lang") == "en",
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_split_assign_stable_and_weighted(spark):
    """The split is a pure function of (salt, key): growing the corpus
    never reassigns an existing doc, fractions approximate the
    weights, and validation rejects bad weight sets."""
    import pytest

    from trendr_data_pipeline_spark.operators.sampling import split_assign

    base = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    grown = spark.range(0, 4000).withColumnRenamed("id", "doc_id")
    a = {r["doc_id"]: r["split"] for r in split_assign(base).collect()}
    b = {r["doc_id"]: r["split"] for r in split_assign(grown).collect()}
    assert all(b[k] == v for k, v in a.items())  # growth never reassigns
    from collections import Counter

    c = Counter(b.values())
    assert abs(c["train"] / 4000 - 0.8) < 0.03
    assert abs(c["val"] / 4000 - 0.1) < 0.02
    assert abs(c["test"] / 4000 - 0.1) < 0.02
    # custom weights + validation
    w = {r["split"] for r in split_assign(base, {"a": 0.5, "b": 0.5}).collect()}
    assert w == {"a", "b"}
    with pytest.raises(ValueError, match="sum to 1"):
        split_assign(base, {"a": 0.5, "b": 0.6})
    with pytest.raises(ValueError, match="two splits"):
        split_assign(base, {"a": 1.0})
    # NULL keys take the LAST split on both engines (Spark: NULL
    # comparisons falsify every WHEN; DuckDB: CASE→ELSE) — pinned
    nul = spark.createDataFrame([(None,)], "doc_id long")
    assert split_assign(nul).collect()[0]["split"] == "test"


def test_stratified_sample_exact_k_and_deterministic(spark):
    """min(k, |group|) per group, identical set across runs, and the
    selected ids are exactly the k smallest by (hash, id) — the
    Python oracle recomputed with hashlib."""
    import hashlib

    from trendr_data_pipeline_spark.operators.sampling import stratified_sample

    rows = [(i, "en" if i % 3 else "fr") for i in range(200)] + [
        (1000 + i, "tiny") for i in range(3)
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    got = stratified_sample(df, group_col="lang", k=5).collect()
    by_lang = {}
    for r in got:
        by_lang.setdefault(r["lang"], set()).add(r["doc_id"])
    assert len(by_lang["en"]) == len(by_lang["fr"]) == 5
    assert len(by_lang["tiny"]) == 3  # min(k, |group|)

    def horder(i):
        return int(hashlib.md5(f"strat{i}".encode()).hexdigest()[:8], 16)

    for lang in ("en", "fr", "tiny"):
        ids = [i for i, lg in rows if lg == lang]
        want = set(sorted(ids, key=lambda i: (horder(i), i))[:5])
        assert by_lang[lang] == want
    again = {
        (r["lang"], r["doc_id"])
        for r in stratified_sample(df, group_col="lang", k=5).collect()
    }
    assert again == {(r["lang"], r["doc_id"]) for r in got}


def test_stratified_sample_fallback_and_nulls(spark):
    """r8 scale hardening: the threshold pre-filter path and the
    shortfall fallback select the SAME set as the plain per-group
    rank. oversample=0-ish thresholds force the fallback for every
    group; NULL-key rows are excluded outright (determinism)."""
    from trendr_data_pipeline_spark.operators.sampling import stratified_sample

    rows = [(i, "en" if i % 3 else "fr") for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    base = {
        (r["lang"], r["doc_id"])
        for r in stratified_sample(df, k=7).collect()
    }
    # force the shortfall path: oversample so small the threshold
    # admits almost nothing, making every group re-rank fully
    forced = {
        (r["lang"], r["doc_id"])
        for r in stratified_sample(df, k=7, oversample=0).collect()
    }
    assert forced == base and len(base) == 14

    # NULL keys are EXCLUDED (they cannot be hash-identified, so any
    # tie-break among them would be task-order-dependent): only the
    # two real rows come back, deterministically
    rows2 = [(None, "xx"), (None, "xx"), (None, "xx"), (7, "xx"), (9, "xx")]
    df2 = spark.createDataFrame(rows2, "doc_id long, lang string")
    got = stratified_sample(df2, k=4).collect()
    assert {(r["doc_id"], r["lang"]) for r in got} == {(7, "xx"), (9, "xx")}
    assert all(r["rk"] <= 2 for r in got)


def test_stratified_sample_property_random_shapes(spark):
    """Property: for random group sizes, k and oversample (spanning
    the threshold/fallback boundary), the selected set equals the
    pure-Python k-smallest-(md5, key) reference per group — the
    pre-filter optimization must be invisible."""
    import hashlib

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from trendr_data_pipeline_spark.operators.sampling import stratified_sample

    @given(
        sizes=st.lists(st.integers(0, 40), min_size=1, max_size=4),
        k=st.integers(1, 8),
        oversample=st.integers(1, 4),
    )
    @settings(
        max_examples=12,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def inner(sizes, k, oversample):
        rows, nid = [], 0
        for gi, n in enumerate(sizes):
            for _ in range(n):
                rows.append((nid, f"g{gi}"))
                nid += 1
        if not rows:
            return
        df = spark.createDataFrame(rows, "doc_id long, lang string")
        got = {}
        for r in stratified_sample(df, k=k, oversample=oversample).collect():
            got.setdefault(r["lang"], set()).add(r["doc_id"])

        def horder(i):
            return int(hashlib.md5(f"strat{i}".encode()).hexdigest()[:8], 16)

        want = {}
        for gi, n in enumerate(sizes):
            ids = [i for i, g in rows if g == f"g{gi}"]
            if ids:
                want[f"g{gi}"] = set(
                    sorted(ids, key=lambda i: (horder(i), i))[:k]
                )
        assert got == want, (sizes, k, oversample)

    inner()


def test_shuffle_shards_python_oracle_and_balance(spark):
    """The (shard, pos) permutation equals the pure-Python reference
    (independent salts for shard and order), shards are roughly
    balanced, every key appears exactly once, and positions are
    contiguous 1..|shard|."""
    import hashlib

    from trendr_data_pipeline_spark.operators.sampling import shuffle_shards

    n = 500
    df = spark.range(n).withColumnRenamed("id", "doc_id")
    got = [(r["doc_id"], r["shard"], r["pos"]) for r in shuffle_shards(df, n_shards=8).collect()]
    assert len(got) == n and len({g[0] for g in got}) == n

    def h(prefix, i):
        return int(hashlib.md5(f"{prefix}{i}".encode()).hexdigest()[:8], 16)

    by_shard = {}
    for i in range(n):
        by_shard.setdefault(h("shuf", i) % 8, []).append(i)
    want = set()
    for sh, ids in by_shard.items():
        ids.sort(key=lambda i: (h("shufpos", i), i))
        want.update((i, sh, p + 1) for p, i in enumerate(ids))
    assert set(got) == want
    sizes = [len(v) for v in by_shard.values()]
    assert max(sizes) < 2.2 * n / 8  # rough uniformity at n=500
    for sh, ids in by_shard.items():
        ps = sorted(p for i, s2, p in got if s2 == sh)
        assert ps == list(range(1, len(ids) + 1))


def test_write_training_shards_layout_order_and_rerun(spark, tmp_path):
    """⊕D17's materialization: out_dir/shard=N/ dirs, rows readable in
    position order file-by-file (part files pos-range-disjoint, order
    preserved within each), content equals shuffle_shards exactly,
    and an overwrite rerun reproduces identical content (the
    permutation is a pure function of salt+keys)."""
    import os

    from trendr_data_pipeline_spark.io import read_table
    from trendr_data_pipeline_spark.operators.sampling import (
        shuffle_shards,
        write_training_shards,
    )

    docs = read_table(spark, SMOKE_SF, "documents").select("doc_id", "lang")
    out = str(tmp_path / "shards")
    write_training_shards(docs, out, n_shards=8, max_records_per_file=16)
    want = {
        (r["doc_id"], r["shard"], r["pos"])
        for r in shuffle_shards(docs, n_shards=8).select("doc_id", "shard", "pos").collect()
    }

    def read_back():
        got = set()
        shard_dirs = sorted(d for d in os.listdir(out) if d.startswith("shard="))
        assert len(shard_dirs) == 8
        for d in shard_dirs:
            shard = int(d.split("=")[1])
            files = sorted(
                f for f in os.listdir(os.path.join(out, d)) if f.endswith(".parquet")
            )
            # read file-by-file: order within a file + range-disjoint
            # files == the shard's position order
            import pyarrow.parquet as pq

            ranges = []
            for f in files:
                t = pq.read_table(os.path.join(out, d, f))
                poses = t.column("pos").to_pylist()
                ids = t.column("doc_id").to_pylist()
                assert poses == sorted(poses), (d, f)
                ranges.append((min(poses), max(poses)))
                got.update((i, shard, p) for i, p in zip(ids, poses))
            # files are pos-range-disjoint, so sorted-by-name read
            # order can be made a full replay by range sort
            ranges.sort()
            flat = [b for r in ranges for b in r]
            assert flat == sorted(flat), (d, ranges)
        return got

    got1 = read_back()
    assert got1 == want and got1
    # some shard really split into multiple range-disjoint files
    multi = [
        d for d in os.listdir(out) if d.startswith("shard=")
        and sum(1 for f in os.listdir(os.path.join(out, d)) if f.endswith(".parquet")) > 1
    ]
    assert multi, "maxRecordsPerFile never split a shard"
    # rerun-safe: overwrite reproduces the identical permutation
    write_training_shards(docs, out, n_shards=8, max_records_per_file=16)
    assert read_back() == want


def test_bm25_topk_python_oracle_and_ranking(spark, tmp_path):
    """⊕T23 vs a pure-Python Okapi BM25 (same k1/b/idf/quantization)
    on a hand corpus, plus the ranking property that motivates BM25
    over raw TF: sharing a RARE term beats sharing a common one, and
    term-frequency saturation caps long-doc domination."""
    import math
    from collections import Counter
    from decimal import Decimal

    from trendr_data_pipeline_spark.plans.registry import all_queries

    texts = {
        0: "zebra quantum common alpha beta",      # query doc (0 % 100 == 0)
        1: "zebra delta epsilon theta",            # shares ONE rare term
        2: "common kappa common lam common",       # shares ONE common term
        3: "quantum flux sigma common",            # rare 'quantum' + common
        4: "entirely different common vocabulary", # common only
    }
    d = tmp_path / "synth"
    d.mkdir()
    spark.createDataFrame(
        list(texts.items()), "doc_id long, text string"
    ).coalesce(1).write.parquet(str(d / "documents.parquet"))

    got = {
        (r["query_id"], r["doc_id"]): (r["bm25"], r["rk"])
        for r in all_queries()["c42_bm25_topk"].fn(spark, str(d)).collect()
    }

    toks = {i: t.split() for i, t in texts.items()}
    N = len(toks)
    avgdl = sum(len(w) for w in toks.values()) / N
    df = Counter(tok for w in toks.values() for tok in set(w))

    def bm25(q, doc):
        s = Decimal(0)
        tf = Counter(toks[doc])
        for tok in set(toks[q]):
            if tf[tok] == 0:
                continue
            idf = math.log(1.0 + (N - df[tok] + 0.5) / (df[tok] + 0.5))
            c = idf * (tf[tok] * (1.2 + 1.0)) / (
                tf[tok] + 1.2 * (1.0 - 0.75 + 0.75 * len(toks[doc]) / avgdl)
            )
            s += Decimal(str(round(c, 9)))
        return round(float(s), 6)

    want_scores = {d_: bm25(0, d_) for d_ in (1, 2, 3, 4) if bm25(0, d_) > 0}
    assert {k[1]: v[0] for k, v in got.items()} == want_scores
    # rare-term matches outrank the common-term-only match
    assert got[(0, 1)][0] > got[(0, 2)][0]
    assert got[(0, 3)][0] > got[(0, 2)][0]
    # self never returned
    assert (0, 0) not in got


def test_bm25_df_cap_prunes_hot_terms_exactly(spark, tmp_path):
    """The df_cap scale lever: capped == uncapped when every SHARED
    term sits under the cap; a cap below a hot term's df drops
    exactly that term's contributions (scores shrink by its per-doc
    term contribution, never by more), and the prune reaches the
    candidate join (capped terms produce NO candidate rows)."""
    from trendr_data_pipeline_spark.plans.text_ops import bm25_topk

    from pyspark.sql import functions as F

    texts = {
        0: "zebra hot alpha",
        1: "zebra hot beta beta",
        2: "hot gamma delta",
        3: "hot epsilon zeta",
        4: "hot eta theta",
    }
    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    pred = F.col("doc_id") == 0
    full = {
        (r["query_id"], r["doc_id"]): r["bm25"]
        for r in bm25_topk(df, pred, k=10).collect()
    }
    # cap=5 keeps everything ('hot' df=5 == cap) → identical
    same = {
        (r["query_id"], r["doc_id"]): r["bm25"]
        for r in bm25_topk(df, pred, k=10, df_cap=5).collect()
    }
    assert same == full
    # cap=2 drops 'hot' (df=5): docs sharing ONLY 'hot' vanish from
    # the candidates entirely; doc 1 keeps just its 'zebra' term
    capped = {
        (r["query_id"], r["doc_id"]): r["bm25"]
        for r in bm25_topk(df, pred, k=10, df_cap=2).collect()
    }
    assert set(capped) == {(0, 1)}
    assert 0 < capped[(0, 1)] < full[(0, 1)]


def test_bm25_capped_leg_recall_and_error_bound(spark):
    """The zc42 bench-only leg's exactness story (r10, verdict item
    3): on the Zipf-vocabulary corpus the leg runs on, cap = N/2 must
    (a) keep recall@10 vs the exact gate ≥ 0.8 (measured ≈ 0.86-0.88
    at N = 5k-80k; pinned with slack for the smaller test corpus),
    and (b) the DOCUMENTED error bound must hold PAIRWISE: for every
    (query, doc) scored by both paths, score_exact − score_capped ≤
    (number of that query's distinct terms with df > cap) ·
    idf(df_cap)·(k1+1), and capped scores never exceed exact
    (dropping terms only removes non-negative contributions)."""
    import math

    from pyspark.sql import functions as F

    from trendr_data_pipeline_spark.plans.text_ops import (
        bm25_topk,
        tokens,
        zipf_synthetic_docs,
    )

    n, k1 = 800, 1.2
    cap = n // 2
    docs = zipf_synthetic_docs(spark, n).localCheckpoint(eager=True)
    pred = F.col("doc_id") % 40 == 0  # 20 query docs
    exact = {
        (r["query_id"], r["doc_id"]): r["bm25"]
        for r in bm25_topk(docs, pred, k=10).collect()
    }
    capped = {
        (r["query_id"], r["doc_id"]): r["bm25"]
        for r in bm25_topk(docs, pred, k=10, df_cap=cap).collect()
    }
    recall = len(set(capped) & set(exact)) / len(exact)
    assert recall >= 0.8, recall

    # per-query count of dropped (df > cap) distinct terms
    t = docs.select("doc_id", F.explode(tokens(F.lower(F.col("text")))).alias("tok"))
    tf = t.groupBy("doc_id", "tok").count()
    dfreq = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    dropped = {
        r["doc_id"]: r["nd"]
        for r in tf.filter(pred)
        .join(dfreq.filter(F.col("df") > cap), "tok")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("nd"))
        .collect()
    }
    per_term = math.log(1 + (n - cap + 0.5) / (cap + 0.5)) * (k1 + 1)
    checked = 0
    for pair, s_exact in exact.items():
        if pair in capped:
            diff = s_exact - capped[pair]
            assert diff >= -1e-6, pair  # capped never exceeds exact
            bound = dropped.get(pair[0], 0) * per_term
            assert diff <= bound + 1e-6, (pair, diff, bound)
            checked += 1
    assert checked > 50  # the bound was exercised, not vacuous
    # and the leg's registered form runs (bench-only: no oracle)
    from trendr_data_pipeline_spark.plans.registry import all_queries

    q = all_queries()["zc42_bm25_capped_topk"]
    assert q.oracle is None
    rows = q.fn(spark, SMOKE_SF).collect()
    assert rows and {c for c in rows[0].asDict()} == {
        "query_id", "doc_id", "bm25", "rk"
    }
