"""c40 — corpus DATA CARD rollup (r8 verdict item 4).

One pass emitting the per-source × per-split release report every
training run wants (the "datasheets for datasets" / model-card data
section, as a relational operator): docs, tokens, exact-dup rate
(d01's fingerprint), sampled near-dup rate (d02's exact-Jaccard
screen on the 1-in-10 slice — the full self-screen is a 13 s query
at sf0.1, and data cards quote sampled dup rates in practice),
benchmark-contamination rate of the non-test splits against the TEST
split's own 8-grams (⊕D7's machinery, self-contained — no external
benchmark fixture needed), predicted-English share (t02's marker
argmax), mean quality (t03's blend), and mean/low-share token
entropy (c37). Groupings via CUBE(source, split) — (source×split),
per-source, per-split, and the corpus total in ONE rollup exchange.

Every metric column reuses an already-gated fragment, so the oracle
composes mechanically from the stage gates' own SQL (the c23
device — c37's entropy CTE is spliced from the registry string
verbatim). Rates over subpopulations (sampled docs, non-test docs)
use AVG-over-NULL-skipping CASE columns, identical in both engines.

Scale shape: the card adds exactly ONE new exchange (the cube) on
top of its component machinery — flags arrive through the
components' own gram/fingerprint-keyed joins (never doc×doc; the
near-dup leg is the d02 inverted index, the contamination leg the
D7 gram semi-join), and every per-doc column is a codegen'd
projection. Group count is bounded by |sources|×|splits| — the cube
never sees corpus-cardinality keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..io import read_table
from ._numeric import DEC, sql_davg
from .dedup_ops import _SQL_TOKSET
from .registry import _REGISTRY, register
from .text_ops import SQL_SPLIT_CASE, _MARKERS, _SQL_QUALITY, _SQL_STOP, _SQL_TOKS

#: sampled near-dup slice (the d02 incoming predicate)
_ND_MOD = 10
_LOW_H = 2.9

# the card's dup legs claim to reuse d01/d02 machinery VERBATIM — so
# the token-set fragment and the split CASE are imported, not
# re-declared (review finding: a byte-copy silently keeps a stale
# tokenizer if dedup_ops ever adjusts its _SQL_TOKSET)
_SQL_TOKSET_CARD = _SQL_TOKSET
_SQL_SPLIT_CASE = SQL_SPLIT_CASE

_LANG_HITS_SQL = ",\n               ".join(
    f"len(list_filter(toks, x -> list_contains("
    f"[{','.join(repr(m) for m in ms)}], x))) AS hits_{lang}"
    for lang, ms in _MARKERS.items()
)


def _card_oracle() -> str:
    ent = _REGISTRY["c37_token_entropy"].oracle
    return f"""
    WITH base AS (
        SELECT doc_id, source,
           {_SQL_SPLIT_CASE} AS split,
           {_SQL_TOKS} AS toks,
           md5(array_to_string({_SQL_TOKSET_CARD}, ' ')) AS fp
        FROM documents
    ), feat0 AS (
        SELECT doc_id, source, split, fp,
               len(toks) AS n_tok,
               list_aggregate(list_transform(toks, x -> len(x)), 'sum') AS tok_chars,
               len(list_filter(toks, x -> list_contains({_SQL_STOP}, x))) AS stop_hits,
               {_LANG_HITS_SQL},
               toks
        FROM base
    ), feat AS (
        SELECT doc_id, source, split, fp, n_tok,
               CASE WHEN n_tok > 0 THEN ROUND({_SQL_QUALITY}, 6) END AS quality,
               CASE WHEN greatest(hits_en, hits_fr, hits_de, hits_es, hits_zh) = 0
                        THEN 0
                    WHEN hits_en >= greatest(hits_fr, hits_de, hits_es, hits_zh)
                        THEN 1
                    ELSE 0 END AS is_en
        FROM feat0
    ), dupfp AS (
        SELECT fp FROM feat GROUP BY fp HAVING COUNT(*) > 1
    ), tk AS (
        SELECT doc_id AS id, {_SQL_TOKSET_CARD} AS tset FROM documents
        WHERE len({_SQL_TOKSET_CARD}) > 0
    ), nd AS (
        SELECT DISTINCT a.id AS doc_id FROM tk a JOIN tk b ON a.id <> b.id
        WHERE a.id % {_ND_MOD} = 0
          AND ROUND(len(list_intersect(a.tset, b.tset)) * 1.0
                    / len(list_distinct(list_concat(a.tset, b.tset))), 6) >= 0.8
    ), teg AS (
        SELECT DISTINCT array_to_string(toks[i:i+7], ' ') AS gram
        FROM feat0 CROSS JOIN UNNEST(range(1, greatest(len(toks) - 6, 1))) AS r(i)
        WHERE split = 'test' AND len(toks) >= 8
    ), cpos AS (
        -- r10: contamination at the c43 RUN grain — distinct covered
        -- positions, so the card can report SEVERITY (share of
        -- contaminated tokens), not just the binary hit
        SELECT DISTINCT f.doc_id, f.pos + j AS tokpos
        FROM (SELECT doc_id, CAST(i AS BIGINT) AS pos,
                     array_to_string(toks[i:i+7], ' ') AS gram
              FROM feat0
              CROSS JOIN UNNEST(range(1, greatest(len(toks) - 6, 1))) AS r(i)
              WHERE split <> 'test' AND len(toks) >= 8) f
        SEMI JOIN teg USING (gram)
        CROSS JOIN UNNEST(range(8)) AS rr(j)
    ), chit AS (
        SELECT doc_id, COUNT(*) AS n_cov FROM cpos GROUP BY doc_id
    ), ent AS ({ent}
    ), j AS (
        SELECT f.source, f.split, f.n_tok, f.quality, f.is_en,
               CASE WHEN dupfp.fp IS NOT NULL THEN 1 ELSE 0 END AS is_exact_dup,
               CASE WHEN f.doc_id % {_ND_MOD} = 0
                    THEN CASE WHEN nd.doc_id IS NOT NULL THEN 1 ELSE 0 END
               END AS nd_flag,
               CASE WHEN f.split <> 'test'
                    THEN CASE WHEN chit.doc_id IS NOT NULL THEN 1 ELSE 0 END
               END AS contam_flag,
               CASE WHEN f.split <> 'test' AND f.n_tok > 0
                    THEN ROUND(COALESCE(chit.n_cov, 0) * 1.0 / f.n_tok, 6)
               END AS contam_share,
               ent.entropy,
               CASE WHEN ent.entropy IS NOT NULL
                    THEN CASE WHEN ent.entropy < {_LOW_H} THEN 1 ELSE 0 END
               END AS low_h_flag
        FROM feat f
        LEFT JOIN dupfp ON f.fp = dupfp.fp
        LEFT JOIN nd ON f.doc_id = nd.doc_id
        LEFT JOIN chit ON f.doc_id = chit.doc_id
        LEFT JOIN ent ON f.doc_id = ent.doc_id
    )
    SELECT CASE WHEN GROUPING(source) = 1 THEN 'ALL' ELSE source END AS source,
           CASE WHEN GROUPING(split) = 1 THEN 'ALL' ELSE split END AS split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
           ROUND(AVG(is_exact_dup), 6) AS exact_dup_rate,
           ROUND(AVG(nd_flag), 6) AS near_dup_rate_sampled,
           ROUND(AVG(contam_flag), 6) AS contam_rate,
           ROUND({sql_davg("contam_share")}, 6) AS contam_tok_share,
           ROUND(AVG(is_en), 6) AS pred_en_share,
           ROUND({sql_davg("quality")}, 6) AS mean_quality,
           ROUND({sql_davg("entropy")}, 6) AS mean_entropy,
           ROUND(AVG(low_h_flag), 6) AS low_entropy_share
    FROM j GROUP BY CUBE(source, split)
    """


def corpus_data_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See the ``c40_data_card`` register doc for semantics.

    Caching contract (r9 ADVICE): the per-doc feature frame is
    ``persist()``-ed (it feeds the fingerprint self-aggregate AND the
    metric join) and the returned lazy DataFrame still references it;
    the cache entry lives until ``spark.catalog.clearCache()`` or
    session end (bench.py and the driver clear between queries).
    """
    from ..operators.dedup import (
        bow_fingerprint,
        contaminated_runs,
        jaccard_topk_join,
        tokens as _tokens,
    )
    from ..operators.quality import token_entropy
    from ..operators.sampling import split_assign
    from .text_ops import (
        _quality_expr,
        _stop_array,
        lang_hit_columns,
        predicted_lang_expr,
    )

    docs = read_table(spark, sf_dir, "documents")

    toks = _tokens(F.lower(F.col("text")))
    base = split_assign(docs.select("doc_id", "source", "text"))
    feat0 = lang_hit_columns(
        base.select(
            "doc_id",
            "source",
            "split",
            bow_fingerprint(F.col("text")).alias("fp"),
            toks.alias("toks"),
        )
    )
    n_tok = F.size(F.col("toks"))
    tok_chars = F.aggregate(
        F.transform(F.col("toks"), lambda x: F.length(x)),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    stop_hits = F.size(
        F.filter(F.col("toks"), lambda x: F.array_contains(_stop_array(), x))
    )
    # feat feeds TWO consumers — its own fingerprint aggregate (a
    # self-join) and the final metric join — so the tokenize/md5/lang
    # pipeline is materialized once (review finding; the d02/release
    # persist-once posture, lifetime ends at the session's next
    # clearCache)
    feat = feat0.select(
        "doc_id",
        "source",
        "split",
        "fp",
        n_tok.alias("n_tok"),
        F.when(
            n_tok > 0,
            F.round(_quality_expr(n_tok, tok_chars, stop_hits), 6),
        ).alias("quality"),
        (predicted_lang_expr() == "en").cast("int").alias("is_en"),
    ).persist()
    dupfp = (
        feat.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("_nfp"))
        .filter(F.col("_nfp") > 1)
        .select("fp", F.lit(1).alias("_dup"))
    )
    nd_ids = (
        jaccard_topk_join(
            docs.filter(F.col("doc_id") % _ND_MOD == 0), docs, threshold=0.8, k=1
        )
        .select(F.col("id_a").alias("doc_id"), F.lit(1).alias("_nd"))
        .distinct()
    )
    # r10: the contamination leg runs at c43's RUN grain — the summed
    # run lengths give covered-position counts, so the card reports
    # both the hit rate AND the severity (share of contaminated
    # tokens); flag semantics unchanged (hit ⇔ n_cov > 0)
    contam = (
        contaminated_runs(
            base.filter(F.col("split") != "test"),
            base.filter(F.col("split") == "test"),
            n=8,
        )
        .groupBy("doc_id")
        .agg(F.sum("run_toks").cast("long").alias("_ncov"))
    )
    ent = token_entropy(docs).select("doc_id", "entropy")
    # dupfp and nd_ids are both corpus-FRACTION frames (every
    # duplicated fingerprint / every sampled doc with a near-dup) —
    # no forced broadcasts; AQE promotes them when small and degrades
    # to keyed joins when not (review finding: a forced broadcast of
    # either would OOM the driver at the 100 TB posture)
    j = (
        feat.join(dupfp, "fp", "left")
        .join(nd_ids, "doc_id", "left")
        .join(contam, "doc_id", "left")
        .join(ent, "doc_id", "left")
        .select(
            "source",
            "split",
            "n_tok",
            "quality",
            "is_en",
            F.coalesce(F.col("_dup"), F.lit(0)).alias("is_exact_dup"),
            F.when(
                F.col("doc_id") % _ND_MOD == 0, F.coalesce(F.col("_nd"), F.lit(0))
            ).alias("nd_flag"),
            F.when(
                F.col("split") != "test",
                (F.coalesce(F.col("_ncov"), F.lit(0)) > 0).cast("int"),
            ).alias("contam_flag"),
            F.when(
                (F.col("split") != "test") & (F.col("n_tok") > 0),
                F.round(
                    F.coalesce(F.col("_ncov"), F.lit(0)) * 1.0 / F.col("n_tok"), 6
                ),
            ).alias("contam_share"),
            "entropy",
            F.when(
                F.col("entropy").isNotNull(),
                (F.col("entropy") < _LOW_H).cast("int"),
            ).alias("low_h_flag"),
        )
    )

    def _davg(c: str) -> F.Column:
        return (F.sum(F.col(c).cast(DEC)).cast("double") / F.count(c))

    return (
        j.cube("source", "split")
        .agg(
            # rollup sentinel via grouping(), not COALESCE (r9 ADVICE):
            # a NULL-source data row (or a literal source named 'ALL')
            # must stay distinguishable from the rollup total — the
            # fixture never exercises either, so only the grouping bit
            # separates them (pinned by the synthetic parity pytest)
            F.grouping("source").alias("_gsrc"),
            F.grouping("split").alias("_gspl"),
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("n_tokens"),
            F.round(F.avg("is_exact_dup"), 6).alias("exact_dup_rate"),
            F.round(F.avg("nd_flag"), 6).alias("near_dup_rate_sampled"),
            F.round(F.avg("contam_flag"), 6).alias("contam_rate"),
            F.round(_davg("contam_share"), 6).alias("contam_tok_share"),
            F.round(F.avg("is_en"), 6).alias("pred_en_share"),
            F.round(_davg("quality"), 6).alias("mean_quality"),
            F.round(_davg("entropy"), 6).alias("mean_entropy"),
            F.round(F.avg("low_h_flag"), 6).alias("low_entropy_share"),
        )
        .select(
            F.when(F.col("_gsrc") == 1, F.lit("ALL"))
            .otherwise(F.col("source"))
            .alias("source"),
            F.when(F.col("_gspl") == 1, F.lit("ALL"))
            .otherwise(F.col("split"))
            .alias("split"),
            "n_docs",
            "n_tokens",
            "exact_dup_rate",
            "near_dup_rate_sampled",
            "contam_rate",
            "contam_tok_share",
            "pred_en_share",
            "mean_quality",
            "mean_entropy",
            "low_entropy_share",
        )
    )


def doc_card_features(docs: DataFrame) -> DataFrame:
    """The card's per-doc-LOCAL feature frame — (doc_id, split, fp,
    n_tok, quality, is_en, entropy) over a (doc_id, text) corpus.
    Every column is a pure function of one document (split is a hash
    of its id), which is exactly what makes the frame MAINTAINABLE
    O(delta) across releases (c44): unchanged docs keep their rows
    verbatim. The corpus-JOIN card legs (near-dup sampling,
    contamination) deliberately live outside this frame: they join
    the whole corpus, so a row merge cannot maintain them."""
    from ..operators.dedup import bow_fingerprint, tokens as _tokens
    from ..operators.quality import token_entropy
    from ..operators.sampling import split_assign
    from .text_ops import (
        _quality_expr,
        _stop_array,
        lang_hit_columns,
        predicted_lang_expr,
    )

    base = split_assign(docs.select("doc_id", "text"))
    toks = _tokens(F.lower(F.col("text")))
    feat0 = lang_hit_columns(
        base.select(
            "doc_id",
            "split",
            bow_fingerprint(F.col("text")).alias("fp"),
            toks.alias("toks"),
        )
    )
    n_tok = F.size(F.col("toks"))
    tok_chars = F.aggregate(
        F.transform(F.col("toks"), lambda x: F.length(x)),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    stop_hits = F.size(
        F.filter(F.col("toks"), lambda x: F.array_contains(_stop_array(), x))
    )
    feat = feat0.select(
        "doc_id",
        "split",
        "fp",
        n_tok.cast("long").alias("n_tok"),
        F.when(
            n_tok > 0,
            F.round(_quality_expr(n_tok, tok_chars, stop_hits), 6),
        ).alias("quality"),
        (predicted_lang_expr() == "en").cast("int").alias("is_en"),
    )
    ent = token_entropy(docs).select("doc_id", "entropy")
    return feat.join(ent, "doc_id", "left")


def card_from_features(feat: DataFrame) -> DataFrame:
    """Aggregate the per-doc feature frame into the release card:
    ROLLUP(split) — per-split rows plus the corpus total (grouping()
    sentinel, the r10 c40 device). The only non-doc-local metric is
    the exact-dup rate, one keyed groupBy on the maintained frame's
    fp column (narrow, map-side combined) — never a re-tokenize."""
    dupfp = (
        feat.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("_nfp"))
        .filter(F.col("_nfp") > 1)
        .select("fp", F.lit(1).alias("_dup"))
    )
    j = feat.join(dupfp, "fp", "left").select(
        "split",
        "n_tok",
        "quality",
        "is_en",
        F.coalesce(F.col("_dup"), F.lit(0)).alias("is_exact_dup"),
        "entropy",
        F.when(
            F.col("entropy").isNotNull(),
            (F.col("entropy") < _LOW_H).cast("int"),
        ).alias("low_h_flag"),
    )

    def _davg(c: str) -> F.Column:
        return F.sum(F.col(c).cast(DEC)).cast("double") / F.count(c)

    return (
        j.rollup("split")
        .agg(
            F.grouping("split").alias("_gspl"),
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("n_tokens"),
            F.round(F.avg("is_exact_dup"), 6).alias("exact_dup_rate"),
            F.round(F.avg("is_en"), 6).alias("pred_en_share"),
            F.round(_davg("quality"), 6).alias("mean_quality"),
            F.round(_davg("entropy"), 6).alias("mean_entropy"),
            F.round(F.avg("low_h_flag"), 6).alias("low_entropy_share"),
        )
        .select(
            F.when(F.col("_gspl") == 1, F.lit("ALL"))
            .otherwise(F.col("split"))
            .alias("split"),
            "n_docs",
            "n_tokens",
            "exact_dup_rate",
            "pred_en_share",
            "mean_quality",
            "mean_entropy",
            "low_entropy_share",
        )
    )


def incremental_data_card(
    feat_v1: DataFrame,
    v1: DataFrame,
    v2: DataFrame,
    diff: DataFrame | None = None,
) -> DataFrame:
    """⊕A19 incremental (r10, verdict item 5 — the card IS the
    release report): refresh the card's per-doc feature frame
    O(delta) and re-aggregate. ``feat_v1`` is the maintained
    feature artifact for ``v1`` (:func:`doc_card_features` output,
    persisted between releases); the snapshot diff (c33) classifies
    the delta, ONLY added/modified docs are re-featurized (the
    tokenize/quality/entropy pass — the card's dominant cost), and
    the merged frame aggregates through :func:`card_from_features`.
    The c44 gate hash-checks this against a from-scratch v2 card.

    ``diff`` (r11): pass the release run's own c33 snapshot diff to
    skip recomputing it — the diff is the one O(corpus) term left in
    this path (two md5 projections + a full-outer join), and a
    production release computes it ONCE anyway (the card
    piggybacks). The r11 card-mode wall-time table (SCALING.md)
    measures both variants: with the diff shared, the refresh is
    delta-bound as claimed; computing its own diff, the ratio
    saturates near featurize:md5-scan.
    Must have c33's schema: (doc_id, status ∈ added/removed/
    modified/...).

    Caching contract (the module posture): the diff frame is
    persisted; callers clearCache after materializing the card."""
    from ..operators.ingestion import snapshot_diff

    if diff is None:
        diff = snapshot_diff(v1, v2)
    diff = diff.persist()
    gone = diff.filter(F.col("status").isin("removed", "modified")).select(
        "doc_id"
    )
    changed = diff.filter(F.col("status").isin("added", "modified")).select(
        "doc_id"
    )
    fresh = doc_card_features(v2.join(changed, "doc_id", "left_semi"))
    feat_v2 = feat_v1.join(gone, "doc_id", "left_anti").unionByName(fresh)
    return card_from_features(feat_v2)


register(
    "c40_data_card",
    _card_oracle(),
    doc="""Corpus DATA CARD rollup (⊕, r9 — verdict item 4): the
    per-source × per-split release report, CUBE over (source, split)
    in one rollup exchange. Metrics reuse gated machinery verbatim —
    d01 fingerprints, d02's inverted-index Jaccard screen (sampled
    1-in-10, documented), D7 gram contamination of train/val against
    the TEST split — since r10 at c43's RUN grain, adding the
    contam_tok_share SEVERITY column (mean share of covered token
    positions; the binary rate cannot rank a quoted eval answer above
    an incidental 8-gram) —, t02 language argmax, t03 quality, c37
    entropy
    (its oracle CTE spliced from the registry string — the c23
    composition device). Decimal-accumulated means, rate columns as
    NULL-skipping CASE averages (subpopulation denominators), all
    rounded 6 dp.""",
)(corpus_data_card)


# ---------------------------------------------------------------------------
# c44 — the INCREMENTAL data card (r10, verdict item 5)
# ---------------------------------------------------------------------------

#: staged v1 feature artifacts: abs(sf_dir) -> parquet dir (the
#: maintained per-doc frame a production card keeps between releases;
#: staged once per process — read-only, so no per-run clone needed)
_STAGED_FEAT: dict[str, str] = {}
_FEAT_CLEANUP_REGISTERED = False


def _reap_feat_dirs() -> None:
    import shutil

    for d in _STAGED_FEAT.values():
        shutil.rmtree(d, ignore_errors=True)


def _staged_v1_features(spark: SparkSession, sf_dir: str) -> str:
    import atexit
    import os
    import tempfile

    global _FEAT_CLEANUP_REGISTERED
    if not _FEAT_CLEANUP_REGISTERED:
        atexit.register(_reap_feat_dirs)
        _FEAT_CLEANUP_REGISTERED = True
    key = os.path.abspath(sf_dir)
    if key not in _STAGED_FEAT:
        holder = tempfile.mkdtemp(prefix="card_feat_stage_")
        docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
        doc_card_features(docs).write.parquet(os.path.join(holder, "feat_v1"))
        _STAGED_FEAT[key] = holder
    return os.path.join(_STAGED_FEAT[key], "feat_v1")


def _incr_card_oracle() -> str:
    from .dedup_ops import SQL_V2_SNAPSHOT

    ent = _REGISTRY["c37_token_entropy"].oracle
    # splice the gated entropy CTE, repointed at the v2 snapshot (the
    # c23 string-substitution device); fail loud if c37's oracle ever
    # stops having exactly one corpus scan to repoint
    assert ent.count("FROM documents") == 1, "c37 oracle shape changed"
    ent_v2 = ent.replace("FROM documents", "FROM v2")
    return f"""
    WITH v2 AS ({SQL_V2_SNAPSHOT}
    ), base AS (
        SELECT doc_id,
           {_SQL_SPLIT_CASE} AS split,
           {_SQL_TOKS} AS toks,
           md5(array_to_string({_SQL_TOKSET_CARD}, ' ')) AS fp
        FROM v2
    ), feat0 AS (
        SELECT doc_id, split, fp,
               len(toks) AS n_tok,
               list_aggregate(list_transform(toks, x -> len(x)), 'sum') AS tok_chars,
               len(list_filter(toks, x -> list_contains({_SQL_STOP}, x))) AS stop_hits,
               {_LANG_HITS_SQL}
        FROM base
    ), feat AS (
        SELECT doc_id, split, fp, n_tok,
               CASE WHEN n_tok > 0 THEN ROUND({_SQL_QUALITY}, 6) END AS quality,
               CASE WHEN greatest(hits_en, hits_fr, hits_de, hits_es, hits_zh) = 0
                        THEN 0
                    WHEN hits_en >= greatest(hits_fr, hits_de, hits_es, hits_zh)
                        THEN 1
                    ELSE 0 END AS is_en
        FROM feat0
    ), dupfp AS (
        SELECT fp FROM feat GROUP BY fp HAVING COUNT(*) > 1
    ), ent AS ({ent_v2}
    ), j AS (
        SELECT f.split, f.n_tok, f.quality, f.is_en,
               CASE WHEN dupfp.fp IS NOT NULL THEN 1 ELSE 0 END AS is_exact_dup,
               ent.entropy,
               CASE WHEN ent.entropy IS NOT NULL
                    THEN CASE WHEN ent.entropy < {_LOW_H} THEN 1 ELSE 0 END
               END AS low_h_flag
        FROM feat f
        LEFT JOIN dupfp ON f.fp = dupfp.fp
        LEFT JOIN ent ON f.doc_id = ent.doc_id
    )
    SELECT CASE WHEN GROUPING(split) = 1 THEN 'ALL' ELSE split END AS split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
           ROUND(AVG(is_exact_dup), 6) AS exact_dup_rate,
           ROUND(AVG(is_en), 6) AS pred_en_share,
           ROUND({sql_davg("quality")}, 6) AS mean_quality,
           ROUND({sql_davg("entropy")}, 6) AS mean_entropy,
           ROUND(AVG(low_h_flag), 6) AS low_entropy_share
    FROM j GROUP BY ROLLUP(split)
    """


@register(
    "c44_incremental_data_card",
    _incr_card_oracle(),
    doc="""INCREMENTAL data card across a v1→v2 release step (⊕A19
    incremental, r10 — verdict item 5): the Spark side maintains the
    v1 per-doc feature artifact (staged once per process, read-only —
    in production the frame a card keeps between releases), classifies
    the delta with
    the c33 snapshot diff, re-featurizes ONLY added/modified docs
    (the tokenize/quality/entropy pass — the card's dominant cost),
    merges, and re-aggregates with ROLLUP(split) + grouping()
    sentinel. The oracle computes the same card FROM SCRATCH over the
    v2 snapshot (c34 split CASE, t03 quality, t02 argmax, d01
    fingerprint dup rate, c37 entropy CTE spliced from the registry
    string repointed at v2) — a hash match proves incremental card ==
    full recompute. The corpus-JOIN legs (near-dup sample,
    contamination) deliberately stay out of the maintained frame:
    they join the whole corpus, and the full card (c40) gates them
    separately.""",
)
def c44_incremental_data_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .dedup_ops import v2_snapshot

    v1 = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    v2 = v2_snapshot(v1)
    feat_v1 = spark.read.parquet(_staged_v1_features(spark, sf_dir))
    return incremental_data_card(feat_v1, v1, v2)


# ---------------------------------------------------------------------------
# c47 — ⊕A21 cross-source n-gram overlap matrix (r10)
# ---------------------------------------------------------------------------

_C47_N = 3

_SQL_SOURCE_OVERLAP = f"""
    WITH base AS (
        SELECT source, {_SQL_TOKS} AS toks FROM documents
    ), g AS (
        SELECT DISTINCT source,
               array_to_string(toks[i:i+{_C47_N - 1}], ' ') AS gram
        FROM base
        CROSS JOIN UNNEST(range(1, len(toks) - {_C47_N - 2})) AS r(i)
        WHERE len(toks) >= {_C47_N}
    ), sizes AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM g GROUP BY source
    ), inter AS (
        SELECT a.source AS sa, b.source AS sb, CAST(COUNT(*) AS BIGINT) AS i
        FROM g a JOIN g b ON a.gram = b.gram AND a.source < b.source
        GROUP BY 1, 2
    )
    SELECT p.sa AS source_a, p.sb AS source_b,
           p.na AS grams_a, p.nb AS grams_b,
           COALESCE(i.i, 0) AS inter_grams,
           ROUND(COALESCE(i.i, 0) * 1.0 / p.na, 6) AS containment_a_in_b,
           ROUND(COALESCE(i.i, 0) * 1.0 / p.nb, 6) AS containment_b_in_a,
           ROUND(COALESCE(i.i, 0) * 1.0
                 / (p.na + p.nb - COALESCE(i.i, 0)), 6) AS jaccard
    FROM (SELECT a.source AS sa, b.source AS sb, a.n AS na, b.n AS nb
          FROM sizes a JOIN sizes b ON a.source < b.source) p
    LEFT JOIN inter i ON p.sa = i.sa AND p.sb = i.sb
"""


@register(
    "c47_source_overlap",
    _SQL_SOURCE_OVERLAP,
    doc="""Cross-source n-gram overlap matrix (⊕A21, r10): per
    unordered source pair, distinct word-3-gram set sizes,
    intersection, both containments and Jaccard — the
    corpus-COMPOSITION audit mixture design runs before choosing
    weights (the inter-dataset overlap practice of the Pile/Dolma
    reports), at SOURCE grain where d01-d06 answer per document.
    Zero-overlap pairs are included (absence of overlap is the
    finding). Spark side: one corpus-scale (source, gram-hash)
    distinct, one gram-keyed collect_set bounded by #sources, bounded
    pair explode, map-side-combined count onto ≤ s²/2 keys; the
    all-pairs frame is sizes×sizes — a #sources-row broadcast
    nested-loop, the benign catalog-grain kind. Grams travel as
    64-bit hashes vs oracle strings (the d05 collision posture).""",
)
def c47_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import source_overlap_matrix

    return source_overlap_matrix(
        read_table(spark, sf_dir, "documents").select("source", "text"), n=_C47_N
    )
