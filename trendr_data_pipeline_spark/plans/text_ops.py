"""Text-analysis queries over ``documents`` (north-star LLM-pipeline
ops: language-ID, quality scoring, token counting, fingerprinting;
exercises ST1/ST5 machinery from SURVEY §2.7 at corpus scale).

Everything here is JVM-side builtins (split / higher-order array
functions / md5) — the exact-parity pandas UDFs (ST1–ST3) are covered
by unit tests, not needed on this hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.text import token_count, tokens
from ..io import read_table
from ._numeric import DEC, davg, dsum, sql_davg, sql_dsum
from .registry import register

#: DuckDB expression for the same token list Spark's ``tokens()`` builds
_SQL_TOKS = "list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> len(x) > 0)"

# ---------------------------------------------------------------------------
# t01 — per-source token statistics, merged r4 with t06's BPE
# pre-tokenizer counts (same source grain; one gate under the driver's
# 50-query correctness cap). Per-doc ratios guard n_tokens = 0
# explicitly on BOTH engines: Spark's x/0 yields NULL (skipped by
# sum/avg) while DuckDB's IEEE float division yields inf, so an
# unguarded empty document would poison the aggregate on one side only.
# ---------------------------------------------------------------------------

#: GPT-2-style pre-tokenizer classes, lookahead-free so Java regex
#: (Spark) and RE2 (DuckDB) agree: contraction tail, space-prefixed
#: letter run, digit run, punctuation run
_BPE_PAT = r"'[a-z]+| ?[a-z]+| ?[0-9]+| ?[^\sa-z0-9']+"


@register(
    "t01_token_stats",
    f"""
    WITH t AS (
        SELECT source, lang, n_chars,
               len({_SQL_TOKS}) AS n_tokens,
               list_aggregate(list_transform({_SQL_TOKS}, x -> len(x)), 'sum') AS tok_chars,
               len(regexp_extract_all(lower(text), '{_BPE_PAT.replace("'", "''")}'))
                   AS bpe_tokens
        FROM documents
    )
    , v AS (
        SELECT source, tok, COUNT(*) AS cnt
        FROM (SELECT source, UNNEST({_SQL_TOKS}) AS tok FROM documents)
        GROUP BY source, tok
    ), vs AS (
        SELECT source, COUNT(*) AS distinct_tokens,
               CAST(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS hapax_tokens
        FROM v GROUP BY source
    ), agg AS (
        SELECT source,
               COUNT(*) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
               {sql_davg('n_tokens')} AS avg_tokens,
               {sql_dsum('CASE WHEN n_tokens = 0 THEN NULL ELSE tok_chars * 1.0 / n_tokens END')}
                   AS sum_avg_token_len,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars,
               CAST(SUM(bpe_tokens) AS BIGINT) AS total_bpe_tokens,
               {sql_davg('CASE WHEN n_tokens = 0 THEN NULL ELSE bpe_tokens * 1.0 / n_tokens END')}
                   AS sum_ratio_avg
        FROM t
        GROUP BY source
    )
    SELECT agg.*,
           COALESCE(vs.distinct_tokens, 0) AS distinct_tokens,
           COALESCE(vs.hapax_tokens, 0) AS hapax_tokens
    FROM agg LEFT JOIN vs USING (source)
    """,
)
def t01_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting at corpus scale, both flavors: whitespace tokens
    via split + higher-order filter, AND the BPE-pre-tokenizer count
    (GPT-2 class regex — contractions / letter runs / digit runs /
    punctuation runs, lookahead-free so both engines' regex dialects
    agree) — the cost-model columns a training-data pipeline budgets
    corpora with; aggregates per source. Late-r4 addition: vocabulary
    stats (distinct tokens + hapax legomena per source) via the
    two-level (source, token) → source partial-agg pyramid — the
    shuffle carries the distinct vocab, not the token stream."""
    docs = read_table(spark, sf_dir, "documents")
    toks = tokens(F.lower(F.col("text")))
    t = docs.select(
        "source",
        "n_chars",
        F.size(toks).alias("n_tokens"),
        F.aggregate(F.transform(toks, F.length), F.lit(0), lambda a, x: a + x).alias("tok_chars"),
        F.size(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit(_BPE_PAT), F.lit(0))
        ).alias("bpe_tokens"),
    )
    nonzero = F.col("n_tokens") != 0
    agg = t.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        davg("n_tokens").alias("avg_tokens"),
        dsum(F.when(nonzero, F.col("tok_chars") * 1.0 / F.col("n_tokens"))).alias(
            "sum_avg_token_len"
        ),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.sum("bpe_tokens").cast("long").alias("total_bpe_tokens"),
        davg(F.when(nonzero, F.col("bpe_tokens") * 1.0 / F.col("n_tokens"))).alias(
            "sum_ratio_avg"
        ),
    )
    # vocabulary stats: token-grain partial-agg pyramid (source, token)
    # → source; the (source, token) shuffle is the corpus's distinct
    # vocab, not the token stream (map-side combine collapses repeats)
    vocab = (
        docs.select("source", F.explode(toks).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("distinct_tokens"),
            F.sum(F.when(F.col("cnt") == 1, 1).otherwise(0))
            .cast("long")
            .alias("hapax_tokens"),
        )
    )
    return agg.join(vocab, "source", "left").select(
        agg["*"],
        F.coalesce("distinct_tokens", F.lit(0)).alias("distinct_tokens"),
        F.coalesce("hapax_tokens", F.lit(0)).alias("hapax_tokens"),
    )


# ---------------------------------------------------------------------------
# t02 — language identification (marker-word heuristic)
# ---------------------------------------------------------------------------

_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "is"],
    "fr": ["le", "la", "les", "et", "une"],
    "de": ["der", "die", "das", "und", "ist"],
    "es": ["el", "los", "las", "y", "es"],
    "zh": ["的", "是", "了", "在", "和"],
}
_LANG_ORDER = ["en", "fr", "de", "es", "zh"]


def lang_hit_columns(frame: DataFrame, toks_col: str = "toks") -> DataFrame:
    """Append per-language marker-hit counts (``hits_<lang>``) to a
    frame carrying a token-array column (t02's language-ID
    machinery)."""
    for lang, markers in _MARKERS.items():
        arr = F.array(*[F.lit(m) for m in markers])
        frame = frame.withColumn(
            f"hits_{lang}",
            F.size(F.filter(F.col(toks_col), lambda x: F.array_contains(arr, x))),
        )
    return frame


def predicted_lang_expr() -> F.Column:
    """Argmax over the ``hits_<lang>`` columns with fixed precedence
    (deterministic ties) — evaluate on a frame produced by
    :func:`lang_hit_columns`."""
    best = F.greatest(*[F.col(f"hits_{lang}") for lang in _LANG_ORDER])
    pred = F.when(best == 0, F.lit("unknown"))
    for i, lang in enumerate(_LANG_ORDER[:-1]):
        rest_cols = [F.col(f"hits_{x}") for x in _LANG_ORDER[i + 1 :]]
        rest = rest_cols[0] if len(rest_cols) == 1 else F.greatest(*rest_cols)
        pred = pred.when(F.col(f"hits_{lang}") >= rest, F.lit(lang))
    return pred.otherwise(F.lit(_LANG_ORDER[-1]))


@register(
    "t02_language_id",
    f"""
    WITH t AS (
        SELECT lang,
               {_SQL_TOKS} AS toks
        FROM documents
    ), h AS (
        SELECT lang,
               len(list_filter(toks, x -> list_contains(['the','a','of','and','is'], x))) AS hits_en,
               len(list_filter(toks, x -> list_contains(['le','la','les','et','une'], x))) AS hits_fr,
               len(list_filter(toks, x -> list_contains(['der','die','das','und','ist'], x))) AS hits_de,
               len(list_filter(toks, x -> list_contains(['el','los','las','y','es'], x))) AS hits_es,
               len(list_filter(toks, x -> list_contains(['的','是','了','在','和'], x))) AS hits_zh
        FROM t
    ), p AS (
        SELECT lang,
               CASE
                 WHEN greatest(hits_en, hits_fr, hits_de, hits_es, hits_zh) = 0 THEN 'unknown'
                 WHEN hits_en >= greatest(hits_fr, hits_de, hits_es, hits_zh) THEN 'en'
                 WHEN hits_fr >= greatest(hits_de, hits_es, hits_zh) THEN 'fr'
                 WHEN hits_de >= greatest(hits_es, hits_zh) THEN 'de'
                 WHEN hits_es >= hits_zh THEN 'es'
                 ELSE 'zh'
               END AS predicted_lang
        FROM h
    )
    SELECT lang, predicted_lang, COUNT(*) AS n_docs
    FROM p GROUP BY lang, predicted_lang
    """,
)
def t02_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language-ID: per-language stopword hit counts, argmax
    with fixed precedence (deterministic ties), confusion counts vs the
    labeled ``lang`` column."""
    docs = read_table(spark, sf_dir, "documents")
    toks = tokens(F.lower(F.col("text")))
    t = lang_hit_columns(docs.select("lang", toks.alias("toks")))
    return (
        t.withColumn("predicted_lang", predicted_lang_expr())
        .groupBy("lang", "predicted_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


# ---------------------------------------------------------------------------
# t03 — quality scoring, merged r4 with t04's content fingerprints
# (same doc grain; one gate under the driver's 50-query correctness
# cap). The merged grain is ALL documents — empty/token-less docs get
# NULL quality instead of being filtered, so the fingerprint leg keeps
# t04's full coverage.
# ---------------------------------------------------------------------------

_SQL_QUALITY = (
    "40 * least(n_tok / 50.0, 1.0)"
    " + 30 * greatest(1.0 - abs(tok_chars * 1.0 / n_tok - 4.5) / 4.5, 0.0)"
    " + 30 * least(stop_hits * 5.0 / n_tok, 1.0)"
)


def _quality_expr(n_tok, tok_chars, stop_hits):
    """The Spark twin of ``_SQL_QUALITY`` — single home of the
    length/word-shape/stopword blend used by t03, t05 and x06."""
    len_part = 40 * F.least(n_tok / 50.0, F.lit(1.0))
    shape_part = 30 * F.greatest(
        1.0 - F.abs(tok_chars * 1.0 / n_tok - 4.5) / 4.5, F.lit(0.0)
    )
    stop_part = 30 * F.least(stop_hits * 5.0 / n_tok, F.lit(1.0))
    return len_part + shape_part + stop_part


#: the quality blend's stopword list — single home; the SQL twins
#: embed _SQL_STOP, derived from the same constant
_STOPWORDS = ["the", "a", "of", "and", "is", "to", "in"]
_SQL_STOP = "[" + ",".join(f"'{w}'" for w in _STOPWORDS) + "]"


def _stop_array():
    return F.array(*[F.lit(w) for w in _STOPWORDS])


def budget_scored(docs, keep_cols):
    """Shared scoring stage for x06 and the composed corpus pipeline:
    token/char/stopword counts → rounded quality → descending sort
    key and its monotone floor bucket. ``keep_cols`` are passed
    through unchanged."""
    toks = tokens(F.lower(F.col("text")))
    t = docs.select(
        *keep_cols,
        F.size(toks).cast("long").alias("n_tok"),
        F.aggregate(F.transform(toks, F.length), F.lit(0), lambda a, x: a + x).alias(
            "_tok_chars"
        ),
        F.size(F.filter(toks, lambda x: F.array_contains(_stop_array(), x))).alias(
            "_stop_hits"
        ),
    )
    q = _quality_expr(F.col("n_tok"), F.col("_tok_chars"), F.col("_stop_hits"))
    return (
        t.withColumn("quality", F.when(F.col("n_tok") > 0, F.round(q, 6)))
        .withColumn("_sortkey", -F.col("quality"))
        .withColumn("_qbucket", F.floor(F.col("_sortkey")))
        .drop("_tok_chars", "_stop_hits")
    )


#: per-source mixture weights exercised by the gate: drop / downsample
#: / default / upsample (fractional + guaranteed-copy parts)
_MIX_WEIGHTS = {"src0": 2.25, "src1": 0.4, "src2": 0.0}

_SQL_MIX_W = (
    "CASE source WHEN 'src0' THEN 2.25e0 WHEN 'src1' THEN 0.4e0"
    " WHEN 'src2' THEN 0.0e0 ELSE 1.0e0 END"
)
#: DuckDB twin of operators/sampling.hash_fraction (salt 'mix')
_SQL_MIX_FRAC = (
    "(('0x' || substr(md5('mix' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT"
    " / 4294967296.0e0)"
)


@register(
    "t03_quality_score",
    f"""
    WITH t AS (
        SELECT doc_id, text, source,
               {_SQL_TOKS} AS toks,
               len({_SQL_TOKS}) AS n_tok,
               list_aggregate(list_transform({_SQL_TOKS}, x -> len(x)), 'sum') AS tok_chars,
               len(list_filter({_SQL_TOKS},
                   x -> list_contains({_SQL_STOP}, x))) AS stop_hits
        FROM documents
    ), tkc AS (
        SELECT doc_id, tok, COUNT(*) AS cnt
        FROM (SELECT doc_id, UNNEST(toks) AS tok FROM t)
        GROUP BY doc_id, tok
    ), tkb AS (
        SELECT doc_id, cnt FROM (
            SELECT doc_id, cnt,
                   ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY cnt DESC, tok ASC) AS rn
            FROM tkc) WHERE rn = 1
    ), bgc AS (
        SELECT doc_id, gram, COUNT(*) AS cnt
        FROM (SELECT doc_id,
                     UNNEST(list_transform(range(1, len(toks)),
                            i -> toks[i] || ' ' || toks[i+1])) AS gram
              FROM t WHERE len(toks) >= 2)
        GROUP BY doc_id, gram
    ), bgb AS (
        SELECT doc_id, cnt, gram FROM (
            SELECT doc_id, cnt, gram,
                   ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY cnt DESC, gram ASC) AS rn
            FROM bgc) WHERE rn = 1
    )
    SELECT doc_id, source,
           CASE WHEN n_tok > 0 THEN ROUND({_SQL_QUALITY}, 6) END AS quality,
           CASE WHEN n_tok = 0 THEN NULL
                WHEN {_SQL_QUALITY} >= 60 THEN 'high'
                WHEN {_SQL_QUALITY} >= 35 THEN 'medium'
                ELSE 'low' END AS quality_class,
           md5(lower(trim(text))) AS fingerprint,
           md5(array_to_string(list_sort(list_distinct(
               list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> len(x) > 0))), ' '))
             AS bow_fingerprint,
           CAST(FLOOR({_SQL_MIX_W}) AS BIGINT)
             + CASE WHEN {_SQL_MIX_FRAC} < {_SQL_MIX_W} - FLOOR({_SQL_MIX_W})
                    THEN 1 ELSE 0 END AS mix_n_copies,
           CASE WHEN n_tok > 0 THEN ROUND(tkb.cnt * 1.0 / n_tok, 6) END
             AS rep_top_token_frac,
           COALESCE(bgb.cnt, 0) AS top_bigram_cnt,
           CASE WHEN bgb.cnt > 0 AND tok_chars > 0
                THEN ROUND(bgb.cnt * (len(bgb.gram) - 1) * 1.0 / tok_chars, 6) END
             AS rep_top_bigram_frac
    FROM t
    LEFT JOIN tkb USING (doc_id)
    LEFT JOIN bgb USING (doc_id)
    """,
)
def t03_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality heuristic (length / word-shape / stopword-rate
    blend, reference M1/M2 clamp+blend style) with a when-ladder class
    (reference F6 threshold-decision shape), PLUS t04's two content
    fingerprints on the same per-doc grain — raw (md5 of the
    lower/trimmed text) and order-invariant bag-of-words (md5 of the
    sorted distinct token list), the exact-dedup keys — PLUS (r4) the
    data-mixture decision: ``mix_n_copies`` from per-source sampling
    weights through `operators/sampling.mix_n_copies` (drop /
    downsample / upsample exercised via src0=2.25, src1=0.4, src2=0,
    default 1.0; hash-deterministic, so the DuckDB twin re-derives the
    exact decision from the same md5) — PLUS (r4) the Gopher
    repetition metrics from `operators/quality`: most-frequent-token
    fraction and most-frequent-bigram char coverage, computed
    SHUFFLE-FREE with the sorted-run fold (the DuckDB twin uses the
    explode → group → rank plan; same result, different engine
    strategy — exactly what the hash gate certifies)."""
    from ..operators.dedup import bow_fingerprint
    from ..operators.quality import bigram_char_coverage, top_run, word_bigrams
    from ..operators.sampling import mix_n_copies

    docs = read_table(spark, sf_dir, "documents")
    toks = tokens(F.lower(F.col("text")))
    stop = _stop_array()
    mix_w = F.lit(1.0)
    for src, w in _MIX_WEIGHTS.items():
        mix_w = F.when(F.col("source") == src, F.lit(float(w))).otherwise(mix_w)
    t = docs.select(
        "doc_id",
        "text",
        "source",
        F.size(toks).alias("n_tok"),
        F.aggregate(F.transform(toks, F.length), F.lit(0), lambda a, x: a + x).alias("tok_chars"),
        F.size(F.filter(toks, lambda x: F.array_contains(stop, x))).alias("stop_hits"),
        mix_n_copies(F.col("doc_id"), mix_w).alias("mix_n_copies"),
        top_run(toks).alias("_tt"),
        top_run(word_bigrams(toks)).alias("_tb"),
    )
    q = _quality_expr(F.col("n_tok"), F.col("tok_chars"), F.col("stop_hits"))
    has_tok = F.col("n_tok") > 0
    return t.select(
        "doc_id",
        "source",
        F.when(has_tok, F.round(q, 6)).alias("quality"),
        F.when(
            has_tok,
            F.when(q >= 60, "high").when(q >= 35, "medium").otherwise("low"),
        ).alias("quality_class"),
        F.md5(F.lower(F.trim(F.col("text")))).alias("fingerprint"),
        bow_fingerprint(F.col("text")).alias("bow_fingerprint"),
        "mix_n_copies",
        F.when(has_tok, F.round(F.col("_tt.cnt") * 1.0 / F.col("n_tok"), 6)).alias(
            "rep_top_token_frac"
        ),
        F.col("_tb.cnt").alias("top_bigram_cnt"),
        F.round(
            bigram_char_coverage(F.col("_tb"), F.col("tok_chars")), 6
        ).alias("rep_top_bigram_frac"),
    )


# ---------------------------------------------------------------------------
# t05 — composed corpus-cleaning pass (the training-data pipeline shape)
# ---------------------------------------------------------------------------

_SQL_LANG_CASE = """
               CASE
                 WHEN greatest(hits_en, hits_fr, hits_de, hits_es, hits_zh) = 0 THEN 'unknown'
                 WHEN hits_en >= greatest(hits_fr, hits_de, hits_es, hits_zh) THEN 'en'
                 WHEN hits_fr >= greatest(hits_de, hits_es, hits_zh) THEN 'fr'
                 WHEN hits_de >= greatest(hits_es, hits_zh) THEN 'de'
                 WHEN hits_es >= hits_zh THEN 'es'
                 ELSE 'zh'
               END
"""


#: word-8-gram list (DuckDB twin of operators/dedup.word_ngrams)
_SQL_GRAMS = (
    f"list_distinct(list_transform(range(1, greatest(len({_SQL_TOKS}) - 6, 1)),"
    f" i -> array_to_string(({_SQL_TOKS})[i:i+7], ' ')))"
)


@register(
    "t05_corpus_clean",
    f"""
    WITH t AS (
        SELECT doc_id, {_SQL_TOKS} AS toks,
               md5(array_to_string(list_sort(list_distinct({_SQL_TOKS})), ' ')) AS fp,
               CASE WHEN len({_SQL_TOKS}) >= 8 THEN {_SQL_GRAMS}
                    ELSE [] END AS grams
        FROM documents
    ), bench AS (
        SELECT DISTINCT UNNEST(grams) AS gram FROM t WHERE doc_id % 50 = 0
    ), contaminated AS (
        SELECT DISTINCT t.doc_id
        FROM t, UNNEST(t.grams) AS u(gram)
        WHERE u.gram IN (SELECT gram FROM bench)
    ), m AS (
        SELECT doc_id, toks, fp,
               MIN(doc_id) OVER (PARTITION BY fp) AS canonical_id,
               len(toks) AS n_tok,
               list_aggregate(list_transform(toks, x -> len(x)), 'sum') AS tok_chars,
               len(list_filter(toks,
                   x -> list_contains({_SQL_STOP}, x))) AS stop_hits,
               len(list_filter(toks, x -> list_contains(['the','a','of','and','is'], x))) AS hits_en,
               len(list_filter(toks, x -> list_contains(['le','la','les','et','une'], x))) AS hits_fr,
               len(list_filter(toks, x -> list_contains(['der','die','das','und','ist'], x))) AS hits_de,
               len(list_filter(toks, x -> list_contains(['el','los','las','y','es'], x))) AS hits_es,
               len(list_filter(toks, x -> list_contains(['的','是','了','在','和'], x))) AS hits_zh
        FROM t
    ), bgc AS (
        SELECT doc_id, gram, tok_chars, COUNT(*) AS cnt
        FROM (SELECT doc_id,
                     UNNEST(list_transform(range(1, len(toks)),
                            i -> toks[i] || ' ' || toks[i+1])) AS gram,
                     list_aggregate(list_transform(toks, x -> len(x)), 'sum') AS tok_chars
              FROM t WHERE len(toks) >= 2)
        GROUP BY doc_id, gram, tok_chars
    ), bgb AS (
        SELECT doc_id, cnt * (len(gram) - 1) * 1.0 / tok_chars AS rep_frac
        FROM (SELECT doc_id, cnt, gram, tok_chars,
                     ROW_NUMBER() OVER (PARTITION BY doc_id
                                        ORDER BY cnt DESC, gram ASC) AS rn
              FROM bgc) WHERE rn = 1 AND tok_chars > 0
    ), scored AS (
        SELECT m.doc_id,
               m.doc_id > canonical_id AS is_dup,
               m.doc_id IN (SELECT doc_id FROM contaminated) AS is_contaminated,
               {_SQL_LANG_CASE} AS predicted_lang,
               CASE WHEN 40 * least(n_tok / 50.0, 1.0)
                     + 30 * greatest(1.0 - abs(tok_chars * 1.0 / n_tok - 4.5) / 4.5, 0.0)
                     + 30 * least(stop_hits * 5.0 / n_tok, 1.0) >= 60 THEN 'high'
                    WHEN 40 * least(n_tok / 50.0, 1.0)
                     + 30 * greatest(1.0 - abs(tok_chars * 1.0 / n_tok - 4.5) / 4.5, 0.0)
                     + 30 * least(stop_hits * 5.0 / n_tok, 1.0) >= 35 THEN 'medium'
                    ELSE 'low' END AS quality_class,
               COALESCE(bgb.rep_frac > 0.2, FALSE) AS is_repetitive
        FROM m LEFT JOIN bgb ON m.doc_id = bgb.doc_id
        WHERE n_tok > 0
    )
    SELECT doc_id, predicted_lang, quality_class, is_dup, is_contaminated,
           is_repetitive,
           CASE WHEN is_dup THEN 'drop_duplicate'
                WHEN is_contaminated THEN 'drop_contaminated'
                WHEN predicted_lang = 'unknown' THEN 'drop_language'
                WHEN is_repetitive THEN 'drop_repetition'
                WHEN quality_class = 'low' THEN 'drop_quality'
                ELSE 'keep' END AS decision
    FROM scored
    """,
)
def t05_corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-data cleaning pass — what t01–t04 exist
    for: ONE scan computes the bag-of-words dup flag (min-id-canonical
    over the fingerprint window), the benchmark-decontamination flag
    (r4 — word-8-gram overlap with the eval set, GPT-3's 13-gram
    practice scaled to this corpus's doc lengths; eval set = every
    50th document), marker-word language ID and the quality blend,
    then an F6-style first-failing-rule ladder decides keep /
    drop_duplicate / drop_contaminated / drop_language / drop_quality
    per document. At 100 TB the fingerprint window and the
    benchmark-gram semi join (broadcast when the suite fits) are the
    only shuffles."""
    return clean_ladder(read_table(spark, sf_dir, "documents"))


def clean_ladder(docs: DataFrame) -> DataFrame:
    """Frame-parametric form of the t05 ladder (the composed corpus
    pipeline runs it on a sliced population for the c23 gate; the
    dup/contamination flags are relative to whatever frame is
    passed)."""
    from pyspark.sql.window import Window

    from ..operators.dedup import bow_fingerprint, ngram_contamination_flags
    from ..operators.quality import bigram_char_coverage, top_run, word_bigrams

    contam = ngram_contamination_flags(
        docs, docs.filter(F.col("doc_id") % 50 == 0), n=8
    )
    toks = tokens(F.lower(F.col("text")))
    stop = _stop_array()
    t = docs.select(
        "doc_id",
        toks.alias("toks"),
        bow_fingerprint(F.col("text")).alias("fp"),
        F.size(toks).alias("n_tok"),
        F.aggregate(F.transform(toks, F.length), F.lit(0), lambda a, x: a + x).alias("tok_chars"),
        F.size(F.filter(toks, lambda x: F.array_contains(stop, x))).alias("stop_hits"),
        top_run(word_bigrams(toks)).alias("_tb"),
    )
    for lang, markers in _MARKERS.items():
        arr = F.array(*[F.lit(m) for m in markers])
        t = t.withColumn(
            f"hits_{lang}", F.size(F.filter(F.col("toks"), lambda x: F.array_contains(arr, x)))
        )
    t = t.withColumn(
        "is_dup", F.col("doc_id") > F.min("doc_id").over(Window.partitionBy("fp"))
    ).filter(F.col("n_tok") > 0)

    best = F.greatest(*[F.col(f"hits_{lang}") for lang in _LANG_ORDER])
    pred = F.when(best == 0, F.lit("unknown"))
    for i, lang in enumerate(_LANG_ORDER[:-1]):
        rest_cols = [F.col(f"hits_{x}") for x in _LANG_ORDER[i + 1 :]]
        rest = rest_cols[0] if len(rest_cols) == 1 else F.greatest(*rest_cols)
        pred = pred.when(F.col(f"hits_{lang}") >= rest, F.lit(lang))
    pred = pred.otherwise(F.lit(_LANG_ORDER[-1]))

    q = _quality_expr(F.col("n_tok"), F.col("tok_chars"), F.col("stop_hits"))
    qc = F.when(q >= 60, "high").when(q >= 35, "medium").otherwise("low")

    rep_frac = bigram_char_coverage(F.col("_tb"), F.col("tok_chars"))
    out = (
        t.withColumn("predicted_lang", pred)
        .withColumn("quality_class", qc)
        .withColumn("is_repetitive", F.coalesce(rep_frac > 0.2, F.lit(False)))
        .join(contam, "doc_id", "left")
        .withColumn("is_contaminated", F.coalesce(F.col("is_contaminated"), F.lit(False)))
    )
    return out.select(
        "doc_id",
        "predicted_lang",
        "quality_class",
        "is_dup",
        "is_contaminated",
        "is_repetitive",
        F.when(F.col("is_dup"), "drop_duplicate")
        .when(F.col("is_contaminated"), "drop_contaminated")
        .when(F.col("predicted_lang") == "unknown", "drop_language")
        .when(F.col("is_repetitive"), "drop_repetition")
        .when(F.col("quality_class") == "low", "drop_quality")
        .otherwise("keep")
        .alias("decision"),
    )



# ---------------------------------------------------------------------------
# x04 — sequence packing (⊕T9): global token offsets + fixed-length
# chunk spans via the two-phase prefix sum. Driver-signed r5 (as
# c04); rotated out in r6's final rotation. The oracle is the
# GLOBAL-WINDOW form the Spark side deliberately avoids — the hash
# gate certifies two-phase == global-window.
# ---------------------------------------------------------------------------

_SQL_PACKING = f"""
    WITH t AS (
        SELECT doc_id, source, len({_SQL_TOKS}) AS n_tok FROM documents
    ), o AS (
        SELECT doc_id, source, n_tok,
               CAST(COALESCE(SUM(n_tok) OVER (
                   ORDER BY source, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
                 AS tok_offset
        FROM t
    )
    SELECT doc_id, source, n_tok, tok_offset,
           CASE WHEN n_tok > 0 THEN tok_offset // 512 END AS first_seq,
           CASE WHEN n_tok > 0 THEN (tok_offset + n_tok - 1) // 512 END AS last_seq,
           CASE WHEN n_tok > 0
                THEN (tok_offset + n_tok - 1) // 512 - tok_offset // 512 + 1
                ELSE 0 END AS n_seqs
    FROM o
"""


@register(
    "x04_sequence_packing",
    _SQL_PACKING,
    doc="""GPT-style concat-and-chunk packing layout: each document's
    global token offset and the span of 512-token training sequences
    it occupies (straddling allowed). Spark side uses the two-phase
    bucketed prefix sum (operators/packing); the oracle is the
    single-partition global window it replaces.""",
)
def x04_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-packing layout (SURVEY §2.11 ⊕T9): global running
    token offsets under the (source, doc_id) total order WITHOUT a
    global window — per-bucket cumsum, tiny bucket-base running
    total, broadcast add-back — then 512-token chunk spans."""
    from ..operators.packing import pack_sequences

    docs = read_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", "source", F.size(tokens(F.lower(F.col("text")))).alias("n_tok")
    )
    return pack_sequences(t, seq_len=512).select(
        "doc_id", "source", "n_tok", "tok_offset",
        "first_seq", "last_seq", "n_seqs",
    )


# ---------------------------------------------------------------------------
# x06 — quality-budget corpus selection (⊕T10): greedy highest-quality
# documents under a global token budget, via the same two-phase
# prefix-sum machinery as x04 ordered by quality instead of doc id.
# Driver-signed r5 (as c06); rotated out r6; oracle = the global-window form.
# ---------------------------------------------------------------------------

#: token budget for the gated/benched setting: ~half the corpus at
#: sf0.01, ~5% at sf0.1 — non-vacuous at every fixture scale
_BUDGET = 15000

_SQL_BUDGET = f"""
    WITH t AS (
        SELECT doc_id,
               len({_SQL_TOKS}) AS n_tok,
               list_aggregate(list_transform({_SQL_TOKS}, x -> len(x)), 'sum') AS tok_chars,
               len(list_filter({_SQL_TOKS},
                   x -> list_contains({_SQL_STOP}, x))) AS stop_hits
        FROM documents
    ), s AS (
        SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok,
               CASE WHEN n_tok > 0 THEN ROUND({_SQL_QUALITY}, 6) END AS quality
        FROM t
    ), o AS (
        SELECT doc_id, n_tok, quality,
               CAST(COALESCE(SUM(n_tok) OVER (
                   ORDER BY -quality ASC NULLS LAST, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
                 AS tok_offset
        FROM s
    )
    SELECT doc_id, quality, n_tok, tok_offset,
           tok_offset + n_tok <= {_BUDGET} AS selected
    FROM o
"""


@register(
    "x06_budget_selection",
    _SQL_BUDGET,
    doc="""Greedy quality-budget selection: documents taken in
    descending quality order (doc_id tie-break) until the corpus
    token budget is exhausted; a document is selected iff it fits
    entirely. Spark side is the two-phase bucketed prefix sum
    (bucket = floor(-quality), monotone in the sort key); oracle is
    the single-partition global window it replaces.""",
)
def x06_budget_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus selection under a token budget (SURVEY §2.11 ⊕T10) —
    the step after scoring: keep the best documents until the
    training-token budget is hit. Ordering is (quality DESC, doc_id);
    NULL-quality (token-less) docs sort last on both engines
    (asc_nulls_last ↔ SQL NULLS LAST, through the null-safe bucket
    machinery of operators/packing)."""
    from ..operators.packing import global_running_offsets

    docs = read_table(spark, sf_dir, "documents")
    s = budget_scored(docs, ["doc_id"])
    o = global_running_offsets(
        s, "n_tok", "_qbucket", ["_sortkey", "doc_id"], out_col="tok_offset"
    )
    return o.select(
        "doc_id",
        "quality",
        "n_tok",
        "tok_offset",
        (F.col("tok_offset") + F.col("n_tok") <= F.lit(_BUDGET)).alias("selected"),
    )


# ---------------------------------------------------------------------------
# c07 — TF-IDF top terms per document (⊕T11). Driver-signed r5 (as
# c07); rotated out r6; verify_local + the pytest contract gate also check it.
# Both engines rank on the ROUNDED tfidf (libm ln may differ in the
# last ulp between JVM and C; ranking on the rounded value with a
# token tie-break keeps the two orderings identical).
# ---------------------------------------------------------------------------

def _doc_token_tf(docs: DataFrame) -> DataFrame:
    """(doc_id, tok, tf) term counts — the shared first stage of the
    corpus-statistics queries (x07 TF-IDF, x08 perplexity)."""
    toks = tokens(F.lower(F.col("text")))
    return (
        docs.select("doc_id", F.explode(toks).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


_SQL_TFIDF = f"""
    WITH t AS (
        SELECT doc_id, UNNEST({_SQL_TOKS}) AS tok FROM documents
    ), tf AS (
        SELECT doc_id, tok, COUNT(*) AS tf FROM t GROUP BY doc_id, tok
    ), dfreq AS (
        SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok
    ), n AS (
        SELECT COUNT(DISTINCT doc_id) AS n_docs FROM tf
    ), scored AS (
        SELECT tf.doc_id, tf.tok, tf.tf, dfreq.df,
               ROUND(tf.tf * ln(n.n_docs * 1.0 / dfreq.df), 6) AS tfidf
        FROM tf JOIN dfreq ON tf.tok = dfreq.tok CROSS JOIN n
    )
    SELECT doc_id, tok, tf, df, tfidf, rk FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                     ORDER BY tfidf DESC, tok ASC) AS rk
        FROM scored
    ) WHERE rk <= 5
"""


_SQL_BM25 = f"""
    WITH t AS (
        SELECT doc_id, UNNEST({_SQL_TOKS}) AS tok FROM documents
    ), tf AS (
        SELECT doc_id, tok, COUNT(*) AS tf FROM t GROUP BY doc_id, tok
    ), dl AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM t GROUP BY doc_id
    ), dfreq AS (
        SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok
    ), stats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
        FROM dl
    ), q AS (
        SELECT DISTINCT doc_id AS query_id, tok FROM t WHERE doc_id % 100 = 0
    ), contrib AS (
        SELECT q.query_id, tf.doc_id,
               ROUND(
                   ln(1.0 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
                   * (tf.tf * (1.2 + 1.0))
                   / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / stats.avgdl)),
               9) AS c
        FROM q
        JOIN tf ON q.tok = tf.tok AND q.query_id <> tf.doc_id
        JOIN dl ON tf.doc_id = dl.doc_id
        JOIN dfreq ON q.tok = dfreq.tok
        CROSS JOIN stats
    ), scored AS (
        SELECT query_id, doc_id,
               ROUND(CAST(SUM(CAST(c AS DECIMAL(28,9))) AS DOUBLE), 6) AS bm25
        FROM contrib GROUP BY query_id, doc_id
    )
    SELECT query_id, doc_id, bm25, rk FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY bm25 DESC, doc_id ASC) AS rk
        FROM scored
    ) WHERE rk <= 10
"""


@register(
    "c42_bm25_topk",
    _SQL_BM25,
    doc="""BM25 top-k retrieval (⊕T23, r9 — the ranked-retrieval twin
    of x07's TF-IDF, the scoring function quality-curation pipelines
    use to mine similar/benchmark-like documents): for each query doc
    (1-in-100), the top-10 corpus docs by Okapi BM25 (k1=1.2, b=0.75,
    Lucene idf = ln(1 + (N−df+0.5)/(df+0.5)) — non-negative by
    construction). Determinism: per-term contribution rounded to 9 dp
    (libm ln, the x08 device), DECIMAL(28,9) accumulation, 6 dp final
    score, doc-id tie-break. Scale shape: term-keyed inverted-index
    join (never doc×doc; candidates bounded by Σ df over the query's
    terms — BM25's idf already discounts the hot terms that dominate
    that sum), doc-length side joined at doc grain, the 1-row stats
    frame broadcast, one (query, doc) partial-agg exchange, top-k
    window per query.""",
)
def c42_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bm25_topk(
        read_table(spark, sf_dir, "documents"), F.col("doc_id") % 100 == 0, k=10
    )


def bm25_topk(
    docs: DataFrame,
    query_pred,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    df_cap: int | None = None,
) -> DataFrame:
    """Parameterized BM25 body behind c42 (see the gate doc).

    ``df_cap`` is the 100 TB lever the gate leaves off: the
    inverted-index join's candidate volume is Σ df(term) over the
    query's terms, and on a Zipf vocabulary that sum is dominated by
    stop-grade terms whose idf is already ≈ 0 — pruning terms with
    df > df_cap bounds candidates at |q_terms|·df_cap with a
    PROVABLE score error: each dropped term contributes at most
    idf(df_cap)·(k1+1) = ln(1+(N−df_cap+0.5)/(df_cap+0.5))·(k1+1),
    monotonically shrinking in df_cap and → 0 only as df_cap → N
    (at df_cap = N/2 it is still ln 2·(k1+1) ≈ 1.5 BM25 points per
    dropped term — review finding: pick the cap from this bound, not
    from a vague "hot" intuition; the WAND/stopword practice with
    the error made explicit). Capped and uncapped agree exactly on
    corpora whose shared terms all sit under the cap (pytest-pinned).

    Caching contract (r9 ADVICE): the tf frame is ``persist()``-ed
    and the returned lazy DataFrame still references it; the cache
    entry lives until ``spark.catalog.clearCache()`` or session end
    (bench.py and the driver clear between queries) — sessions
    scoring many query batches should clearCache between them.
    """
    from pyspark.sql.window import Window

    toks = tokens(F.lower(F.col("text")))
    t = docs.select("doc_id", F.explode(toks).alias("tok"))
    # ONE tokenize/explode pass: tf is persisted and every other
    # frame derives from it — dl = Σ tf per doc (identical to a
    # recount), query terms are tf's distinct (doc, tok) rows, df its
    # per-token row count (r9 review posture: the dominant corpus
    # pass runs once, not three times)
    tf = t.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf")).persist()
    dl = tf.groupBy("doc_id").agg(F.sum("tf").cast("bigint").alias("dl"))
    dfreq = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    if df_cap is not None:
        dfreq = dfreq.filter(F.col("df") <= df_cap)
    stats = dl.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    q = tf.filter(query_pred).select(
        F.col("doc_id").alias("query_id"), F.col("tok").alias("qtok")
    )
    # attach df to the QUERY terms BEFORE the candidate join (r10):
    # with df_cap set the capped terms vanish from the small side, so
    # the q×tf explosion — the operator's dominant cost, Σ df rows —
    # never emits a hot term's candidates at all (the original form
    # joined dfreq onto the candidate rows, pruning AFTER the
    # explosion had already paid for them: measured 2.4 s capped vs
    # 1.9 s uncapped at a 59 % candidate cut — the cap made it
    # SLOWER). The qd side is broadcast EXPLICITLY (r10 regression
    # fix): post-aggregate/join size estimates are unknown, so
    # without the hint the planner demoted the candidate join to a
    # shuffle — measured 3.8× slower than r9's broadcast-q plan at
    # sf0.1 (7.9 s vs 2.1 s); |qd| ≤ query-batch terms, bounded by
    # the incoming-batch contract (the d02 posture), never corpus
    qd = q.join(
        dfreq.select(F.col("tok").alias("qtok"), "df"), "qtok"
    )
    contrib = (
        F.broadcast(qd).join(
            tf, (F.col("qtok") == F.col("tok")) & (F.col("query_id") != F.col("doc_id"))
        )
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "query_id",
            "doc_id",
            F.round(
                F.log(
                    1.0
                    + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
                )
                * (F.col("tf") * (k1 + 1.0))
                / (
                    F.col("tf")
                    + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
                ),
                9,
            ).alias("c"),
        )
    )
    scored = (
        contrib.groupBy("query_id", "doc_id")
        .agg(
            F.round(
                F.sum(F.col("c").cast("decimal(28,9)")).cast("double"), 6
            ).alias("bm25")
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("bm25").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "doc_id", "bm25", "rk")
    )


def zipf_synthetic_docs(
    spark: SparkSession,
    n: int,
    vocab: int = 50_000,
    doc_len: int = 60,
    salt: str = "zipf",
) -> DataFrame:
    """Deterministic synthetic corpus with a ZIPF(s≈1) vocabulary —
    the document-frequency law real web/text corpora follow, which
    the parquet fixture does NOT (its template generator yields a
    median df of 0.77·N — r10 measurement; under that degenerate law
    every pruning cap destroys recall, exactly as the c42 error
    bound predicts, so the df_cap lever's production evidence runs
    on THIS corpus). Token rank for each slot is drawn log-uniformly
    over [1, vocab] via an md5 hash of (salt, doc, slot):
    P(rank ≤ r) = ln r / ln vocab ⇒ rank density ∝ 1/r, the Zipf
    s=1 df profile. Pure JVM expressions — no driver loop, no
    fixture writes."""
    u = lambda j: (  # noqa: E731
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit(salt),
                        F.col("id").cast("string"),
                        F.lit("-"),
                        j.cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("double")
        / F.lit(float(0xFFFFFFFF))
    )
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            F.transform(
                F.sequence(F.lit(0), F.lit(doc_len - 1)),
                lambda j: F.concat(
                    F.lit("w"),
                    F.floor(F.pow(F.lit(float(vocab)), u(j))).cast("string"),
                ),
            ),
        ).alias("text"),
    )


@register(
    "zc42_bm25_capped_topk",
    None,
    doc="""BM25 df_cap production leg (r10, verdict item 3 — a
    bench-only fast leg): ``bm25_topk`` with
    df_cap = N/2 over a deterministic ZIPF-vocabulary corpus sized to
    the fixture's document count. Bench-only by construction (z-named
    past the driver window, no oracle — the cap is deliberately
    inexact): the c42 gate pins the uncapped math cross-engine, the
    dedicated pytest pins this leg's recall@10 and its per-pair score
    error against the documented idf(df_cap)·(k1+1) bound, and
    SCALING.md records the measured win (candidates ×0.41, wall
    1.31×→1.77× faster at N=5k→80k after the broadcast-qd regression
    fix, recall ≈ 0.87). Runs on the
    synthetic Zipf corpus, NOT the parquet fixture, because the
    fixture's template vocabulary (median df = 0.77·N) admits no
    useful cap — measured r10: every pruning cap there collapses
    recall to ≈0, exactly as the error bound predicts at those df.""",
)
def zc42_bm25_capped_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = read_table(spark, sf_dir, "documents").count()
    docs = zipf_synthetic_docs(spark, n)
    return bm25_topk(docs, F.col("doc_id") % 100 == 0, k=10, df_cap=max(1, n // 2))


@register(
    "x07_tfidf_topk",
    _SQL_TFIDF,
    doc="""Top-5 TF-IDF terms per document: (doc, token) term counts,
    corpus document frequencies, idf = ln(N/df), ranked on the
    rounded score with a deterministic token tie-break.""",
)
def x07_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF keyword extraction (SURVEY §2.11 ⊕T11): two keyed
    aggregations (doc-token term counts; token document frequencies —
    both benefit from map-side combine), a broadcast of the 1-row
    corpus size, a token-keyed join (broadcast at fixture scale, a
    plain shuffle join when the vocabulary outgrows it), and a
    per-document top-k window. No Python anywhere."""
    from pyspark.sql.window import Window

    tf = _doc_token_tf(read_table(spark, sf_dir, "documents"))
    dfreq = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    n = tf.agg(F.countDistinct("doc_id").alias("n_docs"))
    scored = (
        tf.join(dfreq, "tok")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "tfidf",
            F.round(F.col("tf") * F.log(F.col("n_docs") * 1.0 / F.col("df")), 6),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("tok").asc())
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("doc_id", "tok", "tf", "df", "tfidf", "rk")
    )


# ---------------------------------------------------------------------------
# x08 — unigram-LM perplexity scoring (⊕T12, the CCNet practice:
# score documents by language-model perplexity and filter the tails).
# Driver-signed r5 (as c08); rotated out r6; verify_local + the pytest contract
# gate also check it. Determinism: ln(p) is rounded to 9 decimals
# PER TOKEN before entering any sum — after that every addend is an
# identical double on both engines (int × fixed-decimal double), so
# the DECIMAL(28,6) accumulation sees bit-identical inputs and the
# libm-ulp boundary risk scales with |vocab|, not with the number of
# (doc, token) addends; exp is likewise fed the ROUNDED avg-nll.
# ---------------------------------------------------------------------------

_SQL_PPL = f"""
    WITH t AS (
        SELECT doc_id, UNNEST({_SQL_TOKS}) AS tok FROM documents
    ), tf AS (
        SELECT doc_id, tok, COUNT(*) AS tf FROM t GROUP BY doc_id, tok
    ), corpus AS (
        SELECT tok, CAST(SUM(tf) AS BIGINT) AS ctok FROM tf GROUP BY tok
    ), tot AS (
        SELECT CAST(SUM(ctok) AS BIGINT) AS total FROM corpus
    ), j AS (
        SELECT tf.doc_id, tf.tf, corpus.ctok, tot.total
        FROM tf JOIN corpus USING (tok) CROSS JOIN tot
    ), d AS (
        SELECT doc_id,
               {sql_dsum('tf * ROUND(ln(ctok * 1.0 / total), 9)')} AS s,
               CAST(SUM(tf) AS BIGINT) AS n_tok
        FROM j GROUP BY doc_id
    )
    SELECT doc_id, n_tok,
           ROUND(-s / n_tok, 6) AS avg_nll,
           ROUND(exp(ROUND(-s / n_tok, 6)), 3) AS ppl
    FROM d
"""


@register(
    "x08_unigram_perplexity",
    _SQL_PPL,
    doc="""Per-document unigram-LM perplexity against the corpus's own
    token distribution: p(tok) = count(tok)/total, avg negative log
    prob per token, ppl = exp(avg_nll). Documents with zero tokens
    carry no probability mass and are absent (doc grain = tokenful
    docs).""",
)
def x08_unigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity quality filter (SURVEY §2.11 ⊕T12): the corpus IS
    the language model — token counts (one keyed agg with map-side
    combine), a broadcast scalar total, and one more keyed agg for
    the per-document average. At 100 TB the LM table is the
    vocabulary, not the token stream; in production the join side
    would be a PRE-TRAINED LM's table — same plan, different input."""
    tf = _doc_token_tf(read_table(spark, sf_dir, "documents"))
    corpus = tf.groupBy("tok").agg(F.sum("tf").cast("long").alias("ctok"))
    tot = corpus.agg(F.sum("ctok").cast("long").alias("total"))
    j = tf.join(corpus, "tok").crossJoin(F.broadcast(tot))
    d = j.groupBy("doc_id").agg(
        dsum(F.col("tf") * F.round(F.log(F.col("ctok") * 1.0 / F.col("total")), 9)).alias("s"),
        F.sum("tf").cast("long").alias("n_tok"),
    )
    avg_nll = F.round(-F.col("s") / F.col("n_tok"), 6)
    return d.select(
        "doc_id",
        "n_tok",
        avg_nll.alias("avg_nll"),
        F.round(F.exp(avg_nll), 3).alias("ppl"),
    )


@register(
    "x10_temperature_mix",
    """
    WITH counts AS (
        SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source
    ), c2 AS (
        SELECT source, n_docs,
               CAST(sqrt(CAST(n_docs AS DOUBLE)) AS DECIMAL(28,6)) AS w_dec
        FROM counts
    ), tot AS (
        SELECT SUM(w_dec) AS denom_dec, SUM(n_docs) AS total_docs FROM c2
    ), rates AS (
        SELECT source, n_docs,
               least(1.0e0,
                     (CAST(w_dec AS DOUBLE) / CAST(denom_dec AS DOUBLE))
                     * (CAST(total_docs AS DOUBLE) * 0.5e0)
                     / CAST(n_docs AS DOUBLE)) AS rate
        FROM c2 CROSS JOIN tot
    )
    SELECT d.source, r.n_docs, round(r.rate, 6) AS rate_q,
           COUNT(*) AS n_kept, CAST(SUM(d.n_chars) AS BIGINT) AS chars_kept
    FROM documents d JOIN rates r USING (source)
    WHERE (('0x' || substr(md5('tmix' || CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
           / 4294967296.0e0) < r.rate
    GROUP BY d.source, r.n_docs, r.rate
    """,
    doc="""Temperature-scaled source mixing (⊕T13, the T5/mT5
    α-sampling practice at α=1/2): per-source keep rates ∝ sqrt(n_s),
    normalized via exact-decimal accumulation, applied with the
    deterministic md5 hash fraction. sqrt (not pow) so both engines'
    weights are bit-identical (IEEE sqrt is exactly rounded; libm pow
    is not). Driver-signed r5 (as c10); rotated out r6; still checked by
    tools/verify_local.""",
)
def x10_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import temperature_mix

    docs = read_table(spark, sf_dir, "documents")
    return temperature_mix(docs, target_frac=0.5, salt="tmix")


@register(
    "x17_quality_embedding_corr",
    f"""
    WITH t AS (
        SELECT doc_id, source,
               len({_SQL_TOKS}) AS n_tok,
               list_aggregate(list_transform({_SQL_TOKS}, x -> len(x)), 'sum')
                   AS tok_chars,
               len(list_filter({_SQL_TOKS},
                   x -> list_contains({_SQL_STOP}, x))) AS stop_hits
        FROM documents
    ), q AS (
        SELECT doc_id, source, round({_SQL_QUALITY}, 6) AS quality
        FROM t WHERE n_tok > 0
    ), j AS (
        SELECT q.source, q.quality AS x,
               sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                     CAST(e.embedding AS DOUBLE[]))) AS y,
               list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                CAST(e.embedding AS DOUBLE[])) AS y2
        FROM q JOIN embeddings e ON q.doc_id = e.vec_id
    ), s AS (
        SELECT source, COUNT(*) AS n,
               CAST(SUM(CAST(x AS DECIMAL(28,6))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(y AS DECIMAL(28,6))) AS DOUBLE) AS sy,
               CAST(SUM(CAST(x * y AS DECIMAL(28,6))) AS DOUBLE) AS sxy,
               CAST(SUM(CAST(x * x AS DECIMAL(28,6))) AS DOUBLE) AS sx2,
               CAST(SUM(CAST(y2 AS DECIMAL(28,6))) AS DOUBLE) AS sy2
        FROM j GROUP BY source
    )
    SELECT source, n,
           round(sx / n, 6) AS mean_quality,
           round(sy / n, 6) AS mean_norm,
           CASE WHEN (n * sx2 - sx * sx) <= 0 OR (n * sy2 - sy * sy) <= 0
                THEN NULL
                ELSE round((n * sxy - sx * sy)
                           / (sqrt(n * sx2 - sx * sx) * sqrt(n * sy2 - sy * sy)), 6)
           END AS pearson_r
    FROM s
    """,
    doc="""Cross-modal curation audit (⊕): per-source Pearson
    correlation between the t03 text-quality score and the document
    embedding's L2 norm — the sanity check an embedding-curation
    pipeline runs before trusting either signal (a strong correlation
    means one is redundant; a negative one means they disagree).
    One 1:1 id equi-join between the two modalities (large-large at
    scale — SMJ is correct there; AQE broadcasts at fixture size),
    then one per-source aggregate with every Pearson term quantized
    to exact DECIMAL before summing, so the correlation is
    partitioning-proof. Driver-signed r5 (as c17); rotated out r6; still
    checked by tools/verify_local.""",
)
def x17_quality_embedding_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import dot, l2norm
    from ._numeric import DEC

    docs = read_table(spark, sf_dir, "documents")
    emb = read_table(spark, sf_dir, "embeddings")
    scored = budget_scored(docs, [F.col("doc_id"), F.col("source")]).filter(
        F.col("n_tok") > 0
    )
    j = scored.join(emb, scored["doc_id"] == emb["vec_id"]).select(
        "source",
        F.col("quality").alias("x"),
        l2norm(F.col("embedding")).alias("y"),
        dot(F.col("embedding"), F.col("embedding")).alias("y2"),
    )

    def dsum_of(c):
        return F.sum(c.cast(DEC)).cast("double")

    s = j.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        dsum_of(F.col("x")).alias("sx"),
        dsum_of(F.col("y")).alias("sy"),
        dsum_of(F.col("x") * F.col("y")).alias("sxy"),
        dsum_of(F.col("x") * F.col("x")).alias("sx2"),
        dsum_of(F.col("y2")).alias("sy2"),
    )
    n = F.col("n")
    varx = n * F.col("sx2") - F.col("sx") * F.col("sx")
    vary = n * F.col("sy2") - F.col("sy") * F.col("sy")
    return s.select(
        "source",
        "n",
        F.round(F.col("sx") / n, 6).alias("mean_quality"),
        F.round(F.col("sy") / n, 6).alias("mean_norm"),
        F.when((varx <= 0) | (vary <= 0), F.lit(None).cast("double"))
        .otherwise(
            F.round(
                (n * F.col("sxy") - F.col("sx") * F.col("sy"))
                / (F.sqrt(varx) * F.sqrt(vary)),
                6,
            )
        )
        .alias("pearson_r"),
    )


@register(
    "x16_quality_classifier",
    None,
    doc="""Trained document-quality classifier (⊕: the fastText-style
    quality-model practice behind the GPT-3/LLaMA corpus filters) —
    JVM-computed text features → VectorAssembler → StandardScaler →
    pyspark.ml LogisticRegression (distributed L-BFGS), deterministic
    md5 hash split, every doc scored. Rows-only under the driver gate
    (iterative optimization has no static SQL twin); held-out AUC ≥ 0.9 and split determinism pinned in
    tests/test_quality.py.""",
)
def x16_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.quality_model import train_and_score_quality

    docs = read_table(spark, sf_dir, "documents")
    return train_and_score_quality(docs)


@register(
    "x20_hashed_vectors",
    f"""
    WITH t AS (
        SELECT doc_id, unnest({_SQL_TOKS}) AS tok FROM documents
    )
    SELECT doc_id,
           (('0x' || substr(md5('fh' || tok), 1, 8))::BIGINT % 64 + 64) % 64
               AS bucket,
           CAST(SUM(CASE WHEN ('0x' || substr(md5('fs' || tok), 1, 1))::INT < 8
                         THEN 1 ELSE -1 END) AS BIGINT) AS w
    FROM t
    GROUP BY doc_id, bucket
    HAVING SUM(CASE WHEN ('0x' || substr(md5('fs' || tok), 1, 1))::INT < 8
                    THEN 1 ELSE -1 END) <> 0
    """,
    doc="""Feature-hashing vectorizer (⊕: the signed hashing trick of
    Weinberger et al. 2009, the fastText/VW practice): each doc
    becomes a 64-bucket signed-TF sparse vector, gated at the
    (doc, bucket) grain — integer weights, md5-derived buckets and
    signs identical in both engines, so the gate hash-checks the
    ENTIRE sparse matrix. One token explode + one map-side-combined
    (doc, bucket) shuffle, all JVM expressions. The dense-assembly
    companion (`operators/vectorize.assemble_dense`) feeds these
    vectors straight into the cosine operators
    (pytest-verified round trip). Driver-signed r5 (as c20); rotated out r6.""",
)
def x20_hashed_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.vectorize import hashed_tf_sparse

    docs = read_table(spark, sf_dir, "documents")
    return hashed_tf_sparse(docs, dim=64)


@register(
    "x22_zipf_stats",
    f"""
    WITH freq AS (
        SELECT tok, COUNT(*) AS cnt
        FROM (SELECT unnest({_SQL_TOKS}) AS tok FROM documents)
        GROUP BY tok
    ), top AS (
        SELECT tok, cnt,
               ROW_NUMBER() OVER (ORDER BY cnt DESC, tok ASC) AS rank
        FROM freq
        ORDER BY cnt DESC, tok ASC
        LIMIT 50
    ), q AS (
        SELECT rank, tok, cnt,
               round(ln(CAST(rank AS DOUBLE)), 6) AS lx,
               round(ln(CAST(cnt AS DOUBLE)), 6) AS ly
        FROM top
    ), s AS (
        SELECT COUNT(*) AS n,
               CAST(SUM(CAST(lx AS DECIMAL(28,6))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(ly AS DECIMAL(28,6))) AS DOUBLE) AS sy,
               CAST(SUM(CAST(lx * ly AS DECIMAL(28,6))) AS DOUBLE) AS sxy,
               CAST(SUM(CAST(lx * lx AS DECIMAL(28,6))) AS DOUBLE) AS sx2
        FROM q
    )
    SELECT q.rank, q.tok, q.cnt, q.ly AS ln_cnt_q,
           round((s.n * s.sxy - s.sx * s.sy)
                 / (s.n * s.sx2 - s.sx * s.sx), 6) AS zipf_slope
    FROM q CROSS JOIN s
    """,
    doc="""Zipf rank-frequency audit (⊕: the corpus-distribution
    sanity check tokenizer/corpus builds run — natural-language token
    frequencies follow cnt ∝ rank^s with s ≈ −1; a corpus that
    doesn't is malformed or synthetic): top-50 tokens by frequency
    with the log-log least-squares slope. Scale shape: one
    map-side-combined token groupBy, then orderBy+limit compiles to
    TakeOrderedAndProject — NO global sort, no single-partition
    window; the slope is a 50-row scalar broadcast. ln outputs are
    quantized to 6dp before the decimal-exact regression sums (the
    x08 pattern — JVM and C libm may differ in the last ulp). Named
    driver-signed r5; rotated out r6.""",
)
def x22_zipf_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    freq = (
        docs.select(F.explode(tokens(F.lower(F.col("text")))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    top = (
        freq.orderBy(F.col("cnt").desc(), F.col("tok").asc())
        .limit(50)
        .withColumn(
            "rank",
            F.row_number().over(
                Window.orderBy(F.col("cnt").desc(), F.col("tok").asc())
            ),
        )
    )
    q = top.select(
        "rank",
        "tok",
        "cnt",
        F.round(F.log(F.col("rank").cast("double")), 6).alias("lx"),
        F.round(F.log(F.col("cnt").cast("double")), 6).alias("ly"),
    )
    s = q.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("lx").cast(DEC)).cast("double").alias("sx"),
        F.sum(F.col("ly").cast(DEC)).cast("double").alias("sy"),
        F.sum((F.col("lx") * F.col("ly")).cast(DEC)).cast("double").alias("sxy"),
        F.sum((F.col("lx") * F.col("lx")).cast(DEC)).cast("double").alias("sx2"),
    )
    return q.crossJoin(F.broadcast(s)).select(
        "rank",
        "tok",
        "cnt",
        F.col("ly").alias("ln_cnt_q"),
        F.round(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (F.col("n") * F.col("sx2") - F.col("sx") * F.col("sx")),
            6,
        ).alias("zipf_slope"),
    )


# ---------------------------------------------------------------------------
# t08 — interpolated bigram-LM perplexity (⊕T18, r7). x08 scores with
# a unigram model; real CCNet/KenLM-style filtering is n-gram. Same
# determinism contract as x08: every ln() is rounded to 9 decimals
# per (doc, bigram) BEFORE the decimal-exact accumulation, exp() is
# fed the rounded avg-nll, and the CCNet head/middle/tail split is
# computed on the ROUNDED ppl so the tertile rule is an integer
# comparison in both engines.
# ---------------------------------------------------------------------------

_SQL_BIGRAM_PPL = f"""
    WITH t AS (
        SELECT doc_id, {_SQL_TOKS} AS ws FROM documents
        WHERE len({_SQL_TOKS}) >= 2
    ), bg AS (
        SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2
        FROM t CROSS JOIN UNNEST(range(1, len(ws))) AS r(i)
    ), cbi AS (
        SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cbi FROM bg GROUP BY 1, 2
    ), cctx AS (
        SELECT w1, CAST(SUM(cbi) AS BIGINT) AS cw1 FROM cbi GROUP BY 1
    ), uni AS (
        SELECT tok, COUNT(*) AS cu
        FROM (SELECT UNNEST(ws) AS tok FROM t) GROUP BY tok
    ), tot AS (
        SELECT CAST(SUM(cu) AS BIGINT) AS total FROM uni
    ), j AS (
        SELECT bg.doc_id, cbi.cbi, cctx.cw1, uni.cu, tot.total
        FROM bg JOIN cbi USING (w1, w2) JOIN cctx USING (w1)
        JOIN uni ON bg.w2 = uni.tok CROSS JOIN tot
    ), d AS (
        SELECT doc_id,
               CAST(SUM(CAST(ROUND(ln(0.7 * (cbi * 1.0 / cw1)
                        + 0.3 * (cu * 1.0 / total)), 9)
                   AS DECIMAL(28,6))) * -1000000 AS BIGINT) AS neg_s_micro,
               CAST(COUNT(*) AS BIGINT) AS n_big
        FROM j GROUP BY doc_id
    ), dq AS (
        SELECT doc_id, n_big,
               (2 * neg_s_micro + n_big) // (2 * n_big) AS q
        FROM d
    ), d2 AS (
        SELECT doc_id, n_big,
               q * 1.0 / 1000000 AS avg_nll,
               ROUND(exp(q * 1.0 / 1000000), 3) AS ppl
        FROM dq
    ), hist AS (
        SELECT ppl, COUNT(*) AS c FROM d2 GROUP BY ppl
    ), cum AS (
        SELECT ppl, SUM(c) OVER (ORDER BY ppl) AS cc FROM hist
    ), nd AS (
        SELECT COUNT(*) AS nd FROM d2
    )
    SELECT d2.doc_id, d2.n_big, d2.avg_nll, d2.ppl,
           CASE WHEN cc * 3 <= nd THEN 'head'
                WHEN cc * 3 <= nd * 2 THEN 'middle'
                ELSE 'tail' END AS band
    FROM d2 JOIN cum USING (ppl) CROSS JOIN nd
"""


@register(
    "c28_bigram_perplexity",
    _SQL_BIGRAM_PPL,
    doc="""Interpolated bigram-LM perplexity + CCNet head/middle/tail
    band (⊕, r7): p(w₂|w₁) = 0.7·MLE_bigram + 0.3·MLE_unigram over
    the corpus's own counts, per-document avg-nll and ppl, then the
    CCNet-style tertile band on the rounded ppl (value-consistent:
    equal ppl ⇒ equal band — no doc-id tie splitting). Docs with <2
    tokens carry no bigram events and are absent.""",
)
def t08_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM quality scoring (⊕T18 — the CCNet/KenLM filtering
    practice, one n-gram order up from x08). See
    :func:`bigram_perplexity` for the plan shape."""
    return bigram_perplexity(read_table(spark, sf_dir, "documents"))


# Above this many distinct rounded ppl values, bigram_perplexity's
# tertile cumulative sum switches from a single-partition window +
# broadcast join to the two-phase bucket prefix + AQE join. 2^18 rows
# is comfortably one task and a few MB of broadcast.
_PPL_HIST_SINGLE_PARTITION_MAX = 262_144


def bigram_perplexity(
    docs: DataFrame, lam: float = 0.7, lam_uni: float = 0.3
) -> DataFrame:
    """Interpolated bigram-LM perplexity + CCNet tertile band. Model
    tables are keyed aggs with map-side combine: (w1,w2) bigram
    counts, w1 context totals (folded from the bigram table, not the
    token stream), and the unigram table; scoring is the same joins
    every LM-filter needs — at 100 TB the join side is the MODEL
    (vocab²-bounded, heavy-tailed → AQE broadcast-or-shuffle,
    unhinted like x08). The tertile thresholds come from a ppl
    HISTOGRAM (distinct rounded values) — the single-partition
    running sum is over that tiny frame, never the doc grain (the
    packing-bases posture). Bigrams come from a zip of two array
    slices — pure JVM, no shuffle until the keyed aggs (measured
    1.8× faster than sequence+transform+element_at). Scoring is at
    EVENT grain: a (doc,w1,w2) tf pre-agg would shuffle the whole
    bigram stream into nearly-all-singleton groups (96.5% tf=1 on
    the fixture — it cost more than every model agg combined) for a
    join the broadcast model side doesn't need collapsed."""
    ws = tokens(F.lower(F.col("text")))
    t = docs.select("doc_id", ws.alias("ws")).where(F.size("ws") >= 2)
    pairs = F.arrays_zip(
        F.slice(F.col("ws"), 1, F.size("ws") - 1).alias("w1"),
        F.slice(F.col("ws"), 2, F.size("ws") - 1).alias("w2"),
    )
    bg = t.select("doc_id", F.explode(pairs).alias("p")).select(
        "doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2")
    )
    cbi = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).cast("long").alias("cbi"))
    cctx = cbi.groupBy("w1").agg(F.sum("cbi").cast("long").alias("cw1"))
    uni = (
        t.select(F.explode("ws").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cu"))
    )
    tot = uni.agg(F.sum("cu").cast("long").alias("total"))
    j = (
        bg.join(cbi, ["w1", "w2"])
        .join(cctx, "w1")
        .join(uni, bg["w2"] == uni["tok"])
        .crossJoin(F.broadcast(tot))
    )
    addend = F.round(
        F.log(
            F.lit(lam) * (F.col("cbi") * 1.0 / F.col("cw1"))
            # lam_uni is a SEPARATE literal, not 1-lam: 1.0-0.7 is
            # 0.30000000000000004 in binary, which would diverge
            # from the oracle's exact 0.3 literal
            + F.lit(lam_uni) * (F.col("cu") * 1.0 / F.col("total"))
        ),
        9,
    )
    # avg-nll rounding is done in INTEGER micro-units — the exact
    # decimal sum scaled to a BIGINT, then half-up via floor
    # division — because ROUND(double, 6) on a near-midpoint
    # quotient is engine-dependent (Spark rounds the shortest
    # decimal repr, DuckDB scales-then-std::round; sf0.01 hit such
    # a midpoint). Integer math is bit-identical by construction.
    d = j.groupBy("doc_id").agg(
        (F.sum(addend.cast(DEC)) * -1000000).cast("long").alias("neg_s_micro"),
        F.count(F.lit(1)).cast("long").alias("n_big"),
    )
    q = F.expr("(2 * neg_s_micro + n_big) div (2 * n_big)")
    dq = d.select("doc_id", "n_big", q.alias("q"))
    avg_nll = F.col("q") * 1.0 / F.lit(1000000)
    # d2 is read THREE times below (histogram, doc count, final
    # join); without a persist the whole bigram pipeline — explode,
    # tf agg, three model joins — re-executes per read (the plan
    # audit showed the subtree tripled). Scoped, c_side-style: the
    # result is eagerly checkpointed (doc-grain, five narrow
    # columns), then the cache is dropped before returning.
    d2 = dq.select(
        "doc_id",
        "n_big",
        avg_nll.alias("avg_nll"),
        F.round(F.exp(avg_nll), 3).alias("ppl"),
    ).persist()
    hist = d2.groupBy("ppl").agg(F.count(F.lit(1)).alias("c"))
    # running sum over the DISTINCT-ppl histogram — SMALL in practice
    # (3-decimal ppls quantize heavily), but the r7 verdict flagged
    # that "tiny by construction" was asserted, not guarded: a
    # pathological corpus (very long docs, wide ppl range) can push
    # distinct ppls toward doc count. Guard it with one cheap count
    # (folds from the persisted doc-grain cache): under the bound the
    # single-partition window + broadcast join stay; over it, the
    # two-phase floor-bucket prefix (the packing machinery) with a
    # log-scale MONOTONE bucket distributes the cumulative sum and
    # the join side stops being broadcast (AQE picks the strategy).
    # Values are identical either way — exact integer counts under
    # the same total order (test pins hash-equality across the
    # threshold).
    n_hist = hist.count()
    if n_hist <= _PPL_HIST_SINGLE_PARTITION_MAX:
        cum = hist.withColumn(
            "cc", F.sum("c").over(Window.orderBy("ppl"))
        ).select("ppl", "cc")
        joined = d2.join(F.broadcast(cum), "ppl")
    else:
        from ..operators.packing import global_running_offsets

        cum = (
            global_running_offsets(
                # floor(log(ppl)·256) is monotone in ppl (ppl ≥ 1 is
                # not guaranteed — ppl > 0 is — but log is monotone
                # over all positives and the bucket only needs
                # monotonicity, not positivity)
                hist.withColumn("_bucket", F.floor(F.log("ppl") * 256)),
                weight_col="c",
                bucket_col="_bucket",
                order_col="ppl",
                out_col="_cc0",
            )
            .withColumn("cc", F.col("_cc0") + F.col("c"))
            .select("ppl", "cc")
        )
        joined = d2.join(cum, "ppl")
    nd = hist.agg(F.sum("c").alias("nd"))
    band = (
        F.when(F.col("cc") * 3 <= F.col("nd"), F.lit("head"))
        .when(F.col("cc") * 3 <= F.col("nd") * 2, F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    from ..plan_debug import note_subtree

    out = note_subtree(
        "c28.banded_ppl",
        joined.crossJoin(F.broadcast(nd)).select(
            "doc_id", "n_big", "avg_nll", "ppl", band.alias("band")
        ),
    ).localCheckpoint(eager=True)
    d2.unpersist()
    return out


@register(
    "c29_doc_chunks",
    f"""
    WITH t AS (
        SELECT doc_id, {_SQL_TOKS} AS ws FROM documents
        WHERE len({_SQL_TOKS}) >= 1
    )
    SELECT doc_id,
           CAST((s - 1) / 48 AS BIGINT) AS chunk_id,
           CAST(s AS BIGINT) AS start_pos,
           CAST(len(ws[s:s + 63]) AS BIGINT) AS n_tok,
           array_to_string(ws[s:s + 63], ' ') AS chunk_text
    FROM t CROSS JOIN
         UNNEST(range(1, greatest(len(ws) - 16, 1) + 1, 48)) AS r(s)
    """,
    doc="""Sliding-window document chunking (⊕, r7): 64-token chunks
    at stride 48 (16-token overlap), never crossing a document
    boundary — the RAG / long-context preprocessing shape. Start rule
    ``1, 1+48, … ≤ max(n−16, 1)`` guarantees full coverage with no
    chunk contained in its predecessor; ≤64-token docs yield exactly
    one chunk. chunk_id arithmetic is exact ((s−1) is always a
    multiple of the stride, so the double division is
    integer-valued in both engines).""",
)
def t09_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.packing import chunk_documents

    return chunk_documents(
        read_table(spark, sf_dir, "documents"), chunk_size=64, stride=48
    )


@register(
    "c30_importance_weights",
    f"""
    WITH t AS (
        SELECT doc_id, lang = 'en' AS is_t, UNNEST({_SQL_TOKS}) AS tok
        FROM documents
    ), b AS (
        SELECT doc_id, is_t,
               (('0x' || substr(md5('ir' || tok), 1, 8))::BIGINT % 64 + 64) % 64
                   AS bucket
        FROM t
    ), counts AS (
        SELECT bucket, COUNT(*) AS craw,
               SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS ctgt
        FROM b GROUP BY bucket
    ), tot AS (
        SELECT SUM(craw) AS nraw, SUM(ctgt) AS ntgt FROM counts
    ), model0 AS (
        SELECT d.bucket, COALESCE(craw, 0) AS craw, COALESCE(ctgt, 0) AS ctgt
        FROM (SELECT UNNEST(range(64)) AS bucket) d
        LEFT JOIN counts USING (bucket)
    ), model AS (
        SELECT bucket,
               ROUND(ln(((ctgt + 1) * 1.0 / (ntgt + 64))
                        / ((craw + 1) * 1.0 / (nraw + 64))), 9) AS lr
        FROM model0 CROSS JOIN tot
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok,
           ROUND({sql_dsum('lr')}, 6) AS log_w
    FROM b JOIN model USING (bucket)
    GROUP BY doc_id
    """,
    doc="""DSIR importance log-weights (⊕, r7 — Xie et al. 2023's
    hashed-n-gram importance resampling): log w(doc) = Σ ln(p_target/
    p_raw) over 64 md5 feature-hash buckets with add-one smoothing;
    target distribution = the lang='en' rows. Same determinism
    devices as x08/x20 (9-decimal per-token rounding, DECIMAL
    accumulation, md5 buckets).""",
)
def t10_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import dsir_log_weights

    return dsir_log_weights(
        read_table(spark, sf_dir, "documents"), target=F.col("lang") == "en", dim=64
    )


#: md5 hash-fraction (c34's split device) over a given id expression
_HF = "(('0x' || substr(md5('{salt}' || CAST({id} AS VARCHAR)), 1, 8))::BIGINT)"

#: c34's split CASE, single SQL home (shared with the decontamination
#: gates — two hand-kept copies of the split cuts would let the gates
#: disagree about split membership with no test linking them)
SQL_SPLIT_CASE = f"""CASE
             WHEN {_HF.format(salt="split", id="doc_id")} / 4294967296.0 < 0.8
                 THEN 'train'
             WHEN {_HF.format(salt="split", id="doc_id")} / 4294967296.0 < 0.9
                 THEN 'val'
             ELSE 'test'
           END"""


@register(
    "c34_split_assign",
    """
    SELECT doc_id, lang,
           CASE
             WHEN ('0x' || substr(md5('split' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                  / 4294967296.0 < 0.8 THEN 'train'
             WHEN ('0x' || substr(md5('split' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                  / 4294967296.0 < 0.9 THEN 'val'
             ELSE 'test'
           END AS split
    FROM documents
    """,
    doc="""Deterministic train/val/test split assignment (⊕, r8):
    split = cumulative-range lookup of md5-hash-fraction(doc_id) —
    stable under reruns, retries, engine changes and corpus growth
    (a doc keeps its split forever). One codegen'd projection, zero
    shuffles; the same hash_fraction device x10's mixture gate
    proved cross-engine-exact.""",
)
def t14_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import split_assign

    return split_assign(
        read_table(spark, sf_dir, "documents").select("doc_id", "lang")
    )


@register(
    "c35_stratified_sample",
    """
    SELECT doc_id, lang, rk FROM (
        SELECT doc_id, lang,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY lang
                   ORDER BY ('0x' || substr(md5('strat' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT ASC,
                            doc_id ASC
               ) AS BIGINT) AS rk
        FROM documents
    ) WHERE rk <= 20
    """,
    doc="""Deterministic stratified sample (⊕, r8): exactly
    min(20, |group|) docs per language, chosen by md5 hash order of
    the doc id with key tie-break — the evaluation-set construction
    step, stable across engines. ONE exchange on the group key (the
    W1 per-group top-k family).""",
)
def t15_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import stratified_sample

    return stratified_sample(
        read_table(spark, sf_dir, "documents").select("doc_id", "lang"),
        group_col="lang",
        k=20,
    )


@register(
    "c36_shuffle_shards",
    """
    SELECT doc_id, lang, shard, pos FROM (
        SELECT doc_id, lang,
               ('0x' || substr(md5('shuf' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 16
                   AS shard,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY ('0x' || substr(md5('shuf' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 16
                   ORDER BY ('0x' || substr(md5('shufpos' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT ASC,
                            doc_id ASC
               ) AS BIGINT) AS pos
        FROM documents
    )
    """,
    doc="""Deterministic corpus shuffle into shards (⊕, r8; the
    global pre-training shuffle): shard = md5 hash bucket, position
    within shard = an independently-salted hash order — the
    permutation is a pure function of (salt, keys), any shard prefix
    an unbiased sample. ONE exchange on the shard id; per-shard sort
    bounded by construction (corpus/n_shards). 16 shards at fixture
    scale; Spark pmod == DuckDB % here because the hash is a
    non-negative 32-bit value.""",
)
def c36_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import shuffle_shards

    return shuffle_shards(
        read_table(spark, sf_dir, "documents").select("doc_id", "lang"), n_shards=16
    )


@register(
    "c37_token_entropy",
    f"""
    WITH t AS (
        SELECT doc_id, {_SQL_TOKS} AS ws FROM documents
        WHERE len({_SQL_TOKS}) > 0
    ), g AS (
        SELECT doc_id, len(ws) AS n, UNNEST(ws) AS tok FROM t
    ), c AS (
        SELECT doc_id, n, tok, COUNT(*) AS c FROM g GROUP BY doc_id, n, tok
    )
    SELECT doc_id, CAST(n AS BIGINT) AS n_tok,
           ROUND(CAST(SUM(CAST(ROUND(-(c * 1.0 / n) * ln(c * 1.0 / n), 9)
                              AS DECIMAL(28,6))) AS DOUBLE), 6) AS entropy
    FROM c GROUP BY doc_id, n
    """,
    doc="""Per-document unigram token entropy (⊕T22, r8): the
    diversity twin of the repetition filters — near-zero H flags
    one-token spam, low H template boilerplate. Spark side is
    shuffle-free (sorted-run boundaries + a decimal fold, the
    quality.py module posture); the oracle is the textbook
    explode→groupBy form — different plan, same hash. Terms rounded
    to 9 dp, DECIMAL(28,6) accumulation, final 6 dp (x08/c30
    devices).""",
)
def c37_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.quality import token_entropy

    return token_entropy(read_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# c48 — ⊕T24 cross-source quality calibration (r10)
# ---------------------------------------------------------------------------

_SQL_CALIBRATION = f"""
    WITH t AS (
        SELECT doc_id, source,
               len({_SQL_TOKS}) AS n_tok,
               list_aggregate(list_transform({_SQL_TOKS}, x -> len(x)), 'sum') AS tok_chars,
               len(list_filter({_SQL_TOKS},
                   x -> list_contains({_SQL_STOP}, x))) AS stop_hits
        FROM documents
    ), q AS (
        SELECT doc_id, source, ROUND({_SQL_QUALITY}, 6) AS quality
        FROM t WHERE n_tok > 0
    ), r AS (
        SELECT *, COUNT(*) OVER (PARTITION BY source) AS n,
               RANK() OVER (PARTITION BY source ORDER BY quality) AS rk
        FROM q
    )
    SELECT doc_id, source, quality,
           CAST(LEAST(9, FLOOR(10.0 * (rk - 1) / n)) AS INT) AS q_decile
    FROM r
"""


@register(
    "c48_quality_calibration",
    _SQL_CALIBRATION,
    doc="""Cross-source quality-score CALIBRATION (⊕T24, r10): each
    document's t03 quality score converted to its per-SOURCE decile
    (strictly-below count over group size, ties share a decile) — the
    curation practice of thresholding each source's own distribution
    (keep the top decile per source) instead of one global cut that
    empties low-scoring sources; `q_decile >= 9` IS that selection.
    Spark side is `operators/quality.grouped_quantile_rank` — the
    A7/score_percentiles two-phase device PER GROUP: (group, value)
    distribution collapse, within-(group, floor(value))-bucket
    window, per-group running sum over ≤|score-range| bucket totals,
    join back — no corpus-fraction window anywhere. The oracle is
    the textbook per-source RANK() window (brute force where the
    oracle runs, never what the Spark plan does); quality reuses
    t03's exact rounded blend, so both engines rank identical
    doubles (rational arithmetic, no libm).""",
)
def c48_quality_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.quality import grouped_quantile_rank

    docs = read_table(spark, sf_dir, "documents")
    toks = tokens(F.lower(F.col("text")))
    stop = _stop_array()
    t = docs.select(
        "doc_id",
        "source",
        F.size(toks).alias("n_tok"),
        F.aggregate(F.transform(toks, F.length), F.lit(0), lambda a, x: a + x).alias("tok_chars"),
        F.size(F.filter(toks, lambda x: F.array_contains(stop, x))).alias("stop_hits"),
    )
    qv = _quality_expr(F.col("n_tok"), F.col("tok_chars"), F.col("stop_hits"))
    q = t.filter(F.col("n_tok") > 0).select(
        "doc_id", "source", F.round(qv, 6).alias("quality")
    )
    return grouped_quantile_rank(q, "quality", "source", n_q=10).select(
        "doc_id", "source", "quality", F.col("q_bucket").alias("q_decile")
    )


@register(
    "zc50_spfhp_packing",
    None,
    doc="""SPFHP whole-document bin packing (⊕T25, r10 — bench-only
    leg, the zc42 device): `operators/packing.spfhp_pack_assignments`
    over the documents table's token counts at max_len 128. Oracle-
    less BY CONSTRUCTION — the strategy is a driver-side algorithm
    over the bounded length histogram that no SQL engine replays —
    so the correctness story is the pytest suite: a hand case with a
    known perfect packing, and a seed-sweep pinning the Spark
    assignment pack-for-pack (as load multisets) against an
    INDEPENDENT per-doc shortest-pack-first simulation, plus
    validity/coverage/determinism invariants. The leg exists to
    carry the padding-efficiency number: packing whole docs instead
    of concat-and-chunk (x04) trades boundary-straddling documents
    for padding, and this is the practice (Krell et al. 2021) that
    makes that trade near-optimal.""",
)
def zc50_spfhp_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.packing import spfhp_pack_assignments

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", token_count(F.col("text")).cast("long").alias("n_tok")
    )
    return spfhp_pack_assignments(docs.filter(F.col("n_tok") > 0), max_len=128)
