"""Deduplication queries over ``documents`` (⊕J13 + north-star dedup
suite). The Spark plans are the scalable forms (hash-groupBy, prefix-
filtered inverted index, MinHash-LSH banding); the DuckDB oracles are
brute-force O(n²) ground truth — tractable at sf0.01 where the oracle
runs, while the Spark side stays 100 TB-shaped.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from pyspark.sql import functions as F

from ..io import read_table
from ..operators.dedup import (
    exact_duplicate_groups,
    jaccard_topk_join,
    minhash_lsh_topk_join,
    simhash_fingerprints,
)
from .registry import register

#: ordered (non-distinct) token list — the canonical tokenizer SQL,
#: single-homed in text_ops (cycle-free import: text_ops does not
#: import this module)
from .text_ops import _SQL_TOKS as _SQL_TOKS_DEDUP  # noqa: E402

_SQL_TOKSET = (
    "list_sort(list_distinct(list_filter("
    "regexp_split_to_array(lower(text), '\\s+'), x -> len(x) > 0)))"
)

#: incremental-dedup oracle: incoming batch (doc_id % 10 = 0) screened
#: against the whole corpus; top-k matches per incoming doc
_SQL_TOPK_PAIRS = f"""
    WITH t AS (
        SELECT doc_id AS id, {_SQL_TOKSET} AS toks FROM documents
        WHERE len({_SQL_TOKSET}) > 0
    ),
    pairs AS (
        SELECT a.id AS id_a, b.id AS id_b,
               ROUND(len(list_intersect(a.toks, b.toks)) * 1.0
                     / len(list_distinct(list_concat(a.toks, b.toks))), 6) AS jaccard
        FROM t a JOIN t b ON a.id <> b.id
        WHERE a.id % 10 = 0
    )
    SELECT id_a, id_b, jaccard, rk FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY id_a
                                     ORDER BY jaccard DESC, id_b ASC) AS rk
        FROM pairs WHERE jaccard >= {{thr}}
    ) WHERE rk <= 20
"""


@register(
    "d01_exact_dedup_groups",
    f"""
    WITH f AS (
        SELECT doc_id, md5(array_to_string({_SQL_TOKSET}, ' ')) AS fingerprint
        FROM documents
    )
    SELECT fingerprint, MIN(doc_id) AS canonical_id, COUNT(*) AS n_docs
    FROM f GROUP BY fingerprint HAVING COUNT(*) > 1
    """,
)
def d01_exact_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: one shuffle on a 128-bit content fingerprint."""
    return exact_duplicate_groups(read_table(spark, sf_dir, "documents"))


@register(
    "d02_jaccard_pairs",
    _SQL_TOPK_PAIRS.format(thr=0.8),
    doc="""Incremental dedup, exact path: for each incoming doc
    (doc_id %% 10 = 0) the top-20 corpus near-dups at Jaccard ≥0.8 via
    the count-based inverted-index join (no O(n²), no array
    materialization on the join path). Oracle is brute force.""",
)
def d02_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    incoming = docs.filter(F.col("doc_id") % 10 == 0)
    return jaccard_topk_join(incoming, docs, threshold=0.8, k=20)


@register(
    "d03_minhash_lsh_pairs",
    _SQL_TOPK_PAIRS.format(thr=0.8),
    doc="""Incremental dedup, LSH path: MinHash(128)+LSH(32 bands)
    candidates from a broadcast band join, exact-verified. Oracle is
    the same brute-force ground truth — banding recall at 0.8 is
    1−(1−0.8⁴)³² ≈ 1−5e-8, so results must match the exact path.""",
)
def d03_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    # incoming ⊆ corpus → predicate form: one tokenize + one MinHash
    # banding pass over the corpus instead of two
    return minhash_lsh_topk_join(F.col("doc_id") % 10 == 0, docs, threshold=0.8, k=20)


#: char-5-gram shingle set (DuckDB twin of operators/dedup.shingle_set)
_SQL_SHINGLES = (
    "list_sort(list_distinct(list_transform("
    "range(1, greatest(len(lower(text)) - 3, 1)), i -> substr(lower(text), i::INT, 5))))"
)

_SQL_SHINGLE_TOPK = f"""
    WITH t AS (
        SELECT doc_id AS id, {_SQL_SHINGLES} AS toks FROM documents
        WHERE len({_SQL_SHINGLES}) > 0
    ),
    pairs AS (
        SELECT a.id AS id_a, b.id AS id_b,
               ROUND(len(list_intersect(a.toks, b.toks)) * 1.0
                     / len(list_distinct(list_concat(a.toks, b.toks))), 6) AS jaccard
        FROM t a JOIN t b ON a.id <> b.id
        WHERE a.id % 100 = 0
    )
    SELECT id_a, id_b, jaccard, rk FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY id_a
                                     ORDER BY jaccard DESC, id_b ASC) AS rk
        FROM pairs WHERE jaccard >= 0.25
    ) WHERE rk <= 10
"""


@register(
    "d05_ngram_jaccard",
    _SQL_SHINGLE_TOPK,
    doc="""Char-5-gram n-gram Jaccard near-dup: shingle sets through
    the exact count-based inverted-index join, top-10 per incoming doc
    (doc_id %% 100 = 0) at Jaccard ≥0.25. Shingles capture adjacency
    and intra-word edits that word tokens miss (on this corpus the
    word-level Jaccard of a pair is ~3× its shingle-level one), so the
    threshold sits in the shingle regime. The exact path is used —
    MinHash-LSH cannot cheaply separate a 0.25 threshold from a 0.16
    background (P_band = t^r collapses); `minhash_lsh_topk_join`
    accepts `tokset_fn=shingle_set` when the corpus actually has
    high-similarity shingle pairs. Oracle is brute force.

    r4: shingles are the vectorized packed-byte form (one numpy pass,
    injective — distinct counts equal the oracle's string shingles on
    this ASCII corpus), and the df stop-list is ON: tokens in >60%% of
    corpus docs are routed off the join through the exact hot-token
    correction (operators/dedup.jaccard_topk_join df_cap).

    r14 (guide §2.3, measured): the cap moved 0.78·n → 0.60·n. The
    corpus has only ~2k distinct shingles (avg df ≈ n/10), so the pair
    join's fan-out is dominated by the df-distribution head: at sf0.1
    the 0.78 cap routed just H=4 tokens off the join (14.4 M pair rows
    into the aggregate), while 0.60·n routes H=76 and cuts the fan-out
    ~4.7× (14.4 M → 3.1 M). Exactness holds exactly when every
    qualifying pair shares ≥1 non-hot token — measured directly at the
    new cap: min shared-RARE tokens over qualifying pairs = 7 / 23 / 8
    at sf0.001 / 0.01 / 0.1 (margin ≥7 everywhere; the df distribution
    is flat between 0.40·n and 0.60·n, so H and therefore results are
    unchanged anywhere in that band) — results are bit-identical to
    the uncapped plan (pinned by the gate hash and the cap-boundary
    test, which checks 0.60 alongside the old 0.78 and an aggressive
    0.30).""",
)
def d05_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import jaccard_topk_join, shingle_hashes

    docs = read_table(spark, sf_dir, "documents")
    incoming = docs.filter(F.col("doc_id") % 100 == 0)
    # one count job over the footer-pruned scan (cheap, NOT free:
    # plain DataFrame.count() does run a job; at scale derive the cap
    # from the freq frame the join already aggregates)
    n_docs = docs.count()
    return jaccard_topk_join(
        incoming, docs, threshold=0.25, k=10,
        tokset_fn=shingle_hashes,
        df_cap=int(0.60 * n_docs),
    )


#: deterministic perturbation planting near-dup structure: the fixture
#: embeddings are isotropic (no natural pair above cosine 0.5), so the
#: query perturbs every 4th vector per-component and screens the
#: perturbed batch against the corpus — the planted pair is the only
#: qualifying match. Spark's transform index is 0-based, DuckDB's is
#: 1-based; both evaluate the same double-precision factor.
_PERTURB_SQL = "x * (1 + ((((i - 1) % 7) - 3) / 100.0))"

_SQL_EMB_NEAR_DUP = f"""
    WITH c AS (
        SELECT vec_id AS id_b, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    q AS (
        SELECT vec_id + 10000000 AS id_a,
               list_transform(CAST(embedding AS DOUBLE[]), (x, i) -> {_PERTURB_SQL}) AS v
        FROM embeddings WHERE vec_id % 4 = 0
    )
    SELECT id_a, id_b,
           ROUND(list_dot_product(q.v, c.v)
                 / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))), 6)
             AS cosine_sim
    FROM q JOIN c ON id_a <> id_b
    WHERE list_dot_product(q.v, c.v)
          / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) >= 0.99
"""


@register(
    "d06_embedding_near_dup",
    _SQL_EMB_NEAR_DUP,
    doc="""Embedding-cosine near-dup: perturbed copies of every 4th
    vector screened against the corpus at cosine ≥0.99 via 16-bit
    sign-sketch LSH (8 tables), exact-verified. Oracle is the
    brute-force pair join. The planted perturbation is the near-dup
    structure — the fixture embeddings are isotropic.""",
)
def d06_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import embedding_near_dup_join

    emb = read_table(spark, sf_dir, "embeddings")
    corpus = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    perturbed = emb.filter(F.col("vec_id") % 4 == 0).select(
        (F.col("vec_id") + 10_000_000).alias("vec_id"),
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x, i: x * (1 + ((i % 7) - 3) / F.lit(100.0)),
        ).alias("embedding"),
    )
    return embedding_near_dup_join(perturbed, corpus, threshold=0.99)


def _simhash_twin_sql() -> str:
    """Algorithm-twin oracle for d04 (the m02/p05 pattern): DuckDB
    recomputes the SAME FNV-1a-64 per token — ``list_reduce`` over the
    token's code points with HUGEINT mod-2⁶⁴ arithmetic, verified
    byte-identical to the Python hash — then the 64 bit votes as a
    (token × bit) sum, the sign→bit pack, two's-complement into signed
    64, and the four 16-bit bands by power-of-two division. Valid for
    this fixture because its text is pure ASCII (code point == UTF-8
    byte — checked; the pytest bit-vote oracle pins full UTF-8
    semantics)."""
    powers = "[" + ",".join(f"CAST({1 << b} AS HUGEINT)" for b in range(64)) + "]"
    return f"""
    WITH t AS (
      SELECT doc_id AS id, {_SQL_TOKSET} AS toks FROM documents
    ),
    tok AS (
      SELECT id, UNNEST(toks) AS token FROM t
    ),
    h AS (
      SELECT id, list_reduce(
          list_prepend(CAST(14695981039346656037 AS HUGEINT),
            list_transform(range(1, len(token)+1),
                           i -> CAST(unicode(substr(token, CAST(i AS INT), 1)) AS HUGEINT))),
          (acc, c) -> (CAST(xor(CAST(acc AS UBIGINT), CAST(c AS UBIGINT)) AS HUGEINT)
                     * 1099511628211) % 18446744073709551616) AS fnv
      FROM tok
    ),
    votes AS (
      SELECT id, b,
             SUM(CASE WHEN (fnv // ({powers})[CAST(b AS INT)+1]) % 2 = 1
                      THEN 1 ELSE -1 END) AS v
      FROM h, range(64) r(b) GROUP BY id, b
    ),
    fp AS (
      SELECT id, SUM(CASE WHEN v > 0 THEN ({powers})[CAST(b AS INT)+1]
                          ELSE CAST(0 AS HUGEINT) END) AS fp_u
      FROM votes GROUP BY id
    ),
    f2 AS (
      SELECT t.id, COALESCE(f.fp_u, CAST(0 AS HUGEINT)) AS fp_u
      FROM t LEFT JOIN fp f ON t.id = f.id
    )
    SELECT id,
      CAST(CASE WHEN fp_u >= 9223372036854775808 THEN fp_u - 18446744073709551616
                ELSE fp_u END AS BIGINT) AS simhash,
      CAST(fp_u % 65536 AS BIGINT) AS band0,
      CAST((fp_u // 65536) % 65536 AS BIGINT) AS band1,
      CAST((fp_u // 4294967296) % 65536 AS BIGINT) AS band2,
      CAST((fp_u // 281474976710656) % 65536 AS BIGINT) AS band3
    FROM f2
    """


@register(
    "d04_simhash_buckets",
    _simhash_twin_sql(),
    doc="""SimHash64 fingerprints + 16-bit hamming bands, hash-checked
    against a DuckDB FNV-1a algorithm twin (see _simhash_twin_sql).""",
)
def d04_simhash_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash64 fingerprints with 16-bit bands for hamming-bucketed
    near-dup candidate generation."""
    return simhash_fingerprints(read_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# x03 — near-dup clustering: pairs → connected components → canonical
# survivor (⊕D9). Driver-signed in r5 (as c03, CORRECTNESS_r05);
# rotated back out in r6's final rotation — still in the
# in r5 (the r4 verdict asked the driver to sign the strongest
# x-series oracles); the oracle is a DuckDB
# RECURSIVE transitive closure over the same brute-force pair set —
# tractable at sf0.01, while the Spark side runs the O(log² n)
# alternating-star iteration that survives 100 TB graphs.
# ---------------------------------------------------------------------------

#: the recursive-closure CTE chain over the 1-in-10 slice's exact
#: Jaccard pairs — single SQL home, shared by the x03 and c49 oracles
#: (imported, never copied: two hand-kept closures could disagree
#: about component membership with no test linking them)
_SQL_CLOSURE_CTES = f"""t AS (
        SELECT doc_id AS id, {_SQL_TOKSET} AS toks FROM documents
        WHERE doc_id % 10 = 0 AND len({_SQL_TOKSET}) > 0
    ),
    pairs AS (
        SELECT a.id AS u, b.id AS v
        FROM t a JOIN t b ON a.id < b.id
        WHERE ROUND(len(list_intersect(a.toks, b.toks)) * 1.0
                    / len(list_distinct(list_concat(a.toks, b.toks))), 6) >= 0.8
    ),
    sym AS (
        SELECT u, v FROM pairs UNION SELECT v, u FROM pairs
    ),
    reach(u, v) AS (
        SELECT u, v FROM sym
        UNION
        SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u
        WHERE s.v <> r.u
    ),
    comp AS (
        SELECT u AS node, LEAST(u, MIN(v)) AS component
        FROM reach GROUP BY u
    )"""

_SQL_COMPONENTS = f"""
    WITH RECURSIVE {_SQL_CLOSURE_CTES}
    SELECT doc_id, component, is_canonical,
           CASE WHEN f < 0.9e0 THEN 'train'
                WHEN f < 0.95e0 THEN 'val'
                ELSE 'test' END AS split
    FROM (
        SELECT d.doc_id,
               COALESCE(c.component, d.doc_id) AS component,
               COALESCE(c.component, d.doc_id) = d.doc_id AS is_canonical,
               (('0x' || substr(md5('split' ||
                    CAST(COALESCE(c.component, d.doc_id) AS VARCHAR)), 1, 8))::BIGINT
                 / 4294967296.0e0) AS f
        FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 0) d
        LEFT JOIN comp c ON d.doc_id = c.node
    )
"""


@register(
    "x03_dedup_components",
    _SQL_COMPONENTS,
    doc="""Near-dup clustering end to end: exact Jaccard pairs (≥0.8,
    prefix-filtered inverted index) over a 1-in-10 corpus slice →
    alternating large-star/small-star connected components → min-id
    canonical survivor per cluster. The oracle recomputes components
    via a recursive-CTE transitive closure.""",
)
def x03_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster canonicalization (SURVEY §2.11 ⊕D9): labels
    every document in the slice with its near-dup component, the
    keep/drop decision (component minimum survives), and a
    LEAKAGE-SAFE train/val/test split — assigned per COMPONENT via
    the deterministic md5 fraction, so two near-duplicate documents
    can never straddle a train/eval boundary (splitting per DOCUMENT
    would leak eval content into training through its near-dups)."""
    from ..operators.dedup import jaccard_similarity_pairs
    from ..operators.graph import canonicalize_components, connected_components
    from ..operators.sampling import hash_fraction

    docs = read_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    pairs = jaccard_similarity_pairs(docs, threshold=0.8)
    labels = connected_components(pairs, nodes=docs, node_col="doc_id")
    frac = hash_fraction(F.col("component"), salt="split")
    return canonicalize_components(labels).select(
        F.col("node").alias("doc_id"),
        "component",
        "is_canonical",
        F.when(frac < 0.9, "train").when(frac < 0.95, "val").otherwise("test").alias("split"),
    )


@register(
    "x13_duplicated_spans",
    """
    WITH t AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(lower(text), '\\s+'),
                           x -> len(x) > 0) AS toks
        FROM documents
    ), g AS (
        SELECT doc_id, CAST(i AS BIGINT) AS pos,
               array_to_string(toks[i:i+7], ' ') AS gram
        FROM t CROSS JOIN UNNEST(range(1, greatest(len(toks) - 6, 1))) AS r(i)
        WHERE len(toks) >= 8
    ), dup AS (
        SELECT gram FROM g GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2
    ), dw AS (
        SELECT doc_id, pos FROM g WHERE gram IN (SELECT gram FROM dup)
    ), nw AS (
        SELECT doc_id, COUNT(*) AS n_dup_windows FROM dw GROUP BY doc_id
    ), cov AS (
        SELECT doc_id, COUNT(DISTINCT pos + j) AS covered_tok
        FROM dw CROSS JOIN UNNEST(range(8)) AS rr(j)
        GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(len(t.toks) AS BIGINT) AS n_tok,
           CAST(COALESCE(nw.n_dup_windows, 0) AS BIGINT) AS n_dup_windows,
           CAST(COALESCE(cov.covered_tok, 0) AS BIGINT) AS covered_tok,
           CASE WHEN len(t.toks) = 0 THEN 0.0e0
                ELSE round(COALESCE(cov.covered_tok, 0) * 1.0e0 / len(t.toks), 6)
           END AS dup_frac
    FROM t
    LEFT JOIN nw USING (doc_id)
    LEFT JOIN cov USING (doc_id)
    """,
    doc="""Cross-document duplicated-span coverage (⊕: Lee et al.
    2022's ExactSubstr practice, bounded to word-8-gram windows):
    per-doc count of windows whose gram occurs in ≥2 distinct docs
    and the union of token positions they cover. Spark side travels
    hashed positional grams (one Arrow pass); the oracle rebuilds
    the same windows as strings — the gate checks every count and
    fraction, with hash collisions (~2⁻⁶⁴/pair) the only divergence
    risk, same posture as the d05/t05 gram gates. Driver-signed in r5
    (as c13); rotated out in r6's final rotation — still checked by
    tools/verify_local every round.""",
)
def x13_duplicated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import duplicated_span_coverage

    docs = read_table(spark, sf_dir, "documents")
    return duplicated_span_coverage(docs, n=8, min_docs=2)


_SQL_SEMANTIC = f"""
    WITH RECURSIVE n AS (
        SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings
        UNION ALL
        SELECT vec_id + 10000000 AS id,
               list_transform(CAST(embedding AS DOUBLE[]), (x, i) -> {_PERTURB_SQL}) AS vec
        FROM embeddings WHERE vec_id % 4 = 0
    ),
    pairs AS (
        SELECT a.id AS u, b.id AS v
        FROM n a JOIN n b ON a.id < b.id
        WHERE list_dot_product(a.vec, b.vec)
              / (sqrt(list_dot_product(a.vec, a.vec))
                 * sqrt(list_dot_product(b.vec, b.vec))) >= 0.99
    ),
    sym AS (SELECT u, v FROM pairs UNION SELECT v, u FROM pairs),
    reach(u, v) AS (
        SELECT u, v FROM sym
        UNION
        SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u WHERE s.v <> r.u
    ),
    comp AS (SELECT u AS node, LEAST(u, MIN(v)) AS component FROM reach GROUP BY u)
    SELECT nn.id AS node,
           COALESCE(c2.component, nn.id) AS component,
           COALESCE(c2.component, nn.id) = nn.id AS is_canonical
    FROM n nn LEFT JOIN comp c2 ON nn.id = c2.node
"""


@register(
    "x21_semantic_dedup",
    _SQL_SEMANTIC,
    doc="""Semantic dedup end to end (⊕D10, the SemDeDup practice),
    upgraded r5 from pytest-only to hash-gated: the d06 planted
    near-dup graph (corpus ∪ perturbed copies) → SYMMETRIC sign-sketch
    LSH pair join (the corpus is sketched ONCE into a persisted frame
    and self-joined — the r5 single-pass path) → alternating-star
    connected components → min-id canonical survivor, for EVERY node.
    The oracle recomputes the pair graph brute-force and closes it
    with a recursive CTE (x03's pattern on the embedding modality).
    Driver-signed in r5 (as c21); rotated out in r6's final rotation —
    still checked by tools/verify_local every round.""",
)
def x21_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import semantic_dedup

    emb = read_table(spark, sf_dir, "embeddings")
    corpus = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    perturbed = emb.filter(F.col("vec_id") % 4 == 0).select(
        (F.col("vec_id") + 10_000_000).alias("vec_id"),
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x, i: x * (1 + ((i % 7) - 3) / F.lit(100.0)),
        ).alias("embedding"),
    )
    return semantic_dedup(corpus.unionByName(perturbed), threshold=0.99)


@register(
    "c25_span_removal",
    f"""
    WITH t AS (
        SELECT doc_id, {_SQL_TOKS_DEDUP} AS toks FROM documents
    ), g AS (
        SELECT doc_id, CAST(i AS BIGINT) AS pos,
               array_to_string(toks[i:i+7], ' ') AS gram
        FROM t CROSS JOIN UNNEST(range(1, greatest(len(toks) - 6, 1))) AS r(i)
        WHERE len(toks) >= 8
    ), dup AS (
        SELECT gram, MIN(doc_id) AS owner
        FROM (SELECT DISTINCT gram, doc_id FROM g)
        GROUP BY gram HAVING COUNT(*) >= 2
    ), removal AS (
        SELECT DISTINCT g.doc_id, g.pos + j AS tokpos
        FROM g JOIN dup USING (gram)
        CROSS JOIN UNNEST(range(8)) AS rr(j)
        WHERE g.doc_id <> dup.owner
    ), pt AS (
        SELECT doc_id, CAST(i AS BIGINT) AS tokpos, toks[i] AS tok
        FROM t CROSS JOIN UNNEST(range(1, len(toks) + 1)) AS r(i)
    ), kept AS (
        SELECT pt.doc_id, pt.tokpos, pt.tok
        FROM pt ANTI JOIN removal USING (doc_id, tokpos)
    ), rebuilt AS (
        SELECT doc_id, COUNT(*) AS n_kept,
               string_agg(tok, ' ' ORDER BY tokpos) AS cleaned_text
        FROM kept GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(len(t.toks) AS BIGINT) AS n_tok,
           CAST(len(t.toks) - COALESCE(r.n_kept, 0) AS BIGINT) AS n_removed,
           COALESCE(r.cleaned_text, '') AS cleaned_text
    FROM t LEFT JOIN rebuilt r USING (doc_id)
    """,
    doc="""Duplicated-span REMOVAL (⊕, r5: the rewrite step of Lee et
    al. 2022's ExactSubstr practice — c13 measures repeated-span
    coverage, this DELETES the spans, keeping exactly one canonical
    copy per gram in its minimum-id owner document). The gate
    hash-checks the FULL rewritten text of every document plus the
    removal counts; the oracle rebuilds the same keep-one rule with
    string grams (hash collisions ~2⁻⁶⁴/pair the only divergence,
    the x13/d05 posture). Rotated INTO the driver's 50-name window in
    r6's final rotation (the last never-driver-signed oracle gate);
    also checked by tools/verify_local.""",
)
def c25_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import remove_duplicated_spans

    return remove_duplicated_spans(read_table(spark, sf_dir, "documents"))


#: winnowing CTE chain shared by t06 (fingerprint sets) and t07
#: (match pairs): word-3-gram md5 hashes with 1-based positions, the
#: min of each 4-window of consecutive gram positions, truncated
#: window for docs with <4 grams (the paper's boundary rule — every
#: fingerprintable doc keeps ≥1 fingerprint)
_SQL_WINNOW_FPS = f"""
    t AS (
        SELECT doc_id, {_SQL_TOKS_DEDUP} AS ws FROM documents
    ), g AS (
        SELECT doc_id, u.pos AS pos, u.h AS h FROM (
            SELECT doc_id,
                   UNNEST(list_transform(range(1, greatest(len(ws) - 2, 0) + 1),
                          i -> struct_pack(pos := i,
                                           h := md5(array_to_string(ws[i:i+2], ' ')))))
                     AS u
            FROM t WHERE len(ws) >= 3
        )
    ), wnd AS (
        SELECT doc_id, pos,
               min(h) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
               count(*) OVER (PARTITION BY doc_id) AS n
        FROM g
    ), fps AS (
        SELECT DISTINCT doc_id, fp FROM wnd WHERE pos <= greatest(n - 4, 0) + 1
    )
"""


@register(
    "c26_winnowing_fingerprints",
    f"WITH {_SQL_WINNOW_FPS} SELECT doc_id, fp FROM fps",
    doc="""Winnowing document fingerprints (⊕, Schleimer/Wilkerson/
    Aiken SIGMOD'03, the MOSS sketch): per document, the set of
    window-minimum word-3-gram hashes at window 4 — a fixed-density
    (~2/(w+1)) sketch guaranteeing any shared ≥6-token run between
    two documents shares a fingerprint. One doc_id exchange; grams,
    hashes and window minima all JVM-side. Oracle replays the same
    selection with DuckDB window functions (md5 hex compares
    bytewise identically in both engines).""",
)
def t06_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import winnow_fingerprints

    return winnow_fingerprints(read_table(spark, sf_dir, "documents"), k=3, w=4)


@register(
    "c27_fingerprint_matches",
    f"""
    WITH {_SQL_WINNOW_FPS}, rare AS (
        SELECT fp FROM fps GROUP BY fp HAVING count(*) <= 50
    ), capped AS (
        SELECT doc_id, fp FROM fps SEMI JOIN rare USING (fp)
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared_fps
    FROM capped a JOIN capped b USING (fp)
    WHERE a.doc_id < b.doc_id
    GROUP BY 1, 2 HAVING count(*) >= 2
    """,
    doc="""MOSS-style copy detection on winnowing fingerprints (⊕):
    document pairs sharing ≥2 fingerprints, shared count = match
    strength (lower-bounds shared ≥6-token runs). Fingerprints in
    >50 documents are dropped before pairing (boilerplate hot keys —
    the d02/d05 df_cap posture), so candidate volume is Σ df(fp)² ≤
    50·rows, never corpus². Pairing is a fingerprint-keyed
    self-equi-join + one (id_a,id_b) groupBy — no all-pairs stage.""",
)
def t07_fingerprint_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import fingerprint_match_pairs

    return fingerprint_match_pairs(
        read_table(spark, sf_dir, "documents"), k=3, w=4, min_shared=2, df_cap=50
    )


@register(
    "c32_containment_pairs",
    f"""
    WITH t AS (
        SELECT doc_id AS id, {_SQL_TOKSET} AS toks FROM documents
        WHERE doc_id % 10 = 0 AND len({_SQL_TOKSET}) > 0
    ),
    p AS (
        SELECT a.id AS id_a, b.id AS id_b,
               len(a.toks) AS size_a, len(b.toks) AS size_b,
               len(list_intersect(a.toks, b.toks)) AS inter
        FROM t a JOIN t b ON a.id < b.id
    )
    SELECT id_a, id_b,
           CASE WHEN size_a < size_b THEN id_a
                WHEN size_b < size_a THEN id_b
                ELSE LEAST(id_a, id_b) END AS contained_id,
           ROUND(inter * 1.0 / LEAST(size_a, size_b), 6) AS containment
    FROM p WHERE inter * 1.0 / LEAST(size_a, size_b) >= 0.9
    """,
    doc="""Containment near-dup pairs (⊕, r7 — Broder's containment
    resemblance, the asymmetric family Jaccard structurally misses:
    a doc quoted whole inside a much larger one has J ≈ |A|/|B| but
    containment 1.0, which is why web-dedup pipelines screen
    quote-expansion pairs separately). c = |A∩B| / min(|A|,|B|) ≥
    0.9 over a 1-in-10 document slice (this fixture's 31-word
    vocabulary makes most small sets subsets of larger ones —
    corpus-wide output would be ~10% of ALL pairs, a fixture
    artifact, not an operator property). Count-based inverted-index
    self-join, NO size-compatibility prune (wide-ratio pairs are the
    signal); the df_cap stop-list leg and its exactness bound are
    pytest-pinned.""",
)
def t12_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import containment_pairs

    docs = read_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    return containment_pairs(docs, threshold=0.9)


#: deterministic v2 snapshot derivation (drop %11, revise %7, re-add
#: %13 under new ids) — the c33 diff gate's second snapshot
SQL_V2_SNAPSHOT = """
        SELECT doc_id,
               CASE WHEN doc_id % 7 = 0 THEN text || ' rev' ELSE text END AS text
        FROM documents WHERE doc_id % 11 <> 0
        UNION ALL
        SELECT doc_id + 10000000 AS doc_id, text
        FROM documents WHERE doc_id % 13 = 0
"""


def v2_snapshot(docs):
    """Spark twin of :data:`SQL_V2_SNAPSHOT`. ``docs`` must carry
    (doc_id, text)."""
    return (
        docs.filter(F.col("doc_id") % 11 != 0)
        .select(
            "doc_id",
            F.when(
                F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" rev"))
            )
            .otherwise(F.col("text"))
            .alias("text"),
        )
        .unionByName(
            docs.filter(F.col("doc_id") % 13 == 0).select(
                (F.col("doc_id") + 10000000).alias("doc_id"), "text"
            )
        )
    )


@register(
    "c33_snapshot_diff",
    f"""
    WITH v2 AS ({SQL_V2_SNAPSHOT}), o AS (
        SELECT doc_id AS id, md5(text) AS old_hash, TRUE AS in_old FROM documents
    ), n AS (
        SELECT doc_id AS id, md5(text) AS new_hash, TRUE AS in_new FROM v2
    )
    SELECT COALESCE(o.id, n.id) AS doc_id,
           CASE WHEN in_old IS NULL THEN 'added'
                WHEN in_new IS NULL THEN 'removed'
                WHEN old_hash IS DISTINCT FROM new_hash THEN 'modified' END AS status,
           old_hash, new_hash
    FROM o FULL OUTER JOIN n ON o.id = n.id
    WHERE in_old IS NULL OR in_new IS NULL OR old_hash IS DISTINCT FROM new_hash
    """,
    doc="""Dataset-version diff (⊕, r7 — the audit step between two
    corpus releases, the Delta/LakeFS data-versioning practice as a
    relational op): every id classified added / removed / modified
    by content hash; unchanged ids NOT emitted (two 100 TB snapshots
    are dominated by them — the delta is the deliverable). The v2
    snapshot is derived deterministically from the same table in
    both engines (drop %11, revise %7, add re-ided %13 copies), so
    the oracle needs no second fixture. One md5 projection per side
    + ONE full-outer equi-join (a single co-partitioned shuffle).""",
)
def t13_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ingestion import snapshot_diff

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    return snapshot_diff(docs, v2_snapshot(docs))


_C39_L = 12


@register(
    "c39_exact_substring_runs",
    f"""
    WITH t AS (
        SELECT doc_id, {_SQL_TOKS_DEDUP} AS toks FROM documents
    ), g AS (
        SELECT doc_id, CAST(i AS BIGINT) AS pos,
               array_to_string(toks[i:i+{_C39_L - 1}], ' ') AS gram
        FROM t CROSS JOIN UNNEST(range(1, greatest(len(toks) - {_C39_L - 2}, 1))) AS r(i)
        WHERE len(toks) >= {_C39_L}
    ), dup AS (
        SELECT gram FROM g GROUP BY gram HAVING COUNT(*) >= 2
    ), cov AS (
        SELECT DISTINCT g.doc_id, g.pos + j AS tokpos
        FROM g SEMI JOIN dup USING (gram)
        CROSS JOIN UNNEST(range({_C39_L})) AS rr(j)
    ), isl AS (
        SELECT doc_id, tokpos,
               tokpos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tokpos) AS grp
        FROM cov
    )
    SELECT doc_id, MIN(tokpos) AS start_pos, MAX(tokpos) AS end_pos,
           CAST(COUNT(*) AS BIGINT) AS run_toks
    FROM isl GROUP BY doc_id, grp
    """,
    doc="""Exact-substring dedup at ExactSubstr's real grain (⊕D18,
    r9 — verdict item 3): maximal token runs covered by a repeated
    substring of length ≥ 12, per document — the removal intervals of
    Lee et al. 2022, where d12/d13 emit fixed 8-gram windows. The
    suffix-array definition and the duplicated-L-window union are
    provably the same set (operator docstring); the pytest oracle
    computes the suffix/LCP form in pure Python and the hash gate
    pins the sorted-gram run-merging Spark shape against the same
    logic in SQL. Duplication at OCCURRENCE grain (intra-doc repeats
    count, the paper's criterion). Fixture runs reach 93-99 tokens —
    ~8× the window length, so the maximal-run merge genuinely bites
    at every SF.""",
)
def c39_exact_substring_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import maximal_duplicated_runs

    return maximal_duplicated_runs(
        read_table(spark, sf_dir, "documents"), min_len=_C39_L
    )


@register(
    "c41_keep_first_removal",
    f"""
    WITH t AS (
        SELECT doc_id, {_SQL_TOKS_DEDUP} AS toks FROM documents
    ), g AS (
        SELECT doc_id, CAST(i AS BIGINT) AS pos,
               array_to_string(toks[i:i+{_C39_L - 1}], ' ') AS gram
        FROM t CROSS JOIN UNNEST(range(1, greatest(len(toks) - {_C39_L - 2}, 1))) AS r(i)
        WHERE len(toks) >= {_C39_L}
    ), dup AS (
        SELECT gram, MIN(doc_id * 2147483648 + pos) AS owner_key
        FROM g GROUP BY gram HAVING COUNT(*) >= 2
    ), removal AS (
        SELECT DISTINCT g.doc_id, g.pos + j AS tokpos
        FROM g JOIN dup USING (gram)
        CROSS JOIN UNNEST(range({_C39_L})) AS rr(j)
        WHERE g.doc_id * 2147483648 + g.pos <> dup.owner_key
    ), pt AS (
        SELECT doc_id, CAST(i AS BIGINT) AS tokpos, toks[i] AS tok
        FROM t CROSS JOIN UNNEST(range(1, len(toks) + 1)) AS r(i)
    ), kept AS (
        SELECT pt.doc_id, pt.tokpos, pt.tok
        FROM pt ANTI JOIN removal USING (doc_id, tokpos)
    ), rebuilt AS (
        SELECT doc_id, COUNT(*) AS n_kept,
               string_agg(tok, ' ' ORDER BY tokpos) AS cleaned_text
        FROM kept GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(len(t.toks) AS BIGINT) AS n_tok,
           CAST(len(t.toks) - COALESCE(r.n_kept, 0) AS BIGINT) AS n_removed,
           COALESCE(r.cleaned_text, '') AS cleaned_text
    FROM t LEFT JOIN rebuilt r USING (doc_id)
    """,
    doc="""Keep-FIRST-occurrence span removal (⊕D19, r9 — the removal
    twin of c39 at ExactSubstr's occurrence grain): each duplicated
    ≥12-token gram keeps only its lexicographically first (doc, pos)
    occurrence; every other occurrence's positions are deleted and
    the full rewritten text of every document is hash-gated (the c25
    device). The semantics d13's doc-owner rule cannot express:
    intra-document repeats get deduplicated too (the memorization
    boilerplate case), and cross-document the FIRST copy survives
    rather than the whole min-id document. Composite occurrence key
    doc·2³¹+pos — injective, order-preserving, identical in both
    engines. DELIBERATE domain restriction (r9 ADVICE): the Spark
    operator raises loudly for ids ≥ 2³¹ while this oracle would keep
    computing via DuckDB's BIGINT promotion — the gate therefore
    attests only the 0 ≤ id < 2³¹ domain, and a future widening of
    the Spark key must widen the oracle key expression IN LOCKSTEP
    (both sides of the `2147483648` literal here) or the engines
    silently disagree outside the fixture's id range.""",
)
def c41_keep_first_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import remove_duplicated_runs_keep_first

    return remove_duplicated_runs_keep_first(
        read_table(spark, sf_dir, "documents"), min_len=_C39_L
    )


# ---------------------------------------------------------------------------
# c45 — ⊕D21 content-defined chunk dedup (r10)
# ---------------------------------------------------------------------------

#: dedup only chunks of >= this many tokens (a 1-token chunk is
#: "duplicated" in every document — removing it would be vocabulary
#: censorship, not dedup)
_CDC_MIN_TOKS = 4

#: gate boundary predicate, SQL-expressible so BOTH engines chunk
#: identically (the production default is xxhash64 % p, which DuckDB
#: cannot compute — the operator takes the predicate as a parameter
#: for exactly this reason). ~20 % breaker rate on the fixture
#: vocabulary → mean chunk ≈ 5 tokens.
_SQL_CDC_BRK = (
    "(coalesce(ascii(substr(tok, 1, 1)), 0) * 7"
    " + coalesce(ascii(substr(tok, 2, 1)), 0) * 3"
    " + length(tok)) % 5 = 0"
)


def _cdc_gate_boundary(tok):
    """Spark twin of ``_SQL_CDC_BRK`` (kept adjacent so the two
    expressions can only drift with a visible diff)."""
    return (
        F.coalesce(F.ascii(F.substring(tok, 1, 1)), F.lit(0)) * 7
        + F.coalesce(F.ascii(F.substring(tok, 2, 1)), F.lit(0)) * 3
        + F.length(tok)
    ) % 5 == 0


_SQL_CDC_DEDUP = f"""
    WITH t AS (
        SELECT doc_id, {_SQL_TOKS_DEDUP} AS toks FROM documents
    ), pt AS (
        SELECT doc_id, CAST(i AS BIGINT) AS pos, toks[i] AS tok
        FROM t CROSS JOIN UNNEST(range(1, len(toks) + 1)) AS r(i)
    ), brk AS (
        SELECT doc_id, pos, tok,
               CASE WHEN {_SQL_CDC_BRK} THEN 1 ELSE 0 END AS is_brk
        FROM pt
    ), cidx AS (
        SELECT doc_id, pos, tok,
               COALESCE(SUM(is_brk) OVER (
                   PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_idx
        FROM brk
    ), ch AS (
        SELECT doc_id, chunk_idx, MIN(pos) AS chunk_pos,
               COUNT(*) AS chunk_toks,
               string_agg(tok, ' ' ORDER BY pos) AS chunk_text
        FROM cidx GROUP BY doc_id, chunk_idx
    ), el AS (
        SELECT *, doc_id * 2147483648 + chunk_pos AS okey
        FROM ch WHERE chunk_toks >= {_CDC_MIN_TOKS}
    ), dup AS (
        SELECT chunk_text, MIN(okey) AS owner_key
        FROM el GROUP BY chunk_text HAVING COUNT(*) >= 2
    ), removal AS (
        SELECT el.doc_id, el.chunk_pos + j AS tokpos
        FROM el JOIN dup USING (chunk_text)
        CROSS JOIN UNNEST(range(el.chunk_toks)) AS rr(j)
        WHERE el.okey <> dup.owner_key
    ), kept AS (
        SELECT pt.doc_id, pt.pos AS tokpos, pt.tok
        FROM pt ANTI JOIN removal
        ON pt.doc_id = removal.doc_id AND pt.pos = removal.tokpos
    ), rebuilt AS (
        SELECT doc_id, COUNT(*) AS n_kept,
               string_agg(tok, ' ' ORDER BY tokpos) AS cleaned_text
        FROM kept GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(len(t.toks) AS BIGINT) AS n_tok,
           CAST(len(t.toks) - COALESCE(r.n_kept, 0) AS BIGINT) AS n_removed,
           COALESCE(r.cleaned_text, '') AS cleaned_text
    FROM t LEFT JOIN rebuilt r USING (doc_id)
"""


@register(
    "c45_cdc_chunk_dedup",
    _SQL_CDC_DEDUP,
    doc="""Content-defined chunk dedup (⊕D21, r10): the rsync/LBFS
    boundary device lifted to tokens — a token ends a chunk iff a
    pure predicate of that token fires, so shared content produces
    identical chunks at ANY offset (the alignment fixed windows lose
    after one insertion); every ≥4-token chunk duplicated corpus-wide
    keeps its first (doc, chunk_pos) occurrence and the full
    rewritten text of every document is hash-gated (the c25/c41
    device). The grain none of d13/c39/c41 covers: chunks TILE the
    document (disjoint — removal needs no overlapping-window
    distinct), and the dedup unit is variable-sized, set by content.
    The gate's boundary predicate is SQL-expressible so both engines
    chunk identically; the production default (xxhash64 %% p) is the
    same operator with a different predicate, pytest-pinned for
    shift-invariance. c41's composite-key domain restriction
    (0 ≤ id < 2³¹, loud raise Spark-side, lockstep widening) applies
    verbatim.""",
)
def c45_cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import dedup_cdc_chunks

    return dedup_cdc_chunks(
        read_table(spark, sf_dir, "documents"),
        min_toks=_CDC_MIN_TOKS,
        boundary=_cdc_gate_boundary,
    )


# ---------------------------------------------------------------------------
# c49 — quality-aware canonical selection per near-dup cluster (r10)
# ---------------------------------------------------------------------------

_SQL_CLUSTER_QUALITY = """
    WITH RECURSIVE {closure},
    qf AS (
        SELECT doc_id,
               len({toks}) AS n_tok,
               list_aggregate(list_transform({toks}, x -> len(x)), 'sum') AS tok_chars,
               len(list_filter({toks}, x -> list_contains({stop}, x))) AS stop_hits
        FROM documents WHERE doc_id % 10 = 0
    ), q AS (
        SELECT doc_id,
               CASE WHEN n_tok > 0 THEN ROUND({quality}, 6) END AS quality
        FROM qf
    ), lab AS (
        SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component
        FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 0) d
        LEFT JOIN comp c ON d.doc_id = c.node
    )
    SELECT lab.doc_id, lab.component, q.quality,
           ROW_NUMBER() OVER (PARTITION BY lab.component
                ORDER BY q.quality DESC NULLS LAST, lab.doc_id ASC) = 1 AS keep
    FROM lab JOIN q ON lab.doc_id = q.doc_id
"""


def canonical_keep(
    labeled: DataFrame,
    id_col: str = "doc_id",
    component_col: str = "component",
    quality_col: str = "quality",
) -> DataFrame:
    """Flag the canonical member of each duplicate cluster: the row
    maximizing (quality DESC NULLS LAST, id ASC) — as ``keep``.

    GIANT-CLUSTER SAFE (r10 verdict item 3): the r10 form ran one
    ``row_number`` window per component, which at 100 TB makes a
    boilerplate cluster covering a corpus fraction into ONE task
    holding the whole cluster. The argmax does not need a window at
    all: ``max(struct(quality, -id))`` per component two-phases
    through Tungsten's PARTIAL aggregation — every map task reduces
    its slice of the giant component to one 16-byte struct before
    the exchange, so the final task receives ≤ #input-partitions
    partial maxima, never the component's rows. That is exactly the
    "hash-sub-bucketed two-phase max" the stratified-sample
    giant-group device hand-builds — for a commutative argmax,
    Catalyst already does it; no threshold routing or salting to
    maintain. The winner frame (|components| rows) joins back on the
    component key to produce the flag.

    Struct ordering gives the SQL window's exact semantics: a NULL
    field compares LOWEST, so NULL quality loses to any scored row
    (= NULLS LAST under DESC) and an all-NULL cluster falls through
    to the second field, where max(-id) = min id — the ASC id
    tie-break (pinned cross-engine by the c49 oracle and by the
    window-equality pytest on a one-giant-cluster corpus).

    Caching contract (the module posture): ``labeled`` feeds both
    the winner aggregate and the flag join, so it is persisted here
    or its upstream (components + quality for c49) would compute
    twice; bench.py and the driver clearCache between queries."""
    labeled = labeled.persist()
    win = (
        labeled.groupBy(component_col)
        .agg(
            F.max(
                F.struct(
                    F.col(quality_col).alias("q"),
                    (-F.col(id_col)).alias("neg_id"),
                )
            ).alias("_w")
        )
        .select(F.col(component_col).alias("_cc"), (-F.col("_w.neg_id")).alias("_keep_id"))
    )
    # null-safe flag join (r11 review finding): the SQL window this
    # aggregate replaces puts NULL components into ONE partition, and
    # groupBy groups NULLs the same way — but a plain inner equi-join
    # would silently drop those rows. <=> is still an equi-condition
    # to Catalyst, so the join stays a hash/SMJ, not a BNL. c49 never
    # produces NULL components; the helper is generic.
    return (
        labeled.join(win, F.col(component_col).eqNullSafe(F.col("_cc")))
        .withColumn("keep", F.col(id_col) == F.col("_keep_id"))
        .drop("_cc", "_keep_id")
    )


@register(
    "c49_cluster_quality_keep",
    None,  # oracle installed below (late import avoids a text_ops cycle)
    doc="""Quality-aware canonical selection per near-dup cluster
    (r10): the PRODUCTION keep rule — x03's min-id survivor is
    arbitrary, real curation keeps the HIGHEST-QUALITY member of each
    duplicate cluster (ties → min doc_id). Composes three gated
    subsystems: d02's exact-Jaccard pairs (1-in-10 slice, ≥0.8), ⊕D9
    alternating-star connected components, t03's rounded quality
    blend — survivor = argmax over (quality DESC NULLS LAST, doc_id
    ASC), computed by ``canonical_keep``'s partial-aggregated
    two-phase max (r11: replaced the r10 per-component window, whose
    one-giant-cluster pathology was documented-not-implemented; now
    no task ever holds a whole cluster, pinned by the giant-cluster
    pytest). Oracle splices the x03 recursive-closure CTEs (imported,
    not copied) with t03's quality fragments — its ROW_NUMBER window
    form is the semantic spec the aggregate must reproduce. Full
    frame hashed: (doc_id, component, quality, keep) for every slice
    doc — a wrong component OR a wrong survivor breaks the hash.""",
)
def c49_cluster_quality_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import tokens as _tokens
    from ..operators.dedup import jaccard_similarity_pairs
    from ..operators.graph import connected_components
    from .text_ops import _quality_expr, _stop_array

    docs = read_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
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
        F.when(
            F.col("n_tok") > 0,
            F.round(
                _quality_expr(F.col("n_tok"), F.col("tok_chars"), F.col("stop_hits")), 6
            ),
        ).alias("quality"),
    )
    j = labels.join(q, "doc_id")
    return canonical_keep(j).select("doc_id", "component", "quality", "keep")


def _install_c49_oracle() -> None:
    """Build c49's oracle by splicing the shared closure CTEs with
    t03's quality fragments (late import: text_ops imports nothing
    from this module, but module-load order is driven by
    plans.load_all, so the splice runs after both are loaded)."""
    from dataclasses import replace

    from .registry import _REGISTRY
    from .text_ops import _SQL_QUALITY, _SQL_STOP, _SQL_TOKS

    sql = _SQL_CLUSTER_QUALITY.format(
        closure=_SQL_CLOSURE_CTES,
        toks=_SQL_TOKS,
        stop=_SQL_STOP,
        quality=_SQL_QUALITY,
    )
    _REGISTRY["c49_cluster_quality_keep"] = replace(
        _REGISTRY["c49_cluster_quality_keep"], oracle=sql
    )


_install_c49_oracle()
