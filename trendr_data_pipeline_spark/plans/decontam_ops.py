"""c43 — benchmark decontamination at RUN grain (r9 verdict item 4).

⊕D7's flag answers "does this doc share any 8-gram with the eval
set"; the c39/c41 ExactSubstr machinery upgrades that bit to SPANS:
which token intervals are contaminated, and how long — extent and
position. The gate is self-contained: the benchmark is the TEST
split's own documents (split via c34's hash CASE), the screened
corpus is train/val, so no external fixture is needed and the oracle
composes from the stage gates' own SQL fragments (c39's gram/island
CTEs with the duplicated-gram set replaced by the test split's gram
set, c34's split CASE imported from its single SQL home).

A doc quoting a whole eval answer reports ONE long run (the severity
the binary flag understates — pytest-pinned with exactly that case);
an incidental 8-token collision reports run_toks = 8. The run frame
feeds ``remove_contaminated_runs`` (the rewrite path via the shared
``_rebuild_without``).

Scale shape (the c39 posture, corpus side never self-joins): one
positional-gram Arrow pass over train/val, the test split's DISTINCT
gram set on the semi join's build side (broadcast when it fits, a
gram-keyed shuffle when not), bounded ≤8-row explode per matched
window, per-DOC gaps-and-islands window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..io import read_table
from .dedup_ops import _SQL_TOKS_DEDUP
from .registry import register
from .text_ops import SQL_SPLIT_CASE

_C43_N = 8

_SQL_CONTAM_RUNS = f"""
    WITH base AS (
        SELECT doc_id, {_SQL_TOKS_DEDUP} AS toks,
               {SQL_SPLIT_CASE} AS split
        FROM documents
    ), g AS (
        SELECT doc_id, split, CAST(i AS BIGINT) AS pos,
               array_to_string(toks[i:i+{_C43_N - 1}], ' ') AS gram
        FROM base
        CROSS JOIN UNNEST(range(1, greatest(len(toks) - {_C43_N - 2}, 1))) AS r(i)
        WHERE len(toks) >= {_C43_N}
    ), bg AS (
        SELECT DISTINCT gram FROM g WHERE split = 'test'
    ), cov AS (
        SELECT DISTINCT g.doc_id, g.pos + j AS tokpos
        FROM g SEMI JOIN bg USING (gram)
        CROSS JOIN UNNEST(range({_C43_N})) AS rr(j)
        WHERE g.split <> 'test'
    ), isl AS (
        SELECT doc_id, tokpos,
               tokpos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tokpos) AS grp
        FROM cov
    )
    SELECT doc_id, MIN(tokpos) AS start_pos, MAX(tokpos) AS end_pos,
           CAST(COUNT(*) AS BIGINT) AS run_toks
    FROM isl GROUP BY doc_id, grp
"""


@register(
    "c43_contaminated_runs",
    _SQL_CONTAM_RUNS,
    doc="""Benchmark decontamination at RUN grain (⊕D7 upgraded via
    the c39 machinery, r10 — verdict item 4): per train/val document,
    the maximal token runs covered by an 8-gram occurring in the TEST
    split (the self-contained benchmark) —
    (doc_id, start_pos, end_pos, run_toks), 1-based inclusive. The
    c39 window≡substring union argument transfers with the
    duplicated-gram set replaced by the benchmark's gram set. Grams
    travel as 64-bit hashes Spark-side vs string grams in the oracle
    (the d05/D7 collision posture, ~2⁻⁶⁴/pair). Feeds the
    remove_contaminated_runs rewrite.""",
)
def c43_contaminated_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from ..operators.dedup import contaminated_runs
    from ..operators.sampling import split_assign

    docs = split_assign(
        read_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    return contaminated_runs(
        docs.filter(F.col("split") != "test"),
        docs.filter(F.col("split") == "test"),
        n=_C43_N,
    )


# ---------------------------------------------------------------------------
# c46 — ⊕D22 doc-level fuzzy decontamination (r10)
# ---------------------------------------------------------------------------

_C46_N = 3
_C46_THR = 0.5

_SQL_FUZZY_DECONTAM = f"""
    WITH base AS (
        SELECT doc_id, {_SQL_TOKS_DEDUP} AS toks,
               {SQL_SPLIT_CASE} AS split
        FROM documents
    ), g AS (
        SELECT doc_id, split,
               list_distinct(list_transform(
                   range(1, len(toks) - {_C46_N - 2}),
                   i -> array_to_string(toks[i:i+{_C46_N - 1}], ' '))) AS gs
        FROM base WHERE len(toks) >= {_C46_N}
    ), pairs AS (
        SELECT a.doc_id AS doc_id, b.doc_id AS match_id,
               ROUND(len(list_intersect(a.gs, b.gs)) * 1.0
                     / (len(a.gs) + len(b.gs)
                        - len(list_intersect(a.gs, b.gs))), 6) AS jaccard
        FROM g a JOIN g b ON b.split = 'test'
        WHERE a.split <> 'test'
    ), best AS (
        SELECT doc_id, match_id, jaccard FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                          ORDER BY jaccard DESC, match_id ASC) AS rk
            FROM pairs WHERE jaccard >= {_C46_THR}
        ) WHERE rk = 1
    )
    SELECT c.doc_id, best.match_id, best.jaccard
    FROM (SELECT doc_id FROM base WHERE split <> 'test') c
    LEFT JOIN best USING (doc_id)
"""


@register(
    "c46_fuzzy_decontam",
    _SQL_FUZZY_DECONTAM,
    doc="""Doc-level FUZZY decontamination (⊕D22, r10): every train/val
    document screened against the TEST split (c43's
    self-contained benchmark device) by word 3-gram shingle-SET
    Jaccard — the GPT-3-appendix screen that catches paraphrased or
    partially-edited eval material the exact-gram family (⊕D7 flag,
    c43 runs) misses once one token inside each window changes. The
    gate hashes the FULL corpus frame: (doc_id, match_id, jaccard)
    with the best benchmark match (max Jaccard, then min match_id —
    the d02 tie rule) for flagged docs and NULLs for clean ones, so
    both a false flag and a missed flag break the hash. Spark side is
    jaccard_topk_join's count-based inverted index (corpus never
    self-joins; the benchmark's exploded gram stream is broadcast-
    sized by nature); shingles travel as 64-bit order-sensitive
    hashes vs string grams in the oracle (the d05 collision posture,
    ~2⁻⁶⁴/pair). Oracle is brute-force corpus×benchmark — tractable
    where the oracle runs, never what the Spark plan does.""",
)
def c46_fuzzy_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from ..operators.dedup import fuzzy_decontaminate
    from ..operators.sampling import split_assign

    docs = split_assign(
        read_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    corpus = docs.filter(F.col("split") != "test")
    flagged = fuzzy_decontaminate(
        corpus,
        docs.filter(F.col("split") == "test"),
        threshold=_C46_THR,
        n=_C46_N,
    )
    return corpus.select("doc_id").join(flagged, "doc_id", "left").select(
        "doc_id", "match_id", "jaccard"
    )


# ---------------------------------------------------------------------------
# c50 — ⊕D24 benchmark-side contamination report (r10)
# ---------------------------------------------------------------------------

_SQL_BENCH_CONTAM = f"""
    WITH base AS (
        SELECT doc_id, {_SQL_TOKS_DEDUP} AS toks,
               {SQL_SPLIT_CASE} AS split
        FROM documents
    ), g AS (
        SELECT doc_id, split, CAST(i AS BIGINT) AS pos,
               array_to_string(toks[i:i+{_C43_N - 1}], ' ') AS gram
        FROM base
        CROSS JOIN UNNEST(range(1, greatest(len(toks) - {_C43_N - 2}, 1))) AS r(i)
        WHERE len(toks) >= {_C43_N}
    ), cgset AS (
        SELECT DISTINCT gram FROM g WHERE split <> 'test'
    ), cov AS (
        SELECT DISTINCT g.doc_id, g.pos + j AS tokpos
        FROM g SEMI JOIN cgset USING (gram)
        CROSS JOIN UNNEST(range({_C43_N})) AS rr(j)
        WHERE g.split = 'test'
    ), covct AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS covered_toks
        FROM cov GROUP BY doc_id
    ), hit AS (
        SELECT DISTINCT e.doc_id, c.doc_id AS hid
        FROM (SELECT DISTINCT doc_id, gram FROM g WHERE split = 'test') e
        JOIN (SELECT DISTINCT doc_id, gram FROM g WHERE split <> 'test') c
          USING (gram)
    ), hct AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hit_docs
        FROM hit GROUP BY doc_id
    )
    SELECT b.doc_id,
           COALESCE(hct.n_hit_docs, 0) AS n_hit_docs,
           COALESCE(covct.covered_toks, 0) AS covered_toks
    FROM (SELECT doc_id FROM base WHERE split = 'test') b
    LEFT JOIN hct USING (doc_id)
    LEFT JOIN covct USING (doc_id)
"""


@register(
    "c50_benchmark_contamination",
    _SQL_BENCH_CONTAM,
    doc="""Benchmark-side contamination report (⊕D24, r10 — the
    inverse view of c43): per TEST-split document, how many train/val
    documents share an 8-gram with it and how many of the EVAL doc's
    OWN token positions are covered — the benchmark-integrity table
    of an eval card ("which items are burned"), where c43 reports
    which training docs are dirty. Clean items appear with zeros (a
    clean benchmark is the finding). Spark side swaps the roles of
    the c43 machinery (positional grams on the tiny benchmark side,
    the corpus's gram set on the keyed semi join's big side — AQE
    picks the shuffle); the hit count joins the two distinct
    (doc, gram) frames on gram, bounded by actual contamination
    volume. Grams travel as 64-bit hashes vs oracle strings (the d05
    posture).""",
)
def c50_benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from ..operators.dedup import benchmark_contamination_report
    from ..operators.sampling import split_assign

    docs = split_assign(
        read_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    return benchmark_contamination_report(
        docs.filter(F.col("split") != "test"),
        docs.filter(F.col("split") == "test"),
        n=_C43_N,
    )
