"""Repetition-based document quality metrics (Gopher-style filters).

The Gopher / MassiveText cleaning rules (Rae et al. 2021, "Scaling
Language Models", App. A1.1 — public) flag documents dominated by
repeated content: the fraction of duplicate lines, the fraction of
characters inside duplicate lines, and the fraction of characters
covered by the single most frequent word n-gram. These are the
standard pre-training repetition filters alongside the length /
stopword heuristics in ``plans/text_ops.t03``.

Spark shape: every metric here is **document-local**, so the whole
module is shuffle-free — no explode, no groupBy. The "most frequent
item" problem is solved with ``array_sort`` + a single
``F.aggregate`` run-length fold over the sorted array (O(n log n)
per row, all inside whole-stage codegen), instead of the textbook
explode → groupBy(doc, gram) → max_by plan, which would shuffle the
full token stream of a 100 TB corpus twice. The DuckDB oracle twin
in ``plans/text_ops`` uses the explode form — different plan, same
result, which is exactly what the hash gate checks.

Tie semantics are deterministic on both engines: among grams with
the maximal count, the lexicographically smallest wins (the fold
sees the sorted array and only replaces the champion on a strictly
greater run; the SQL twin ranks by ``cnt DESC, gram ASC``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import tokens

__all__ = [
    "top_run",
    "word_bigrams",
    "bigram_char_coverage",
    "lines_of",
    "dedup_lines",
    "repetition_metrics",
    "token_entropy",
]


def top_run(arr: Column) -> Column:
    """Most frequent element of an array, as ``struct(cnt, val)``.

    Sorts the array, then folds a run-length accumulator over it:
    ``(prev, run, best, bestv)``. A run only displaces the champion
    when strictly longer, so the first (= lexicographically
    smallest, post-sort) maximal element wins ties. Empty arrays
    yield ``(0, '')``.
    """
    zero = F.struct(
        F.lit("").alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0).alias("best"),
        F.lit("").alias("bestv"),
    )

    def step(acc: Column, x: Column) -> Column:
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        better = run > acc["best"]
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.when(better, run).otherwise(acc["best"]).alias("best"),
            F.when(better, x).otherwise(acc["bestv"]).alias("bestv"),
        )

    return F.aggregate(
        F.array_sort(arr),
        zero,
        step,
        lambda acc: F.struct(acc["best"].alias("cnt"), acc["bestv"].alias("val")),
    )


def word_bigrams(toks: Column) -> Column:
    """Adjacent word pairs joined with a single space; ``[]`` when the
    document has fewer than two tokens.

    Built as ``zip_with(toks[:-1], toks[1:], concat)`` — NOT as
    ``transform(sequence(...), i -> element_at(toks, i) ...)``. In the
    element_at form the whole ``toks`` expression tree (split+filter
    of the document) is embedded in the per-element lambda body and
    re-evaluated for EVERY gram, turning an O(n) projection into
    O(n²) per document (measured 10.7 s vs 0.5 s over the sf0.1
    corpus). ``slice`` takes ``toks`` as a direct argument, so it is
    evaluated once per row regardless of projection collapsing."""
    n = F.size(toks)
    return F.when(
        n >= 2,
        F.zip_with(
            F.slice(toks, 1, n - 1),
            F.slice(toks, 2, n - 1),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ),
    ).otherwise(F.array().cast("array<string>"))


def bigram_char_coverage(tb: Column, tok_chars: Column) -> Column:
    """Characters covered by a ``top_run`` bigram champion over total
    token chars: count × (champion length − 1 — the −1 cancels the
    joining space, leaving its two tokens' chars), overlap-blind as
    in Gopher. NULL when there is no bigram or no token chars. The
    single home of this formula — t03, t05 and
    :func:`repetition_metrics` all route through it."""
    return F.when(
        (tb["cnt"] > 0) & (tok_chars > 0),
        tb["cnt"] * (F.length(tb["val"]) - 1) * 1.0 / tok_chars,
    )


def lines_of(text: Column) -> Column:
    """Non-empty lines of a document (newline split, blanks dropped —
    blank separator lines would otherwise count each other as
    duplicates and swamp the signal)."""
    return F.filter(F.split(text, r"\n"), lambda s: F.length(F.trim(s)) > 0)


def dedup_lines(text: Column) -> Column:
    """Intra-document line dedup (the C4 rule, applied at line grain):
    keep the FIRST occurrence of each non-empty line, preserving
    order — ``array_distinct`` is documented order-preserving on
    first occurrence. Row-local, zero shuffle; blank lines collapse
    (they are separators, not content)."""
    return F.concat_ws("\n", F.array_distinct(lines_of(text)))


def _chars_of(arr: Column) -> Column:
    return F.aggregate(F.transform(arr, F.length), F.lit(0), lambda a, x: a + x)


def repetition_metrics(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document Gopher repetition metrics, shuffle-free.

    Adds to ``docs``:

    - ``dup_line_frac``: 1 − distinct/total over non-empty lines
      (NULL when the document has no non-empty line).
    - ``dup_line_char_frac``: fraction of line characters belonging
      to repeat occurrences of a line (each distinct line's chars
      counted once as "original").
    - ``rep_top_token_frac``: occurrences of the most frequent token
      over total tokens (NULL when token-less).
    - ``rep_top_bigram_frac``: characters covered by the most
      frequent word bigram (count × its token chars, overlap-blind
      as in Gopher) over total token chars (NULL when < 2 tokens).
    - ``top_bigram_cnt``: that bigram's occurrence count (0 when
      < 2 tokens).

    The Gopher paper drops documents with dup_line_frac > 0.30,
    dup_line_char_frac > 0.20, or top-2-gram char fraction > 0.20;
    thresholding is left to the caller's decision ladder.
    """
    text = F.col(text_col)
    toks = tokens(F.lower(text))
    lines = lines_of(text)

    d = docs.withColumn("_toks", toks).withColumn("_lines", lines)
    n_tok = F.size("_toks")
    tok_chars = _chars_of(F.col("_toks"))
    n_lines = F.size("_lines")
    line_chars = _chars_of(F.col("_lines"))
    distinct_lines = F.array_distinct(F.col("_lines"))
    top_tok = top_run(F.col("_toks"))
    top_big = top_run(word_bigrams(F.col("_toks")))

    return (
        d.withColumn(
            "dup_line_frac",
            F.when(n_lines > 0, F.round(1.0 - F.size(distinct_lines) / n_lines, 6)),
        )
        .withColumn(
            "dup_line_char_frac",
            F.when(
                line_chars > 0,
                F.round(1.0 - _chars_of(distinct_lines) / line_chars, 6),
            ),
        )
        .withColumn("_tt", top_tok)
        .withColumn("_tb", top_big)
        .withColumn(
            "rep_top_token_frac",
            F.when(n_tok > 0, F.round(F.col("_tt.cnt") / n_tok, 6)),
        )
        .withColumn("top_bigram_cnt", F.col("_tb.cnt"))
        .withColumn(
            "rep_top_bigram_frac",
            F.round(bigram_char_coverage(F.col("_tb"), tok_chars), 6),
        )
        .drop("_toks", "_lines", "_tt", "_tb")
    )


def token_entropy(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """⊕T22 — per-document unigram token entropy in nats:
    H = −Σ (c/n)·ln(c/n) over the doc's own token distribution. The
    diversity twin of the repetition filters: near-zero H flags
    one-token spam that slips length screens, low H flags template
    boilerplate, and it is EXACTLY SQL-expressible, so it carries a
    DuckDB hash oracle.

    Spark shape: document-local and SHUFFLE-FREE, like every metric
    in this module — run lengths of the sorted token array via one
    higher-order pass (boundaries = positions where the token
    changes; counts = adjacent-boundary diffs), entropy terms folded
    in the same projection. Each intermediate array is BOUND to a
    column before any lambda references it (the
    unbound-expression-in-lambda trap: an element_at(ts, i) whose
    ``ts`` is an unbound expression re-evaluates the whole
    tokenize+sort per element — the module docstring's O(n²)
    measured failure mode). The oracle uses the textbook
    explode → groupBy form; different plan, same result — exactly
    what the hash gate checks. Engine-parity devices: each term
    rounded to 9 dp (libm ln differs in the last ulp), DECIMAL(28,6)
    accumulation with a per-step re-cast (Spark widens decimal
    addition to (29,6), which would break the fold's accumulator
    type), final round to 6 dp (the x08/c30 posture)."""
    from ..functions.text import tokens as ws_tokens

    bound = docs.select(
        F.col(id_col),
        F.array_sort(ws_tokens(F.lower(F.col(text_col)))).alias("_ts"),
    ).filter(F.size("_ts") > 0)
    ts, n = F.col("_ts"), F.size("_ts")
    bound = bound.withColumn(
        "_bounds",
        F.concat(
            F.filter(
                F.sequence(F.lit(1), n),
                lambda i: (i == 1) | (F.element_at(ts, i) != F.element_at(ts, i - 1)),
            ),
            F.array(n + 1),
        ),
    )
    b = F.col("_bounds")
    counts = F.zip_with(
        F.slice(b, 1, F.size(b) - 1),
        F.slice(b, 2, F.size(b) - 1),
        lambda lo, hi: hi - lo,
    )
    bound = bound.withColumn("_counts", counts)
    dec = "decimal(28,6)"
    term = lambda c: F.round(-(c / n) * F.log(c / n), 9)  # noqa: E731
    entropy = F.round(
        F.aggregate(
            F.col("_counts"),
            F.lit(0).cast(dec),
            lambda acc, c: (acc + term(c).cast(dec)).cast(dec),
        ).cast("double"),
        6,
    )
    return bound.select(
        id_col,
        n.cast("long").alias("n_tok"),
        entropy.alias("entropy"),
    )


def grouped_quantile_rank(
    df: DataFrame,
    value_col: str,
    group_col: str,
    n_q: int = 10,
    bucket=None,
) -> DataFrame:
    """⊕T24 (r10) — per-GROUP quantile rank of a score column: each
    row's bucket b ∈ [0, n_q) is ``floor(n_q · below / n)`` where
    ``below`` counts the group's rows with STRICTLY smaller value and
    ``n`` is the group size (ties share a bucket; top clamped to
    n_q−1). This is the cross-source score CALIBRATION primitive:
    quality classifiers score different sources on different scales,
    so curation practice thresholds each source's own distribution
    (keep the top decile PER SOURCE) rather than one global cut that
    would empty the low-scoring sources. ``q_bucket >= n_q·(1−f)``
    selects the top fraction f of every group.

    Scale shape — the A7/score_percentiles device, per group: a
    GLOBAL per-group rank window would sort each group in one task
    (a corpus-fraction window at 100 TB), so the cumulative count is
    two-phase instead: collapse to the (group, value) distribution
    (map-side combinable), window WITHIN (group, value-bucket) —
    ``bucket`` defaults to ``floor(value)``, bounding each frame to
    one integer score point of one group — then a per-group running
    sum over the ≤|score range| bucket-total rows, and one join back
    on (group, value). Group sizes ride a broadcast-able
    catalog-grain frame. No corpus-fraction window anywhere.

    Returns ``df`` plus a ``q_bucket`` int column; rows with NULL
    value are dropped (a NULL score has no rank — filter or impute
    upstream).
    """
    from pyspark.sql.window import Window

    if n_q < 2:
        raise ValueError("n_q must be >= 2")
    bucket_fn = bucket or (lambda c: F.floor(c))
    v, g = F.col(value_col), F.col(group_col)
    base = df.filter(v.isNotNull())
    dist = base.groupBy(group_col, value_col).agg(F.count(F.lit(1)).alias("_cnt"))
    dist = dist.withColumn("_vb", bucket_fn(v))
    w_in = (
        Window.partitionBy(group_col, "_vb")
        .orderBy(value_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    dist = dist.withColumn("_win", F.coalesce(F.sum("_cnt").over(w_in), F.lit(0)))
    btot = dist.groupBy(group_col, "_vb").agg(F.sum("_cnt").alias("_bcnt"))
    w_b = (
        Window.partitionBy(group_col)
        .orderBy("_vb")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    btot = btot.withColumn("_boff", F.coalesce(F.sum("_bcnt").over(w_b), F.lit(0)))
    dist = dist.join(btot.select(group_col, "_vb", "_boff"), [group_col, "_vb"])
    sizes = base.groupBy(group_col).agg(F.count(F.lit(1)).alias("_n"))
    ranks = dist.join(sizes, group_col).select(
        g,
        v,
        F.least(
            F.lit(n_q - 1),
            F.floor(F.lit(n_q) * (F.col("_win") + F.col("_boff")) / F.col("_n")),
        )
        .cast("int")
        .alias("q_bucket"),
    )
    return base.join(ranks, [group_col, value_col])
