"""Deterministic sampling / data-mixture operators (north-star
LLM-pipeline ops: corpus weighting before training).

Training-data pipelines assemble corpora as WEIGHTED mixtures of
sources (public practice: the per-dataset sampling weights in the
GPT-3 / Llama dataset tables): some sources are downsampled, high
quality ones repeated. The primitive here is a deterministic,
engine-portable keep/repeat decision per row:

- no RNG: the decision is a pure function of (salt, key), so reruns,
  retries and both engines of the driver gate agree row-for-row —
  ``rand()`` would break retry-determinism and be un-oracle-able;
- md5-based: both Spark and DuckDB evaluate the same md5, so the gate
  hash-checks the exact mixture decision;
- scale shape: one codegen'd projection, no shuffle; upsampling
  explodes to ``n_copies`` rows JVM-side.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def hash_fraction(key: Column, salt: str = "mix") -> Column:
    """Uniform-ish fraction in [0, 1) derived from md5(salt || key) —
    the first 8 hex chars as a uint32 over 2^32. Deterministic and
    identical in DuckDB:
    ``('0x' || substr(md5('<salt>' || CAST(k AS VARCHAR)), 1, 8))::BIGINT
    / 4294967296.0``."""
    h = F.substring(F.md5(F.concat(F.lit(salt), key.cast("string"))), 1, 8)
    return F.conv(h, 16, 10).cast("double") / F.lit(4294967296.0)


def mix_n_copies(key: Column, weight: Column, salt: str = "mix") -> Column:
    """How many times this row appears in the mixed corpus for a
    sampling ``weight`` w ≥ 0: ``floor(w)`` guaranteed copies plus one
    more with probability ``frac(w)`` (hash-deterministic). w = 0
    drops, w < 1 downsamples, w > 1 upsamples with the exact expected
    multiplicity E[n] = w.

    A NULL key gets exactly ``floor(w)`` copies (the fractional extra
    is defined 0): this matches the DuckDB twin, where ``NULL || x``
    propagates NULL through the hash and ``CASE WHEN NULL`` takes the
    ELSE branch — without the coalesce, Spark would return NULL
    n_copies and silently drop the row where the twin keeps it."""
    w = weight.cast("double")
    extra = F.coalesce(
        (hash_fraction(key, salt) < (w - F.floor(w))).cast("long"), F.lit(0)
    )
    return (F.floor(w).cast("long") + extra).alias("n_copies")


def apply_mix(
    df: DataFrame,
    weight: Column,
    key_col: str,
    salt: str = "mix",
) -> DataFrame:
    """Materialize the mixture: each row repeated ``mix_n_copies``
    times (0 → dropped). The repeat is a JVM-side
    ``explode(sequence)`` — no Python, no shuffle; downstream shuffles
    see the already-weighted stream."""
    n = mix_n_copies(F.col(key_col), weight, salt)
    return (
        df.withColumn("_n", n)
        .filter(F.col("_n") > 0)
        .withColumn("_i", F.explode(F.sequence(F.lit(1), F.col("_n"))))
        .drop("_n", "_i")
    )


def temperature_rates(
    docs: DataFrame,
    source_col: str = "source",
    alpha_sqrt: bool = True,
    target_frac: float = 0.5,
) -> DataFrame:
    """The |sources|-row keep-rate frame behind :func:`temperature_mix`
    (split out so the corpus pipeline can apply the SAME rates as a
    row-level filter): (source, n_docs, rate)."""
    from pyspark.sql import functions as F  # noqa: F811

    from ..plans._numeric import DEC

    counts = docs.groupBy(source_col).agg(F.count("*").alias("n_docs"))
    w = F.sqrt(F.col("n_docs").cast("double")) if alpha_sqrt else F.col("n_docs").cast("double")
    counts = counts.withColumn("w_dec", w.cast(DEC))
    tot = counts.agg(
        F.sum("w_dec").alias("denom_dec"), F.sum("n_docs").alias("total_docs")
    )
    return counts.crossJoin(F.broadcast(tot)).select(
        F.col(source_col),
        F.col("n_docs"),
        F.least(
            F.lit(1.0),
            (F.col("w_dec").cast("double") / F.col("denom_dec").cast("double"))
            * (F.col("total_docs").cast("double") * F.lit(float(target_frac)))
            / F.col("n_docs").cast("double"),
        ).alias("rate"),
    )


def apply_temperature_mix(
    docs: DataFrame,
    source_col: str = "source",
    key_col: str = "doc_id",
    alpha_sqrt: bool = True,
    target_frac: float = 0.5,
    salt: str = "tmix",
) -> DataFrame:
    """Row-level form: the input rows that survive the temperature
    mix, original schema preserved. Facts never shuffle — the rate
    frame broadcasts onto them and the keep decision is the
    deterministic md5 hash fraction."""
    from pyspark.sql import functions as F  # noqa: F811

    rates = temperature_rates(docs, source_col, alpha_sqrt, target_frac)
    return (
        docs.join(
            F.broadcast(rates.select(source_col, "rate")), source_col
        )
        .filter(hash_fraction(F.col(key_col), salt) < F.col("rate"))
        .drop("rate")
    )


def temperature_mix(
    docs: DataFrame,
    source_col: str = "source",
    key_col: str = "doc_id",
    alpha_sqrt: bool = True,
    target_frac: float = 0.5,
    salt: str = "tmix",
) -> DataFrame:
    """Temperature-scaled source mixing (the multilingual-sampling
    practice from the T5/mT5 papers: sample source s with probability
    ∝ n_s^α, α < 1 flattens the source distribution so small sources
    are not drowned out). With α = 1/2 the weight is ``sqrt(n_s)`` —
    chosen deliberately: IEEE-754 ``sqrt`` is exactly rounded, so
    both engines of the driver gate compute bit-identical weights
    (a general ``pow`` goes through libm and is NOT exactly rounded).

    Per-source keep rate for a target corpus of ``target_frac · N``
    docs: ``rate_s = min(1, p_s · target_frac · N / n_s)`` with
    ``p_s = w_s / Σw``. The denominator is accumulated in exact
    DECIMAL (order-free; see plans/_numeric.py) and cast to double
    once, so the rate every row is filtered on is bit-stable across
    partitionings and engines. The keep decision itself is the
    deterministic md5 ``hash_fraction`` — no RNG.

    Scale shape: one groupBy over the facts for the per-source
    counts (map-side combined), a broadcast of the tiny rate frame
    back onto the facts (no fact shuffle), then the output grain's
    aggregation. The rate frame is |sources| rows — always
    broadcastable.
    """
    from pyspark.sql import functions as F  # noqa: F811

    rates = temperature_rates(docs, source_col, alpha_sqrt, target_frac)
    return (
        docs.join(F.broadcast(rates), source_col)
        .filter(hash_fraction(F.col(key_col), salt) < F.col("rate"))
        .groupBy(source_col, "n_docs", "rate")
        .agg(
            F.count("*").alias("n_kept"),
            F.sum("n_chars").alias("chars_kept"),
        )
        .select(
            source_col,
            "n_docs",
            F.round(F.col("rate"), 6).alias("rate_q"),
            "n_kept",
            "chars_kept",
        )
    )


def dsir_log_weights(
    docs: DataFrame,
    target: Column,
    dim: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
    salt: str = "ir",
) -> DataFrame:
    """DSIR importance log-weights (north-star op: Xie et al. 2023,
    "Data Selection for Language Models via Importance Resampling",
    public): score every document by how target-like its hashed
    token distribution is —

        log w(doc) = Σ_tok  ln( p_target(b(tok)) / p_raw(b(tok)) )

    with ``b`` the md5 feature-hash bucket (the x20/vectorize device,
    its own ``salt`` so the feature space is independent of the
    vectorizer's) and add-one smoothing over the ``dim`` buckets, so
    every bucket has mass in both models. ``target`` is a boolean
    Column over ``docs`` marking the in-domain rows (e.g.
    ``F.col("lang") == "en"``); downstream, ``exp(log_w)`` is the
    resampling weight.

    Determinism/oracle shape: the per-token addend ``ln(ratio)`` is
    ROUNDed to 9 decimals and accumulated in DECIMAL(28,6) (the x08
    posture), so both engines see bit-identical sums; buckets come
    from md5, identical in DuckDB.

    Scale shape: two passes over the token stream — (1) bucket
    counts for raw and target, each ONE map-side-combined groupBy
    collapsing to ≤ dim rows; (2) the scoring pass joins the dim-row
    (broadcast) log-ratio table and folds per document with ONE
    (doc) keyed agg. No Python, no global sort; the model table is
    O(dim), never O(vocab).
    """
    spark = docs.sparkSession
    from ..functions.text import tokens
    from .vectorize import _bucket

    toks = docs.select(
        F.col(id_col),
        target.alias("_is_target"),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("tok"),
    ).withColumn("bucket", _bucket(F.col("tok"), dim, salt=salt))

    # ≤ dim rows, materialized eagerly: the totals agg and the model
    # join below both read it — without this the whole bucket-count
    # corpus pass re-executes per reader (plan-audited: 3 corpus
    # scans → 2)
    from ..plan_debug import note_subtree

    counts = note_subtree(
        "dsir.bucket_counts",
        toks.groupBy("bucket").agg(
            F.count(F.lit(1)).alias("craw"),
            F.sum(F.when(F.col("_is_target"), 1).otherwise(0)).alias("ctgt"),
        ),
    ).localCheckpoint(eager=True)
    # full bucket domain (smoothing needs zero-count buckets too)
    domain = spark.range(dim).select(F.col("id").alias("bucket"))
    model = (
        domain.join(counts, "bucket", "left")
        .select(
            "bucket",
            F.coalesce(F.col("craw"), F.lit(0)).alias("craw"),
            F.coalesce(F.col("ctgt"), F.lit(0)).alias("ctgt"),
        )
        .crossJoin(
            # totals fold from the dim-row counts table — NOT a third
            # pass over the token stream
            F.broadcast(
                counts.agg(
                    F.sum("craw").alias("nraw"), F.sum("ctgt").alias("ntgt")
                )
            )
        )
        .select(
            "bucket",
            F.round(
                F.log(
                    ((F.col("ctgt") + 1) * 1.0 / (F.col("ntgt") + dim))
                    / ((F.col("craw") + 1) * 1.0 / (F.col("nraw") + dim))
                ),
                9,
            ).alias("lr"),
        )
    )
    return (
        toks.join(F.broadcast(model), "bucket")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tok"),
            F.sum(F.col("lr").cast("decimal(28,6)")).cast("double").alias("log_w"),
        )
        .select(id_col, "n_tok", F.round("log_w", 6).alias("log_w"))
    )


def hash_order(key: Column, salt: str = "strat") -> Column:
    """Deterministic pseudo-random ORDER key: the first 8 hex chars
    of md5(salt || key) as a bigint. The integer form (no /2^32
    division) is the safest cross-engine ordering device — identical
    in DuckDB as ``('0x' || substr(md5('<salt>' || CAST(k AS
    VARCHAR)), 1, 8))::BIGINT``."""
    h = F.substring(F.md5(F.concat(F.lit(salt), key.cast("string"))), 1, 8)
    return F.conv(h, 16, 10).cast("bigint")


def split_assign(
    df: DataFrame,
    weights: dict[str, float] | None = None,
    key_col: str = "doc_id",
    salt: str = "split",
    out_col: str = "split",
) -> DataFrame:
    """Deterministic train/val/test split assignment — the step every
    training pipeline runs before anything else, done as a pure
    function of (salt, key) so the assignment is STABLE under reruns,
    retries, engine changes and corpus growth (a doc keeps its split
    forever; new docs distribute at the weights). ``weights`` maps
    split name → fraction in insertion order (must sum to 1 within
    1e-9); default 80/10/10.

    Scale shape: one codegen'd projection over the input — no
    shuffle, no RNG, no driver state. NULL keys take the LAST split
    on both engines (Spark: NULL comparisons make every WHEN branch
    false; DuckDB: CASE WHEN NULL falls to ELSE) — document-grain
    pipelines should treat NULL ids upstream.
    """
    weights = weights or {"train": 0.8, "val": 0.1, "test": 0.1}
    if abs(sum(weights.values()) - 1.0) > 1e-9:
        raise ValueError(f"split weights must sum to 1, got {sum(weights.values())}")
    if len(weights) < 2:
        raise ValueError("need at least two splits")
    frac = hash_fraction(F.col(key_col), salt)
    names = list(weights)
    expr = None
    acc = 0.0
    for name in names[:-1]:
        acc += weights[name]
        cond = frac < F.lit(acc)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    return df.withColumn(out_col, expr.otherwise(names[-1]))


def stratified_sample(
    df: DataFrame,
    group_col: str = "lang",
    k: int = 20,
    key_col: str = "doc_id",
    salt: str = "strat",
    oversample: int = 16,
) -> DataFrame:
    """Deterministic stratified sample: exactly min(k, |group|) rows
    per group, chosen by the md5 hash order of the key (uniform over
    the group, stable across reruns and engines — the evaluation-set
    / debugging-slice construction step). Ties (hash collisions)
    break on the key itself, so the selected SET is a pure function
    of (salt, group, keys). Rows with a NULL key are EXCLUDED
    outright (review finding): they cannot be hash-identified, so
    any tie-break among them would be task-order-dependent —
    violating the determinism contract this operator exists for.
    Sample-worthy rows need ids; give them some upstream. For the
    same reason, PRECONDITION: ``key_col`` is unique within each
    group — two rows sharing a key tie on (hash, key) exactly and
    row_number would pick arbitrarily between their payloads; run
    exact dedup (d01) first if the input cannot guarantee it.

    Scale shape (r8 hardening — the naive form is the A7 class of
    scale-killer): ``Window.partitionBy(group)`` sends each group's
    ENTIRE row set through one task, and the natural groups here are
    languages — billions of rows each at 100 TB. Instead, the k
    smallest hashes are pre-filtered by a per-group THRESHOLD derived
    from one cheap count agg: hash_order is uniform on [0, 2³²), so
    ``thr = 2³²·(oversample·k)/|group|`` admits ~oversample·k rows
    per group in a codegen'd filter (no shuffle), and the rank window
    runs over THAT — ≤ ~oversample·k rows per group, never |group|.
    Exactness is GUARDED, not assumed: a group whose admitted count
    falls short of min(k, |group|) (hash-tail bad luck at
    P ≲ e^{-0.56·oversample·k}, or NULL-key padding) is re-ranked by
    the plain window over only that group's rows — the selected set
    is provably the same k smallest (h, key) pairs either way, and
    the t15 oracle gate pins it cross-engine.

    Caching contract (r9 ADVICE): the ranked candidate frame is
    ``persist()``-ed and the RETURNED lazy DataFrame still references
    it, so the cache entry lives until ``spark.catalog.clearCache()``
    or session end (bench.py and the driver clear between queries).
    Long-lived sessions calling this repeatedly should clearCache —
    or ``.unpersist()`` the result's lineage — once the sample is
    materialized."""
    from pyspark.sql.window import Window

    df = df.filter(F.col(key_col).isNotNull())
    h = hash_order(F.col(key_col), salt)
    order = [F.col("_h").asc_nulls_last(), F.col(key_col).asc_nulls_last()]
    w = Window.partitionBy(group_col).orderBy(*order)

    def ranked(frame: DataFrame) -> DataFrame:
        return (
            frame.withColumn("rk", F.row_number().over(w).cast("long"))
            .filter(F.col("rk") <= k)
        )

    hashed = df.withColumn("_h", h)
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("_n"))
    full = F.lit(1 << 32).cast("long")
    thr = (
        F.when(F.col("_n") <= oversample * k, full)
        .otherwise(F.ceil(full * F.lit(float(oversample * k)) / F.col("_n")))
        .alias("_thr")
    )
    thrs = counts.select(F.col(group_col).alias("_g"), F.col("_n"), thr)
    cand = hashed.join(
        F.broadcast(thrs), F.col(group_col).eqNullSafe(F.col("_g"))
    ).filter(F.col("_h") < F.col("_thr"))
    keep_cols = [*df.columns, "rk"]
    # materialize once (review finding): the guard's collect and the
    # returned frame would otherwise each re-run the full
    # hash/candidate/rank job — the module's d02 persist-once posture
    got = ranked(cand).select(*keep_cols).persist()

    # exactness guard: any group admitted fewer than min(k, |group|)
    # rows re-ranks over its full row set (expected EMPTY — one tiny
    # driver fetch of group keys, never corpus rows)
    short = (
        got.groupBy(group_col)
        .agg(F.count(F.lit(1)).alias("_got"))
        .join(thrs, F.col(group_col).eqNullSafe(F.col("_g")), "right")
        .filter(
            F.coalesce(F.col("_got"), F.lit(0)) < F.least(F.lit(k), F.col("_n"))
        )
        .select(F.col("_g"))
    )
    bad = [r["_g"] for r in short.collect()]
    if not bad:
        return got
    # (hashed is deliberately NOT persisted: that would cache the
    # whole corpus for a path that is expected never to run; the redo
    # below recomputes the hash over the left-semi-pruned bad groups
    # only — one bounded extra scan, once)
    bad_df = F.broadcast(
        df.sparkSession.createDataFrame(
            [(g,) for g in bad], df.select(group_col).schema
        ).select(F.col(group_col).alias("_g"))
    )
    good = got.join(bad_df, F.col(group_col).eqNullSafe(F.col("_g")), "left_anti")
    redo = ranked(
        hashed.join(bad_df, F.col(group_col).eqNullSafe(F.col("_g")), "left_semi")
    ).select(*keep_cols)
    return good.unionByName(redo)


def shuffle_shards(
    df: DataFrame,
    n_shards: int = 1024,
    key_col: str = "doc_id",
    salt: str = "shuf",
) -> DataFrame:
    """Deterministic corpus shuffle into ``n_shards`` — the global
    pre-training shuffle, done the way big corpora actually do it:
    shard = uniform hash bucket of the key, position within the shard
    = an INDEPENDENTLY-salted hash order (decorrelated from the shard
    choice — reusing one hash would make within-shard order a
    function of the bucket residue). The (shard, pos) pair is a pure
    function of (salt, keys): reruns, engine changes and shard-level
    retries reproduce the identical permutation, and any shard prefix
    is an unbiased corpus sample.

    Scale shape: ONE exchange on the shard id; each per-shard rank
    window sorts ~|corpus|/n_shards rows, so the operator is bounded
    by CONSTRUCTION — pick ``n_shards`` ≥ corpus_rows/target_shard
    (there is no giant-group case to guard, unlike
    :func:`stratified_sample` whose groups come from the data).
    Rows with NULL keys are excluded (the stratified_sample
    determinism argument). PRECONDITION: keys unique corpus-wide."""
    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    from pyspark.sql.window import Window

    df = df.filter(F.col(key_col).isNotNull())
    shard = F.pmod(hash_order(F.col(key_col), salt), F.lit(n_shards)).alias("shard")
    w = Window.partitionBy("shard").orderBy(
        hash_order(F.col(key_col), salt + "pos").asc(), F.col(key_col).asc()
    )
    return (
        df.withColumn("shard", shard)
        .withColumn("pos", F.row_number().over(w).cast("long"))
    )


def write_training_shards(
    df: DataFrame,
    out_dir: str,
    n_shards: int = 1024,
    key_col: str = "doc_id",
    salt: str = "shuf",
    max_records_per_file: int = 1 << 20,
) -> None:
    """Materialize :func:`shuffle_shards`' permutation as the layout a
    training loader actually consumes: ``out_dir/shard=N/`` with rows
    stored IN POSITION ORDER (parquet preserves row order within a
    file, and the part files are pos-range-disjoint, so a loader that
    orders a shard's files by their pos ranges — NOT by filename,
    whose ``c999``/``c1000`` counters sort lexicographically — replays
    the permutation exactly; any prefix is an unbiased corpus sample,
    the ⊕D17 contract made physical).

    Scale shape: the (shard, pos) projection, then ONE exchange
    keyed on the shard id (``repartition(n_shards, shard)`` — every
    shard's rows land in one task; hash collisions may co-locate a
    few shards, which ``partitionBy`` then splits back into their
    own directories), an in-task (shard, pos) sort (bounded by
    construction: ~|corpus|/n_shards rows per shard), and a
    ``maxRecordsPerFile``-bounded write. No driver-side loops, no
    second shuffle: the sort reuses the exchange's partitioning.

    Rerun-safe the deterministic way: the permutation is a pure
    function of (salt, keys), so mode=overwrite rebuilds byte-equal
    content (pytest-pinned read-back order + set equality)."""
    sharded = shuffle_shards(df, n_shards=n_shards, key_col=key_col, salt=salt)
    (
        sharded.repartition(n_shards, F.col("shard"))
        .sortWithinPartitions("shard", "pos")
        .write.mode("overwrite")
        .option("maxRecordsPerFile", max_records_per_file)
        .partitionBy("shard")
        .parquet(out_dir)
    )

