"""Persisted ANN indexes (r4 verdict item 7): write the trained
IVF centroids / PQ codebooks plus the encoded corpus as parquet
artifacts, so repeated query batches skip retrain + re-encode — the
shape a real 100 TB serving path needs (FAISS separates `train`/
`add` from `search` for exactly this reason; here the artifact is a
plain parquet layout any Spark session can read).

Layout under ``<index_dir>/``:

- ``meta/``      one-row parquet: kind, params, dim, seed, version;
- ``model/``     the trained arrays — IVF: (cell, vec) centroid rows;
                 PQ: (subspace, code, vec) codeword rows — always
                 ``m·ksub`` / ``nlist`` rows, driver-collectable by
                 construction;
- ``data/``      the encoded corpus — IVF: (neighbor_id, cv, cell)
                 so a warm query is ONE scan with cell pruning and no
                 join back to the corpus; PQ: (neighbor_id, codes),
                 the compressed form ADC scans (the raw corpus is
                 still needed for the exact rescore, as in
                 :func:`~.similarity.pq_topk`).

Writes go through a temp-dir + atomic-rename swap (the two-phase
posture of ``streaming/jobs._swap_bucket_dirs``): readers never observe a
half-written index, and a rebuild atomically replaces the old one.

Determinism: training is the same hash-ordered-sample numpy as the
query-time paths, so ``build → query`` equals ``train-and-query``
bit-for-bit (pinned in tests/test_index_store.py).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .similarity import (
    _ivf_search,
    _nearest_cells,
    _pq_adc_rescore,
    _pq_encode,
    _pq_train_on,
    _spherical_kmeans,
)

# v2 (r6): ivfpq codes are RESIDUAL codes (x_n − C[cell]) and the pq
# meta carries an explicit ksub column — v1 pq/ivfpq artifacts would be
# misdecoded, so their version gate rejects them. The IVF layout and
# semantics are UNCHANGED since v1, so v1 ivf artifacts stay valid
# (r6 ADVICE: a single module-wide bump forced needless IVF rebuilds)
# — versioning is per index KIND: new builds stamp _VERSION, readers
# accept _ACCEPTED_VERSIONS[kind].
_VERSION = 2
_ACCEPTED_VERSIONS = {"ivf": {1, 2}, "pq": {2}, "ivfpq": {2}}


def _atomic_write(out_dir: str, write_parts) -> None:
    """Write the index parts into ``out_dir`` via a temp dir + rename
    (atomic on POSIX within a filesystem; on object stores this
    becomes the store's commit protocol). Heals stale crash residue
    first: a ``.old`` left by a build that died between swap-in and
    cleanup would otherwise make EVERY later rebuild's backup rename
    fail (ENOTEMPTY) until someone deleted it by hand — the same
    recovery contract as ``streaming/jobs._heal_bucket_layout``."""
    import shutil

    _heal_crash_residue(out_dir)
    old = out_dir + ".old"
    tmp = out_dir + "._tmp"
    if os.path.exists(tmp):
        shutil.rmtree(tmp)
    os.makedirs(tmp)
    write_parts(tmp)
    if os.path.exists(out_dir):
        os.rename(out_dir, old)
    os.rename(tmp, out_dir)
    if os.path.exists(old):
        shutil.rmtree(old)


def write_ivf_index(
    corpus: DataFrame,
    out_dir: str,
    nlist: int = 16,
    seed: int = 42,
    train_sample: int = 4096,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Train the spherical-k-means coarse quantizer and persist
    centroids + cell-assigned corpus."""
    import numpy as np

    spark = corpus.sparkSession
    sample = (
        corpus.select(F.col(vec_col).alias("v"))
        .orderBy(F.xxhash64(F.col(id_col), F.lit(seed)))
        .limit(train_sample)
        .collect()
    )
    X = np.array([r["v"] for r in sample], dtype=np.float64)
    centroids = _spherical_kmeans(X, nlist=nlist, seed=seed)
    dim = centroids.shape[1]
    assign_udf = _nearest_cells(centroids, nprobe=1)
    assigned = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        assign_udf(F.col(vec_col)).getItem(0).alias("cell"),
    )

    def parts(tmp: str) -> None:
        spark.createDataFrame(
            [(int(c), [float(x) for x in centroids[c]]) for c in range(nlist)],
            "cell int, vec array<double>",
        ).coalesce(1).write.parquet(os.path.join(tmp, "model"))
        # partitionBy(cell): a warm query with nprobe cells reads only
        # those partitions — the on-disk layout IS the inverted file
        assigned.write.partitionBy("cell").parquet(os.path.join(tmp, "data"))
        spark.createDataFrame(
            [("ivf", _VERSION, int(nlist), 0, int(dim), int(seed))],
            "kind string, version int, nlist int, m int, dim int, seed int",
        ).coalesce(1).write.parquet(os.path.join(tmp, "meta"))

    _atomic_write(out_dir, parts)


def loud_long_id(col: F.Column, what: str) -> F.Column:
    """Long id that FAILS LOUDLY on NULL or non-castable values — the
    SINGLE home of the guard (review finding: three hand-kept copies
    would drift like the compactors did). A silently-NULL id never
    matches an equality join, so a removal would no-op, a probe go
    blind, a sink replay re-add — the index contract is a non-null
    long id, and violating rows raise instead of corrupting the
    artifact. ``try_cast`` keeps behavior identical under ANSI on/off."""
    casted = col.try_cast("long")
    return (
        F.when(
            casted.isNull(),
            F.raise_error(
                F.concat(
                    F.lit(f"{what} requires a non-null long-castable doc id; got: "),
                    F.coalesce(col.cast("string"), F.lit("NULL")),
                )
            ).cast("long"),
        )
        .otherwise(casted)
    )


def _apply_id_filter(
    stored: DataFrame, filter_ids: DataFrame | None, id_col: str
) -> DataFrame:
    """Filtered-search device for persisted indexes (⊕M7 on the warm
    path): the artifact stores no metadata columns, so the caller
    evaluates its predicate on the source-of-truth table and passes
    the allowed ids — one LEFT SEMI join prunes the stored scan
    INSIDE the already-partition-pruned probed cells. AQE broadcasts
    the id frame when selective; at low selectivity it degrades to a
    keyed join, never a post-cut of the result.

    The stored ``neighbor_id`` is a long; filter ids are cast to
    match, and a value the cast cannot represent (a non-numeric id)
    raises at execution instead of silently vanishing from the
    semi-join (which would return zero candidates and read as "no
    survivors"). ``try_cast`` + explicit raise keeps the behavior
    identical whether the session runs ANSI on (plain cast throws)
    or off (plain cast NULLs) — the guard is a per-row projection
    inside the same plan, no extra job."""
    if filter_ids is None:
        return stored
    orig = F.col(id_col)
    casted = orig.try_cast("long")
    ids = filter_ids.select(
        F.when(
            orig.isNotNull() & casted.isNull(),
            F.raise_error(
                F.concat(
                    F.lit(
                        f"filter_ids.{id_col} must be castable to the index's "
                        "long neighbor_id; got non-numeric value: "
                    ),
                    orig.cast("string"),
                )
            ).cast("long"),
        )
        .otherwise(casted)
        .alias("_ok_id")
    ).distinct()
    return stored.join(ids, stored["neighbor_id"] == ids["_ok_id"], "left_semi")


def ivf_topk_index(
    queries: DataFrame,
    index_dir: str,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    filter_ids: DataFrame | None = None,
) -> DataFrame:
    """Query a persisted IVF index: read centroids (tiny), prune the
    partitioned data scan to the probed cells, exact-rescore. No
    training, no encode — the warm-path cost is the candidate scan.
    ``filter_ids`` restricts the searchable set (pre-filter, see
    :func:`_apply_id_filter`)."""
    spark = queries.sparkSession
    root, _meta, centroids, _books = _load_index(spark, index_dir, "ivf")
    assigned = _apply_id_filter(
        spark.read.parquet(os.path.join(root, "data")), filter_ids, id_col
    )
    return _ivf_search(queries, assigned, centroids, k, nprobe, id_col, vec_col)


def write_pq_index(
    corpus: DataFrame,
    out_dir: str,
    m: int = 8,
    ksub: int = 16,
    seed: int = 42,
    train_sample: int = 4096,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Train per-subspace codebooks and persist them + the encoded
    (id, codes) corpus — the 4-32× compressed form ADC scans."""
    spark = corpus.sparkSession
    books = _pq_train_on(corpus, m, ksub, seed, train_sample, id_col, vec_col)
    dim = books.shape[0] * books.shape[2]
    encode = _pq_encode(books)
    coded = corpus.select(
        F.col(id_col).alias("neighbor_id"), encode(F.col(vec_col)).alias("codes")
    )

    def parts(tmp: str) -> None:
        spark.createDataFrame(
            [
                (j, c, [float(x) for x in books[j, c]])
                for j in range(books.shape[0])
                for c in range(books.shape[1])
            ],
            "subspace int, code int, vec array<double>",
        ).coalesce(1).write.parquet(os.path.join(tmp, "model"))
        coded.write.parquet(os.path.join(tmp, "data"))
        # explicit ksub column (nlist = 0: a pq index has no coarse
        # quantizer) — the same meta name must not mean different
        # things per index kind (r5 ADVICE; ivfpq already does this)
        spark.createDataFrame(
            [("pq", _VERSION, 0, int(m), int(dim), int(seed), int(books.shape[1]))],
            "kind string, version int, nlist int, m int, dim int, seed int, ksub int",
        ).coalesce(1).write.parquet(os.path.join(tmp, "meta"))

    _atomic_write(out_dir, parts)


def pq_topk_index(
    queries: DataFrame,
    corpus: DataFrame,
    index_dir: str,
    k: int = 10,
    candidates: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    filter_ids: DataFrame | None = None,
) -> DataFrame:
    """Query a persisted PQ index: codebooks from ``model/`` (m·ksub
    rows), ADC over the persisted codes, exact rescore against the
    raw ``corpus`` vectors (the index stores only the compressed
    codes; the rescore join is the same broadcast-candidate shape as
    :func:`~.similarity.pq_topk`). ``filter_ids`` restricts the
    searchable set BEFORE the ADC cut (pre-filter: the candidate
    budget is spent on matching rows only)."""
    spark = queries.sparkSession
    root, _meta, _centroids, books = _load_index(spark, index_dir, "pq")
    coded = _apply_id_filter(
        spark.read.parquet(os.path.join(root, "data")), filter_ids, id_col
    )
    return _pq_adc_rescore(queries, corpus, books, coded, k, candidates, id_col, vec_col)


def write_ivfpq_index(
    corpus: DataFrame,
    out_dir: str,
    nlist: int = 16,
    m: int = 8,
    ksub: int = 16,
    seed: int = 42,
    train_sample: int = 4096,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Train coarse centroids + RESIDUAL PQ codebooks on the same
    hash sample and persist the corpus as (neighbor_id, codes) rows
    partitioned by cell — the 32×-compressed, partition-prunable
    serving layout (FAISS IVFPQ's inverted file as a parquet
    directory tree). Codes are residual codes (v2): the codebooks are
    trained on ``x_n − C[cell]`` and decode relative to the cell
    centroid."""
    from .similarity import _assign_and_encode_residual, _ivfpq_train_on

    spark = corpus.sparkSession
    centroids, books = _ivfpq_train_on(
        corpus, nlist, m, ksub, seed, train_sample, id_col, vec_col
    )
    dim = centroids.shape[1]

    assign_encode = _assign_and_encode_residual(centroids, books)
    coded = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        assign_encode(F.col(vec_col)).alias("ce"),
    ).select(
        "neighbor_id", F.col("ce.cell").alias("cell"), F.col("ce.codes").alias("codes")
    )

    def parts(tmp: str) -> None:
        spark.createDataFrame(
            [(-1, int(c), [float(x) for x in centroids[c]]) for c in range(nlist)]
            + [
                (j, c, [float(x) for x in books[j, c]])
                for j in range(m)
                for c in range(books.shape[1])
            ],
            # subspace = -1 rows are the coarse centroids; >= 0 rows
            # the per-subspace codewords — one model file, two roles
            "subspace int, code int, vec array<double>",
        ).coalesce(1).write.parquet(os.path.join(tmp, "model"))
        coded.write.partitionBy("cell").parquet(os.path.join(tmp, "data"))
        spark.createDataFrame(
            [("ivfpq", _VERSION, int(nlist), int(m), int(dim), int(seed), int(books.shape[1]))],
            "kind string, version int, nlist int, m int, dim int, seed int, ksub int",
        ).coalesce(1).write.parquet(os.path.join(tmp, "meta"))

    _atomic_write(out_dir, parts)


def ivfpq_topk_index(
    queries: DataFrame,
    corpus: DataFrame,
    index_dir: str,
    k: int = 10,
    nprobe: int = 4,
    candidates: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    filter_ids: DataFrame | None = None,
) -> DataFrame:
    """Query a persisted IVFPQ index: centroids + codebooks from
    ``model/`` (tiny), then the ADC scan reads ONLY the probed cells'
    partitions — the union of every query's probe set prunes the
    parquet scan itself (PartitionFilters), on top of the per-query
    -inf mask inside the scan. Exact rescore against the raw
    ``corpus`` as usual. ``filter_ids`` restricts the searchable set
    before the ADC cut (pre-filter; composes with the partition
    pruning — the semi-join runs inside the probed cells only)."""
    import numpy as np

    from .similarity import _pq_adc_rescore

    spark = queries.sparkSession
    root, _meta, centroids, books = _load_index(spark, index_dir, "ivfpq")

    # union of all queries' probe sets → partition-pruned data scan.
    # Collect the query rows ONCE and hand them down — _pq_adc_rescore
    # would otherwise ship the same vectors driver-side a second time.
    # Bounded via the shared guard (refuses > MAX_QUERY_ROWS batches)
    from .similarity import _collect_query_rows

    qrows = _collect_query_rows(queries, id_col, vec_col)
    qv = np.array([r[vec_col] for r in qrows], dtype=np.float64)
    qn = qv / np.maximum(np.linalg.norm(qv, axis=1, keepdims=True), 1e-12)
    cn = centroids / np.maximum(np.linalg.norm(centroids, axis=1, keepdims=True), 1e-12)
    probed = sorted(
        {
            int(c)
            for row in np.argsort(-(qn @ cn.T), axis=1, kind="stable")[:, :nprobe]
            for c in row
        }
    )
    coded = _apply_id_filter(
        spark.read.parquet(os.path.join(root, "data")).filter(
            F.col("cell").isin(probed)
        ),
        filter_ids,
        id_col,
    )
    return _pq_adc_rescore(
        queries, corpus, books, coded, k, candidates, id_col, vec_col,
        probe_centroids=centroids, nprobe=nprobe, qrows=qrows, residual=True,
    )


# ---------------------------------------------------------------------------
# r7: incremental extend + lifecycle — FAISS's train/add split for
# persisted artifacts (extend / streaming extend / compact), with one
# shared heal-gate-load path and single-writer conflict detection
# ---------------------------------------------------------------------------


def _heal_crash_residue(out_dir: str) -> None:
    """The died-mid-swap recovery extracted from :func:`_atomic_write`
    so EVERY entry point can heal BEFORE its first read of
    ``out_dir`` — an entry point that read ``meta/`` first would crash
    forever on an artifact whose previous writer died between the two
    renames (only ``.old`` exists), despite the retry-safe contract
    (r7 review finding)."""
    import shutil

    old = out_dir + ".old"
    if os.path.exists(old):
        if os.path.exists(out_dir):
            shutil.rmtree(old)  # prior swap finished; cleanup didn't
        else:
            os.rename(old, out_dir)  # prior build died mid-swap


def _reader_root(index_dir: str) -> str:
    """Resolve the directory a READER should use: during a writer's
    swap window the artifact may momentarily exist only as ``.old``.
    Readers must NOT mutate (healing is writer-only — a reader's
    rename/rmtree would race the writer's swap: resurrecting ``.old``
    mid-swap fails the writer's rename, and a concurrent double-rmtree
    crashes one side; r7 review finding) — they simply read whichever
    full copy survives. The swap invariant guarantees one always
    does."""
    if not os.path.exists(os.path.join(index_dir, "meta")) and os.path.isdir(
        index_dir + ".old"
    ):
        return index_dir + ".old"
    return index_dir


def _load_index(
    spark: SparkSession,
    index_dir: str,
    expect_kind: str | None,
    heal: bool = False,
):
    """Gate → load, the ONE path every reader/extender/compactor goes
    through (r7 review: the gate + model reconstruction were
    copy-pasted across six sites and the sink had drifted to no gate at
    all). ``heal=True`` is for WRITERS only — it recovers died-mid-swap
    residue before the first read (a writer that read ``meta/`` first
    would crash forever on an ``.old``-only artifact); readers pass
    ``heal=False`` and get the surviving copy via :func:`_reader_root`
    without mutating anything. Returns ``(root, meta, centroids,
    books)`` — ``centroids`` is None for pq, ``books`` None for ivf;
    with ``expect_kind=None`` (the compactor) any accepted
    kind/version passes and only ``meta`` is loaded. Readers must read
    ``data/`` under the returned ``root``."""
    import numpy as np

    if heal:
        _heal_crash_residue(index_dir)
        root = index_dir
    else:
        root = _reader_root(index_dir)
    meta = spark.read.parquet(os.path.join(root, "meta")).collect()[0]
    kind = meta["kind"]
    want = kind if expect_kind is None else expect_kind
    if kind != want or meta["version"] not in _ACCEPTED_VERSIONS.get(want, set()):
        art = "an" if want.startswith("i") else "a"
        raise ValueError(
            f"not {art} {want} index at an accepted version "
            f"({sorted(_ACCEPTED_VERSIONS.get(want, set()))}): {index_dir}"
        )
    if expect_kind is None:
        return root, meta, None, None
    rows = spark.read.parquet(os.path.join(root, "model")).collect()
    centroids = books = None
    if kind == "ivf":
        centroids = np.zeros((meta["nlist"], meta["dim"]), dtype=np.float64)
        for r in rows:
            centroids[r["cell"]] = r["vec"]
    elif kind == "pq":
        books = np.zeros(
            (meta["m"], meta["ksub"], meta["dim"] // meta["m"]),
            dtype=np.float64,
        )
        for r in rows:
            books[r["subspace"], r["code"]] = r["vec"]
    else:  # ivfpq: subspace -1 rows are centroids, >= 0 the codewords
        centroids = np.zeros((meta["nlist"], meta["dim"]), dtype=np.float64)
        books = np.zeros(
            (meta["m"], meta["ksub"], meta["dim"] // meta["m"]),
            dtype=np.float64,
        )
        for r in rows:
            if r["subspace"] < 0:
                centroids[r["code"]] = r["vec"]
            else:
                books[r["subspace"], r["code"]] = r["vec"]
    return root, meta, centroids, books


def _link_tree(src: str, dst: str) -> None:
    """Hard-link every file under ``src`` into the same relative
    layout under ``dst`` (copy2 fallback on mounts without link
    support — the merge-sink posture). Zero data movement on POSIX."""
    from ..io import link_or_copy

    for root, _dirs, files in os.walk(src):
        rel = os.path.relpath(root, src)
        out = dst if rel == "." else os.path.join(dst, rel)
        os.makedirs(out, exist_ok=True)
        for f in files:
            link_or_copy(os.path.join(root, f), os.path.join(out, f))


def _stage_files(df: DataFrame, out_dir: str, partition_by: str | None = None) -> None:
    """Write ``df`` into a staging dir, then move its part files into
    the live ``out_dir`` tree (flat, or partition-subdir'd). Spark
    part-file names carry write UUIDs, so moved files cannot collide
    with linked ones — the partitioned-merge-sink argument. One copy
    of the staging protocol for all three lifecycle writers (r7
    review)."""
    import shutil

    stage = out_dir + "._stage"
    w = df.write
    if partition_by:
        w = w.partitionBy(partition_by)
    w.parquet(stage)
    for root, _dirs, files in os.walk(stage):
        rel = os.path.relpath(root, stage)
        out = out_dir if rel == "." else os.path.join(out_dir, rel)
        os.makedirs(out, exist_ok=True)
        for f in files:
            if f.endswith(".parquet"):
                shutil.move(os.path.join(root, f), os.path.join(out, f))
    shutil.rmtree(stage)


def _data_listing(index_dir: str) -> set:
    out = set()
    data = os.path.join(index_dir, "data")
    for root, _dirs, files in os.walk(data):
        for f in files:
            if f.endswith(".parquet"):
                out.add(os.path.relpath(os.path.join(root, f), index_dir))
    return out


def _guarded_parts(index_dir: str, build):
    """Single-writer conflict DETECTION (not serialization): index
    maintenance assumes one writer at a time — the module-wide posture
    shared with the merge sinks — because a snapshot-link-then-swap
    that raced a concurrent extend would publish a tree missing the
    other writer's rows (r7 review finding: silent loss). The guard
    snapshots the live data listing when the build starts and aborts
    the publish with RuntimeError if it changed by the end, turning
    the race into a loud retry instead of silent loss. (A TOCTOU
    window narrower than the build remains — run ONE writer.)"""

    def parts(tmp: str) -> None:
        before = _data_listing(index_dir)
        build(tmp)
        if _data_listing(index_dir) != before:
            raise RuntimeError(
                "concurrent index modification detected during "
                "extend/compact — index maintenance assumes a single "
                "writer; re-run the operation"
            )

    return parts


def _publish_extend(new_part: DataFrame, index_dir: str, partitioned: bool) -> None:
    """Shared extend body: hard-link the whole current artifact, stage
    only the new rows beside it, publish through the atomic swap with
    the conflict guard."""

    def build(tmp: str) -> None:
        _link_tree(index_dir, tmp)
        _stage_files(
            new_part,
            os.path.join(tmp, "data"),
            partition_by="cell" if partitioned else None,
        )

    _atomic_write(index_dir, _guarded_parts(index_dir, build))


def extend_ivf_index(
    new_vectors: DataFrame,
    index_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """FAISS's ``train``/``add`` split, parquet-artifact edition (the
    lifecycle step between :func:`write_ivf_index` — full retrain +
    rewrite — and serving): add ``new_vectors`` to a persisted IVF
    index WITHOUT retraining the coarse quantizer and WITHOUT
    rewriting the stored corpus. The trained centroids are reused
    verbatim (assignment is the same stable cosine argmax as
    serving), every existing file is HARD-LINKED into the new
    artifact, and only the new rows are assigned and written — cost
    O(new vectors), not O(corpus). The swap is the same atomic
    two-phase rename as every index build: readers never observe a
    half-extended index, and a crashed extend leaves the old artifact
    intact (retry-safe, including from a died-mid-swap state — the
    load path heals first).

    Search contract (pinned in tests/test_index_store.py): after
    extend, queries run against the UNION corpus under the ORIGINAL
    centroids — at nprobe = nlist that is exactly the brute force
    over the union (the m03 degenerate argument), and the old files'
    inodes are unchanged (the no-rewrite claim is executable)."""
    from .similarity import _nearest_cells

    spark = new_vectors.sparkSession
    _root, _meta, centroids, _books = _load_index(spark, index_dir, "ivf", heal=True)
    assign_udf = _nearest_cells(centroids, nprobe=1)
    assigned = new_vectors.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        assign_udf(F.col(vec_col)).getItem(0).alias("cell"),
    )
    _publish_extend(assigned, index_dir, partitioned=True)


def extend_ivfpq_index(
    new_vectors: DataFrame,
    index_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """:func:`extend_ivf_index` for the IVFPQ artifact: reuse the
    trained centroids AND residual codebooks, hard-link every
    existing file, encode + write only the new rows (one Arrow
    projection over the new vectors). New vectors' residuals are
    quantized by codebooks trained before they existed — exactly
    FAISS ``add`` semantics: the codebook is a frozen model, recall
    on post-training data is an empirical property (pinned: a query
    equal to a new vector finds it — the exact rescore guarantees
    cosine 1.0 wins once ADC admits it)."""
    from .similarity import _assign_and_encode_residual

    spark = new_vectors.sparkSession
    _root, _meta, centroids, books = _load_index(spark, index_dir, "ivfpq", heal=True)
    assign_encode = _assign_and_encode_residual(centroids, books)
    coded = new_vectors.select(
        F.col(id_col).alias("neighbor_id"),
        assign_encode(F.col(vec_col)).alias("ce"),
    ).select(
        "neighbor_id",
        F.col("ce.cell").alias("cell"),
        F.col("ce.codes").alias("codes"),
    )
    _publish_extend(coded, index_dir, partitioned=True)


def extend_pq_index(
    new_vectors: DataFrame,
    index_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """:func:`extend_ivf_index` for the flat PQ artifact: encode the
    new rows with the frozen codebooks (one Arrow projection), stage
    them as new files beside the hard-linked existing ones, atomic
    swap. Stored-code contract: the new rows' persisted codes equal
    ``_pq_encode(books)`` of their vectors under the index's frozen
    codebooks (pinned in tests/test_index_store.py)."""
    from .similarity import _pq_encode

    spark = new_vectors.sparkSession
    _root, _meta, _centroids, books = _load_index(spark, index_dir, "pq", heal=True)
    encode = _pq_encode(books)
    coded = new_vectors.select(
        F.col(id_col).alias("neighbor_id"), encode(F.col(vec_col)).alias("codes")
    )
    _publish_extend(coded, index_dir, partitioned=False)


def compact_index(index_dir: str, max_files_per_cell: int = 8) -> None:
    """Small-file compaction for extended indexes: every
    :func:`extend_*_index` call adds at least one file per touched
    cell, so a daily-extend lifecycle accumulates files that tax the
    scan (open/footer cost per file). Rewrite ONLY the cells (or the
    flat data root, for pq) holding more than ``max_files_per_cell``
    parquet files — each such group is read and rewritten as one file
    — hard-link everything else unchanged, and publish through the
    same atomic swap. Cost O(oversized cells' rows); search results
    are byte-identical before/after and a second call is a no-op
    (pinned in tests/test_index_store.py). Hadoop ``.crc`` sidecars
    of compacted files are dropped with them (they'd otherwise
    accumulate forever — r7 review finding). Single-writer, like all
    index maintenance: the conflict guard turns a concurrent extend
    into a loud RuntimeError instead of silent row loss."""
    from pyspark.sql import SparkSession

    spark = SparkSession.active()
    _load_index(spark, index_dir, expect_kind=None, heal=True)  # writer: heal + gate
    _compact_data_tree(spark, index_dir, max_files_per_cell)


def _compact_data_tree(
    spark: SparkSession, index_dir: str, max_files_per_group: int
) -> None:
    """Gate-agnostic compaction body over ``<index_dir>/data``: shared
    by the ANN artifacts (cell dirs / flat pq root) and the text
    index (bands/toks subtrees) — any leaf directory with more than
    ``max_files_per_group`` parquet files is rewritten as one file.
    Callers run their kind gate + heal FIRST."""
    data_dir = os.path.join(index_dir, "data")
    groups: dict[str, list[str]] = {}
    for root, _dirs, files in os.walk(data_dir):
        pq_files = [f for f in files if f.endswith(".parquet")]
        if pq_files:
            groups[os.path.relpath(root, data_dir)] = sorted(
                os.path.join(root, f) for f in pq_files
            )
    oversized = {g: fs for g, fs in groups.items() if len(fs) > max_files_per_group}
    if not oversized:
        return

    def build(tmp: str) -> None:
        _link_tree(index_dir, tmp)
        for g, fs in oversized.items():
            out = os.path.join(tmp, "data") if g == "." else os.path.join(
                tmp, "data", g
            )
            # drop the linked copies of the compacted files AND their
            # checksum sidecars
            for p in fs:
                base = os.path.basename(p)
                for name in (base, f".{base}.crc"):
                    linked = os.path.join(out, name)
                    if os.path.exists(linked):
                        os.remove(linked)
            _stage_files(spark.read.parquet(*fs).coalesce(1), out)

    _atomic_write(index_dir, _guarded_parts(index_dir, build))


def remove_from_index(
    ids: DataFrame, index_dir: str, id_col: str = "vec_id"
) -> None:
    """Hard-delete vectors from a persisted index — FAISS
    ``remove_ids``, parquet-artifact edition, and the third lifecycle
    verb (extend / compact / REMOVE). Training pipelines need physical
    deletion (takedowns, opt-outs, dedup-after-index): tombstones
    would keep the bytes on disk and tax every scan with an anti-join
    forever, so this rewrites — but only the FILES that actually
    contain a doomed id.

    Mechanics: one scan of the stored frame joined to the id set
    discovers the affected files via ``input_file_name()`` (cost
    O(corpus scan) worst case, but only matching FILES are
    rewritten — cost O(affected files' rows), the merge-sink
    file-pruning posture); every other file hard-links through the
    same atomic two-phase swap as extend/compact, with the
    single-writer conflict guard. Removing ids that are not in the
    index is a TRUE no-op (no swap, inodes unchanged), so the call is
    idempotent. Works for all three kinds (ivf / ivfpq cell trees,
    flat pq) — rewritten files go back into their cell directory, so
    partition pruning is unaffected.

    Pinned in tests/test_index_store.py: post-remove search equals a
    fresh search over the surviving corpus (full-probe degenerate
    equality), untouched files keep their inodes, second remove is a
    no-op, and removal composes with extend/compact.

    Doomed ids FAIL LOUDLY on NULL or non-long-castable values
    (:func:`loud_long_id`): a silently-NULL ``_rm_id`` never matches
    the equality join, so the removal would no-op and the doc would
    STAY in the index — for a takedown verb, the worst possible
    silent failure.
    """
    spark = ids.sparkSession
    _load_index(spark, index_dir, expect_kind=None, heal=True)
    doomed = ids.select(
        loud_long_id(F.col(id_col), "remove_from_index").alias("_rm_id")
    ).distinct()
    _pruned_remove(
        spark,
        index_dir,
        doomed,
        stored_id="neighbor_id",
        scan_roots=[os.path.join(index_dir, "data")],
    )


def _pruned_remove(
    spark: SparkSession,
    index_dir: str,
    doomed: DataFrame,
    stored_id: str,
    scan_roots: list[str],
) -> None:
    """Gate-agnostic file-pruned removal body shared by the ANN
    artifacts (one ``data/`` tree, cell subdirs) and the text index
    (two subtrees) — review finding: two hand-kept copies of the
    removal protocol would drift like the compactors did. ``doomed``
    must be a distinct frame with one long ``_rm_id`` column; each
    ``scan_root`` is discovery-scanned via ``input_file_name()``,
    only files containing a doomed id are rewritten (grouped by their
    directory so rewritten files land back in place), everything else
    hard-links through the guarded atomic swap. No hits anywhere →
    TRUE no-op (no swap, inodes unchanged). Callers run their kind
    gate + heal first."""
    from urllib.parse import unquote, urlparse

    hit_files: list[str] = []
    for root in scan_roots:
        stored = spark.read.parquet(root)
        hit_files.extend(
            unquote(urlparse(r["_f"]).path)
            for r in stored.withColumn("_f", F.input_file_name())
            .join(doomed, stored[stored_id] == doomed["_rm_id"], "left_semi")
            .select("_f")
            .distinct()
            .collect()
        )
    if not hit_files:
        return
    by_dir: dict[str, list[str]] = {}
    for p in hit_files:
        by_dir.setdefault(os.path.dirname(p), []).append(p)

    def build(tmp: str) -> None:
        _link_tree(index_dir, tmp)
        for d, files in by_dir.items():
            out = os.path.join(tmp, os.path.relpath(d, index_dir))
            for p in files:
                base = os.path.basename(p)
                for name in (base, f".{base}.crc"):
                    linked = os.path.join(out, name)
                    if os.path.exists(linked):
                        os.remove(linked)
            survivors = spark.read.parquet(*sorted(files)).join(
                doomed, F.col(stored_id) == F.col("_rm_id"), "left_anti"
            )
            _stage_files(survivors.coalesce(1), out)

    _atomic_write(index_dir, _guarded_parts(index_dir, build))


def index_extend_sink(
    stream: DataFrame,
    index_dir: str,
    checkpoint_dir: str,
    kind: str = "ivf",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Streaming index maintenance: each micro-batch extends the
    persisted cell-partitioned index (``kind`` = ``"ivf"`` or
    ``"ivfpq"`` — the compressed production artifact) with its
    genuinely-new vectors — the lifecycle stream a serving deployment
    runs beside ingestion (FAISS ``add`` on a schedule, expressed as
    foreachBatch over the shared extend body).

    Replay safety: a replayed batch (checkpoint recovery) must not
    double-insert, so the batch anti-joins the stored ids first — and
    that scan is PRUNED to the batch's own cells (assign the batch
    with the current centroids, read only ``cell IN (...)``
    partitions, project only ``neighbor_id``), so the idempotence
    check costs O(affected cells' ids), not O(corpus). Contract the
    pruning rests on: ids are CONTENT-IMMUTABLE — re-delivering an id
    with a DIFFERENT embedding is undefined (if its new vector lands
    in a different cell, the pruned scan cannot see the stored copy
    and the id would be indexed twice; r7 review). A re-embedding
    pipeline must delete+rebuild or full-scan dedup in a batch job —
    the same contract FAISS `add` has (it never updates in place).
    Model and assignment load ONCE per batch and the assigned frame
    is localCheckpointed, so nothing runs twice (r7 review finding).
    Every publish goes through the atomic swap + conflict guard, so
    concurrent readers are never torn and a crash leaves the previous
    artifact intact. Single writer, like all index maintenance. (The
    flat pq artifact has no cell pruning for the idempotence scan, so
    it is not offered here — extend it in scheduled batches via
    :func:`extend_pq_index`.)

    Returns the started StreamingQuery."""
    if kind not in ("ivf", "ivfpq"):
        raise ValueError(f"index_extend_sink supports ivf/ivfpq, got {kind!r}")

    def do_extend(batch: DataFrame, epoch_id: int) -> None:
        spark = batch.sparkSession
        if not batch.take(1):
            return
        _root, _meta, centroids, books = _load_index(spark, index_dir, kind, heal=True)
        if kind == "ivf":
            from .similarity import _nearest_cells

            assign_udf = _nearest_cells(centroids, nprobe=1)
            assigned = batch.select(
                F.col(id_col).alias("neighbor_id"),
                F.col(vec_col).alias("cv"),
                assign_udf(F.col(vec_col)).getItem(0).alias("cell"),
            )
        else:
            from .similarity import _assign_and_encode_residual

            assign_encode = _assign_and_encode_residual(centroids, books)
            assigned = batch.select(
                F.col(id_col).alias("neighbor_id"),
                assign_encode(F.col(vec_col)).alias("ce"),
            ).select(
                "neighbor_id",
                F.col("ce.cell").alias("cell"),
                F.col("ce.codes").alias("codes"),
            )
        from ..plan_debug import note_subtree

        assigned = note_subtree(
            "ann_index.extend.assigned", assigned.dropDuplicates(["neighbor_id"])
        ).localCheckpoint()
        cells = [
            int(r["cell"]) for r in assigned.select("cell").distinct().collect()
        ]
        stored_ids = (
            spark.read.parquet(os.path.join(index_dir, "data"))
            .filter(F.col("cell").isin(cells))
            .select("neighbor_id")
        )
        new_only = note_subtree(
            "ann_index.extend.new_only",
            assigned.join(stored_ids, "neighbor_id", "left_anti"),
        ).localCheckpoint()
        if new_only.take(1):
            _publish_extend(new_only, index_dir, partitioned=True)

    return (
        stream.writeStream.foreachBatch(do_extend)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .start()
    )


def ivf_extend_sink(
    stream: DataFrame,
    index_dir: str,
    checkpoint_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """IVF leg of :func:`index_extend_sink` (kept as the named entry
    point the tests and docs reference)."""
    return index_extend_sink(
        stream, index_dir, checkpoint_dir, kind="ivf",
        id_col=id_col, vec_col=vec_col,
    )


def index_remove_sink(
    stream: DataFrame,
    index_dir: str,
    checkpoint_dir: str,
    id_col: str = "vec_id",
):
    """Streaming takedowns: apply a deletion-request stream (rows
    carrying ``id_col``) to a persisted index via
    :func:`remove_from_index`, one micro-batch at a time — the CDC
    shape of the takedown/opt-out pipeline. Replay safety comes for
    FREE from removal's semantics: re-removing an already-removed id
    is a structural no-op (no files match → no swap), so a batch
    replayed after a crash converges to the same artifact — no
    stored-id anti-join needed, unlike the extend sink. Works for
    any index kind. Single-writer like all index maintenance: do not
    run concurrently with an extend sink on the same artifact (the
    conflict guard turns a race into a loud RuntimeError)."""

    def do_remove(batch: DataFrame, batch_id: int) -> None:
        from ..plan_debug import note_subtree

        ids = note_subtree(
            "ann_index.remove.ids", batch.select(id_col).dropDuplicates([id_col])
        ).localCheckpoint()
        if ids.take(1):
            remove_from_index(ids, index_dir, id_col=id_col)

    return (
        stream.writeStream.foreachBatch(do_remove)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .start()
    )
