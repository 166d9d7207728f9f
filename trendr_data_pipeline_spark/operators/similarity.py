"""Similarity search over embedding columns (north-star LLM-pipeline op).

Two paths:

- :func:`cosine_topk_bruteforce` — exact top-k: broadcast the query
  set, score every (query, candidate) with JVM-side higher-order
  functions (``zip_with`` dot product — no Python, no shuffle beyond
  the final top-k window). The right baseline at any scale where the
  query set is small.
- :func:`lsh_bucketed_topk` — random-hyperplane LSH variant: both
  sides are bucketed by sign-bit sketches, candidates come from an
  equi-join on (table, bucket), then exact rescoring. Sub-linear
  candidate generation for large query sets; recall is tunable via
  number of tables/bits.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ via zip_with + aggregate (double accumulation,
    left-to-right — deterministic)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2norm(a) * l2norm(b))


def cosine_topk_bruteforce(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    where: Column | None = None,
) -> DataFrame:
    """Exact cosine top-k of ``corpus`` for each row of ``queries``.

    Returns (query_id, neighbor_id, cosine_sim, rk). Self-matches are
    excluded. Ties broken by neighbor id (determinism, reference W4
    discipline). ``where`` (a predicate over corpus columns)
    restricts the searchable set BEFORE scoring — filtered search,
    the vector-DB pre-filter: top-k among the rows that satisfy the
    predicate, never a post-cut of an unfiltered top-k (which loses
    results whenever < k of the unfiltered winners match)."""
    from ..io import spread

    if where is not None:
        corpus = corpus.filter(where)
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    c = spread(corpus).select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine_sim", F.round(cosine(F.col("qv"), F.col("cv")), 6))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rk")
    )


def _hyperplane(dim: int, j: int, seed: int) -> list[float]:
    """Deterministic pseudo-random hyperplane in [-1, 1)^dim (sha256
    counter mode). Computed ONCE on the driver and shipped as literals
    — hashing per row per component would dominate the sketch cost."""
    import hashlib

    out = []
    for i in range(dim):
        h = hashlib.sha256(f"{seed}:{j}:{i}".encode()).digest()
        out.append((int.from_bytes(h[:8], "big") % 20000) / 10000.0 - 1.0)
    return out


def _spherical_kmeans(X, nlist: int, seed: int, iters: int = 10):
    """Driver-side spherical k-means (cosine Lloyd) over a sample
    matrix — deterministic for a given sample + seed. Returns the
    (nlist, dim) unit-norm centroid matrix."""
    import numpy as np

    X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    rng = np.random.RandomState(seed)
    C = X[rng.choice(len(X), size=nlist, replace=False)]
    for _ in range(iters):
        assign = np.argmax(X @ C.T, axis=1)
        for j in range(nlist):
            members = X[assign == j]
            if len(members):
                c = members.sum(axis=0)
                C[j] = c / max(float(np.linalg.norm(c)), 1e-12)
            # empty cell: keep the previous centroid (deterministic)
    return C


def _nearest_cells(centroids, nprobe: int):
    """Factory: pandas UDF mapping an embedding to its ``nprobe``
    nearest centroids by cosine (one numpy matmul per Arrow batch;
    stable argsort pins ties to the lower cell id)."""
    import numpy as np

    C = centroids / np.maximum(np.linalg.norm(centroids, axis=1, keepdims=True), 1e-12)

    def f(s: pd.Series) -> pd.Series:
        m = np.stack([np.asarray(v, dtype=np.float64) for v in s])
        m = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
        order = np.argsort(-(m @ C.T), axis=1, kind="stable")[:, :nprobe]
        return pd.Series(list(order.astype(np.int64)))

    return F.pandas_udf(f, "array<long>")


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nlist: int = 16,
    nprobe: int = 4,
    seed: int = 42,
    train_sample: int = 4096,
    where: Column | None = None,
) -> DataFrame:
    """IVF-style ANN: a spherical k-means coarse quantizer trained
    DRIVER-SIDE on a hash-ordered sample of ≤``train_sample`` vectors
    (the FAISS practice — the quantizer trains on a sample, never the
    full corpus; ``orderBy(xxhash64).limit`` compiles to
    TakeOrderedAndProject, so no full sort at scale), then cell
    assignment and probe selection BOTH by cosine (one numpy matmul
    per Arrow batch). Each query is scored only against its
    ``nprobe`` nearest cells' members, then exact cosine + top-k.
    Candidate volume ≈ corpus·nprobe/nlist.

    Training is a numpy Lloyd loop on the driver — milliseconds, no
    MLlib job, deterministic for a given corpus + seed; in a serving
    setup the centroids are trained once and reused across query
    batches.

    ``where`` (predicate over corpus columns) gives FILTERED ANN,
    the vector-DB pre-filter semantics: the quantizer still trains
    on the UNFILTERED sample (the index doesn't change per query
    predicate — the FAISS selector model), but only matching rows
    are assigned/scanned, so the top-k is exact over the filtered
    set at full probe and recall degrades with nprobe exactly as in
    the unfiltered case. Pre-filter, not post-cut: a post-cut
    returns < k rows whenever the unfiltered winners are mostly
    non-matching."""
    import numpy as np

    sample = (
        corpus.select(F.col(vec_col).alias("v"))
        .orderBy(F.xxhash64(F.col(id_col), F.lit(seed)))
        .limit(train_sample)
        .collect()
    )
    X = np.array([r["v"] for r in sample], dtype=np.float64)
    centroids = _spherical_kmeans(X, nlist=nlist, seed=seed)

    if where is not None:
        corpus = corpus.filter(where)
    assign_udf = _nearest_cells(centroids, nprobe=1)
    assigned = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        assign_udf(F.col(vec_col)).getItem(0).alias("cell"),
    )
    return _ivf_search(queries, assigned, centroids, k, nprobe, id_col, vec_col)


def _ivf_search(
    queries: DataFrame,
    assigned: DataFrame,
    centroids,
    k: int,
    nprobe: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Probe + exact-rescore half of :func:`ivf_topk`. ``assigned``
    is the (neighbor_id, cv, cell) frame."""
    probe_udf = _nearest_cells(centroids, nprobe=nprobe)
    probes = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        probe_udf(F.col(vec_col)).alias("probe_cells"),
    )
    cands = probes.join(
        assigned, F.array_contains(probes["probe_cells"], assigned["cell"]), "inner"
    ).filter(F.col("query_id") != F.col("neighbor_id"))
    scored = cands.withColumn("cosine_sim", F.round(cosine(F.col("qv"), F.col("cv")), 6))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rk")
    )


def _sketch_all_tables(dim: int, bits: int, tables: int):
    """Factory: pandas UDF mapping an embedding to its per-table
    bucket ids via one numpy matmul against the precomputed
    hyperplane matrix (dim × tables·bits)."""
    import numpy as np

    W = np.array(
        [_hyperplane(dim, t * bits + j, seed=0) for t in range(tables) for j in range(bits)]
    ).T  # dim × (tables*bits)
    powers = np.array([1 << (bits - 1 - j) for j in range(bits)], dtype=np.int64)

    def f(s: pd.Series) -> pd.Series:
        m = np.stack([np.asarray(v, dtype=np.float64) for v in s])
        signs = (m @ W >= 0).astype(np.int64)  # n × tables*bits
        buckets = signs.reshape(len(s), tables, bits) @ powers  # n × tables
        return pd.Series(list(buckets))

    return F.pandas_udf(f, "array<long>")


def embedding_near_dup_join(
    incoming: DataFrame,
    corpus: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    bits: int = 16,
    tables: int = 8,
    broadcast_incoming: bool = True,
    self_join: bool = False,
    corpus_extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Embedding-cosine near-duplicate screening: every (incoming,
    corpus) pair with cosine ≥ ``threshold`` — the embedding leg of the
    dedup suite (exact dedup d01, token Jaccard d02, MinHash d03,
    SimHash d04, shingles d05 cover the lexical legs).

    Scale path: candidates from a sign-bit LSH equi-join on (table,
    bucket) — one Arrow-batched matmul per side, identical machinery to
    :func:`lsh_bucketed_topk` — then exact cosine verification. Near-dup
    thresholds sit close to 1, so the sketches can be LONG (``bits`` =
    16 → 65k buckets/table): at cosine 0.99 a pair agrees on a 16-bit
    sketch with p ≈ (1−θ/π)¹⁶ ≈ 0.85 per table, missing all 8 tables
    with p ≈ 2e-7, while an isotropic background pair collides almost
    never — candidate volume stays near the true-pair count instead of
    O(n²/2^bits). Returns (id_a, id_b, cosine_sim), id_a from incoming.

    ``corpus_extra_cols`` names corpus-side columns carried through to
    the pair output unchanged (appended after ``cosine_sim``) — a
    caller screening against a UNION of reference classes can tag each
    class once and split the pairs afterwards instead of running one
    join per class (the c57 screen folds its self-pair leg into the
    reference join this way). Extras ride the candidate ``distinct``,
    so a corpus id present under two tag values yields one pair row
    per value — by design (each class applies its own keep rule).
    """
    from ..io import spread

    # extras must not collide with the join's internal column names
    # (r13 ADVICE: a caller passing one of these would get an
    # ambiguous-column error or a silently wrong select downstream)
    _reserved = {"tbl", "bucket", "q_id", "c_id", "q_v", "c_v", "id_a", "id_b", "_cos", "cosine_sim"}
    bad = _reserved.intersection(corpus_extra_cols)
    if bad:
        raise ValueError(
            f"corpus_extra_cols collides with internal names: {sorted(bad)}"
        )

    sketch = _sketch_all_tables(dim, bits, tables)

    def sketched(
        df: DataFrame, name: str, extra: tuple[str, ...] = ()
    ) -> DataFrame:
        return df.select(
            F.col(id_col).alias(f"{name}_id"),
            F.col(vec_col).alias(f"{name}_v"),
            *[F.col(c) for c in extra],
            F.posexplode(sketch(F.col(vec_col))).alias("tbl", "bucket"),
        )

    # broadcast_incoming fits the asymmetric screen (small incoming
    # batch vs big corpus, d06's shape); for the SYMMETRIC all-pairs
    # case (semantic_dedup) the "incoming" side IS the corpus and
    # must shuffle-join instead. self_join restricts candidates to
    # one orientation (q_id < c_id) BEFORE the exact-cosine verify —
    # symmetric sketches emit every colliding pair twice, and the
    # verify is the dominant per-candidate cost.
    symmetric = self_join and not broadcast_incoming
    if symmetric:
        # symmetric: sketch the corpus ONCE (the Arrow matmul is the
        # dominant per-row cost) and self-join the persisted frame —
        # same persisted-signature posture as d03. The persist is
        # SCOPED to this call: the candidate frame is materialized
        # below (localCheckpoint) and the sketch frame unpersisted
        # before returning, so long-lived sessions don't accumulate a
        # cached frame per semantic_dedup call.
        c_side = sketched(spread(corpus), "c", corpus_extra_cols).persist()
        q_side = c_side.select(
            F.col("c_id").alias("q_id"),
            F.col("c_v").alias("q_v"),
            "tbl",
            "bucket",
        )
    else:
        c_side = sketched(spread(corpus), "c", corpus_extra_cols)
        q_side = sketched(incoming, "q")
        if broadcast_incoming:
            q_side = F.broadcast(q_side)
    orient = (
        (F.col("q_id") < F.col("c_id"))
        if self_join
        else (F.col("q_id") != F.col("c_id"))
    )
    cands = (
        c_side
        .join(q_side, ["tbl", "bucket"])
        .filter(orient)
        .select(
            F.col("q_id").alias("id_a"),
            F.col("c_id").alias("id_b"),
            "q_v",
            "c_v",
            *corpus_extra_cols,
        )
        .distinct()
    )
    # Filter on the UNROUNDED cosine (matching the SQL oracle, which
    # has no round in its predicate) and round only in the final
    # projection — filtering post-round would keep a pair whose true
    # cosine sits in [threshold-5e-7, threshold) that the oracle drops.
    out = (
        cands.withColumn("_cos", cosine(F.col("q_v"), F.col("c_v")))
        .filter(F.col("_cos") >= threshold)
        .select(
            "id_a",
            "id_b",
            F.round(F.col("_cos"), 6).alias("cosine_sim"),
            *corpus_extra_cols,
        )
    )
    if symmetric:
        # materialize the VERIFIED pairs off the persisted sketch,
        # then drop it: checkpointing after the exact-cosine verify
        # stores only (id_a, id_b, sim) — near true-pair volume and
        # three narrow columns, vs the sketch's |corpus|·tables rows
        # of vectors. Checkpoint storage is ContextCleaner-managed
        # (reclaimed when the returned frame is dropped), so nothing
        # outlives the caller's use of the result.
        from ..plan_debug import note_subtree

        out = note_subtree("embedding_near_dup.pairs", out).localCheckpoint(eager=True)
        c_side.unpersist()
    return out


def lsh_bucketed_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    bits: int = 4,
    tables: int = 16,
) -> DataFrame:
    """Approximate cosine top-k: equi-join on (table, bucket) sketches,
    exact rescoring of candidates, top-k window. Candidate volume is
    O(n/2^bits) per table per query instead of O(n)."""

    sketch = _sketch_all_tables(dim, bits, tables)

    def sketched(df: DataFrame, name: str) -> DataFrame:
        # ONE corpus pass; all tables' buckets come from a single
        # Arrow-batched matmul (n×dim @ dim×(tables·bits)), posexploded
        # into (tbl, bucket) rows. A per-table expression tree would
        # spend seconds in codegen alone at these widths.
        return df.select(
            F.col(id_col).alias(f"{name}_id"),
            F.col(vec_col).alias(f"{name}_v"),
            F.posexplode(sketch(F.col(vec_col))).alias("tbl", "bucket"),
        )

    from ..io import spread

    qs = sketched(queries, "q")
    cs = sketched(spread(corpus), "c")
    cands = (
        cs.join(F.broadcast(qs), ["tbl", "bucket"])
        .filter(F.col("q_id") != F.col("c_id"))
        .select(F.col("q_id").alias("query_id"), F.col("c_id").alias("neighbor_id"), "q_v", "c_v")
        .distinct()
    )
    scored = cands.withColumn("cosine_sim", F.round(cosine(F.col("q_v"), F.col("c_v")), 6))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rk")
    )


def semantic_dedup(
    embeddings: DataFrame,
    threshold: float = 0.99,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Semantic deduplication (the SemDeDup practice — Abbas et al.
    2023, "SemDeDup: Data-efficient learning at web-scale through
    semantic deduplication", public): documents whose EMBEDDINGS are
    near-identical are duplicates even when their text is not, so the
    dedup unit is the embedding-cosine near-dup graph's connected
    component, canonicalized to its minimum id.

    Composition of existing gated machinery: sign-sketch LSH pair
    generation (:func:`embedding_near_dup_join`, gate d06) →
    alternating-star connected components (`operators/graph`, gate
    x03) → min-id survivor. Returns (node, component, is_canonical)
    for every embedding row.

    SemDeDup proper clusters with k-means first and dedups within
    clusters; the LSH bucket join here plays the same
    candidate-bounding role with an exact verify, so the output is
    threshold-exact rather than cluster-approximate.
    """
    from .graph import canonicalize_components, connected_components

    pairs = embedding_near_dup_join(
        embeddings,
        embeddings,
        threshold=threshold,
        id_col=id_col,
        vec_col=vec_col,
        dim=dim,
        broadcast_incoming=False,  # symmetric: "incoming" IS the corpus
        self_join=True,  # one orientation, pre-verify
    )
    labels = connected_components(
        pairs, src="id_a", dst="id_b", nodes=embeddings, node_col=id_col
    )
    return canonicalize_components(labels)


def _quantize_batch():
    """Factory: Arrow-vectorized scalar int8 quantizer. One numpy
    pass per batch; every op is IEEE-754 double arithmetic (widening
    float32→float64 is exact, and +,-,*,/,min,max,floor are exactly
    rounded), so a SQL engine replaying the same expression over the
    same floats reproduces every code and error bit-for-bit — that is
    what lets the driver gate hash-check the full code vector."""
    import numpy as np

    def f(s: pd.Series) -> pd.DataFrame:
        X = np.stack([np.asarray(v, dtype=np.float64) for v in s])
        vmin = X.min(axis=1)
        vmax = X.max(axis=1)
        scale = (vmax - vmin) / 255.0
        safe = np.where(scale == 0.0, 1.0, scale)
        codes = np.floor((X - vmin[:, None]) / safe[:, None] + 0.5)
        codes = np.clip(codes, 0.0, 255.0)
        codes[scale == 0.0] = 0.0
        recon = vmin[:, None] + codes * scale[:, None]
        # per-element |err| quantized to integer microunits BEFORE the
        # sum: int64 addition is order-free, so the aggregate survives
        # any partitioning (and matches DuckDB's sequential list_sum)
        err_micro = np.floor(np.abs(X - recon) * 1e6 + 0.5).astype(np.int64)
        return pd.DataFrame(
            {
                "codes": list(codes.astype(np.int32)),
                "vmin": vmin,
                "scale": scale,
                "err_micro_sum": err_micro.sum(axis=1),
            }
        )

    return F.pandas_udf(
        f, "struct<codes:array<int>, vmin:double, scale:double, err_micro_sum:bigint>"
    )


def quantize_embeddings(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-vector scalar int8 quantization (the standard serving /
    storage compression for embedding columns — e.g. FAISS
    ``ScalarQuantizer`` QT_8bit, public): ``code = round((x - min) /
    scale)`` with ``scale = (max - min)/255``, reconstruction
    ``min + code·scale``.

    Scale shape: one Arrow-batched projection — NO shuffle, no join;
    at 100 TB this runs as a pure map over the scan, and the 4×
    size reduction (float32 → int8 + 2 doubles) is the point.
    Returns one row per vector: the quantization params (rounded for
    float-print stability), an exact md5 checksum of the full code
    vector (the gate covers every code, not a summary), the exact
    integer code sum/min/max, and the mean reconstruction error in
    1e-6 units (integer-accumulated, order-free).

    Implemented as a vectorized numpy batch pass rather than JVM
    higher-order lambdas: per SCALING.md, Spark evaluates array
    lambdas interpretively, and referencing the row's min/scale
    inside a ``transform`` body would re-evaluate the aggregate per
    element (the unbound-expression-in-lambda trap)."""
    q = _quantize_batch()(F.col(vec_col)).alias("q")
    codes = F.col("q.codes")
    return embeddings.select(F.col(id_col), q).select(
        F.col(id_col),
        F.size(codes).alias("n_dims"),
        F.round(F.col("q.vmin"), 6).alias("vmin_q"),
        F.round(F.col("q.scale"), 6).alias("scale_q"),
        F.md5(F.concat_ws(" ", F.transform(codes, lambda c: c.cast("string")))).alias(
            "codes_md5"
        ),
        F.aggregate(codes, F.lit(0).cast("bigint"), lambda a, c: a + c).alias("code_sum"),
        F.array_min(codes).cast("int").alias("code_min"),
        F.array_max(codes).cast("int").alias("code_max"),
        # mean |err| in 1e-6 units: exact-int sum / int count — one
        # IEEE division of identical operands, so the value is
        # bit-identical in both engines with NO rounding step (a
        # round(x, 6) here once landed on an exact decimal half-point,
        # where Java rounds the printed decimal and C rounds the
        # binary value — the one divergence class rounding can't fix)
        (F.col("q.err_micro_sum").cast("double") / F.size(codes)).alias("mae_micro"),
    )


def _pq_train(X, m: int, ksub: int, seed: int, iters: int = 10):
    """Driver-side per-subspace k-means (plain L2 Lloyd) over the
    normalized sample matrix. Returns the (m, ksub, dsub) codebook.

    Exactness escape hatch (the gate's degenerate case, same spirit
    as IVF's full-probe form): when a subspace's sample has at most
    ``ksub`` DISTINCT subvectors, the codebook is simply those
    subvectors (padded by repetition) — reconstruction is then exact
    for every sampled vector, so if the sample covers the corpus, PQ
    degenerates to exact search and the brute-force SQL oracle
    applies to the whole encode → ADC → rescore machinery."""
    import numpy as np

    n, dim = X.shape
    dsub = dim // m
    rng = np.random.RandomState(seed)
    books = []
    for j in range(m):
        S = X[:, j * dsub : (j + 1) * dsub]
        uniq = np.unique(S, axis=0)
        if len(uniq) <= ksub:
            C = np.concatenate([uniq, np.repeat(uniq[:1], ksub - len(uniq), axis=0)])
        else:
            C = S[rng.choice(n, size=ksub, replace=False)]
            s2 = (S**2).sum(axis=1, keepdims=True)
            for _ in range(iters):
                # ||s-c||^2 = ||s||^2 - 2 s·c + ||c||^2 via one matmul —
                # the (n × ksub × dsub) broadcast temporary was the
                # dominant cost of the gated x11 config (8.2 → ~2 s)
                d2 = s2 - 2.0 * (S @ C.T) + (C**2).sum(axis=1)[None, :]
                assign = np.argmin(d2, axis=1)
                for c in range(ksub):
                    members = S[assign == c]
                    if len(members):
                        C[c] = members.mean(axis=0)
        books.append(C)
    return np.stack(books)  # (m, ksub, dsub)


def _pq_encode(books):
    """Factory: pandas UDF mapping an embedding to its m PQ codes
    (normalized subvector → nearest codeword per subspace, one numpy
    distance computation per Arrow batch per subspace; ties go to the
    lower code via argmin)."""
    import numpy as np

    m, ksub, dsub = books.shape

    def f(s: pd.Series) -> pd.Series:
        X = np.stack([np.asarray(v, dtype=np.float64) for v in s])
        X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
        out = np.empty((len(X), m), dtype=np.int32)
        for j in range(m):
            S = X[:, j * dsub : (j + 1) * dsub]
            # ||s-c||^2 = ||s||^2 - 2 s·c + ||c||^2; argmin over c
            d2 = (S**2).sum(axis=1, keepdims=True) - 2.0 * (S @ books[j].T) + (
                books[j] ** 2
            ).sum(axis=1)[None, :]
            out[:, j] = np.argmin(d2, axis=1)
        return pd.Series(list(out))

    return F.pandas_udf(f, "array<int>")


def _assign_and_encode_residual(centroids, books):
    """Factory: pandas UDF mapping an embedding to (cell, codes) in
    ONE Arrow pass — the RESIDUAL IVFPQ encode (Jégou et al. 2011
    §V-A, the standard FAISS ``IndexIVFPQ`` form): normalize, assign
    to the nearest centroid by cosine (same stable tie rule as
    :func:`_nearest_cells`), then PQ-encode the residual
    ``x_n − C[cell]`` (NOT re-normalized — the codebooks are trained
    on raw residuals). Residuals are small where cells are tight, so
    the same (m, ksub) budget spends its resolution on the
    within-cell detail the no-residual variant wasted on re-encoding
    the centroid direction."""
    import numpy as np

    C = centroids / np.maximum(np.linalg.norm(centroids, axis=1, keepdims=True), 1e-12)
    m, ksub, dsub = books.shape

    def f(s: pd.Series) -> pd.DataFrame:
        X = np.stack([np.asarray(v, dtype=np.float64) for v in s])
        X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
        cells = np.argmax(X @ C.T, axis=1)  # first-max == lower cell on ties
        R = X - C[cells]
        out = np.empty((len(X), m), dtype=np.int32)
        for j in range(m):
            S = R[:, j * dsub : (j + 1) * dsub]
            d2 = (S**2).sum(axis=1, keepdims=True) - 2.0 * (S @ books[j].T) + (
                books[j] ** 2
            ).sum(axis=1)[None, :]
            out[:, j] = np.argmin(d2, axis=1)
        return pd.DataFrame({"cell": cells.astype(np.int64), "codes": list(out)})

    return F.pandas_udf(f, "cell bigint, codes array<int>")


def pq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    ksub: int = 16,
    candidates: int = 50,
    seed: int = 42,
    train_sample: int = 4096,
    where: Column | None = None,
) -> DataFrame:
    """Product-quantization ANN (Jégou et al. 2011, "Product
    quantization for nearest neighbor search", public — the FAISS
    ``PQ``/``IVFPQ`` practice): vectors are split into ``m``
    subspaces, each subvector replaced by its nearest codeword id
    from a per-subspace ``ksub``-entry codebook; a query scores the
    whole corpus with the Asymmetric Distance Computation — one
    (m × ksub) lookup table of query-subvector · codeword inner
    products, so scoring a candidate is m table lookups instead of a
    ``dim``-wide dot product. Codes are 4× to 32× smaller than the
    vectors, which is what makes a 100 TB corpus scannable.

    Spark shape — the part that must survive 1000 executors:

    - the codebook trains DRIVER-side on a hash-ordered ≤
      ``train_sample`` sample (the FAISS practice, same as
      :func:`ivf_topk`), milliseconds of numpy;
    - corpus encoding is one Arrow-batched projection (no shuffle);
    - ADC scoring + per-partition top-``candidates`` is a
      ``mapInPandas`` over the (id, codes) stream — Python sees only
      int codes, never the vectors, and each partition emits at most
      |queries|·``candidates`` rows, so the shuffle that follows is
      bounded by queries·candidates·partitions regardless of corpus
      size;
    - global top-``candidates`` per query, then EXACT cosine
      rescoring against the raw vectors (broadcast-joined back:
      candidate ids are a small side, the corpus never shuffles),
      then the final top-k — identical tie-breaking to m01.

    The gate (x11) runs the degenerate-exact configuration (see
    :func:`_pq_train`); the production setting (x12) is benched with
    a pytest-pinned recall floor vs the m01 brute force.

    ``where`` gives filtered search (⊕M7): codebooks still train on
    the unfiltered sample (the FAISS selector model — the index is
    predicate-independent), only matching rows are encoded/scanned,
    and the candidate budget is spent on matching rows only."""
    books = _pq_train_on(corpus, m, ksub, seed, train_sample, id_col, vec_col)
    encode = _pq_encode(books)
    scan = corpus.filter(where) if where is not None else corpus
    coded = scan.select(
        F.col(id_col).alias("neighbor_id"), encode(F.col(vec_col)).alias("codes")
    )
    # rescore against the FILTERED frame too: candidate ids are a
    # subset of the filtered rows, so this is result-identical and
    # keeps the predicate pushed into the second corpus scan
    return _pq_adc_rescore(queries, scan, books, coded, k, candidates, id_col, vec_col)


def _pq_train_on(
    corpus: DataFrame, m, ksub, seed, train_sample, id_col, vec_col
):
    """Driver-side PQ codebook training on the hash-ordered sample."""
    import numpy as np

    sample = (
        corpus.select(F.col(vec_col).alias("v"))
        .orderBy(F.xxhash64(F.col(id_col), F.lit(seed)))
        .limit(train_sample)
        .collect()
    )
    X = np.array([r["v"] for r in sample], dtype=np.float64)
    X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    return _pq_train(X, m=m, ksub=ksub, seed=seed)


# Query batches above this bound must be chunked by the caller — the
# driver builds an (n_q × m × ksub) ADC table per batch, so the
# memory is O(n_q); 65536 queries × 8×16 doubles ≈ 64 MB, safely
# inside any driver heap, while 10^8 queries would OOM it. The bound
# is a guard on the SERVING posture (small query batch, huge corpus),
# not a scalability ceiling: disjoint query chunks are independent
# jobs and their results concatenate exactly.
MAX_QUERY_ROWS = 65536


def _collect_query_rows(queries: DataFrame, id_col: str, vec_col: str):
    """Collect the query batch driver-side with an explicit bound
    (``take(N+1)`` — never materializes an unbounded frame)."""
    rows = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col)
    ).take(MAX_QUERY_ROWS + 1)
    if len(rows) > MAX_QUERY_ROWS:
        raise ValueError(
            f"query batch exceeds MAX_QUERY_ROWS={MAX_QUERY_ROWS}; "
            "ANN serving collects the query side to build ADC/probe "
            "tables — split the query frame into chunks (results of "
            "disjoint chunks concatenate exactly) or use the "
            "brute-force cosine_topk_bruteforce path for "
            "corpus-vs-corpus jobs"
        )
    return rows


def _pq_adc_rescore(
    queries: DataFrame,
    corpus: DataFrame,
    books,
    coded: DataFrame,
    k: int,
    candidates: int,
    id_col: str,
    vec_col: str,
    probe_centroids=None,
    nprobe: int = 0,
    residual: bool = False,
) -> DataFrame:
    """ADC scan + candidate shuffle + exact rescore half of PQ,
    shared by :func:`pq_topk` and :func:`ivfpq_topk`.

    With ``probe_centroids``/``nprobe`` set (the IVFPQ form),
    ``coded`` must carry a ``cell`` column and each query only scores
    neighbors whose cell is among its ``nprobe`` nearest centroids —
    the inverted-file restriction that makes the ADC scan read
    nprobe/nlist of the corpus instead of all of it.

    Query-side driver residency is BOUNDED (r5 verdict item 4): the
    ADC tables live on the driver and broadcast with the scan, which
    is the FAISS serving posture — bounded query batches against a
    huge corpus. The corpus side never collects; the query side is
    guarded by :func:`_collect_query_rows` and refuses batches above
    ``MAX_QUERY_ROWS`` with instructions to chunk, instead of
    silently OOMing the driver on a 10^8-row query frame."""
    import numpy as np

    m = books.shape[0]
    qrows = _collect_query_rows(queries, id_col, vec_col)
    qids = np.array([r["query_id"] for r in qrows], dtype=np.int64)
    Q = np.array([r[vec_col] for r in qrows], dtype=np.float64)
    Q = Q / np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-12)
    dsub = Q.shape[1] // m
    # ADC tables: tables[q, j, c] = q_sub_j · codeword_jc
    tables = np.stack(
        [Q[:, j * dsub : (j + 1) * dsub] @ books[j].T for j in range(m)], axis=1
    )
    probes = None
    cell_base = None
    if probe_centroids is not None:
        C = probe_centroids / np.maximum(
            np.linalg.norm(probe_centroids, axis=1, keepdims=True), 1e-12
        )
        qc = Q @ C.T  # (n_q, nlist): q · C_cell
        order = np.argsort(-qc, axis=1, kind="stable")[:, :nprobe]
        probes = order  # (n_q, nprobe) — same stable-tie rule as _nearest_cells
        if residual:
            # residual form: x_n ≈ C_cell + decode(codes), so
            # q·x_n ≈ q·C_cell + Σ_j T[q, j, code_j] — the first term
            # is this per-(query, cell) base matrix
            cell_base = qc

    def adc_partition(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            codes = np.stack(pdf["codes"].values)  # (B, m)
            scores = np.zeros((len(qids), len(pdf)), dtype=np.float64)
            for j in range(m):
                scores += tables[:, j, :][:, codes[:, j]]
            nb = pdf["neighbor_id"].values
            if probes is not None:
                cells = pdf["cell"].values.astype(np.int64)  # (B,)
                if cell_base is not None:
                    scores += cell_base[:, cells]
                # allowed[q, b] ⇔ cells[b] ∈ probes[q]
                allowed = (probes[:, :, None] == cells[None, None, :]).any(axis=1)
                scores[~allowed] = -np.inf
            # mask self-matches BEFORE the per-partition cut: a query
            # colocated with its own code row must not consume one of
            # its `candidates` slots (that was a small recall bias)
            scores[np.equal.outer(qids, nb.astype(np.int64))] = -np.inf
            top = min(candidates, scores.shape[1])
            idx = np.argpartition(-scores, top - 1, axis=1)[:, :top]
            out = pd.DataFrame(
                {
                    "query_id": np.repeat(qids, top),
                    "neighbor_id": nb[idx.ravel()],
                    "adc": np.take_along_axis(scores, idx, axis=1).ravel(),
                }
            )
            # drop masked rows (-inf: unprobed cell or self) — a
            # partition with fewer than `candidates` allowed rows
            # would otherwise leak disallowed neighbors downstream
            yield out[
                (out["query_id"] != out["neighbor_id"])
                & np.isfinite(out["adc"].values)
            ]

    local = coded.mapInPandas(
        adc_partition, "query_id bigint, neighbor_id bigint, adc double"
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("adc").desc(), F.col("neighbor_id").asc()
    )
    cand = (
        local.withColumn("crk", F.row_number().over(wq))
        .filter(F.col("crk") <= candidates)
        .select("query_id", "neighbor_id")
    )
    # exact rescore: the small candidate frame broadcasts into the
    # corpus scan (no corpus shuffle), then the query vectors join on
    cv = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
    qv = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    scored = (
        cv.join(F.broadcast(cand), "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .withColumn("cosine_sim", F.round(cosine(F.col("qv"), F.col("cv")), 6))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rk")
    )


def ivfpq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nlist: int = 16,
    nprobe: int = 4,
    m: int = 8,
    ksub: int = 16,
    candidates: int = 50,
    seed: int = 42,
    train_sample: int = 4096,
    where: Column | None = None,
) -> DataFrame:
    """IVF+PQ combined ANN (the FAISS ``IVFPQ`` production shape,
    Jégou et al. 2011 §V: inverted file for candidate pruning, product
    codes for compressed scoring), in the standard RESIDUAL form —
    codes encode ``x_n − C[cell]`` so the (m, ksub) budget resolves
    within-cell detail instead of re-encoding the centroid direction
    (r5: the no-residual variant's production recall was 0.37; the
    residual form recovers the recall FAISS users expect at the same
    compression). Composition of the existing gated machinery:

    - coarse quantizer: driver-side spherical k-means on the hash
      sample (:func:`_spherical_kmeans`, the m03/x02 leg);
    - codebooks: :func:`_pq_train` on the SAMPLE RESIDUALS
      (assignment by the same stable cosine-argmax as serving);
    - codes: cell id + residual codes in ONE Arrow projection
      (:func:`_assign_and_encode_residual`);
    - search: the shared ADC scan restricted to each query's
      ``nprobe`` nearest cells, scoring
      ``q·C_cell + Σ_j T[q, j, code_j]`` (the per-cell base term is
      an (n_q × nlist) driver matrix, one extra fancy-index add per
      batch), then the usual bounded candidate shuffle + broadcast
      exact rescore.

    Scale shape: the corpus is stored once as (id, cell, m int8
    codes) — 32× smaller than the vectors — and a query batch reads
    nprobe/nlist of it. Degenerate-exact gate: at
    ``nprobe == nlist`` with a corpus-covering sample and
    ``ksub`` ≥ distinct residual subvectors, reconstruction
    ``C_cell + decode(codes)`` is exact, so the output equals m01's
    brute force (same argument as x11/m03) — what c24 gates; the
    production setting carries a pytest recall floor."""
    centroids, books = _ivfpq_train_on(
        corpus, nlist, m, ksub, seed, train_sample, id_col, vec_col
    )
    assign_encode = _assign_and_encode_residual(centroids, books)
    # filtered search (⊕M7): train unfiltered, encode/scan only
    # matching rows — the pq_topk/ivf_topk posture
    if where is not None:
        corpus_scan = corpus.filter(where)
    else:
        corpus_scan = corpus
    coded = corpus_scan.select(
        F.col(id_col).alias("neighbor_id"),
        assign_encode(F.col(vec_col)).alias("ce"),
    ).select("neighbor_id", F.col("ce.cell").alias("cell"), F.col("ce.codes").alias("codes"))
    # rescore against the filtered frame (result-identical — the
    # candidates are a subset of it — and the predicate stays pushed
    # into the second corpus scan)
    return _pq_adc_rescore(
        queries,
        corpus_scan,
        books,
        coded,
        k,
        candidates,
        id_col,
        vec_col,
        probe_centroids=centroids,
        nprobe=nprobe,
        residual=True,
    )


def _ivfpq_train_on(
    corpus: DataFrame, nlist, m, ksub, seed, train_sample, id_col, vec_col
):
    """Driver-side IVFPQ training on the hash-ordered sample: coarse
    centroids by spherical k-means, then PQ codebooks on the sample
    RESIDUALS (assigned by the same stable cosine-argmax the encode
    and serving paths use — train/encode assignment parity is what
    makes the degenerate-exact gate argument hold)."""
    import numpy as np

    sample = (
        corpus.select(F.col(vec_col).alias("v"))
        .orderBy(F.xxhash64(F.col(id_col), F.lit(seed)))
        .limit(train_sample)
        .collect()
    )
    X = np.array([r["v"] for r in sample], dtype=np.float64)
    centroids = _spherical_kmeans(X, nlist=nlist, seed=seed)
    Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    assign = np.argmax(Xn @ centroids.T, axis=1)
    books = _pq_train(Xn - centroids[assign], m=m, ksub=ksub, seed=seed)
    return centroids, books


def label_centroid_stats(
    embeddings: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-group embedding centroid + compactness audit (the cluster
    health check every embedding-curation pipeline runs — SemDeDup /
    DBSCAN-style curation decides per-cluster, so the pipeline needs
    per-cluster mean vectors and cosine-to-centroid spreads).

    The centroid is a per-DIMENSION mean: ``posexplode`` the vectors
    to (label, pos, val) and aggregate with exact DECIMAL sums (a
    64-dim double sum is order-dependent; decimal accumulation makes
    the result partitioning-proof and oracle-identical — see
    plans/_numeric.py), then reassemble the 64 means into an array
    ordered by position. Scale shape: ONE shuffle on (label, pos) —
    the map-side partial agg collapses each partition to
    |labels|·dim rows, so the shuffle volume is tiny regardless of
    corpus size; the finished centroid frame (|labels| rows)
    broadcasts back onto the vectors for the cosine-to-centroid pass,
    and the final per-label rollup map-side combines again."""
    from ..plans._numeric import davg

    el = embeddings.select(
        F.col(label_col), F.posexplode(F.col(vec_col)).alias("pos", "val")
    ).withColumn("val", F.col("val").cast("double"))
    cent = el.groupBy(label_col, "pos").agg(davg("val").alias("mean"))
    carr = cent.groupBy(label_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "mean"))), lambda s: s["mean"]
        ).alias("centroid")
    )
    scored = embeddings.join(F.broadcast(carr), label_col).select(
        F.col(label_col),
        F.col("centroid"),
        F.round(cosine(F.col(vec_col), F.col("centroid")), 6).alias("cos_c"),
    )
    return (
        scored.groupBy(label_col)
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(F.first(l2norm(F.col("centroid"))), 6).alias("centroid_norm_q"),
            F.round(davg("cos_c"), 6).alias("mean_cos"),
            F.round(F.min("cos_c"), 6).alias("min_cos"),
            F.round(F.max("cos_c"), 6).alias("max_cos"),
        )
    )
