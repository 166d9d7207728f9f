"""Cosine similarity over embedding columns.

- :func:`dot`, :func:`l2norm`, :func:`cosine` — JVM-side
  higher-order column expressions (``zip_with`` + ``aggregate``).
- :func:`cosine_topk_bruteforce` — exact top-k: broadcast the query
  set, score every (query, candidate) pair, one top-k window. The
  exact reference the hashed-vector tests compare against.
- :func:`embedding_near_dup_join` — every (incoming, corpus) pair
  with cosine at or above a threshold: sign-bit LSH candidates, then
  an exact verify (gate d06).
- :func:`semantic_dedup` — near-dup pairs → connected components →
  min-id survivor (gate x21).
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
) -> DataFrame:
    """Exact cosine top-k of ``corpus`` for each row of ``queries``.

    Returns (query_id, neighbor_id, cosine_sim, rk). Self-matches are
    excluded. Ties broken by neighbor id (determinism, reference W4
    discipline)."""
    from ..io import spread

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
    counter mode). Computed ONCE on the driver and shipped inside the
    sketch UDF — hashing per row per component would dominate the
    sketch cost."""
    import hashlib

    out = []
    for i in range(dim):
        h = hashlib.sha256(f"{seed}:{j}:{i}".encode()).digest()
        out.append((int.from_bytes(h[:8], "big") % 20000) / 10000.0 - 1.0)
    return out


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
    bucket) — one Arrow-batched matmul per side
    (:func:`_sketch_all_tables`) — then exact cosine verification. Near-dup
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
    join per class. Extras ride the candidate ``distinct``, so a corpus
    id present under two tag values yields one pair row per value — by
    design (each class applies its own keep rule).
    """
    from ..io import spread

    # extras must not collide with the join's internal column names
    # (a caller passing one of these would get an ambiguous-column
    # error or a silently wrong select downstream)
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
