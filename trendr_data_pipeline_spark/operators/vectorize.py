"""Feature-hashing text vectorizer (north-star op: the hashing-trick
/ signed feature hashing of Weinberger et al. 2009, "Feature Hashing
for Large Scale Multitask Learning", public — the fastText /
Vowpal-Wabbit practice): a document becomes a fixed-``dim`` sparse
vector with ``v[h(token) mod dim] += sign(token) · tf`` — no
vocabulary to build, no dictionary to ship, trivially parallel.

Engine-portable by construction: the bucket and sign come from md5
(the same deterministic device as ``sampling.hash_fraction``), so a
SQL engine reproduces every bucket weight exactly and the driver gate
hash-checks the whole sparse matrix at the (doc, bucket) grain.

Scale shape: explode tokens → ONE shuffle on (doc, bucket) with
map-side partial aggregation (each task collapses to ≤ |docs|·dim
rows before the exchange); everything is JVM expressions — md5,
conv, pmod — no Python anywhere. The dense-assembly step is a
per-doc ``collect_list`` over the already-aggregated sparse rows
(≤ dim rows per doc).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _bucket(tok: F.Column, dim: int, salt: str = "fh") -> F.Column:
    """md5-derived bucket in [0, dim) — DuckDB twin:
    ``('0x' || substr(md5('<salt>' || tok), 1, 8))::BIGINT % dim``.
    Single home of the engine-parity-critical hashing device; other
    feature spaces (DSIR's ``'ir'``) pass their own salt instead of
    re-implementing the expression."""
    h = F.conv(F.substring(F.md5(F.concat(F.lit(salt), tok)), 1, 8), 16, 10)
    return F.pmod(h.cast("bigint"), F.lit(dim))


def _sign(tok: F.Column) -> F.Column:
    """±1 from an independent md5 nibble (the SIGNED hashing trick —
    kills the summed-collision bias). DuckDB twin:
    ``CASE WHEN ('0x' || substr(md5('fs' || tok), 1, 1))::INT < 8
    THEN 1 ELSE -1 END``."""
    n = F.conv(F.substring(F.md5(F.concat(F.lit("fs"), tok)), 1, 1), 16, 10)
    return F.when(n.cast("int") < 8, F.lit(1)).otherwise(F.lit(-1))


def hashed_tf_sparse(
    docs: DataFrame,
    dim: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Sparse signed-hash TF matrix: one row per (doc, bucket) with
    the integer signed term-frequency sum ``w`` (exact — no floats
    anywhere, so the gate compares integers). Buckets whose signed
    weights cancel to 0 are dropped (sparse semantics, mirrored by
    the oracle's HAVING); a doc ALL of whose buckets cancel — or with
    no tokens — therefore has no rows here. Pass such corpora through
    :func:`assemble_dense` with ``all_ids`` to keep their zero
    vectors."""
    from ..functions.text import tokens

    toks = tokens(F.lower(F.col(text_col)))
    t = docs.select(F.col(id_col), F.explode(toks).alias("tok"))
    return (
        t.groupBy(id_col, _bucket(F.col("tok"), dim).alias("bucket"))
        .agg(F.sum(_sign(F.col("tok"))).alias("w"))
        .filter(F.col("w") != 0)
    )


def assemble_dense(
    sparse: DataFrame,
    dim: int = 64,
    id_col: str = "doc_id",
    all_ids: DataFrame | None = None,
) -> DataFrame:
    """Dense ``array<double>`` per doc from the sparse rows (zeros
    filled) — the shape the similarity operators consume, so hashed
    text vectors drop straight into the cosine operators.

    Docs with NO sparse rows (token-less, or every bucket cancelled
    to 0 under the signed hash — probability ~1/dim² per colliding
    opposite-sign pair) are absent from ``sparse``; pass ``all_ids``
    (a frame containing ``id_col``) to emit their all-zero vectors
    instead of silently dropping them from downstream similarity."""
    pairs = F.collect_list(
        F.struct(F.col("bucket"), F.col("w").cast("double").alias("w"))
    )
    agged = sparse.groupBy(id_col).agg(pairs.alias("_p"))
    if all_ids is not None:
        agged = (
            all_ids.select(id_col)
            .distinct()
            .join(agged, id_col, "left")
            .withColumn(
                "_p",
                F.coalesce(
                    F.col("_p"),
                    F.array().cast("array<struct<bucket:bigint,w:double>>"),
                ),
            )
        )
    zero = F.array_repeat(F.lit(0.0), dim)

    # scatter by folding the sparse pairs into a zero vector; acc and
    # s are BOUND lambda arguments, so nothing re-evaluates per
    # element (the unbound-expression-in-lambda trap — SCALING.md)
    def scatter(acc, s):
        b = s["bucket"].cast("int")
        return F.concat(F.slice(acc, 1, b), F.array(s["w"]), F.slice(acc, b + 2, dim))

    return agged.select(
        F.col(id_col), F.aggregate(F.col("_p"), zero, scatter).alias("embedding")
    )
