"""Deduplication operators for document corpora (⊕ SURVEY §2, J13;
north-star LLM-pipeline ops).

Four strategies, in increasing tolerance:

- :func:`exact_duplicate_groups` — hash-groupBy on a canonical
  fingerprint. One shuffle on the (short) fingerprint.
- :func:`jaccard_similarity_pairs` — **exact** token-set Jaccard join
  with prefix filtering: candidate pairs must share a token from each
  document's rarest-token prefix, which bounds the inverted-index
  fan-out while keeping exact results (Chaudhuri et al., "A Primitive
  Operator for Similarity Joins", ICDE'06 — public algorithm).
- :func:`minhash_lsh_pairs` — MinHash signatures + LSH banding, then
  exact verification of candidates. The scale path: shuffle volume is
  O(docs × bands), never O(docs²).
- :func:`simhash64` — 64-bit SimHash fingerprints for
  hamming-distance near-dup bucketing.

All hashing uses Spark's builtin ``xxhash64`` with literal seeds —
deterministic, JVM-side, no Python in the hot path except the SimHash
bit-vote (vectorized pandas UDF).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.text import tokens
from ..io import spread

# ---------------------------------------------------------------------------
# canonical token set
# ---------------------------------------------------------------------------


def token_set(col: Column) -> Column:
    """Sorted distinct lowercase tokens — the document's set
    representation for Jaccard-family ops."""
    return F.array_sort(F.array_distinct(tokens(F.lower(col))))


def bow_fingerprint(col: Column) -> Column:
    """md5 of the sorted distinct-token bag — exact-dup key invariant
    to word order and repetition."""
    return F.md5(F.array_join(token_set(col), " "))


def hashed_toks(col: Column | str) -> Column:
    """Token array as xxhash64 longs — the VERIFY-leg representation
    (r13 optimization, guide §2.3 narrower types): ``array_intersect``
    over 8-byte longs skips per-element string hashing/equality and
    runs ~2× faster at these set sizes (measured 2.9 s → 1.6 s per 2M
    pairs), and intersect/union CARDINALITIES — all Jaccard needs —
    are preserved exactly because xxhash64 is injective on any
    realistic vocabulary (a collision needs two distinct tokens in
    one corpus hashing equal at 64 bits, p ≈ V²/2⁶⁵; the oracle gate
    would catch one deterministically). Tokens stay strings on the
    prefix/df legs, which order and count them."""
    return F.transform(col, lambda x: F.xxhash64(x))


def _ngram_zip_fold(arr: Column, n: int, sep: str) -> Column:
    """All n-grams of ``arr`` (length ≥ n assumed) as sep-joined
    strings, built by zipping n shifted slices. ``slice`` takes the
    array as a DIRECT argument — evaluated n times per ROW — so no
    complex expression lands in a lambda body, where it would
    re-evaluate per ELEMENT (the unbound-expression-in-lambda trap:
    the transform(sequence, i -> ...slice(arr, i, n)...) form embeds
    the whole ``arr`` tree in the per-gram lambda, measured 3× on
    winnowing and 20× on quality.word_bigrams)."""
    m = F.size(arr) - (n - 1)
    acc = F.slice(arr, 1, m)
    for j in range(1, n):
        acc = F.zip_with(
            acc,
            F.slice(arr, 1 + j, m),
            lambda a, b: F.concat(a, F.lit(sep), b) if sep else F.concat(a, b),
        )
    return acc


def shingle_set(col: Column, n: int = 5) -> Column:
    """Sorted distinct character n-gram shingles of the lowercased
    text — the classic near-dup representation (robust to word
    reordering AND intra-word edits, unlike word tokens). Pure JVM:
    n shifted slices of the char array zipped back together (see
    :func:`_ngram_zip_fold` for why not substring-over-sequence)."""
    cs = F.split(F.lower(col), "")
    m = F.length(F.lower(col)) - (n - 1)
    return F.when(
        m >= 1, F.array_sort(F.array_distinct(_ngram_zip_fold(cs, n, "")))
    ).otherwise(F.array().cast("array<string>"))


def shingle_hashes(col: Column, n: int = 5) -> Column:
    """Distinct character n-gram shingles of the lowercased text as
    64-bit integers — the hot-path twin of :func:`shingle_set`.

    Spark evaluates higher-order array lambdas interpretively (no
    codegen), so the substring-transform form costs ~1 ms/KB of text —
    it dominates d05's runtime. This form is one Arrow-batched numpy
    pass: utf-8 bytes → stride-tricks sliding window (n × uint8) →
    dot with 256^k powers → ``np.unique``. The packed value is an
    INJECTIVE encoding of the n bytes (n ≤ 8), not a hash — distinct
    counts match the string form exactly, with no collision caveat.
    Byte-level n-grams equal character-level ones on ASCII text; for
    multibyte corpora the window is over utf-8 bytes (documented
    divergence from ``substring`` semantics — still a valid shingle
    family, but not the oracle's char one).

    Returns array<long>, deduplicated, in UNSIGNED ascending order
    (np.unique on uint64): for n = 8 a packed value ≥ 2⁶³ wraps to a
    negative int64, so the array is NOT signed-ascending — consumers
    must treat it as an unordered distinct set (every current caller
    does: explode → join).
    """
    assert n <= 8, "packed shingles hold at most 8 bytes"
    import numpy as np

    powers = (256 ** np.arange(n, dtype=np.uint64)).astype(np.uint64)

    def batch(s: pd.Series) -> pd.Series:
        out = []
        for text in s:
            if text is None:
                out.append(np.empty(0, dtype=np.int64))
                continue
            b = np.frombuffer(text.lower().encode("utf-8"), dtype=np.uint8)
            if len(b) < n:
                out.append(np.empty(0, dtype=np.int64))
                continue
            win = np.lib.stride_tricks.sliding_window_view(b, n).astype(np.uint64)
            packed = (win * powers[None, :]).sum(axis=1, dtype=np.uint64)
            out.append(np.unique(packed).astype(np.int64))
        return pd.Series(out)

    return F.pandas_udf(batch, "array<long>")(col)


def word_ngrams(col: Column, n: int = 8) -> Column:
    """Distinct word n-grams of the lowercased text (space-joined
    token windows) — the decontamination unit: training corpora are
    screened for documents sharing an n-gram with an evaluation
    benchmark (the GPT-3 13-gram practice; 8 here because the fixture
    docs are short). Empty array when the document has fewer than
    ``n`` tokens. Built with the slice-zip fold (:func:`_ngram_zip_fold`)
    so the tokenize tree is evaluated n times per ROW, not once per
    gram (the previous transform-over-sequence form re-tokenized the
    document per gram slot)."""
    toks = tokens(F.lower(col))
    m = F.size(toks) - (n - 1)
    return F.when(m >= 1, F.array_distinct(_ngram_zip_fold(toks, n, " "))).otherwise(
        F.array().cast("array<string>")
    )


def word_ngram_hashes(col: Column, n: int = 8, positional: bool = False) -> Column:
    """Distinct word n-grams as order-sensitive 64-bit hashes — the
    hot-path twin of :func:`word_ngrams` (whose per-gram slice +
    array_join lambdas are interpreted and dominate t05's runtime,
    measured 4.5 s of its 4.9 s at sf0.1).

    One Arrow-batched pass: tokens via ASCII ``\\s+`` split (matching
    Java-regex ``tokens()`` semantics), each distinct token hashed once
    per batch (blake2b-64, cached — the reference corpora have tiny
    vocabularies relative to token counts), then every window combined
    through positional odd multipliers (order-SENSITIVE, unlike a bag
    hash) with a numpy sliding-window dot. Used as an internal join
    key only — both sides of the contamination semi-join use the same
    encoding, so the ~2⁻⁶⁴-per-pair collision odds are the only
    approximation (same posture as d05's hashed shingles).

    ``positional=True`` keeps ALL windows in document order (index i =
    the gram starting at 1-based token position i+1) instead of the
    distinct set — the shape span-level dedup needs."""
    import hashlib
    import re

    import numpy as np

    mults = np.array(
        [int.from_bytes(hashlib.sha256(f"ng-m{k}".encode()).digest()[:8], "big") | 1
         for k in range(n)],
        dtype=np.uint64,
    )

    def batch(s: pd.Series) -> pd.Series:
        cache: dict[str, int] = {}

        def th(t: str) -> int:
            h = cache.get(t)
            if h is None:
                h = cache[t] = int.from_bytes(
                    hashlib.blake2b(t.encode("utf-8"), digest_size=8).digest(), "big"
                )
            return h

        out = []
        with np.errstate(over="ignore"):
            for text in s:
                toks = [w for w in re.split(r"\s+", text.lower(), flags=re.ASCII) if w] \
                    if text is not None else []
                if len(toks) < n:
                    out.append(np.empty(0, dtype=np.int64))
                    continue
                h = np.fromiter((th(t) for t in toks), dtype=np.uint64, count=len(toks))
                win = np.lib.stride_tricks.sliding_window_view(h, n)
                g = (win * mults[None, :]).sum(axis=1, dtype=np.uint64)
                out.append(g.astype(np.int64) if positional else np.unique(g).astype(np.int64))
        return pd.Series(out)

    return F.pandas_udf(batch, "array<long>")(col)


def ngram_contamination_flags(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination screen: flag every document sharing at
    least one word ``n``-gram with the evaluation ``benchmark`` corpus
    (the leakage filter every training-data pipeline runs before
    training; public practice: GPT-3's 13-gram overlap removal).

    Scale shape: both sides explode to distinct (id, gram) rows; the
    benchmark gram set — small relative to the corpus — rides a
    LEFT SEMI join (AQE broadcasts it when it fits; at a benchmark
    suite too large to broadcast the semi join shuffles on the gram,
    never materializing pairs). Returns (id_col, is_contaminated).
    Grams travel as 64-bit hashes on BOTH sides of the semi-join
    (:func:`word_ngram_hashes`), so the ~2⁻⁶⁴-per-pair collision odds
    are the only divergence from the string-gram DuckDB oracle (the
    same posture as d05's hashed shingles).
    """
    grams_of = lambda df: df.select(  # noqa: E731
        F.col(id_col), F.explode(word_ngram_hashes(F.col(text_col), n)).alias("gram")
    )
    bench_grams = grams_of(benchmark).select("gram").distinct()
    hits = (
        grams_of(docs)
        .join(bench_grams, "gram", "left_semi")
        .select(id_col)
        .distinct()
        .withColumn("is_contaminated", F.lit(True))
    )
    return (
        docs.select(id_col)
        .join(hits, id_col, "left")
        .withColumn("is_contaminated", F.coalesce(F.col("is_contaminated"), F.lit(False)))
    )


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_duplicate_groups(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Groups of documents with identical token bags.

    Returns (fingerprint, canonical_id, n_dups). One shuffle on the
    128-bit fingerprint; at 100 TB this is the cheapest possible dedup
    (map-side partial agg collapses most of the stream)."""
    return (
        df.select(F.col(id_col), bow_fingerprint(F.col(text_col)).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("n_docs"),
        )
        .filter(F.col("n_docs") > 1)
    )


# ---------------------------------------------------------------------------
# exact Jaccard with prefix filtering
# ---------------------------------------------------------------------------


def jaccard_similarity_pairs(
    df: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    df_cap: int | None = None,
) -> DataFrame:
    """All pairs with token-set Jaccard ≥ threshold — exact.

    Plan: tokenize → global token document-frequency → per-doc prefix
    (the ⌈(1−t)·|A|⌉+1 globally-rarest tokens; any qualifying pair must
    share a prefix token) → equi-join on prefix token → exact verify on
    the full sets. The prefix step turns the classic inverted-index
    self-join from quadratic blowup on frequent tokens into a join
    keyed (mostly) by rare tokens.

    ``df_cap`` is the stop-token escape hatch for this corpus-vs-corpus
    form: tokens with document frequency > df_cap are excluded from the
    PREFIX candidate stream only (a hot prefix token joins df² pair
    rows). Because the df-ascending prefix ordering already sorts hot
    tokens LAST, the cap only truncates prefixes of documents that are
    nearly all stop-tokens — and verification always uses the FULL
    sets, so Jaccard values are unaffected; only candidate recall is at
    stake, under the same provable bound as :func:`jaccard_topk_join`
    (every qualifying pair shares a ≤-cap token whenever
    ceil(t·s_min) > #hot). Cap-boundary equivalence is pinned in
    tests/test_dedup_similarity.py.

    Returns (id_a, id_b, jaccard) with id_a < id_b.
    """
    toks = df.select(F.col(id_col).alias("id"), token_set(F.col(text_col)).alias("toks")).filter(
        F.size("toks") > 0
    )
    exploded = toks.select("id", F.size("toks").alias("set_size"), F.explode("toks").alias("token"))

    freq = exploded.groupBy("token").agg(F.count(F.lit(1)).alias("df"))

    ranked = exploded.join(freq, "token").withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("id").orderBy(F.col("df").asc(), F.col("token").asc())
        ),
    )
    prefix_len = F.ceil(F.lit(1.0 - threshold) * F.col("set_size")).cast("int") + 1
    in_prefix = F.col("rn") <= prefix_len
    if df_cap is not None:
        in_prefix = in_prefix & (F.col("df") <= df_cap)
    prefix = ranked.filter(in_prefix).select("id", "token")

    a, b = prefix.alias("a"), prefix.alias("b")
    cands = (
        a.join(b, (F.col("a.token") == F.col("b.token")) & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )

    # verify on hashed-long arrays; |A∪B| from sizes instead of a
    # second array pass (sets are distinct by construction)
    ta = toks.select(
        F.col("id").alias("id_a"),
        hashed_toks("toks").alias("toks_a"),
        F.size("toks").alias("size_a"),
    )
    tb = toks.select(
        F.col("id").alias("id_b"),
        hashed_toks("toks").alias("toks_b"),
        F.size("toks").alias("size_b"),
    )
    inter = F.size(F.array_intersect("toks_a", "toks_b")).cast("double")
    union = (F.col("size_a") + F.col("size_b")).cast("double") - inter
    return (
        cands.join(ta, "id_a")
        .join(tb, "id_b")
        .withColumn("jaccard", F.round(inter / union, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# incremental (incoming-vs-corpus) exact Jaccard — count-based
# ---------------------------------------------------------------------------


def jaccard_topk_join(
    incoming: DataFrame,
    corpus: DataFrame,
    threshold: float,
    k: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
    tokset_fn=None,
    df_cap: int | None = None,
    df_cap_check: bool = False,
) -> DataFrame:
    """For each incoming document, its top-k corpus near-duplicates by
    token-set Jaccard ≥ threshold — the shape of production dedup
    (screen a new batch against the existing corpus before ingest).

    Exact, with NO array materialization on the join path: explode
    distinct tokens on both sides, equi-join on token, count shared
    tokens per pair, and recover Jaccard as |∩| / (|A|+|B|−|∩|). One
    shuffle join + one aggregation; map-side combine collapses the
    per-token pair stream.

    ``df_cap`` is the document-frequency stop list the 100 TB posture
    requires: a token appearing in more than ``df_cap`` corpus docs
    fans out as df_in·df_corp pair rows in the join (a stop-token like
    "the" alone can dwarf the rest of the stream), so hot tokens are
    routed OFF the join: they are anti-joined out of both exploded
    streams, and the exact intersection count is recovered by adding
    ``|hot(A) ∩ hot(B)|`` from tiny per-doc hot-token arrays (each
    bounded by H = the number of distinct hot tokens, small by
    construction — the df distribution's head). Results are EXACTLY
    those of the uncapped plan provided every qualifying pair shares
    at least one non-hot token, which holds whenever
    ``ceil(threshold · s_min) > H`` for the smallest qualifying set
    size ``s_min`` (a qualifying pair shares ≥ ceil(t·|A|) tokens, so
    more shared tokens than hot tokens exist ⇒ one is rare); both
    quantities are measurable from the freq frame. The cap-boundary
    equivalence is pinned in tests/test_dedup_similarity.py.

    ``df_cap_check=True`` VERIFIES that condition at runtime (two tiny
    jobs: count the hot tokens, min corpus set size) and raises when
    the provable bound fails — the bound is conservative (uses the
    overall min set size, not the min among qualifying pairs), so a
    failing check does not necessarily mean wrong output, but a
    passing one guarantees exactness. Callers whose output is
    independently verified (the d05 gate hash-checks against brute
    force) may leave it off and skip the extra jobs.

    ``tokset_fn`` swaps the set representation (default: word tokens
    via :func:`token_set`; pass ``shingle_set`` for char n-grams).

    Returns (id_a, id_b, jaccard, rk) — id_a from incoming.
    """
    tokset = tokset_fn or token_set
    # default word tokens explode as STRINGS; hash them to longs first
    # (one vectorized transform per doc) so the freq agg, the hot-token
    # routing and the pair equi-join all key on 8-byte longs — every
    # downstream use is equality/cardinality-only, so results are
    # unchanged (hashed_toks collision argument). tokset_fn overrides
    # (d05's shingle_hashes) already emit longs and skip the rehash.
    setrep = (lambda c: hashed_toks(tokset(c))) if tokset_fn is None else tokset
    ta = (
        incoming.select(F.col(id_col).alias("id_a"), setrep(F.col(text_col)).alias("toks"))
        .filter(F.size("toks") > 0)
        .select("id_a", F.size("toks").alias("size_a"), F.explode("toks").alias("token"))
    )
    tb = (
        spread(corpus)
        .select(F.col(id_col).alias("id_b"), setrep(F.col(text_col)).alias("toks"))
        .filter(F.size("toks") > 0)
        .select("id_b", F.size("toks").alias("size_b"), F.explode("toks").alias("token"))
    )
    if df_cap is not None:
        from pyspark import StorageLevel

        # the corpus token stream is read three times below (freq, the
        # hot-array leg, the join leg) — materialize it once so the
        # tokenizer runs once, not three times. The cache lives until
        # the session's next clearCache (a lazy builder cannot
        # unpersist before its result materializes); callers running
        # many queries in one session should clearCache between them
        # (bench.py does), and the retained footprint is the exploded
        # (id, size, token-hash) stream — tens of MB at sf0.1
        tb = tb.persist(StorageLevel.MEMORY_AND_DISK)
        # document frequency over the corpus side (the big one); the
        # agg is map-side-combinable into ~#distinct tokens
        freq = tb.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
        if df_cap_check:
            import math

            n_hot = freq.filter(F.col("df") > df_cap).count()
            s_min = tb.agg(F.min("size_b")).first()[0]
            if s_min is not None and math.ceil(threshold * s_min) <= n_hot:
                raise ValueError(
                    f"df_cap={df_cap} not provably exact: {n_hot} hot tokens vs "
                    f"ceil({threshold}·{s_min}) = {math.ceil(threshold * s_min)} "
                    f"guaranteed shared tokens — a qualifying pair of minimal "
                    f"sets could share only hot tokens; raise df_cap"
                )
        hot = F.broadcast(freq.filter(F.col("df") > df_cap).select("token"))
        # per-doc hot-token arrays — ≤ H elements each; collect_set is
        # safe here precisely because H is bounded by construction
        hot_a = ta.join(hot, "token").groupBy("id_a").agg(F.collect_set("token").alias("hot_a"))
        hot_b = tb.join(hot, "token").groupBy("id_b").agg(F.collect_set("token").alias("hot_b"))
        ta = ta.join(hot, "token", "left_anti")
        tb = tb.join(hot, "token", "left_anti")
    # size-compatibility bound: J(A,B) ≥ t forces t·|A| ≤ |B| ≤ |A|/t —
    # prunes incompatible pairs inside the join before the aggregation
    size_ok = (F.col("size_b") >= F.ceil(F.lit(threshold) * F.col("size_a"))) & (
        F.col("size_b") <= F.floor(F.col("size_a") / F.lit(threshold))
    )
    shared = (
        ta.join(tb, "token")
        .filter((F.col("id_a") != F.col("id_b")) & size_ok)
        .groupBy("id_a", "id_b", "size_a", "size_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    if df_cap is not None:
        shared = (
            shared.join(hot_a, "id_a", "left")
            .join(hot_b, "id_b", "left")
            .withColumn(
                "inter",
                F.col("inter")
                + F.coalesce(F.size(F.array_intersect("hot_a", "hot_b")), F.lit(0)),
            )
        )
    jac = F.round(
        F.col("inter") / (F.col("size_a") + F.col("size_b") - F.col("inter")).cast("double"), 6
    )
    w = Window.partitionBy("id_a").orderBy(F.col("jaccard").desc(), F.col("id_b").asc())
    return (
        shared.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("id_a", "id_b", "jaccard", "rk")
    )


def containment_pairs(
    docs: DataFrame,
    threshold: float = 0.9,
    id_col: str = "doc_id",
    text_col: str = "text",
    df_cap: int | None = None,
    df_cap_check: bool = True,
) -> DataFrame:
    """All pairs where the SMALLER token set is ≥ ``threshold``
    contained in the other: c = |A∩B| / min(|A|,|B|) — the asymmetric
    near-dup family Jaccard structurally misses (a doc quoted whole
    inside a much larger doc has J = |A|/|B| ≈ 0 but containment 1.0;
    the Broder 1997 "containment" resemblance twin, and the reason
    web-dedup pipelines screen quote-expansion pairs separately).

    Plan: the d02 count-based inverted index — ONE distinct-token
    explode, token-keyed self-equi-join (id_a < id_b), per-pair
    shared count, containment from the counts. Deliberately NO
    size-compatibility prune: unlike Jaccard, containment does not
    bound the size ratio — those wide-ratio pairs are the signal.
    ``df_cap`` is the same provably-exact hot-token stop list as
    :func:`jaccard_topk_join` (hot tokens leave the join; per-doc
    hot arrays restore the exact intersection; a qualifying pair
    shares ≥ ceil(t·min_size) tokens, so one is cold whenever
    ceil(t·s_min) > #hot). The bound is EASIER to violate here than
    in Jaccard — containment's whole point is small contained docs,
    i.e. small s_min — so ``df_cap_check`` defaults to TRUE here
    (unlike jaccard_topk_join): the guard is two tiny jobs, and a
    caller must explicitly waive it to accept silently dropping
    all-hot-token pairs.

    Returns (id_a, id_b, contained_id, containment) with
    id_a < id_b; ``contained_id`` is the smaller side (min id on
    size ties)."""
    t = docs.select(
        F.col(id_col).alias("id"), token_set(F.col(text_col)).alias("toks")
    ).filter(F.size("toks") > 0)
    e = t.select("id", F.size("toks").alias("sz"), F.explode("toks").alias("token"))
    hot_arrays = None
    if df_cap is not None:
        from pyspark import StorageLevel

        # the token stream feeds freq, the hot-array leg and both join
        # sides — materialize once (the d02 posture). Same lifetime
        # contract as jaccard_topk_join's persist: a lazy builder
        # cannot unpersist before its result materializes, so the
        # cache lives until the session's next clearCache — callers
        # running many queries in one session should clearCache
        # between them.
        e = e.persist(StorageLevel.MEMORY_AND_DISK)
        freq = e.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
        if df_cap_check:
            import math

            n_hot = freq.filter(F.col("df") > df_cap).count()
            s_min = e.agg(F.min("sz")).first()[0]
            if s_min is not None and math.ceil(threshold * s_min) <= n_hot:
                raise ValueError(
                    f"df_cap={df_cap} not provably exact for containment: "
                    f"{n_hot} hot tokens vs ceil({threshold}·{s_min}) = "
                    f"{math.ceil(threshold * s_min)} guaranteed shared "
                    f"tokens — a small contained doc could share only hot "
                    f"tokens; raise df_cap"
                )
        hot = F.broadcast(freq.filter(F.col("df") > df_cap).select("token"))
        hot_arrays = (
            e.join(hot, "token")
            .groupBy("id")
            .agg(F.collect_set("token").alias("hot_toks"))
        )
        e = e.join(hot, "token", "left_anti")
    a = e.select(
        F.col("id").alias("id_a"), F.col("sz").alias("size_a"), "token"
    )
    b = e.select(
        F.col("id").alias("id_b"), F.col("sz").alias("size_b"), "token"
    )
    shared = (
        a.join(b, "token")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "size_a", "size_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    if hot_arrays is not None:
        ha = hot_arrays.select(F.col("id").alias("id_a"), F.col("hot_toks").alias("hot_a"))
        hb = hot_arrays.select(F.col("id").alias("id_b"), F.col("hot_toks").alias("hot_b"))
        shared = (
            shared.join(ha, "id_a", "left")
            .join(hb, "id_b", "left")
            .withColumn(
                "inter",
                F.col("inter")
                + F.coalesce(F.size(F.array_intersect("hot_a", "hot_b")), F.lit(0)),
            )
        )
    cont = F.col("inter") * 1.0 / F.least("size_a", "size_b")
    contained = (
        F.when(F.col("size_a") < F.col("size_b"), F.col("id_a"))
        .when(F.col("size_b") < F.col("size_a"), F.col("id_b"))
        .otherwise(F.least("id_a", "id_b"))
    )
    return (
        shared.filter(cont >= threshold)
        .select(
            "id_a",
            "id_b",
            contained.alias("contained_id"),
            F.round(cont, 6).alias("containment"),
        )
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def _affine_constants(n_hashes: int):
    """Deterministic odd multipliers / offsets for the affine MinHash
    family, derived from sha256 (stable across platforms and runs)."""
    import hashlib

    import numpy as np

    a = np.array(
        [int.from_bytes(hashlib.sha256(f"mh-a{i}".encode()).digest()[:8], "big") | 1
         for i in range(n_hashes)],
        dtype=np.uint64,
    )
    b = np.array(
        [int.from_bytes(hashlib.sha256(f"mh-b{i}".encode()).digest()[:8], "big")
         for i in range(n_hashes)],
        dtype=np.uint64,
    )
    return a, b


def _minhash_mins(chunk, a, b):
    """(n_rows, n_hashes) MinHash matrix for a chunk of token lists —
    ONE flat affine transform over every token in the chunk followed by
    a segmented min (`np.minimum.reduceat`), not a per-row Python loop.
    Token hashes (blake2b-64) are cached per batch. Rows must be
    non-empty (callers filter size > 0)."""
    import hashlib

    import numpy as np

    cache: dict[str, int] = {}

    def tok_hash(t: str) -> int:
        h = cache.get(t)
        if h is None:
            h = cache[t] = int.from_bytes(
                hashlib.blake2b(t.encode("utf-8"), digest_size=8).digest(), "big"
            )
        return h

    lens = np.fromiter((len(x) for x in chunk), dtype=np.int64, count=len(chunk))
    flat = np.fromiter(
        (tok_hash(t) for toks_list in chunk for t in toks_list),
        dtype=np.uint64,
        count=int(lens.sum()),
    )
    offs = np.concatenate(([0], np.cumsum(lens)[:-1]))
    with np.errstate(over="ignore"):
        sigs = flat[:, None] * a[None, :] + b[None, :]  # (total_tokens, n_hashes)
        return np.minimum.reduceat(sigs, offs, axis=0)


#: rows per reduceat chunk — bounds the (tokens × n_hashes) uint64
#: intermediate to a few tens of MB regardless of Arrow batch size
_MINHASH_CHUNK = 2048


def minhash_band_buckets(toks: Column, n_hashes: int = 128, bands: int = 32) -> Column:
    """Per document: array of ``bands`` bucket ids — the MinHash
    signature reshaped to (bands, rows) and mixed down to one 64-bit
    value per band, all inside one numpy pass per Arrow chunk
    (signature + banding fused; no per-band expression trees, no
    per-row Python loop)."""
    import hashlib

    import numpy as np

    a, b = _affine_constants(n_hashes)
    rows = n_hashes // bands
    mix = np.array(
        [int.from_bytes(hashlib.sha256(f"band-mix{j}".encode()).digest()[:8], "big") | 1
         for j in range(rows)],
        dtype=np.uint64,
    )

    def batch(s: pd.Series) -> pd.Series:
        out = []
        with np.errstate(over="ignore"):
            for start in range(0, len(s), _MINHASH_CHUNK):
                mins = _minhash_mins(s.iloc[start : start + _MINHASH_CHUNK], a, b)
                buckets = (mins.reshape(len(mins), bands, rows) * mix[None, None, :]).sum(
                    axis=2, dtype=np.uint64
                )
                out.extend(buckets.astype(np.int64))
        return pd.Series(out)

    return F.pandas_udf(batch, "array<long>")(toks)


def minhash_lsh_pairs(
    df: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 128,
    bands: int = 32,
) -> DataFrame:
    """Near-dup pairs via MinHash banding, exact-verified.

    With 128 hashes in 32 bands of 4 rows, a pair at Jaccard 0.8 is
    banded together with probability 1−(1−0.8⁴)³² ≈ 1−5·10⁻⁸ — the
    exact-verify step then makes the *output* exact for qualifying
    pairs (up to that negligible recall loss). Shuffle volume is
    O(docs·bands), the 100 TB-safe property brute-force lacks.

    Returns (id_a, id_b, jaccard) with id_a < id_b.
    """
    toks = spread(df).select(
        F.col(id_col).alias("id"), token_set(F.col(text_col)).alias("toks")
    ).filter(F.size("toks") > 0)
    banded = toks.select(
        "id",
        F.posexplode(minhash_band_buckets(F.col("toks"), n_hashes, bands)).alias(
            "band", "bucket"
        ),
    )

    a, b = banded.alias("a"), banded.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )

    # hashed-long verify + size-arithmetic union (see hashed_toks)
    ta = toks.select(
        F.col("id").alias("id_a"),
        hashed_toks("toks").alias("toks_a"),
        F.size("toks").alias("size_a"),
    )
    tb = toks.select(
        F.col("id").alias("id_b"),
        hashed_toks("toks").alias("toks_b"),
        F.size("toks").alias("size_b"),
    )
    inter = F.size(F.array_intersect("toks_a", "toks_b")).cast("double")
    union = (F.col("size_a") + F.col("size_b")).cast("double") - inter
    return (
        cands.join(ta, "id_a")
        .join(tb, "id_b")
        .withColumn("jaccard", F.round(inter / union, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_lsh_topk_join(
    incoming: DataFrame | Column,
    corpus: DataFrame,
    threshold: float,
    k: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 128,
    bands: int = 32,
    tokset_fn=None,
    verify: str = "arrays",
) -> DataFrame:
    """LSH variant of :func:`jaccard_topk_join`: candidates come from a
    band-bucket equi-join between incoming and corpus signatures (the
    incoming side is small → broadcast), then candidates are verified
    exactly on the full token sets. Shuffle volume O(corpus·bands);
    per-pair recall at the threshold is 1−(1−t^r)^b ≈ 1−5e-8.
    ``tokset_fn`` swaps the set representation (word tokens by
    default; :func:`shingle_set` for char n-gram shingling).

    ``verify`` picks the exact-verification leg: ``'arrays'`` joins
    the candidate pairs back to the token arrays and evaluates one
    ``array_intersect`` per pair (best when candidate volume is high
    relative to corpus size — this fixture's regime); ``'counts'``
    explodes the candidates' tokens into a (pair, token) stream and
    counts matches (d02's shape — best for long documents where
    arrays on the join path are heavy). Both are exact; both were
    measured at sf0.1 (SCALING.md) — arrays won here.

    ``incoming`` is either its own DataFrame or — the self-screening
    shape, incoming ⊆ corpus — a boolean Column over corpus rows. The
    Column form tokenizes AND MinHash-bands the corpus exactly once
    (one UDF pass, one persisted signature frame); the incoming side is
    a filter over that frame, not a second signature computation.

    Each side is tokenized ONCE into a materialized ``(id, toks,
    size)`` frame (MEMORY_AND_DISK — the cluster-scale variant is a
    checkpoint to a signature staging table) that feeds both the band
    generation and the verify leg. The size-compatibility bound
    (J ≥ t ⇒ t·|A| ≤ |B| ≤ |A|/t) is evaluated inside the band join,
    pruning candidates before the dedup shuffle. Verification then
    computes ``array_intersect`` exactly once per surviving pair
    (|∪| is recovered as |A|+|B|−|∩|): for short token sets this is
    far cheaper than exploding candidates into a per-token stream,
    and both verify joins are AQE-broadcastable (the arrays ride a
    broadcast, not a shuffle, whenever a side fits; for long-document
    corpora prefer :func:`jaccard_topk_join`'s count-based stream).

    Returns (id_a, id_b, jaccard, rk) — identical contract (and, up to
    LSH recall, identical results) to the exact join.
    """
    from pyspark import StorageLevel

    tokset = tokset_fn or token_set
    subset_pred = incoming if isinstance(incoming, Column) else None

    def tokenized(df: DataFrame, out_id: str, sz: str, extra=None) -> DataFrame:
        cols = [F.col(id_col).alias(out_id), tokset(F.col(text_col)).alias("toks")]
        if extra is not None:
            cols.append(extra)
        return (
            df.select(*cols)
            .filter(F.size("toks") > 0)
            .withColumn(sz, F.size("toks"))
            .persist(StorageLevel.MEMORY_AND_DISK)
        )

    def bands_of(toks_df: DataFrame, out_id: str, sz: str) -> DataFrame:
        return toks_df.select(
            out_id,
            sz,
            F.posexplode(minhash_band_buckets(F.col("toks"), n_hashes, bands)).alias(
                "band", "bucket"
            ),
        )

    if subset_pred is not None:
        # ONE persisted signature frame: tokens AND band buckets
        # materialize together (one scan, one UDF pass, one cache);
        # every downstream leg — both band-join sides and both verify
        # sides — is a cheap projection/filter of it
        sig = (
            spread(corpus)
            .select(
                F.col(id_col).alias("id_b"),
                tokset(F.col(text_col)).alias("toks"),
                subset_pred.alias("_mh_in"),
            )
            .filter(F.size("toks") > 0)
            .withColumn("size_b", F.size("toks"))
            .withColumn("buckets", minhash_band_buckets(F.col("toks"), n_hashes, bands))
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        corpus_toks = sig
        corpus_bands = sig.select(
            "id_b", "size_b", F.posexplode("buckets").alias("band", "bucket")
        )
        in_bands = sig.filter(F.col("_mh_in")).select(
            F.col("id_b").alias("id_a"),
            F.col("size_b").alias("size_a"),
            F.posexplode("buckets").alias("band", "bucket"),
        )
        in_toks = sig.filter(F.col("_mh_in")).select(
            F.col("id_b").alias("id_a"), "toks", F.col("size_b").alias("size_a")
        )
    else:
        corpus_toks = tokenized(spread(corpus), "id_b", "size_b")
        in_toks = tokenized(incoming, "id_a", "size_a")
        corpus_bands = bands_of(corpus_toks, "id_b", "size_b")
        in_bands = bands_of(in_toks, "id_a", "size_a")

    size_ok = (F.col("size_b") >= F.ceil(F.lit(threshold) * F.col("size_a"))) & (
        F.col("size_b") <= F.floor(F.col("size_a") / F.lit(threshold))
    )
    cands = (
        corpus_bands.join(F.broadcast(in_bands), ["band", "bucket"])
        .filter((F.col("id_a") != F.col("id_b")) & size_ok)
        .select("id_a", "id_b")
        .distinct()
    )

    jac = F.round(
        F.col("inter") / (F.col("size_a") + F.col("size_b") - F.col("inter")).cast("double"), 6
    )
    w = Window.partitionBy("id_a").orderBy(F.col("jaccard").desc(), F.col("id_b").asc())
    if verify == "counts":
        exp_a = in_toks.select("id_a", "size_a", F.explode("toks").alias("token"))
        exp_b = corpus_toks.select("id_b", "size_b", F.explode("toks").alias("token"))
        shared = (
            cands.join(F.broadcast(exp_a), "id_a")
            .join(exp_b, ["id_b", "token"])
            .groupBy("id_a", "id_b", "size_a", "size_b")
            .agg(F.count(F.lit(1)).cast("double").alias("inter"))
        )
        return (
            shared.withColumn("jaccard", jac)
            .filter(F.col("jaccard") >= threshold)
            .withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= k)
            .select("id_a", "id_b", "jaccard", "rk")
        )

    ta = in_toks.select("id_a", hashed_toks("toks").alias("toks_a"), "size_a")
    tb = corpus_toks.select("id_b", hashed_toks("toks").alias("toks_b"), "size_b")
    return (
        cands.join(F.broadcast(ta), "id_a")
        .join(tb, "id_b")
        .withColumn("inter", F.size(F.array_intersect("toks_a", "toks_b")).cast("double"))
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("id_a", "id_b", "jaccard", "rk")
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def _simhash_py(token_lists: pd.Series) -> pd.Series:
    """64-bit SimHash: per-token FNV-1a 64 hash, bitwise ±1 vote,
    sign → bit. The FNV hash is computed once per distinct token per
    Arrow batch (cached, like minhash's blake2b cache); the 64 bit
    votes and the sign→bit pack are numpy matrix ops, not Python
    loops."""
    import numpy as np

    bit_idx = np.arange(64, dtype=np.uint64)
    bit_pow = np.uint64(1) << bit_idx
    cache: dict[str, int] = {}

    def fnv(t: str) -> int:
        h = cache.get(t)
        if h is None:
            h = 0xCBF29CE484222325
            for ch in t.encode("utf-8"):
                h = ((h ^ ch) * 0x100000001B3) & 0xFFFFFFFFFFFFFFFF
            cache[t] = h
        return h

    out = []
    for toks in token_lists:
        if toks is None or len(toks) == 0:
            out.append(0)
            continue
        hs = np.array([fnv(t) for t in toks], dtype=np.uint64)
        bits = (hs[:, None] >> bit_idx[None, :]) & np.uint64(1)  # (n_tokens, 64)
        # votes[i] = (#set) - (#unset) = 2·(#set) - n
        votes = bits.sum(axis=0, dtype=np.int64) * 2 - len(hs)
        v = int(((votes > 0).astype(np.uint64) * bit_pow).sum(dtype=np.uint64))
        # two's-complement into signed 64-bit for Spark LongType
        out.append(v - (1 << 64) if v >= (1 << 63) else v)
    return pd.Series(out)


def simhash64(col: Column) -> Column:
    """pandas-UDF wrapper built at call time (module import must stay
    session-free for executor-side re-imports)."""
    return F.pandas_udf(_simhash_py, "long")(col)


def simhash_fingerprints(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, simhash, band0..band3): 16-bit bands of the fingerprint.
    Near-dups (hamming ≤ 3) agree on ≥1 band (pigeonhole over 4 bands),
    so banding gives candidate buckets with an equi-join, no O(n²)."""
    sh = spread(df).select(
        F.col(id_col).alias("id"), simhash64(token_set(F.col(text_col))).alias("simhash")
    )
    for i in range(4):
        sh = sh.withColumn(f"band{i}", F.shiftright(F.col("simhash"), 16 * i).bitwiseAND(0xFFFF))
    return sh


def duplicated_span_coverage(
    docs: DataFrame,
    n: int = 8,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Cross-document duplicated-SPAN detection (the practice from Lee
    et al. 2022, "Deduplicating Training Data Makes Language Models
    Better", public: document-level dedup misses long repeated spans —
    boilerplate, licenses, templates — inside otherwise-distinct
    documents; those spans are what models memorize).

    A window = a word ``n``-gram at a token position. A window is
    duplicated when its gram occurs in ≥ ``min_docs`` DISTINCT
    documents. Returns per document: total tokens, the number of
    duplicated windows, the number of token positions covered by at
    least one duplicated window (the union of the [i, i+n-1]
    intervals, computed by exploding each window into its covered
    positions — integer-exact, no interval-merge logic to diverge
    between engines), and the covered fraction.

    Scale shape: positional grams travel as 64-bit hashes (one Arrow
    pass, :func:`word_ngram_hashes` ``positional=True``); the
    duplicated-gram set comes from one groupBy on the hash
    (map-side-combined count of distinct docs via the two-level
    groupBy below); flagging windows is a LEFT SEMI join on the hash
    (AQE broadcasts the dup set when small — at web scale it shuffles
    both sides on the gram key, never materializing pairs); coverage
    is one per-doc aggregation. Nothing ever holds a doc×doc pair.
    """
    grams = docs.select(
        F.col(id_col),
        F.posexplode(word_ngram_hashes(F.col(text_col), n, positional=True)).alias(
            "pos0", "gram"
        ),
    ).select(F.col(id_col), (F.col("pos0") + 1).alias("pos"), F.col("gram"))
    # distinct (gram, doc) first so the count is per-document, then
    # count — both aggs map-side combine on the same gram key
    dup = (
        grams.select("gram", id_col)
        .distinct()
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("gram")
    )
    dw = grams.join(dup, "gram", "left_semi")
    per_window = dw.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_dup_windows"))
    covered = (
        dw.select(F.col(id_col), F.explode(F.sequence(F.col("pos"), F.col("pos") + n - 1)).alias("tokpos"))
        .groupBy(id_col)
        .agg(F.count_distinct(F.col("tokpos")).alias("covered_tok"))
    )
    toks = tokens(F.lower(F.col(text_col)))
    base = docs.select(F.col(id_col), F.size(toks).alias("n_tok"))
    return (
        base.join(per_window, id_col, "left")
        .join(covered, id_col, "left")
        .select(
            F.col(id_col),
            F.col("n_tok").cast("bigint").alias("n_tok"),
            F.coalesce(F.col("n_dup_windows"), F.lit(0)).cast("bigint").alias("n_dup_windows"),
            F.coalesce(F.col("covered_tok"), F.lit(0)).cast("bigint").alias("covered_tok"),
            F.when(F.col("n_tok") == 0, F.lit(0.0))
            .otherwise(
                F.round(
                    F.coalesce(F.col("covered_tok"), F.lit(0)) / F.col("n_tok"), 6
                )
            )
            .alias("dup_frac"),
        )
    )


def remove_duplicated_spans(
    docs: DataFrame,
    n: int = 8,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Cross-document duplicated-span REMOVAL — the rewrite step of
    the Lee et al. 2022 ExactSubstr practice that
    :func:`duplicated_span_coverage` only measures: repeated spans
    (boilerplate, licenses, templates) are deleted from every
    document EXCEPT one canonical owner copy, so the corpus keeps
    each span's content exactly once.

    Deterministic keep-one rule, identical on both engines: a token
    position (d, p) is removed iff some duplicated window (word
    ``n``-gram in ≥ ``min_docs`` distinct docs) covers p in d AND d
    is not the gram's OWNER (the minimum doc id containing that
    gram). Positions covered only by owner windows survive — the
    min-id copy of every span is retained, the transitive analog of
    d01's min-id-canonical rule at span grain.

    Returns (id_col, n_tok, n_removed, cleaned_text) with
    ``cleaned_text`` the surviving tokens joined by single spaces
    (the rewrite is defined on the lowercased whitespace token
    stream — the same normalization every text operator here uses —
    so original casing/whitespace are not preserved).

    Scale shape — identical to the coverage pass plus one rewrite:
    positional 64-bit gram hashes (one Arrow pass), the dup/owner
    frame from one map-side-combined groupBy on the hash, removal
    positions from a gram-keyed join (never doc×doc), and the
    rebuild is a per-doc sort_array over the SURVIVING (pos, token)
    pairs — grouped by doc id, so the shuffle is one keyed exchange
    and no document's tokens ever leave one reducer. Hash collisions
    (~2⁻⁶⁴/pair) are the only divergence risk vs the string-gram
    oracle, the d05/c13 posture.
    """
    grams = docs.select(
        F.col(id_col),
        F.posexplode(word_ngram_hashes(F.col(text_col), n, positional=True)).alias(
            "pos0", "gram"
        ),
    ).select(F.col(id_col), (F.col("pos0") + 1).alias("pos"), F.col("gram"))
    dup = (
        grams.select("gram", id_col)
        .distinct()
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("nd"), F.min(id_col).alias("owner"))
        .filter(F.col("nd") >= min_docs)
        .select("gram", "owner")
    )
    removal = (
        grams.join(dup, "gram")
        .filter(F.col(id_col) != F.col("owner"))
        .select(
            F.col(id_col),
            F.explode(F.sequence(F.col("pos"), F.col("pos") + n - 1)).alias("tokpos"),
        )
        .distinct()
    )
    return _rebuild_without(docs, removal, id_col, text_col)


def _rebuild_without(
    docs: DataFrame, removal: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Shared rewrite stage of the span-removal family (d13 doc-owner
    and c41 occurrence-owner rules): drop the ``(id, tokpos)`` rows in
    ``removal``, rebuild each document's surviving token stream in
    position order. One keyed exchange; no document's tokens leave
    one reducer. Returns (id, n_tok, n_removed, cleaned_text)."""
    toks = tokens(F.lower(F.col(text_col)))
    pt = docs.select(F.col(id_col), F.posexplode(toks).alias("pos0", "tok")).select(
        F.col(id_col), (F.col("pos0") + 1).alias("tokpos"), F.col("tok")
    )
    kept = pt.join(removal, [id_col, "tokpos"], "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("tokpos", "tok"))),
                lambda s: s["tok"],
            ),
        ).alias("cleaned_text"),
    )
    base = docs.select(F.col(id_col), F.size(toks).cast("bigint").alias("n_tok"))
    return (
        base.join(rebuilt, id_col, "left")
        .select(
            F.col(id_col),
            "n_tok",
            (F.col("n_tok") - F.coalesce(F.col("n_kept"), F.lit(0))).alias("n_removed"),
            F.coalesce(F.col("cleaned_text"), F.lit("")).alias("cleaned_text"),
        )
    )


def remove_duplicated_runs_keep_first(
    docs: DataFrame,
    min_len: int = 12,
    min_count: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """⊕D19 — duplicated-span removal at OCCURRENCE grain, keep the
    FIRST occurrence (r9; the removal twin of
    :func:`maximal_duplicated_runs`, completing the ExactSubstr pair
    at the paper's grain). d13 (:func:`remove_duplicated_spans`)
    protects the minimum-id DOCUMENT wholesale, so a substring
    repeated twice INSIDE one document keeps both copies — but
    intra-document boilerplate repetition is exactly what Lee et al.
    2022 flag as the memorization risk. Here ownership is the
    lexicographically first OCCURRENCE ``(doc_id, pos)`` of each
    duplicated ``min_len``-gram: every other occurrence's positions
    are removed, so the corpus keeps each duplicated span's content
    exactly once — including within a single document.

    Same rewrite contract as d13: (id, n_tok, n_removed,
    cleaned_text) on the lowercased whitespace token stream; a
    position inside a kept (owner) occurrence survives unless some
    OTHER duplicated gram's non-owner occurrence also covers it
    (removal wins at overlaps — the d13 rule, occurrence edition).
    One consequence to know (review finding): a SELF-OVERLAPPING
    repeat ("a a a" at min_len 2 — occurrences at pos 1 and 2 share
    position 2) clips the owner occurrence's tail, so such runs can
    shrink below one intact copy. That matches ExactSubstr's
    delete-the-duplicated-positions behavior; the exactly-one-copy
    guarantee holds for non-self-overlapping spans (the pytest case).

    Scale shape — identical to d13 plus one constant: positional
    64-bit gram hashes (one Arrow pass, persisted — the dup aggregate
    and the removal join both consume it), owner occurrence from ONE
    map-side-combined min on the composite key ``doc·2³¹ + pos``
    (injective and overflow-free only while 0 ≤ doc < 2³¹ and
    pos < 2³¹ — GUARDED with a loud raise; snowflake-scale ids would
    otherwise wrap silently under ANSI-off), removal via the
    gram-keyed join (never doc×doc), shared :func:`_rebuild_without`
    rewrite.

    Caching contract (r9 ADVICE): the positional-gram frame is
    ``persist()``-ed and the returned lazy DataFrame still references
    it; the cache entry lives until ``spark.catalog.clearCache()`` or
    session end (bench.py and the driver clear between queries) —
    sessions invoking this repeatedly should clearCache after each
    materialization.
    """
    if min_len < 2:
        raise ValueError("min_len must be >= 2")
    lim = F.lit(1 << 31).cast("long")
    bad = (
        (F.col(id_col) < 0)
        | (F.col(id_col).cast("long") >= lim)
        | (F.col("pos") >= lim)
    )
    key = F.when(
        bad,
        F.raise_error(
            F.concat(
                F.lit(
                    "remove_duplicated_runs_keep_first requires "
                    f"0 <= {id_col} < 2^31 and pos < 2^31 (composite "
                    "occurrence key would overflow); got id: "
                ),
                F.col(id_col).cast("string"),
            )
        ).cast("long"),
    ).otherwise(F.col(id_col).cast("long") * lim + F.col("pos"))
    grams = (
        docs.select(
            F.col(id_col),
            F.posexplode(
                word_ngram_hashes(F.col(text_col), min_len, positional=True)
            ).alias("pos0", "gram"),
        )
        .select(F.col(id_col), (F.col("pos0") + 1).alias("pos"), F.col("gram"))
        .withColumn("okey", key)
        .persist()
    )
    dup = (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("cnt"), F.min("okey").alias("owner_key"))
        .filter(F.col("cnt") >= min_count)
        .select("gram", "owner_key")
    )
    removal = (
        grams.join(dup, "gram")
        .filter(F.col("okey") != F.col("owner_key"))
        .select(
            F.col(id_col),
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + min_len - 1)
            ).alias("tokpos"),
        )
        .distinct()
    )
    return _rebuild_without(docs, removal, id_col, text_col)


def winnow_fingerprints(
    docs: DataFrame,
    k: int = 3,
    w: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    "Winnowing: Local Algorithms for Document Fingerprinting",
    SIGMOD'03 — public algorithm): hash every word ``k``-gram of the
    lowercased token stream, slide a window of ``w`` consecutive gram
    positions over the hash sequence, and keep the MINIMUM hash of
    each window. The guarantee that makes this the standard
    fingerprint for copy detection (MOSS): any shared run of at least
    ``w + k - 1`` tokens between two documents yields at least one
    shared fingerprint, while the expected density of selected hashes
    is only 2/(w+1) of the grams — a fixed-rate sketch with a
    matching guarantee, which plain random sampling lacks.

    Documents with fewer than ``k`` tokens have no grams and are
    absent; documents with fewer than ``w`` grams contribute the
    minimum of their single truncated window (every fingerprintable
    document gets ≥1 fingerprint, the paper's boundary rule).

    Returns distinct ``(doc_id, fp)`` rows; ``fp`` is the md5 hex of
    the gram text, so the value (and its window minimum — hex strings
    compare bytewise identically in the JVM and C) is reproducible in
    ANSI SQL for the oracle. Only the set identity of a fingerprint
    matters, so md5-as-rolling-hash-stand-in changes nothing the
    algorithm guarantees. Positions are not recorded (the matching
    application keys on the hash set; robust winnowing's
    rightmost-tie rule only affects which POSITION is reported, never
    the selected hash value).

    Scale shape: grams and hashes are pure JVM expressions; the only
    shuffle is ONE exchange on ``doc_id`` for the per-document window
    (each document's hash sequence is processed within its own
    partition — no document's grams ever cross reducers twice), then
    the distinct folds into the same keyed exchange via partial
    aggregation. Window starts are pruned BEFORE the distinct, so the
    aggregate sees 2/(w+1)·grams rows, not grams·w.
    """
    # tokenize ONCE into a bound column before the transform lambda:
    # referencing the tokenize expression inside the lambda would
    # re-evaluate split+filter per gram slot (the
    # unbound-expression-in-lambda trap, SCALING.md — measured ~3×
    # on this op's wall time at sf0.1)
    ws = docs.select(
        F.col(id_col).alias("doc_id"),
        tokens(F.lower(F.col(text_col))).alias("ws"),
    ).filter(F.size("ws") >= k)
    m = F.size(F.col("ws")) - (k - 1)
    grams = F.transform(
        F.sequence(F.lit(1), m),
        lambda i: F.md5(F.array_join(F.slice(F.col("ws"), i, k), " ")),
    )
    g = ws.select("doc_id", F.posexplode(grams).alias("pos", "h"))
    by_doc = Window.partitionBy("doc_id")
    wnd = by_doc.orderBy("pos").rowsBetween(0, w - 1)
    return (
        g.select(
            "doc_id",
            "pos",
            F.min("h").over(wnd).alias("fp"),
            F.count(F.lit(1)).over(by_doc).alias("n_grams"),
        )
        # valid window starts: 0-based pos ≤ n−w, or pos 0 alone when
        # the document has fewer than w grams (truncated window)
        .filter(F.col("pos") <= F.greatest(F.col("n_grams") - w, F.lit(0)))
        .select("doc_id", "fp")
        .distinct()
    )


def fingerprint_match_pairs(
    docs: DataFrame,
    k: int = 3,
    w: int = 4,
    min_shared: int = 2,
    df_cap: int = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Cross-document copy detection over winnowing fingerprints —
    the MOSS-style matching step on top of
    :func:`winnow_fingerprints`: document pairs sharing at least
    ``min_shared`` fingerprints, with the shared count as the match
    strength (a lower bound on shared ≥(w+k−1)-token runs).

    ``df_cap`` drops fingerprints occurring in more than that many
    documents before pairing — boilerplate grams (headers, licenses)
    are exactly the hot keys that would otherwise quadratically blow
    up the equi-join at corpus scale, and a gram in hundreds of
    documents identifies no specific pair anyway (the d02/d05 df_cap
    posture, and the paper's own "ignore overly common" note).

    Scale shape: fingerprint sets from ONE doc_id exchange
    (:func:`winnow_fingerprints`), the document-frequency cap from
    one map-side-combined groupBy on ``fp``, pairing via a
    self-equi-join ON the fingerprint key — candidate volume is
    Σ_fp df(fp)², bounded by ``df_cap``·rows, never corpus² — and
    one final (id_a, id_b) groupBy. No all-pairs stage anywhere.
    The fingerprint frame is consumed three times (df count, and
    both sides of the self-join), so it is persisted for the call
    and the (tiny) pair result checkpointed before the persist is
    dropped — the scoped-persist posture of the symmetric
    sign-sketch join (similarity.py, pinned by the scope tests).
    """
    fps = winnow_fingerprints(docs, k=k, w=w, id_col=id_col, text_col=text_col).persist()
    rare = (
        fps.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= df_cap)
        .select("fp")
    )
    capped = fps.join(rare, "fp", "left_semi")
    a, b = capped.alias("a"), capped.alias("b")
    from ..plan_debug import note_subtree

    out = note_subtree(
        "winnowing.matches",
        a.join(b, "fp")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("shared_fps"))
        .filter(F.col("shared_fps") >= min_shared),
    ).localCheckpoint(eager=True)
    fps.unpersist()
    return out


def maximal_duplicated_runs(
    docs: DataFrame,
    min_len: int = 12,
    min_count: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """⊕D18 — exact-substring dedup at ExactSubstr's REAL grain (Lee
    et al. 2022 §3.2): the paper's operator finds every maximal token
    substring of length ≥ ``min_len`` that occurs more than once in
    the corpus (suffix-array + LCP machinery single-node). d12/d13
    approximate it with FIXED word-8-gram windows; this emits the
    MAXIMAL SHARED RUNS — per document, the maximal intervals of
    token positions covered by some ≥2-occurrence substring of
    length ≥ min_len. Returns (id, start_pos, end_pos, run_toks),
    positions 1-based inclusive.

    Equivalence to the suffix form (the pytest suffix oracle pins
    it): a position p lies inside a repeated substring of length ≥ L
    iff some duplicated L-window covers p — every length-L window of
    a repeated substring is itself repeated, and a duplicated
    L-window IS a repeated length-L substring. So the union of
    duplicated L-window spans equals the union of maximal repeated
    substrings, and its connected components are the paper's removal
    intervals. The runs themselves may exceed any single partner
    match (two overlapping spans shared with DIFFERENT partners
    merge) — exactly the removal semantics, and the case a fixed
    window emission cannot express.

    Two deliberate contrasts with d12/d13: duplication is counted at
    OCCURRENCE grain (``min_count`` (doc,pos) locations, so a
    substring repeated twice INSIDE one document is duplicated — the
    paper's criterion; d12 counts distinct docs), and ``min_len`` is
    the paper's configurable L, not a fixed window.

    Scale shape: positional 64-bit gram hashes (one Arrow pass, the
    d12 device); the duplicated-gram set from ONE map-side-combined
    count on the gram key; covered positions from a gram-keyed semi
    join + bounded explode (≤ L rows per window); run merging is the
    gaps-and-islands window PARTITIONED BY DOC — no frame ever
    exceeds one document's length. Nothing holds a doc×doc pair.
    """
    from pyspark.sql.window import Window

    if min_len < 2:
        raise ValueError("min_len must be >= 2")
    grams = docs.select(
        F.col(id_col),
        F.posexplode(
            word_ngram_hashes(F.col(text_col), min_len, positional=True)
        ).alias("pos0", "gram"),
    ).select(F.col(id_col), (F.col("pos0") + 1).alias("pos"), F.col("gram"))
    dup = (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= min_count)
        .select("gram")
    )
    covered = (
        grams.join(dup, "gram", "left_semi")
        .select(
            F.col(id_col),
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + min_len - 1)
            ).alias("tokpos"),
        )
        .distinct()
    )
    return _runs_from_covered(covered, id_col)


def _runs_from_covered(covered: DataFrame, id_col: str) -> DataFrame:
    """Gaps-and-islands merge of distinct covered token positions into
    maximal runs, PARTITIONED BY DOC (no frame ever exceeds one
    document's length) — shared by the duplicated-run and
    contaminated-run emitters."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(id_col).orderBy("tokpos")
    return (
        covered.withColumn("grp", F.col("tokpos") - F.row_number().over(w))
        .groupBy(id_col, "grp")
        .agg(
            F.min("tokpos").alias("start_pos"),
            F.max("tokpos").alias("end_pos"),
            F.count(F.lit(1)).cast("bigint").alias("run_toks"),
        )
        .select(id_col, "start_pos", "end_pos", "run_toks")
    )


def _contaminated_positions(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Distinct (id, tokpos) token positions of ``docs`` covered by
    some word ``n``-gram that also occurs in ``benchmark`` — the
    position-grain core shared by :func:`contaminated_runs` and
    :func:`remove_contaminated_runs`. Scale shape: positional gram
    hashes on the docs side (one Arrow pass), the benchmark's
    DISTINCT gram set on the other (small — it rides the semi join
    broadcast when it fits, a gram-keyed shuffle when not), bounded
    explode (≤ n rows per matched window)."""
    grams = docs.select(
        F.col(id_col),
        F.posexplode(
            word_ngram_hashes(F.col(text_col), n, positional=True)
        ).alias("pos0", "gram"),
    ).select(F.col(id_col), (F.col("pos0") + 1).alias("pos"), F.col("gram"))
    bench_grams = benchmark.select(
        F.explode(word_ngram_hashes(F.col(text_col), n)).alias("gram")
    ).distinct()
    return (
        grams.join(bench_grams, "gram", "left_semi")
        .select(
            F.col(id_col),
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + n - 1)
            ).alias("tokpos"),
        )
        .distinct()
    )


def contaminated_runs(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """⊕D7 at RUN grain (r10, verdict item 4): contaminated SPANS
    against the evaluation set — extent and position, where
    :func:`ngram_contamination_flags` answers only a per-doc bit.
    For each doc, the maximal runs of token positions covered by a
    word ``n``-gram that occurs anywhere in ``benchmark``; returns
    (id, start_pos, end_pos, run_toks), positions 1-based inclusive.
    The c39 maximal-run argument transfers verbatim (a position lies
    in a shared substring of length ≥ n iff some shared n-window
    covers it), with the duplicated-gram set replaced by the
    benchmark's gram set — so a doc quoting a whole eval answer
    reports one LONG run (the severity the binary flag understates,
    pytest-pinned), while an incidental 8-token collision reports
    exactly n. Feeds the c43 gate and the removal path below.

    Scale shape: identical to :func:`maximal_duplicated_runs` except
    the "duplicated" set is the benchmark's grams — the corpus side
    never self-joins: one gram-keyed semi join, bounded explode,
    per-doc gaps-and-islands window.
    """
    if n < 2:
        raise ValueError("n must be >= 2")
    covered = _contaminated_positions(docs, benchmark, n, id_col, text_col)
    return _runs_from_covered(covered, id_col)


def remove_contaminated_runs(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Decontamination as a REWRITE (r10): delete every token position
    covered by a benchmark-shared ``n``-gram and rebuild the text —
    the GPT-3-practice removal step at ExactSubstr's position grain,
    completing flag → spans → removal for ⊕D7. Same rewrite contract
    as d13/c41 via the shared :func:`_rebuild_without`: (id, n_tok,
    n_removed, cleaned_text) over the lowercased whitespace token
    stream. Note the d13 caveat transfers: deleting interior spans
    can create NEW grams across the seam (inherent to positional
    removal; the pytest pins the exact position algebra instead)."""
    if n < 2:
        raise ValueError("n must be >= 2")
    covered = _contaminated_positions(docs, benchmark, n, id_col, text_col)
    removal = covered.select(F.col(id_col), "tokpos")
    return _rebuild_without(docs, removal, id_col, text_col)


# ---------------------------------------------------------------------------
# ⊕D21 — content-defined chunking (CDC) dedup
# ---------------------------------------------------------------------------


def cdc_chunks(
    docs: DataFrame,
    p: int = 8,
    boundary=None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """⊕D21 — content-defined chunking over the token stream (r10).

    The rsync/LBFS device (Muthitacharoen et al., SOSP'01) lifted to
    tokens: a token ENDS a chunk iff a pure function of that token
    alone says so (default: ``xxhash64(tok) % p == 0``; ``boundary``
    swaps in any Column predicate ``tok -> bool``). Because the
    boundary depends on content, not position, two documents sharing a
    long run of tokens produce IDENTICAL interior chunks no matter
    where the run sits in each document — the alignment property that
    fixed-width windows lose after a single inserted token (the reason
    dedup storage systems abandoned fixed blocks; pytest-pinned as the
    shift-invariance case). Expected chunk length is the breaker
    fraction's reciprocal (~p when the predicate spreads evenly).

    Deliberate departure from LBFS min/max chunk clamps: a suppressed
    break would make each boundary depend on the PREVIOUS accepted
    boundary, turning the chunker into a sequential scan that neither
    Catalyst nor the DuckDB oracle can express declaratively. Instead
    the pure-predicate form keeps perfect content alignment and the
    DEDUP step below ignores short chunks (``min_toks``), which is
    where small chunks actually hurt.

    Returns (id, chunk_pos, chunk_toks, chunk_key): 1-based token
    position of the chunk start, its token length, and a 64-bit key of
    the space-joined chunk text (injective up to xxhash64 collisions —
    the d05 posture, ~2⁻⁶⁴/pair). Chunks tile the document: disjoint,
    contiguous, covering every token (pytest-pinned).

    Scale shape: posexplode → per-DOC running-sum window (bounded by
    one document, the c39 posture) → groupBy (id, chunk_idx) whose
    clustering is satisfied by the window's hash(id) exchange, so the
    whole chunker is ONE exchange, all JVM.
    """
    if boundary is None:
        boundary = lambda tok: F.xxhash64(tok, F.lit(21)) % p == 0  # noqa: E731
    toks = docs.select(
        F.col(id_col), F.posexplode(tokens(F.lower(F.col(text_col)))).alias("pos0", "tok")
    ).select(F.col(id_col), (F.col("pos0") + 1).alias("pos"), F.col("tok"))
    w = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    chunked = toks.withColumn(
        "chunk_idx",
        F.coalesce(F.sum(F.when(boundary(F.col("tok")), 1).otherwise(0)).over(w), F.lit(0)),
    )
    return chunked.groupBy(id_col, "chunk_idx").agg(
        F.min("pos").alias("chunk_pos"),
        F.count(F.lit(1)).cast("bigint").alias("chunk_toks"),
        F.xxhash64(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tok"))), lambda s: s["tok"]
                ),
            ),
            F.lit(22),
        ).alias("chunk_key"),
    ).select(F.col(id_col), "chunk_pos", "chunk_toks", "chunk_key")


def dedup_cdc_chunks(
    docs: DataFrame,
    p: int = 8,
    min_count: int = 2,
    min_toks: int = 4,
    boundary=None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """⊕D21 — corpus-level chunk dedup over :func:`cdc_chunks`, keep
    the FIRST occurrence (r10). Every chunk of ≥ ``min_toks`` tokens
    whose exact content occurs ≥ ``min_count`` times corpus-wide keeps
    its lexicographically first occurrence ``(doc_id, chunk_pos)``;
    every other occurrence's positions are deleted and the text
    rebuilt — the storage-dedup grain none of D13/D18/D19 covers:
    c41 owns fixed n-gram WINDOWS (overlap-heavy, run semantics),
    chunks are a disjoint TILING, so removal is cheaper (no distinct
    over overlapping windows) and the unit survives insertions via
    content alignment. ``min_toks`` excludes short chunks from dedup
    entirely (a 1-token chunk is "duplicated" in every document —
    removing it is vocabulary censorship, not dedup); short chunks
    are always kept.

    Same rewrite contract as d13/c41: (id, n_tok, n_removed,
    cleaned_text) on the lowercased whitespace token stream, via the
    shared :func:`_rebuild_without`. Composite occurrence key
    ``doc·2³¹ + chunk_pos`` with c41's loud overflow guard (valid only
    for 0 ≤ id < 2³¹; snowflake-scale ids must widen BOTH engines in
    lockstep — the c41 decision record).

    Scale shape: the chunk frame (ONE exchange, see
    :func:`cdc_chunks`) is persisted once and read by both the dup
    aggregate (map-side-combined count+min per chunk_key) and the
    removal join (chunk_key-keyed, never doc×doc); removal positions
    explode ≤ chunk_toks rows per removed chunk with NO distinct
    (chunks are disjoint within a doc by construction).

    Caching contract (r9 ADVICE): the chunk frame is ``persist()``-ed
    and the returned lazy DataFrame still references it; the entry
    lives until ``spark.catalog.clearCache()`` or session end
    (bench.py and the driver clear between queries).
    """
    lim = F.lit(1 << 31).cast("long")
    bad = (
        (F.col(id_col) < 0)
        | (F.col(id_col).cast("long") >= lim)
        | (F.col("chunk_pos") >= lim)
    )
    key = F.when(
        bad,
        F.raise_error(
            F.concat(
                F.lit(
                    "dedup_cdc_chunks requires "
                    f"0 <= {id_col} < 2^31 and chunk_pos < 2^31 (composite "
                    "occurrence key would overflow); got id: "
                ),
                F.col(id_col).cast("string"),
            )
        ).cast("long"),
    ).otherwise(F.col(id_col).cast("long") * lim + F.col("chunk_pos"))
    ch = (
        cdc_chunks(docs, p=p, boundary=boundary, id_col=id_col, text_col=text_col)
        .filter(F.col("chunk_toks") >= min_toks)
        .withColumn("okey", key)
        .persist()
    )
    dup = (
        ch.groupBy("chunk_key")
        .agg(F.count(F.lit(1)).alias("cnt"), F.min("okey").alias("owner_key"))
        .filter(F.col("cnt") >= min_count)
        .select("chunk_key", "owner_key")
    )
    removal = (
        ch.join(dup, "chunk_key")
        .filter(F.col("okey") != F.col("owner_key"))
        .select(
            F.col(id_col),
            F.explode(
                F.sequence(F.col("chunk_pos"), F.col("chunk_pos") + F.col("chunk_toks") - 1)
            ).alias("tokpos"),
        )
    )
    return _rebuild_without(docs, removal, id_col, text_col)


# ---------------------------------------------------------------------------
# ⊕D22 — doc-level fuzzy decontamination (eval near-dup screen)
# ---------------------------------------------------------------------------


def fuzzy_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    df_cap: int | None = None,
) -> DataFrame:
    """⊕D22 — DOC-level fuzzy decontamination (r10): flag every corpus
    document whose word ``n``-gram shingle-SET Jaccard against ANY
    benchmark document reaches ``threshold`` — the GPT-3-appendix /
    Llama-practice screen that catches paraphrased or partially-quoted
    eval material which the exact-gram paths (⊕D7's flag, ⊕D20's
    runs) can miss once a single token inside each window changes.
    Complements, not replaces, the exact family: n-gram SETS forgive
    token edits between windows; c43's runs give position/extent.

    Returns (id, match_id, jaccard): each flagged corpus doc with its
    BEST benchmark match (max Jaccard, then min match_id — the d02
    tie rule), Jaccard rounded to 6 (hash-stable across engines).

    Exactness and scale shape are :func:`jaccard_topk_join`'s (k=1):
    distinct shingle hashes explode on both sides, gram-keyed
    equi-join, count-based intersection — the corpus NEVER self-joins,
    and the benchmark side is tiny by nature (benchmarks are MBs; its
    exploded gram stream rides the AQE broadcast). ``df_cap`` is the
    stop-gram escape hatch for a pathological corpus-side hot gram,
    with jaccard_topk_join's provable-exactness bound. Shingles travel
    as order-sensitive 64-bit hashes (:func:`word_ngram_hashes`) —
    the d05 collision posture (~2⁻⁶⁴/pair).
    """
    if n < 1:
        raise ValueError("n must be >= 1")
    tokset = (lambda c: word_ngram_hashes(c, n)) if n > 1 else token_set
    return (
        jaccard_topk_join(
            corpus,
            benchmark,
            threshold=threshold,
            k=1,
            id_col=id_col,
            text_col=text_col,
            tokset_fn=tokset,
            df_cap=df_cap,
        )
        .select(F.col("id_a").alias(id_col), F.col("id_b").alias("match_id"), "jaccard")
    )


def remove_fuzzy_contaminated(
    corpus: DataFrame,
    benchmark: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    df_cap: int | None = None,
) -> DataFrame:
    """⊕D22's removal verb: the corpus WITHOUT fuzzy-contaminated
    documents — unlike ⊕D20's position-grain rewrite, doc-level
    contamination drops the whole document (the GPT-3 practice: a
    near-duplicate of an eval doc has no clean remainder worth
    keeping). One left_anti on the flagged id set."""
    flagged = fuzzy_decontaminate(
        corpus, benchmark, threshold=threshold, n=n,
        id_col=id_col, text_col=text_col, df_cap=df_cap,
    ).select(id_col)
    return corpus.join(flagged, id_col, "left_anti")


def benchmark_contamination_report(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """⊕D24 (r10) — contamination from the BENCHMARK's point of view:
    for every eval document, how many corpus documents share at least
    one word ``n``-gram with it (``n_hit_docs``) and how many of the
    EVAL doc's own token positions are covered by a shared gram
    (``covered_toks`` — the item's burned extent). ⊕D7/⊕D20 answer
    "which training docs are dirty"; release reporting also needs
    "which eval items are compromised" (the benchmark-integrity table
    of the GPT-3/Llama eval cards) — an item with most of its tokens
    covered cannot be scored on the resulting model, however the
    training side is cleaned. Zero rows are INCLUDED (a clean item is
    the finding).

    Scale shape: the roles of :func:`_contaminated_positions` swap —
    positional grams on the (tiny) benchmark side, the CORPUS's
    distinct gram set on the semi join's other side, which is now the
    big one: the join stays gram-KEYED (never doc×doc) but the build
    side no longer broadcasts — AQE picks the shuffle side. The
    hit-doc count joins the benchmark's distinct (id, gram) frame
    against the corpus's distinct (id, gram) frame on gram: output
    bounded by actual contamination volume (distinct eval×corpus
    pairs), each pair counted once.
    """
    if n < 2:
        raise ValueError("n must be >= 2")
    cov = _contaminated_positions(benchmark, corpus, n, id_col, text_col)
    cov_ct = cov.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("covered_toks")
    )
    bg = benchmark.select(
        F.col(id_col), F.explode(word_ngram_hashes(F.col(text_col), n)).alias("gram")
    ).distinct()
    cg = corpus.select(
        F.col(id_col).alias("_hit"), F.explode(word_ngram_hashes(F.col(text_col), n)).alias("gram")
    ).distinct()
    hits = (
        bg.join(cg, "gram")
        .select(id_col, "_hit")
        .distinct()
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_hit_docs"))
    )
    return (
        benchmark.select(id_col)
        .join(hits, id_col, "left")
        .join(cov_ct, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("n_hit_docs"), F.lit(0).cast("bigint")).alias("n_hit_docs"),
            F.coalesce(F.col("covered_toks"), F.lit(0).cast("bigint")).alias("covered_toks"),
        )
    )
