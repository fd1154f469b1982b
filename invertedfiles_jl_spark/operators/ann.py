"""Similarity search over embedding columns (array<float>).

Two paths, same contract:
  * ``brute_force_topk`` — exact cosine top-k via a cross join with a
    double-precision JVM fold (zip_with + aggregate — whole-stage codegen,
    no Python).  The correctness baseline; O(Q·N·d).
  * ``ivf_topk`` — the scale path: IVF with deterministic seed centroids
    (the first ``n_clusters`` vectors) refined by ``lloyd_iters`` Lloyd
    steps (relational assign → per-dim mean), query probes the ``nprobe``
    nearest clusters.  At 100 TB the assignment is one broadcast join +
    argmax and the probe prunes the candidate set by ~n_clusters/nprobe;
    recall is pinned by pytest on a clustered fixture.  Deterministic ⇒
    DuckDB-oracle-checkable (same algorithm, not just same answer).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from invertedfiles_jl_spark.operators.search import knn_order, rank_cut

_COS_COLS = ["query_id", "rank", "vec_id", "cos"]


def _dot(a: str, b: str) -> F.Column:
    """Double-precision dot product of two float-array columns (JVM fold)."""
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        f"0D, (acc, v) -> acc + v)"
    )


def _norm(a: str) -> F.Column:
    return F.sqrt(F.expr(
        f"aggregate({a}, 0D, (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE))"
    ))


def with_cosine(df: DataFrame, a: str = "q_emb", b: str = "d_emb") -> DataFrame:
    return df.withColumn("cos", _dot(a, b) / (_norm(a) * _norm(b)))


def brute_force_topk(emb: DataFrame, queries: DataFrame, k: int = 10,
                     exclude_self: bool = True,
                     rank_round: int | None = 6) -> DataFrame:
    """Exact cosine top-k: queries(query_id, q_emb) × emb(vec_id, embedding).

    Query side broadcast (always the small side); candidates ranked by
    (cos desc, vec_id asc).
    """
    j = emb.select("vec_id", F.col("embedding").alias("d_emb")).crossJoin(
        F.broadcast(queries.select("query_id", "q_emb"))
    )
    if exclude_self:
        j = j.filter(F.col("vec_id") != F.col("query_id"))
    scored = with_cosine(j).select("query_id", "vec_id", "cos")
    return _cos_topk(scored, k, rank_round)


def _cos_topk(scored: DataFrame, k: int, rank_round: int | None) -> DataFrame:
    """(query_id, rank, vec_id, cos) — the top ``k`` (query_id, vec_id,
    cos) rows per query at (round(cos, rank_round) desc, vec_id asc)."""
    return rank_cut(scored, k, knn_order("cos", rank_round, id_col="vec_id"),
                    cols=_COS_COLS)


def seed_centroids(emb: DataFrame, n_clusters: int = 16) -> DataFrame:
    """Deterministic seeds: the first ``n_clusters`` vectors."""
    return emb.filter(F.col("vec_id") < n_clusters).select(
        F.col("vec_id").alias("cluster"), F.col("embedding").alias("c_emb")
    )


def seed_centroids_farthest(emb: DataFrame, n_clusters: int = 16) -> DataFrame:
    """Deterministic k-means++-style seeding without RNG: greedy
    farthest-point traversal.  Seed 0 = the lowest vec_id's vector; each
    next seed = the vector whose best cosine to ANY already-chosen seed is
    SMALLEST (rounded to 9 dp, tie-break vec_id asc) — the farthest point
    from the chosen set, which spreads seeds across true clusters even when
    the first-n vectors all sit in one cluster (the degenerate case
    ``seed_centroids`` suffers, see tests).

    Cost shape: ``n_clusters − 1`` driver iterations, each one
    broadcast-scan + single-row argmin collect — O(n_clusters · n · d)
    build-time work, no data-sized collect.  Fully deterministic, so an
    oracle CAN mirror it, but the per-seed CTE chain is quadratic in SQL;
    oracle-gated driver rows keep ``seed_mode='first'``."""
    spark = emb.sparkSession
    first = emb.orderBy("vec_id").limit(1).collect()[0]
    seeds = [(0, [float(x) for x in first["embedding"]])]
    for i in range(1, n_clusters):
        cents = spark.createDataFrame(seeds, "cluster long, c_emb array<double>")
        j = emb.select("vec_id", "embedding", F.col("embedding").alias("d_emb")
                       ).crossJoin(F.broadcast(cents))
        pick = (
            with_cosine(j, "c_emb", "d_emb")
            .groupBy("vec_id", "embedding")
            .agg(F.max(F.round(F.col("cos"), 9)).alias("near"))
            .orderBy(F.col("near").asc(), F.col("vec_id").asc())
            .limit(1)
            .collect()[0]
        )
        seeds.append((i, [float(x) for x in pick["embedding"]]))
    return spark.createDataFrame(seeds, "cluster long, c_emb array<double>")


def assign_to(emb: DataFrame, cents: DataFrame) -> DataFrame:
    """(vec_id, cluster) — nearest (max-cosine) centroid, deterministic
    tie-break by (round(cos, 9) desc, cluster asc)."""
    j = emb.select("vec_id", F.col("embedding").alias("d_emb")).crossJoin(F.broadcast(cents))
    return rank_cut(with_cosine(j, "c_emb", "d_emb"), 1,
                    knn_order("cos", 9, id_col="cluster"), by=("vec_id",),
                    rank="r", cols=["vec_id", "cluster"])


def lloyd_refine(emb: DataFrame, cents: DataFrame, iters: int = 1) -> DataFrame:
    """``iters`` Lloyd steps: assign → per-cluster per-dimension mean.

    Everything stays relational (posexplode → partial+final avg →
    re-assemble the centroid array ordered by dimension), deterministic,
    and therefore DuckDB-oracle-mirrorable (``plans.oracles.ann_ivf_sql``).
    Empty clusters drop out (both engines drop them identically).  At
    scale each step is one broadcast-assign plus one n·d-row aggregation
    with map-side combine — no collect.
    """
    for _ in range(iters):
        a = assign_to(emb, cents)
        memb = a.join(emb, "vec_id")
        cents = (
            memb.select("cluster", F.posexplode("embedding").alias("pos", "v"))
            .groupBy("cluster", "pos")
            .agg(F.avg("v").alias("m"))
            .groupBy("cluster")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
            .select("cluster", F.col("pm.m").alias("c_emb"))
        )
    return cents


def assign_clusters(emb: DataFrame, n_clusters: int = 16,
                    lloyd_iters: int = 0) -> DataFrame:
    """(vec_id, cluster) under first-n seeds refined by ``lloyd_iters``
    Lloyd steps (0 = the seeds themselves)."""
    cents = lloyd_refine(emb, seed_centroids(emb, n_clusters), lloyd_iters)
    return assign_to(emb, cents)


def ivf_topk(emb: DataFrame, queries: DataFrame, k: int = 10,
             n_clusters: int = 16, nprobe: int = 4,
             exclude_self: bool = True, lloyd_iters: int = 1,
             seed_mode: str = "first") -> DataFrame:
    """IVF-bucketed approximate cosine top-k: probe the nprobe clusters
    whose centroids best match the query; exact rank within candidates.
    Centroids are seeded per ``seed_mode`` — ``'first'`` (first-n vectors,
    the DuckDB-mirrorable default) or ``'farthest'`` (deterministic
    k-means++-style farthest-point traversal, robust to clustered inputs
    whose first-n vectors share a cluster) — then refined by
    ``lloyd_iters`` Lloyd steps (default 1 — on clustered data the refined
    centroids separate clusters the raw seeds cannot, see
    tests/test_text_ann_multimodal.py)."""
    seed_fn = {"first": seed_centroids,
               "farthest": seed_centroids_farthest}[seed_mode]
    cents = lloyd_refine(emb, seed_fn(emb, n_clusters), lloyd_iters)
    assign = assign_to(emb, cents)
    cands = (
        _probe(queries, cents, nprobe).join(assign, "cluster")
        .join(emb.select("vec_id", F.col("embedding").alias("d_emb")), "vec_id")
        .join(F.broadcast(queries.select("query_id", "q_emb")), "query_id")
    )
    if exclude_self:
        cands = cands.filter(F.col("vec_id") != F.col("query_id"))
    return _cos_topk(with_cosine(cands).select("query_id", "vec_id", "cos"),
                     k, 6)


def _probe(queries: DataFrame, cents: DataFrame, nprobe: int) -> DataFrame:
    """(query_id, cluster) — the IVF probe list: each query's ``nprobe``
    best centroids at (round(cos, 9) desc, cluster asc)."""
    qprobe = with_cosine(
        queries.select("query_id", "q_emb").crossJoin(F.broadcast(cents)),
        "q_emb", "c_emb")
    return rank_cut(qprobe, nprobe, knn_order("cos", 9, id_col="cluster"),
                    rank="r", cols=["query_id", "cluster"])


def _rescore_cut(emb: DataFrame, queries: DataFrame, approx: DataFrame,
                 score: str, k: int, depth: int, exclude_self: bool,
                 rank_round: int) -> DataFrame:
    """The exact-rescore tail of the quantized rankers (the engine twin of
    the oracle's ``_rescore_cut``): drop self-matches, keep each query's
    top ``depth`` (query_id, vec_id) rows of ``approx`` by the approximate
    ``score`` at (round(score, 6) desc, vec_id asc), re-score those
    exactly against the float vectors and cut the top ``k``.  The Q·depth
    candidate list broadcasts, so the re-score probes the full table
    instead of shuffling it (the fusion-recovery discipline)."""
    if exclude_self:
        approx = approx.filter(F.col("vec_id") != F.col("query_id"))
    cand = rank_cut(approx, depth, knn_order(score, 6, id_col="vec_id"),
                    rank="r", cols=["query_id", "vec_id"])
    rescored = with_cosine(
        emb.select("vec_id", F.col("embedding").alias("d_emb"))
        .join(F.broadcast(cand), "vec_id")
        .join(F.broadcast(queries.select("query_id", "q_emb")), "query_id")
    ).select("query_id", "vec_id", "cos")
    return _cos_topk(rescored, k, rank_round)


def _sign_band_sig(i: int, band_width: int) -> F.Column:
    """Band ``i``'s signature: the sign bits of ``band_width`` consecutive
    embedding coordinates, as a bit-string column.  A coordinate sign is a
    fixed (axis-aligned) random-hyperplane hash — the deterministic flavour
    of sign-random-projection LSH, so the same expression is writable in
    the DuckDB oracle token for token."""
    bits = [(F.col("embedding")[d] >= 0).cast("int").cast("string")
            for d in range(i * band_width, (i + 1) * band_width)]
    return F.concat_ws("", *bits)


def embedding_near_duplicates(emb: DataFrame, threshold: float = 0.95,
                              n_clusters: int = 16,
                              n_bands: int | None = None,
                              band_width: int = 8) -> DataFrame:
    """(vec_a, vec_b, cos) pairs with cosine ≥ threshold, candidates bucketed
    by IVF cluster (same-cluster pairs only — the LSH-style prune that keeps
    this off the n² cross product at scale).

    ``n_bands=None`` pairs every same-cluster vector — exact within the
    cluster prune, but O(c²) in the largest cluster, which is the job that
    never finishes when one cluster goes hot at 100 TB.  ``n_bands=b``
    adds a second-level sign-band LSH inside each cluster: vectors are
    candidates iff they share ALL ``band_width`` coordinate sign bits in at
    least one of ``b`` bands (OR-over-bands, exactly the MinHash banding
    scheme in ``operators.dedup``).  Near-identical vectors agree on almost
    every sign, so recall stays high while the quadratic blow-up is bounded
    per (cluster, band, signature) bucket; widen ``band_width`` to shrink
    buckets further.  Degenerate data (everything identical) still emits
    O(c²) rows — but then the OUTPUT is O(c²); no candidate scheme beats
    its own result size.
    """
    if n_bands is not None:
        # out-of-range band coordinates would yield empty signatures that
        # collide every same-cluster vector — reverting to the O(c²) cross
        # product the banding exists to prevent, silently and identically
        # in the mirrored oracle.  Validate against the actual dim.
        first = emb.select(F.size("embedding").alias("d")).first()
        dim = int(first["d"]) if first is not None else 0
        if n_bands * band_width > dim:
            raise ValueError(
                f"n_bands*band_width = {n_bands * band_width} exceeds the "
                f"embedding dimension {dim}; bands past the dimension have "
                "empty signatures and collapse the LSH prune")
    assign = assign_clusters(emb, n_clusters)
    with_c = emb.join(assign, "vec_id")
    ea = emb.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("a_emb"))
    eb = emb.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("b_emb"))
    if n_bands is None:
        a = with_c.select(F.col("cluster"), F.col("vec_id").alias("vec_a"),
                          F.col("embedding").alias("a_emb"))
        b = with_c.select(F.col("cluster"), F.col("vec_id").alias("vec_b"),
                          F.col("embedding").alias("b_emb"))
        pairs = a.join(b, "cluster").filter(F.col("vec_a") < F.col("vec_b"))
    else:
        bands = F.array(*[
            F.struct(F.lit(i).alias("band"),
                     _sign_band_sig(i, band_width).alias("sig"))
            for i in range(n_bands)
        ])
        banded = (
            with_c.select("cluster", "vec_id", F.explode(bands).alias("bs"))
            .select("cluster", "vec_id", F.col("bs.band").alias("band"),
                    F.col("bs.sig").alias("sig"))
        )
        pa = banded.select("cluster", "band", "sig", F.col("vec_id").alias("vec_a"))
        pb = banded.select("cluster", "band", "sig", F.col("vec_id").alias("vec_b"))
        cand = (
            pa.join(pb, ["cluster", "band", "sig"])
            .filter(F.col("vec_a") < F.col("vec_b"))
            .select("vec_a", "vec_b")
            .distinct()  # a pair may collide in several bands — score once
        )
        pairs = cand.join(ea, "vec_a").join(eb, "vec_b")
    scored = with_cosine(pairs, "a_emb", "b_emb")
    return (
        scored.filter(F.col("cos") >= threshold)
        .select("vec_a", "vec_b", F.round("cos", 6).alias("cos"))
    )


# ---------------------------------------------------------------------------
# int8 scalar quantization (SQ8): the memory-scale path for dense retrieval
# ---------------------------------------------------------------------------


def sq8_stats(emb: DataFrame) -> DataFrame:
    """One-row (mns, ss) per-dimension quantizer: ``mns[d]`` = corpus min of
    dimension d, ``ss[d]`` = (max-min)/255 (1.0 when the dimension is
    constant, so its code is 0).  Computed as a posexplode + partial+final
    min/max aggregation — d output rows regardless of corpus size, then
    assembled into two arrays (the broadcastable codebook).  min/max are
    order-independent, so the quantizer is bit-identical across engines
    (the summation-order caveat of mean-based codebooks doesn't apply).
    """
    per = (
        emb.select(F.posexplode("embedding").alias("pos", "v"))
        .groupBy("pos")
        .agg(F.min(F.col("v").cast("double")).alias("mn"),
             F.max(F.col("v").cast("double")).alias("mx"))
        .withColumn(
            "s",
            F.when(F.col("mx") > F.col("mn"),
                   (F.col("mx") - F.col("mn")) / F.lit(255.0))
            .otherwise(F.lit(1.0)),
        )
    )
    return (
        per.groupBy()
        .agg(
            F.array_sort(F.collect_list(F.struct("pos", "mn"))).alias("pm"),
            F.array_sort(F.collect_list(F.struct("pos", "s"))).alias("ps"),
        )
        .select(F.col("pm.mn").alias("mns"), F.col("ps.s").alias("ss"))
    )


def sq8_codes(emb: DataFrame, stats: DataFrame) -> DataFrame:
    """(vec_id, codes array<int> in [0,255]) — ``round((v-mn)/s)`` per
    dimension, clipped.  The stored representation is 1 byte/dim vs 4
    (what lets a 100-TB embedding table's hot set stay in executor memory);
    everything downstream decodes on the fly.  HALF_UP rounding on a
    non-negative quotient — identical in Spark and DuckDB."""
    return emb.crossJoin(F.broadcast(stats)).select(
        "vec_id",
        F.expr(
            "transform(embedding, (v, i) -> CAST(least(255D, greatest(0D, "
            "round((CAST(v AS DOUBLE) - mns[i]) / ss[i], 0))) AS INT))"
        ).alias("codes"),
    )


def sq8_topk(emb: DataFrame, queries: DataFrame, k: int = 10,
             depth: int = 50, exclude_self: bool = True,
             rank_round: int = 6) -> DataFrame:
    """Scalar-quantized cosine top-k with exact re-scoring: rank ALL docs by
    the asymmetric approximate cosine (full-precision query against the
    int8-decoded document vector ``mn + code*s``), keep the top ``depth``
    candidates per query, then re-score exactly against the original float
    vectors and emit the top ``k``.

    Scale shape: the candidate scan touches only the int8 codes (4× less
    memory traffic than floats; the decode is two fused multiply-adds per
    dimension inside whole-stage codegen), the exact re-score touches
    ``depth`` full vectors per query — bounded, not corpus-sized.  Recall
    is near-1 because SQ8's per-dim error is ≤ s/2 (pinned by pytest
    against ``brute_force_topk``).  Deterministic ⇒ DuckDB-mirrorable
    (``plans.oracles.ann_sq8_sql``).
    """
    stats = sq8_stats(emb)
    dehat = sq8_codes(emb, stats).crossJoin(F.broadcast(stats)).select(
        "vec_id",
        F.expr("transform(codes, (c, i) -> mns[i] + CAST(c AS DOUBLE) * ss[i])"
               ).alias("d_emb"),
    )
    j = dehat.crossJoin(F.broadcast(queries.select("query_id", "q_emb")))
    ascored = with_cosine(j).select("query_id", "vec_id", F.col("cos").alias("acos"))
    return _rescore_cut(emb, queries, ascored, "acos", k, depth, exclude_self,
                        rank_round)


def semantic_dedup(emb: DataFrame, threshold: float = 0.95,
                   n_clusters: int = 16,
                   n_bands: int | None = None,
                   band_width: int = 8) -> DataFrame:
    """SemDeDup-style one-pass dense deduplication: (vec_id, kept, dup_of).

    A vector is dropped iff SOME lower-id vector in its IVF cluster has
    cosine ≥ threshold to it (``dup_of`` = the smallest such id, -1 when
    kept — a sentinel instead of NULL so the row is hashable/sortable in
    every downstream comparator).  One pass, no iteration: the keep decision depends only on the
    pair relation, not on whether ``dup_of`` itself survived — the
    scale-friendly policy (each partition decides its rows from the
    broadcast-joined pair list alone).  The text-side mirror with FULL
    transitive closure is ``operators.dedup.near_duplicate_clusters``
    (connected components); this is the dense-embedding counterpart used by
    curation pipelines where one representative per near-duplicate
    neighborhood suffices.  Candidate generation = the same IVF-cluster
    (optionally sign-band LSH) prune as :func:`embedding_near_duplicates`,
    so nothing here is O(n²).
    """
    pairs = embedding_near_duplicates(
        emb, threshold=threshold, n_clusters=n_clusters,
        n_bands=n_bands, band_width=band_width,
    )
    dups = pairs.groupBy(F.col("vec_b").alias("vec_id")).agg(
        F.min("vec_a").alias("dup_of")
    )
    return (
        emb.select("vec_id")
        .join(dups, "vec_id", "left")
        .select(
            "vec_id",
            F.col("dup_of").isNull().alias("kept"),
            F.coalesce(F.col("dup_of"), F.lit(-1).cast("long")).alias("dup_of"),
        )
    )


# ---------------------------------------------------------------------------
# product quantization (PQ): codebook-compressed ADC scoring
# ---------------------------------------------------------------------------


def _sub_rows(df: DataFrame, vec_col: str, id_col: str, m: int,
              sub_len: int) -> DataFrame:
    """(id, m, sub array<double>) — the vector split into ``m`` contiguous
    subvectors of ``sub_len`` dims (one explode, no shuffle)."""
    subs = F.array(*[
        F.struct(
            F.lit(mi).alias("m"),
            F.expr(
                f"transform(slice({vec_col}, {mi * sub_len + 1}, {sub_len}), "
                "x -> CAST(x AS DOUBLE))"
            ).alias("sub"),
        )
        for mi in range(m)
    ])
    return df.select(F.col(id_col).alias("id"), F.explode(subs).alias("s")) \
             .select("id", F.col("s.m").alias("m"), F.col("s.sub").alias("sub"))


def _l2(a: str, b: str) -> F.Column:
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)), "
        "0D, (acc, v) -> acc + v)"
    )


def pq_train(emb: DataFrame, m: int = 8, ksub: int = 16,
             lloyd_iters: int = 1) -> DataFrame:
    """Per-subspace codebooks (m, cluster, c_sub): seeds = the first
    ``ksub`` vectors' subvectors (deterministic, the IVF convention),
    refined by ``lloyd_iters`` L2-Lloyd steps (assign by squared L2,
    re-center by per-dimension mean).  Build cost is one n·m-row
    aggregation per step; the output is m·ksub rows — always
    broadcastable.  Deterministic ⇒ DuckDB-mirrorable."""
    subs = _sub_rows(emb, "embedding", "vec_id", m, _sub_len(emb, m))
    return _pq_train(subs, ksub, lloyd_iters)


def _pq_train(subs: DataFrame, ksub: int, lloyd_iters: int) -> DataFrame:
    """:func:`pq_train` over already-split (id, m, sub) rows."""
    cents = subs.filter(F.col("id") < ksub).select(
        "m", F.col("id").alias("cluster"), F.col("sub").alias("c_sub"))
    for _ in range(lloyd_iters):
        j = subs.join(F.broadcast(cents), "m")
        a = _nearest_code(j, ["id", "m", "cluster", "sub"])
        cents = (
            a.select("m", "cluster", F.posexplode("sub").alias("pos", "v"))
            .groupBy("m", "cluster", "pos").agg(F.avg("v").alias("mu"))
            .groupBy("m", "cluster")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "mu"))).alias("pm"))
            .select("m", "cluster", F.col("pm.mu").alias("c_sub"))
        )
    return cents


def pq_codes(emb: DataFrame, cents: DataFrame, m: int,
             sub_len: int) -> DataFrame:
    """(vec_id, m, code) — nearest codebook entry per subspace (squared-L2
    argmin, tie-break cluster asc at 9 dp).  The stored representation is
    ``m`` small ints per vector — m·log2(ksub) bits, the 32×-and-beyond
    compression regime SQ8 can't reach."""
    subs = _sub_rows(emb, "embedding", "vec_id", m, sub_len)
    return _nearest_code(subs.join(F.broadcast(cents), "m"), [
        F.col("id").alias("vec_id"), "m", F.col("cluster").alias("code")])


def _nearest_code(j: DataFrame, cols: list) -> DataFrame:
    """Per (id, m) subvector of the (sub ⋈ codebook) rows ``j``, the
    squared-L2 nearest entry (round(d2, 9) asc, cluster asc); ``cols``
    selects the output."""
    return rank_cut(j.withColumn("d2", _l2("sub", "c_sub")), 1,
                    knn_order("d2", 9, ascending=True, id_col="cluster"),
                    by=("id", "m"), rank="r", cols=cols)


def _sub_len(emb: DataFrame, m: int) -> int:
    """The PQ subvector length ``d // m``; ``ValueError`` unless the
    embedding dimension d splits into ``m`` equal subspaces."""
    first = emb.select(F.size("embedding").alias("d")).first()
    d = int(first["d"]) if first is not None else 0
    if d % m != 0:
        raise ValueError(f"dim {d} not divisible by m={m}")
    return d // m


def _pq_lut(emb: DataFrame, queries: DataFrame, m: int, ksub: int,
            lloyd_iters: int) -> tuple[DataFrame, DataFrame]:
    """(codes, lut) of PQ-ADC: every vector's (vec_id, m, code) rows under
    the trained codebooks and each query's m×ksub lookup table
    (query_id, m, code, part) of subvector dots against them."""
    sub_len = _sub_len(emb, m)
    cents = _pq_train(_sub_rows(emb, "embedding", "vec_id", m, sub_len),
                      ksub, lloyd_iters)
    lut = (_sub_rows(queries, "q_emb", "query_id", m, sub_len)
           .join(F.broadcast(cents), "m")
           .select(F.col("id").alias("query_id"), "m",
                   F.col("cluster").alias("code"),
                   F.expr("aggregate(zip_with(sub, c_sub, (x, y) -> x * y), "
                          "0D, (acc, v) -> acc + v)").alias("part")))
    return pq_codes(emb, cents, m, sub_len), lut


def pq_topk(emb: DataFrame, queries: DataFrame, k: int = 10, m: int = 8,
            ksub: int = 16, depth: int = 50, lloyd_iters: int = 1,
            exclude_self: bool = True, rank_round: int = 6) -> DataFrame:
    """PQ-ADC cosine top-k with exact re-scoring: candidates ranked by the
    asymmetric-distance approximation of the dot product — each query
    precomputes an m×ksub lookup table of subvector dots against the
    codebooks, a doc's approximate dot is the sum of its ``m`` table
    entries — then the top ``depth`` per query re-score exactly.

    Scale shape: the candidate pass never touches vectors, only the
    (vec_id, m, code) rows joined BROADCAST against the Q·m·ksub lookup
    relation and summed per (query, doc) — partial+final agg, map-side
    combinable.  Stored index = m·log2(ksub) bits/vector (32× smaller than
    float32 at m=8, ksub=16 on 64-d), the regime where a 100-TB embedding
    corpus fits a modest cluster's memory.  Recall floor pinned by pytest;
    exactness of the rescore by the DuckDB oracle (``pq_topk_sql``)."""
    codes, lut = _pq_lut(emb, queries, m, ksub, lloyd_iters)
    adc = (codes.join(F.broadcast(lut), ["m", "code"])
           .groupBy("query_id", "vec_id")
           .agg(F.sum("part").alias("adot")))
    return _rescore_cut(emb, queries, adc, "adot", k, depth, exclude_self,
                        rank_round)


def ivf_pq_topk(emb: DataFrame, queries: DataFrame, k: int = 10,
                n_clusters: int = 16, nprobe: int = 4, m: int = 8,
                ksub: int = 16, depth: int = 50, lloyd_iters: int = 1,
                exclude_self: bool = True, rank_round: int = 6) -> DataFrame:
    """IVF-PQ: the FAISS-style composition — coarse IVF probe prunes the
    candidate set to ~``nprobe/n_clusters`` of the corpus, PQ-ADC ranks the
    survivors from codes alone, the top ``depth`` re-score exactly.

    Scale shape: multiplies the two prunes — the ADC pass touches only
    in-probe (vec_id, m, code) rows (a broadcast semi-join of the probe
    list against the codes), so per-query work is
    O(nprobe/n_clusters · n · m) table lookups and the full-precision scan
    stays bounded at ``depth`` rows.  This is the shape a 10^12-vector
    serving tier actually runs; both stages reuse the already-oracle-gated
    building blocks (``assign_clusters``/``pq_train``) so the composition
    is deterministic end to end.
    """
    # coarse stage: cluster assignment + per-query probe list (same plan
    # as ivf_topk)
    cents = lloyd_refine(emb, seed_centroids(emb, n_clusters), lloyd_iters)
    assign = assign_to(emb, cents)
    probed = _probe(queries, cents, nprobe)
    # fine stage: ADC over in-probe codes only.  Routing goes through the
    # Q·nprobe probe list broadcast on CLUSTER (bounded), never through a
    # materialized per-query candidate list (that relation is
    # corpus-proportional — broadcasting it would be the scale bug);
    # codes ⋈ assign is corpus-keyed and co-partitionable on vec_id.
    codes, lut = _pq_lut(emb, queries, m, ksub, lloyd_iters)
    adc = (codes.join(assign, "vec_id")
           .join(F.broadcast(probed), "cluster")
           .join(F.broadcast(lut), ["query_id", "m", "code"])
           .groupBy("query_id", "vec_id")
           .agg(F.sum("part").alias("adot")))
    return _rescore_cut(emb, queries, adc, "adot", k, depth, exclude_self,
                        rank_round)
