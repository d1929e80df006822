"""Similarity search over embedding columns (extension, SURVEY 7.7).

Two tiers:
- **brute-force cosine top-k** — the exactness baseline; one codegen'd
  pass over the corpus, a single top-k sort.  At 100 TB this is a
  full-scan-per-query: fine for batch scoring, wrong for online lookup.
- **sign-bucket ANN** — deterministic hyperplane-sign buckets (the
  IVF/LSH scale path): corpus pre-partitioned by bucket, a query probes
  only its own bucket (optionally Hamming-1 neighbors).  Bucketing is a
  pure column expression, so the "index build" is a partitioned write.

Embedding near-dup detection composes the same pieces: self-join within
buckets, cosine >= threshold.
"""

from __future__ import annotations

import pyarrow as pa

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cloud_optimized_data_pipelines_spark.batching import pin
from cloud_optimized_data_pipelines_spark.functions.vectors import (
    cosine_similarity,
    literal_vector,
    sign_bucket,
)


def brute_force_topk(
    df: DataFrame,
    vec_col: str,
    query: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    round_digits: int | None = 6,
) -> DataFrame:
    """Exact top-k by cosine similarity to a literal query vector.

    ``orderBy(desc).limit(k)`` compiles to TakeOrderedAndProject — a
    per-partition top-k + driver merge, NOT a global sort: the shuffle
    moves k rows per partition, so this scales to any corpus size.
    """
    q = literal_vector(query)
    cos = cosine_similarity(F.col(vec_col), q)
    if round_digits is not None:
        cos = F.round(cos, round_digits)
    return (
        df.select(F.col(id_col), cos.alias("cos"))
        .orderBy(F.desc("cos"), F.col(id_col))
        .limit(k)
    )


def with_sign_bucket(df: DataFrame, vec_col: str, num_dims: int = 8) -> DataFrame:
    """Attach the ANN bucket (pre-partitioning step of the index build).

    Prod usage: ``.write.partitionBy('bucket')`` so a query reads ONE
    partition — partition pruning does the index lookup.
    """
    return df.withColumn("bucket", sign_bucket(F.col(vec_col), num_dims))


def ann_topk(
    df: DataFrame,
    vec_col: str,
    query: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    num_dims: int = 8,
    round_digits: int | None = 6,
) -> DataFrame:
    """Approximate top-k: score only the query's sign-bucket.

    Recall loss is bounded by bucket balance; raise ``num_dims`` for
    smaller buckets (faster, lower recall), lower it for the reverse.
    """
    qbucket = "".join("1" if v >= 0 else "0" for v in query[:num_dims])
    bucketed = with_sign_bucket(df, vec_col, num_dims).filter(
        F.col("bucket") == qbucket
    )
    return brute_force_topk(bucketed, vec_col, query, k, id_col, round_digits)


def ann_topk_multiprobe(
    df: DataFrame,
    vec_col: str,
    query_id,
    k: int = 10,
    id_col: str = "vec_id",
    num_dims: int = 4,
    round_digits: int | None = 6,
) -> DataFrame:
    """MULTIPROBE sign-bucket ANN (Lv et al. 2007's multi-probe LSH
    idea on the hyperplane-sign code): score the query's own bucket
    PLUS its ``num_dims`` Hamming-1 neighbor buckets — the standard
    recall lever that costs (d+1)/2^d of the corpus instead of extra
    hash tables.  A true near neighbor differing from the query in ONE
    sign bit (the dominant miss mode of :func:`ann_topk_by_id`) is now
    found; recall improvement is pytest-gated, and the probe set is
    deterministic, so the DuckDB oracle reproduces the result
    bit-exactly.

    Plan shape: the d+1 bucket strings are computed on the 1-row
    broadcast query side and exploded — the join stays a hashable
    bucket equi-join (candidates ~ (d+1)/2^d of the corpus; with the
    corpus ``.write.partitionBy('bucket')``-ed it is d+1 partition
    prunes), then exact cosine + per-partition top-k.
    """
    from cloud_optimized_data_pipelines_spark.functions.vectors import (
        dot,
        hamming1_probes,
        norm,
        safe_cos_div,
    )

    b = with_sign_bucket(df, vec_col, num_dims)
    flips = hamming1_probes("bucket", num_dims)
    q = (
        b.filter(F.col(id_col) == query_id)
        .select(
            F.col(vec_col).alias("_qv"),
            norm(vec_col).alias("_qn"),
            F.explode(flips).alias("_qb"),
        )
    )
    cos = safe_cos_div(
        dot(F.col(vec_col), F.col("_qv")), norm(vec_col) * F.col("_qn")
    )
    out = (
        b.join(F.broadcast(q), F.col("bucket") == F.col("_qb"))
        .select(F.col(id_col), cos.alias("_cos_exact"))
        .orderBy(F.desc("_cos_exact"), F.col(id_col))
        .limit(k)
    )
    final = F.col("_cos_exact")
    if round_digits is not None:
        final = F.round(final, round_digits)
    return out.select(id_col, final.alias("cos"))


def ann_topk_by_id(
    df: DataFrame,
    vec_col: str,
    query_id,
    k: int = 10,
    id_col: str = "vec_id",
    num_dims: int = 8,
    round_digits: int | None = 6,
) -> DataFrame:
    """Approximate top-k where the query vector is a corpus row.

    Fully distributed: the single query row is broadcast and the bucket
    equality is the join key, so the scored candidate set is ~1/2^d of
    the corpus and never leaves the executors.  At 100 TB with the
    corpus ``.write.partitionBy('bucket')``-ed, the bucket filter is
    partition pruning — the physical index lookup.
    """
    from cloud_optimized_data_pipelines_spark.functions.vectors import (
        dot,
        norm,
        safe_cos_div,
    )

    # ONLY the query norm is hoisted (computed once on the 1-row
    # broadcast side): inlined cosine re-folds it per candidate.  The
    # corpus-row norm stays INSIDE the post-join projection — hoisting
    # it above the bucket join would pay a norm fold for all n rows
    # when only ~n/2^num_dims survive the join.  The quotient is the
    # identical expression value, so oracle parity holds.
    b = with_sign_bucket(df, vec_col, num_dims)
    q = (
        b.filter(F.col(id_col) == query_id)
        .select(
            F.col(vec_col).alias("_qv"),
            F.col("bucket").alias("_qb"),
            norm(vec_col).alias("_qn"),
        )
    )
    cos = safe_cos_div(
        dot(F.col(vec_col), F.col("_qv")), norm(vec_col) * F.col("_qn")
    )
    out = (
        b.join(F.broadcast(q), F.col("bucket") == F.col("_qb"))
        .select(F.col(id_col), cos.alias("_cos_exact"))
        .orderBy(F.desc("_cos_exact"), F.col(id_col))
        .limit(k)
    )
    final = F.col("_cos_exact")
    if round_digits is not None:
        final = F.round(final, round_digits)
    return out.select(id_col, final.alias("cos"))


def ivf_probe_fixed(
    df: DataFrame,
    vec_col: str,
    query_id,
    k: int = 10,
    id_col: str = "vec_id",
    k_lists: int = 16,
    nprobe: int = 4,
) -> DataFrame:
    """Spherical IVF probe with FIXED centroids (the first ``k_lists``
    corpus vectors by id) — no Lloyd iterations, hence no driver
    collect and a bit-reproducible result (cross-engine oracle-
    checkable, unlike the learned-centroid :func:`ivf_topk` whose
    float-averaged centroids depend on reduction order).

    Plan: assignment is a broadcast crossJoin against k_lists rows +
    one per-vector window (argmax cosine, ties to lowest centroid id);
    the probe scores only vectors assigned to the query's ``nprobe``
    nearest lists.  At 100 TB the assignment is a scan-side map stage
    and the candidate set is ~nprobe/k_lists of the corpus; persisting
    the assignment partitioned by list id turns the probe into
    partition pruning (see :func:`ivf_write_index`).
    """
    from cloud_optimized_data_pipelines_spark.functions.vectors import (
        dot,
        norm,
        safe_cos_div,
    )

    # per-row/centroid/query norms hoisted to columns — cosine inlined
    # in the n x k_lists assignment re-folds both norms per candidate
    # (3 folds -> 1); hoisted quotients are identical expression
    # values, so oracle parity holds (see semantic_dedup)
    cents = df.filter(F.col(id_col) < k_lists).select(
        F.col(id_col).alias("cid"),
        F.col(vec_col).alias("cvec"),
        norm(vec_col).alias("_cn"),
    )
    scored = (
        df.withColumn("_n", norm(vec_col))
        .crossJoin(F.broadcast(cents))
        .withColumn(
            "_cos_c",
            safe_cos_div(
                dot(F.col(vec_col), F.col("cvec")), F.col("_n") * F.col("_cn")
            ),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("_cos_c"), F.col("cid"))
    assigned = (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(id_col, vec_col, "cid", "_n")
    )
    q = df.filter(F.col(id_col) == query_id).select(
        F.col(vec_col).alias("_qv"), norm(vec_col).alias("_qn")
    )
    probe = (
        cents.crossJoin(F.broadcast(q))
        .withColumn(
            "_cos_q",
            safe_cos_div(
                dot(F.col("cvec"), F.col("_qv")), F.col("_cn") * F.col("_qn")
            ),
        )
        .orderBy(F.desc("_cos_q"), F.col("cid"))
        .limit(nprobe)
        .select("cid")
    )
    return (
        assigned.join(probe, "cid")
        .crossJoin(F.broadcast(q))
        .withColumn(
            "_cos",
            safe_cos_div(
                dot(F.col(vec_col), F.col("_qv")), F.col("_n") * F.col("_qn")
            ),
        )
        .orderBy(F.desc("_cos"), F.col(id_col))
        .limit(k)
        .select(id_col, F.round(F.col("_cos"), 6).alias("cos"))
    )


def _sq_dist(v, c) -> F.Column:
    return F.aggregate(
        F.zip_with(v, c, lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def ivf_build(
    df: DataFrame,
    vec_col: str,
    k_lists: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    centroid_round: int | None = None,
    seed_vectors: list[list[float]] | None = None,
) -> tuple[DataFrame, list[list[float]]]:
    """Deterministic IVF coarse quantizer (the second ANN scale path,
    complementing the sign-bucket LSH).

    ``seed_vectors`` (r15): the caller may hand in the k_lists seed
    vectors (MUST be the ``(md5(id), id)``-smallest rows, in that
    order) to skip the seed TakeOrdered job — :func:`ivf_pq_topk`
    collects one 16-row seed set and shares it between the coarse
    quantizer and PQ training (§5 driver round-trips).

    Seeds are the ``k_lists`` rows with the smallest md5(id) — a
    reproducible pseudo-random sample, no RNG state — then ``iters``
    Lloyd steps run as pure DataFrame ops: assignment is a codegen'd
    argmin expression, centroid update is one groupBy with per-dimension
    ``avg``.  Centroids (k x dim doubles) live on the driver exactly as
    a real IVF index's metadata would; the corpus-side product is the
    ``list_id`` column — at 100 TB you'd ``.write.partitionBy('list_id')``
    so probes become partition pruning.

    ``centroid_round`` rounds each per-dimension mean to that many
    decimal digits.  The float sum behind ``avg`` accumulates in
    partition order, so raw learned centroids differ across engines
    (and across runs with different partitioning) in the last ulp;
    rounding pins them to a reduction-order-independent value, which
    makes the whole learned-IVF result DuckDB-oracle-checkable with
    no measurable effect on recall (the centroids are coarse list
    anchors, not scored results).

    Assignment runs in Arrow batches (:func:`_assign_lists_udf`) with
    the sequential-fold argmin — BIT-EXACT to the declarative
    zip_with/aggregate argmin, which lives in
    ``tests/fold_reference.py`` as the property-test reference.

    The iterative-trainer working set: the input is pinned once,
    lazily — the seed job stores it, and every Lloyd iteration plus
    the final assignment then reads the stored rows instead of
    re-running the upstream scan per pass (rows, order and
    partitioning are unchanged, so the rounded means are
    byte-identical).
    """
    df = pin(df, eager=False)
    if seed_vectors is not None:
        centroids = [[float(x) for x in v] for v in seed_vectors[:k_lists]]
    else:
        seeds = (
            df.select(vec_col, id_col)
            .orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
            .limit(k_lists)
            .collect()
        )
        centroids = [[float(x) for x in r[0]] for r in seeds]
    if not centroids:
        raise ValueError("ivf_build: empty input — nothing to seed from")
    # dim from the seed rows already on the driver (was a separate
    # first() job — optimization r14)
    dim = len(centroids[0])

    def assign(frame, cents):
        return frame.withColumn(
            "list_id", _assign_lists_udf(cents)(F.col(vec_col))
        )

    for _ in range(iters):
        assigned = assign(df, centroids)
        mean_i = [
            F.avg(F.element_at(F.col(vec_col), i + 1)) for i in range(dim)
        ]
        if centroid_round is not None:
            mean_i = [F.round(m, centroid_round) for m in mean_i]
        rows = (
            assigned.groupBy("list_id")
            .agg(*[m.alias(f"c{i}") for i, m in enumerate(mean_i)])
            .collect()
        )
        updated = {r["list_id"]: [r[f"c{i}"] for i in range(dim)] for r in rows}
        centroids = [
            updated.get(i, centroids[i]) for i in range(len(centroids))
        ]
    return assign(df, centroids), centroids


def ivf_topk(
    df: DataFrame,
    vec_col: str,
    query: list[float],
    k: int = 10,
    k_lists: int = 16,
    nprobe: int = 4,
    iters: int = 2,
    id_col: str = "vec_id",
    assigned: DataFrame | None = None,
    centroids: list[list[float]] | None = None,
    round_digits: int | None = 6,
    centroid_round: int | None = None,
) -> DataFrame:
    """IVF probe: rank centroids driver-side (k x dim floats — trivial),
    score only the ``nprobe`` nearest inverted lists.  ``nprobe ==
    k_lists`` degrades gracefully to exact brute force; the recall/cost
    dial is nprobe, independent of corpus size."""
    if assigned is None or centroids is None:
        assigned, centroids = ivf_build(
            df, vec_col, k_lists, iters, id_col, centroid_round
        )
    ranked = sorted(
        range(len(centroids)),
        key=lambda i: (
            sum((a - b) ** 2 for a, b in zip(query, centroids[i])),
            i,
        ),
    )
    probe = ranked[: max(1, nprobe)]
    cand = assigned.filter(F.col("list_id").isin(probe))
    return brute_force_topk(cand, vec_col, query, k, id_col, round_digits)


def embedding_near_dup_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str = "vec_id",
    threshold: float = 0.95,
    num_dims: int = 8,
    round_digits: int | None = 6,
) -> DataFrame:
    """Near-duplicate embedding pairs: bucketed self-join + cosine gate.

    The sign-bucket equi-join keeps the candidate set ~1/2^d of the
    quadratic cross — the standard blocking trick; exact cosine then
    verifies.  (Vectors whose near-dups straddle a hyperplane are
    missed — the recall/cost dial is num_dims.)
    """
    from cloud_optimized_data_pipelines_spark.functions.vectors import (
        dot,
        norm,
        safe_cos_div,
    )

    # norm hoisted to a per-row column: inlining cosine_similarity in
    # the self-join re-folds both norms per candidate pair (3 folds ->
    # 1); dot/(norm_l*norm_r) is the identical expression value, so the
    # oracle is unaffected (see semantic_dedup)
    b = with_sign_bucket(df, vec_col, num_dims).select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        "bucket",
        norm(vec_col).alias("_n"),
    )
    left = b.alias("l")
    right = b.alias("r")
    cos = safe_cos_div(
        dot(F.col("l.vec"), F.col("r.vec")), F.col("l._n") * F.col("r._n")
    )
    if round_digits is not None:
        cos = F.round(cos, round_digits)
    return (
        left.join(
            right,
            (F.col("l.bucket") == F.col("r.bucket")) & (F.col("l.id") < F.col("r.id")),
        )
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            cos.alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )


def semantic_dedup(
    df: DataFrame,
    vec_col: str,
    id_col: str = "vec_id",
    k_lists: int = 16,
    threshold: float = 0.95,
    round_digits: int = 6,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding space, then inside each
    cluster mark every vector that has a lower-id cluster-mate with
    cosine >= threshold as a semantic duplicate.  Exact near-dups that
    land in different clusters are missed — the paper's stated
    recall/cost trade; the dial is ``k_lists``.

    Clustering here is the FIXED spherical assignment of
    :func:`ivf_probe_fixed` (centroids = first ``k_lists`` corpus ids),
    so the whole result is bit-reproducible and oracle-checkable; swap
    in :func:`ivf_build`'s learned centroids for production quality.

    Scale shape: assignment is a broadcast crossJoin against k_lists
    rows reduced by a PARTIAL-AGGREGATED argmax (``max_by`` keyed on
    (cosine, -cid): max cosine, ties to lowest cid) — the n x k
    candidate rows combine map-side, so only n rows ever shuffle.  (A
    per-vector ROW_NUMBER window has the same semantics but
    sort-shuffles all n x k rows; measured 159 s -> 62 s at the 100x
    probe, k_lists=16.)  The duplicate test is a LEFT SEMI self-join on the
    cluster id with the cosine gate in the join condition, so no pair
    set is ever materialized; per-cluster work is quadratic in cluster
    size, which is the quantity k_lists controls (SemDeDup's design
    point is k ~ sqrt(n), balancing O(n*k) assignment against O(n^2/k)
    dedup).  Returns every input row with (id, cid, is_dup) — filters
    never silently drop rows.
    """
    # pinned: the flags stage reads the assignment four times (both
    # sides of the semi AND anti joins), and each unpinned read would
    # replay the full n x k crossJoin scoring — the dominant cost at
    # SemDeDup's k ~ sqrt(n) design point, paid 4x.  Values unchanged
    # (same rows, stored instead of recomputed); semantic_dedup_indexed
    # gets the same effect from its parquet round-trip.
    assigned = pin(_semantic_assign(df, vec_col, id_col, k_lists))
    return _semantic_dedup_flags(
        assigned, vec_col, id_col, threshold, round_digits
    )


def _semantic_assign(
    df: DataFrame, vec_col: str, id_col: str, k_lists: int
) -> DataFrame:
    """SemDeDup cluster assignment: every row + its ``cid`` + hoisted
    norm — the n x k_lists crossJoin reduced by a partial-aggregated
    argmax (only n rows shuffle; see :func:`semantic_dedup`)."""
    from cloud_optimized_data_pipelines_spark.functions.vectors import (
        dot,
        norm,
        safe_cos_div,
    )

    # norms are computed ONCE per row/centroid and carried as columns:
    # cosine_similarity() inlined in a join or crossJoin re-folds BOTH
    # norms per candidate pair (3 array folds/pair instead of 1).  The
    # quotient dot/(norm_l * norm_r) is the identical expression value,
    # so oracle parity is unaffected.
    cents = df.filter(F.col(id_col) < k_lists).select(
        F.col(id_col).alias("cid"),
        F.col(vec_col).alias("cvec"),
        norm(vec_col).alias("_cnorm"),
    )
    scored = (
        df.withColumn("_norm", norm(vec_col))
        .crossJoin(F.broadcast(cents))
        .withColumn(
            "_cos_c",
            safe_cos_div(
                dot(F.col(vec_col), F.col("cvec")),
                F.col("_norm") * F.col("_cnorm"),
            ),
        )
    )
    # argmax key: unique per (vector, centroid), so the max_by's pick
    # the same row deterministically.  A zero-norm vector has NULL
    # cosine to every centroid (safe_cos_div) — coalesce to a -2.0
    # sentinel below any real cosine so it still lands deterministically
    # in the lowest-id cluster instead of vanishing from the output
    key = F.struct(
        F.coalesce(F.col("_cos_c"), F.lit(-2.0)), (-F.col("cid")).cast("long")
    )
    return scored.groupBy(id_col).agg(
        F.max_by("cid", key).alias("cid"),
        F.max_by(vec_col, key).alias(vec_col),
        F.max_by("_norm", key).alias("_norm"),
    )


def _semantic_dedup_flags(
    assigned: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float,
    round_digits: int,
) -> DataFrame:
    """Within-cluster duplicate flags over an assignment table
    (id, vec, cid, _norm) — the semi/anti stage of SemDeDup."""
    from cloud_optimized_data_pipelines_spark.functions.vectors import (
        dot,
        safe_cos_div,
    )

    left = assigned.select(
        F.col(id_col).alias("_lid"),
        F.col(vec_col).alias("_lvec"),
        F.col("cid").alias("_lcid"),
        F.col("_norm").alias("_lnorm"),
    )
    cos = F.round(
        safe_cos_div(
            dot(F.col("_lvec"), F.col(vec_col)),
            F.col("_lnorm") * F.col("_norm"),
        ),
        round_digits,
    )
    cond = (
        (F.col("_lcid") == F.col("cid"))
        & (F.col("_lid") < F.col(id_col))
        & (cos >= threshold)
    )
    # semi + anti rather than one left-outer + existence agg: the semi
    # probe SHORT-CIRCUITS at a row's first qualifying neighbour, while
    # a left join enumerates every qualifying pair before aggregating —
    # measured >5x slower at the 100x probe on dup-dense clusters
    dups = assigned.join(left, cond, "left_semi").select(
        id_col, "cid", F.lit(True).alias("is_dup")
    )
    keepers = assigned.join(left, cond, "left_anti").select(
        id_col, "cid", F.lit(False).alias("is_dup")
    )
    return dups.unionByName(keepers).select(
        id_col, F.col("cid").cast("long").alias("cid"), "is_dup"
    )


def knn_join(
    queries: DataFrame,
    corpus: DataFrame,
    vec_col: str,
    k: int = 5,
    query_id_col: str = "query_id",
    id_col: str = "vec_id",
    num_dims: int | None = None,
    round_digits: int | None = 6,
) -> DataFrame:
    """Batch k-NN join: for EVERY row of ``queries``, the top-k
    ``corpus`` rows by cosine similarity — the set-valued sibling of
    :func:`brute_force_topk` (one query) and the shape a
    training-data pipeline needs for retrieval augmentation / nearest-
    neighbor labeling of a whole query table.

    Scale shape: ``queries`` is broadcast (a query batch is
    metadata-sized next to a 100 TB corpus); scoring is a map-side
    nested loop producing |corpus| x |Q| candidate rows.  Top-k is
    TWO-PHASE: a first ROW_NUMBER window over (query, input-partition
    salt) keeps k rows per query per map partition — the shuffle is
    balanced over |Q| x P reducers instead of |Q| hot ones — then the
    final window ranks only |Q| x P x k survivors.  Top-k of
    per-partition top-k is exact, and the result is independent of the
    salt assignment, so the output is deterministic even though
    ``spark_partition_id`` itself is not.

    ``num_dims`` switches to sign-bucket blocking: only corpus rows in
    the query's bucket are scored (candidates ~|corpus| / 2^d per
    query — the ANN path; recall trade as in :func:`ann_topk`).  The
    bucket is a hashable join key, so that form carries no broadcast
    hint and the planner sizes the query side.

    Output: (query_id, id, cos, rank) with rank 1..k per query.
    """
    from cloud_optimized_data_pipelines_spark.functions.vectors import (
        dot,
        norm,
        safe_cos_div,
    )

    q = queries.select(
        F.col(query_id_col).alias("_qid"),
        F.col(vec_col).alias("_qv"),
        norm(vec_col).alias("_qn"),
        *(
            [sign_bucket(F.col(vec_col), num_dims).alias("_qb")]
            if num_dims
            else []
        ),
    )
    c = corpus.select(
        F.col(id_col).alias(id_col),
        F.col(vec_col).alias("_cv"),
        norm(vec_col).alias("_cn"),
        *(
            [sign_bucket(F.col(vec_col), num_dims).alias("_cb")]
            if num_dims
            else []
        ),
    )
    if num_dims:
        scored = c.join(q, F.col("_cb") == F.col("_qb"))
    else:
        scored = c.crossJoin(F.broadcast(q))
    cos = safe_cos_div(
        dot(F.col("_cv"), F.col("_qv")), F.col("_cn") * F.col("_qn")
    )
    if round_digits is not None:
        cos = F.round(cos, round_digits)
    scored = scored.select(
        F.col("_qid"), F.col(id_col), cos.alias("cos")
    ).withColumn("_salt", F.spark_partition_id())
    w1 = Window.partitionBy("_qid", "_salt").orderBy(
        F.desc("cos"), F.col(id_col)
    )
    survivors = (
        scored.withColumn("_r1", F.row_number().over(w1))
        .filter(F.col("_r1") <= k)
        .drop("_r1", "_salt")
    )
    w2 = Window.partitionBy("_qid").orderBy(F.desc("cos"), F.col(id_col))
    return (
        survivors.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select(
            F.col("_qid").alias(query_id_col),
            id_col,
            "cos",
            F.col("rank").cast("long").alias("rank"),
        )
    )


def semantic_dedup_write_assignment(
    df: DataFrame,
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k_lists: int = 16,
) -> None:
    """Persist the SemDeDup cluster assignment partitioned by ``cid``
    (hive layout) — the ``ivf_write_index`` pattern applied to
    semantic dedup.

    Why: at SemDeDup's design point k ~ sqrt(n) the n x k assignment
    crossJoin dominates, and the in-memory :func:`semantic_dedup`
    evaluates it ONCE PER SELF-JOIN SIDE (measured 270 s at k=448 on
    the 100x probe).  Writing the assignment once means the self-join
    reads n rows per side from parquet instead of recomputing n x k
    candidate scores twice, and any per-cluster probe is partition
    pruning.
    """
    # repartition by cid before the partitioned write: without it every
    # write task touches every cid directory (tasks x k_lists small
    # files — measured 170.8 s at 100x/k=448); with it each cid lands
    # wholly in one task, one file per partition dir
    _semantic_assign(df, vec_col, id_col, k_lists).repartition(
        F.col("cid")
    ).write.mode("overwrite").partitionBy("cid").parquet(f"{path}/assignment")


def semantic_dedup_indexed(
    spark,
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    round_digits: int = 6,
) -> DataFrame:
    """SemDeDup duplicate flags over a persisted assignment (written by
    :func:`semantic_dedup_write_assignment`).  Oracle-equal to
    :func:`semantic_dedup`: parquet round-trips doubles losslessly, so
    the within-cluster cosines are bit-identical — only the
    assignment-stage cost moves (paid once at write time, amortized
    across every subsequent dedup/probe run)."""
    stored = spark.read.parquet(f"{path}/assignment")
    return _semantic_dedup_flags(
        stored, vec_col, id_col, threshold, round_digits
    )


def quantize_embeddings_int8(
    df: DataFrame,
    vec_col: str = "embedding",
    code_col: str = "codes",
    scale_col: str = "scale",
) -> DataFrame:
    """Symmetric per-vector int8 scalar quantization — the standard 4x
    storage cut for embedding tables: ``scale = max(|x|)/127``,
    ``code_i = round(x_i / scale)`` in [-127, 127].  Pure column
    expressions (transform/aggregate), bit-identical in DuckDB, no
    shuffle; pair with a partitioned write for the stored form.
    Zero vectors get scale 0 and all-zero codes (dequantize restores
    the zero vector exactly)."""
    x = F.col(vec_col)
    mx = F.aggregate(
        x,
        F.lit(0.0),
        lambda acc, v: F.greatest(acc, F.abs(v.cast("double"))),
    )
    scale = mx / F.lit(127.0)
    return df.withColumn(scale_col, scale).withColumn(
        code_col,
        F.when(F.col(scale_col) == 0.0, F.transform(x, lambda v: F.lit(0)))
        .otherwise(
            F.transform(
                x,
                lambda v: F.round(v.cast("double") / F.col(scale_col), 0)
                .cast("int"),
            )
        ),
    )


def dequantize_embeddings_int8(
    df: DataFrame,
    code_col: str = "codes",
    scale_col: str = "scale",
    out_col: str = "embedding_deq",
) -> DataFrame:
    """Inverse of :func:`quantize_embeddings_int8`:
    ``x_i ~ code_i * scale`` (max reconstruction error scale/2 per
    coordinate)."""
    return df.withColumn(
        out_col,
        F.transform(
            F.col(code_col),
            lambda c: c.cast("double") * F.col(scale_col),
        ),
    )


def truncated_rerank_topk(
    df: DataFrame,
    vec_col: str,
    query: list[float],
    k: int = 10,
    prefix_dims: int = 16,
    candidates: int = 50,
    id_col: str = "vec_id",
    round_digits: int | None = 6,
) -> DataFrame:
    """Two-stage retrieval with a TRUNCATED-PREFIX coarse pass (the
    Matryoshka-embedding serving shape, Kusupati et al. 2022): stage 1
    scores only the first ``prefix_dims`` coordinates and keeps
    ``candidates`` rows (TakeOrderedAndProject — k rows per partition,
    no global sort); stage 2 reranks just those candidates with the
    exact full-dimension cosine.  At 100 TB the coarse pass reads a
    d/8-wide column (store the prefix as its own column for column
    pruning) and the exact pass touches ``candidates`` rows, not the
    corpus.

    Output: (id, cos_prefix, cos, rank) — rank by exact cosine, ties
    by id; recall vs brute force is the candidates/prefix trade
    (pytest-gated on the shipped data)."""
    from cloud_optimized_data_pipelines_spark.functions.vectors import (
        dot,
        literal_vector,
        safe_cos_div,
    )

    qpre = literal_vector([float(v) for v in query[:prefix_dims]])
    qfull = literal_vector([float(v) for v in query])
    pre = F.slice(F.col(vec_col), 1, prefix_dims)

    def cos(a, b):
        d = dot(a, b)
        na = F.sqrt(dot(a, a))
        nb = F.sqrt(dot(b, b))
        c = safe_cos_div(d, na * nb)
        return F.round(c, round_digits) if round_digits is not None else c

    coarse = (
        df.select(
            F.col(id_col),
            F.col(vec_col),
            cos(pre, qpre).alias("cos_prefix"),
        )
        .orderBy(F.desc("cos_prefix"), F.col(id_col))
        .limit(candidates)
    )
    exact = coarse.select(
        id_col, "cos_prefix", cos(F.col(vec_col), qfull).alias("cos")
    )
    w = Window.orderBy(F.desc("cos"), F.col(id_col))
    return (
        exact.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(id_col, "cos_prefix", "cos", "rank")
    )


def _semantic_assign_numpy(
    df: DataFrame, vec_col: str, id_col: str, k_lists: int
) -> DataFrame:
    """Vectorized (Arrow + numpy matmul) SemDeDup cluster assignment —
    same semantics as :func:`_semantic_assign` (max cosine, ties to
    lowest cid, zero-norm rows to the lowest-id cluster), ~100x the
    fold path's throughput.

    Why it exists: the declarative assignment folds the dot product
    with Catalyst higher-order lambdas, which run INTERPRETED — the
    100x/1000x probes measure ~0.7M candidate folds/s total, so the
    n x k crossJoin dominates at SemDeDup's k ~ sqrt(n) design point
    (133 s at n=200k, k=448).  A k x d centroid matrix is metadata
    (k_lists rows), so each Arrow batch scores against it with one
    float64 matmul on the executor — no shuffle at all (the fold path
    shuffles n rows for its partial-agg argmax; this path is fully
    map-side).

    Epsilon caveat: matmul accumulates pairwise, the fold
    sequentially — cosines can differ in the last ulps, so an argmax
    between two near-exactly-tied centroids may pick differently.
    The equality property test (tests/test_text_vectors.py) pins both
    paths identical on the shipped test data.
    """
    import numpy as np

    cent_rows = sorted(
        df.filter(F.col(id_col) < k_lists)
        .select(F.col(id_col).cast("long"), vec_col)
        .collect(),
        key=lambda r: r[0],
    )
    if not cent_rows:
        raise ValueError("no centroid rows: need ids < k_lists present")
    cids = np.array([r[0] for r in cent_rows], dtype=np.int64)
    C = np.array([list(r[1]) for r in cent_rows], dtype=np.float64)
    cnorm = np.sqrt((C * C).sum(axis=1))

    vec_field = next(f for f in df.schema.fields if f.name == vec_col)
    out_schema = (
        f"{id_col} long, cid long, {vec_col} {vec_field.dataType.simpleString()}"
    )
    src = df.select(F.col(id_col).cast("long").alias(id_col), vec_col)

    def assign(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            M = np.array(list(pdf[vec_col]), dtype=np.float64)
            mnorm = np.sqrt((M * M).sum(axis=1))
            denom = np.outer(mnorm, cnorm)
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = (M @ C.T) / denom
            # zero-norm rows/centroids: NULL cosine in the fold path,
            # coalesced to a -2.0 sentinel below any real cosine
            cos = np.where(denom == 0.0, -2.0, cos)
            # argmax first-max = lowest cid on ties (cids sorted asc)
            best = cids[np.argmax(cos, axis=1)]
            out = pdf[[id_col, vec_col]].copy()
            out.insert(1, "cid", best)
            yield out

    return src.mapInPandas(assign, schema=out_schema)


def semantic_dedup_fast(
    df: DataFrame,
    vec_col: str,
    id_col: str = "vec_id",
    k_lists: int = 16,
    threshold: float = 0.95,
    round_digits: int = 6,
    block: int = 4096,
) -> DataFrame:
    """SemDeDup with both stages vectorized — the 100 TB fast path of
    :func:`semantic_dedup` (same output: every row as
    ``(id, cid, is_dup)``).

    Assignment: :func:`_semantic_assign_numpy` (map-side matmul).
    Within-cluster flags: ``applyInPandas`` per cid — rows sorted by
    id, the Gram matrix built in ``block x block`` tiles so memory
    stays O(block^2) however large a cluster is; a row is a duplicate
    iff any LOWER-id cluster-mate has round(cos, round_digits) >=
    threshold, exactly the fold path's semi-join predicate (zero-norm
    rows normalize to the zero vector -> cosine 0, matching the fold
    path's NULL-cosine-never-qualifies for any threshold > 0).

    Use ``k_lists ~ sqrt(n)`` here: one cid is one Arrow group, so
    per-cluster work (and memory: cluster_size x dim float64) is the
    quantity k_lists controls.  At the probe's 2M x 64 corpus this
    path runs the k=1414 design point in ~1 min where the fold path
    needs hours (SCALE.md round 8).

    Epsilon caveat as in :func:`_semantic_assign_numpy`: matmul vs
    sequential-fold cosines can differ in the final ulps at the
    round_digits boundary; the registered query's oracle parity is
    pinned by the driver at fixed data.
    """
    import numpy as np

    assigned = _semantic_assign_numpy(df, vec_col, id_col, k_lists)
    out_schema = f"{id_col} long, cid long, is_dup boolean"

    def flags(pdf):
        import pandas as pd

        pdf = pdf.sort_values(id_col, kind="mergesort").reset_index(drop=True)
        V = np.array(list(pdf[vec_col]), dtype=np.float64)
        n = V.shape[0]
        norms = np.sqrt((V * V).sum(axis=1, keepdims=True))
        Vn = np.divide(V, norms, out=np.zeros_like(V), where=norms != 0.0)
        dup = np.zeros(n, dtype=bool)
        for lo in range(0, n, block):
            hi = min(lo + block, n)
            # tile (lo:hi) x (0:hi): cos against every lower-or-equal id
            G = np.round(Vn[lo:hi] @ Vn[:hi].T, round_digits)
            hit = G >= threshold
            # strict lower-triangle within the diagonal tile
            hit[:, lo:hi] &= np.tri(hi - lo, hi - lo, -1, dtype=bool)
            dup[lo:hi] = hit.any(axis=1)
        return pd.DataFrame(
            {
                id_col: pdf[id_col],
                "cid": pdf["cid"],
                "is_dup": dup,
            }
        )

    return assigned.groupBy("cid").applyInPandas(flags, schema=out_schema)


def ivf_write_index(
    spark,
    df: DataFrame,
    path: str,
    vec_col: str = "embedding",
    k_lists: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
) -> list[list[float]]:
    """Persist the IVF index: the assigned corpus partitioned by
    ``list_id`` (hive layout → probes are PARTITION PRUNING, not a
    filter over the full corpus) plus the centroid table.

    This is the amortization the in-memory ``ivf_topk`` cannot give:
    build once (the only full-corpus work), then every query reads just
    its nprobe list directories.  Returns the centroids.
    """
    assigned, centroids = ivf_build(df, vec_col, k_lists, iters, id_col)
    # the assigned frame feeds BOTH the partitioned write and the
    # per-list stats aggregation below; pinned, the Arrow assignment
    # UDF runs once, not twice (the write — the first consumer —
    # stores the lazy pin).
    assigned = pin(assigned, eager=False)
    assigned.write.mode("overwrite").partitionBy("list_id").parquet(
        f"{path}/lists"
    )
    cent_rows = [
        (i, [float(x) for x in c]) for i, c in enumerate(centroids)
    ]
    spark.createDataFrame(
        cent_rows, "list_id int, centroid array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")
    # per-list quantization stats — the baseline ivf_append's drift
    # trigger compares against (k rows, written once at build)
    _ivf_write_stats(
        spark,
        assigned.withColumn(
            "_qd", _min_sq_dist(F.col(vec_col), centroids)
        )
        .groupBy("list_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("_qd").alias("sum_sqdist"),
        )
        .collect(),
        path,
    )
    return centroids


def _min_sq_dist(vec: Column, centroids: list[list[float]]) -> Column:
    """Squared L2 distance to the NEAREST centroid (the assignment
    distance): the minimum of the ``_sq_dist`` folds, so a vector the
    assignment leaves unassigned (null, or not ``dim`` long) gets
    null."""
    return F.array_min(
        F.array(*[_sq_dist(vec, literal_vector(c)) for c in centroids])
    )


def _ivf_write_stats(spark, rows, path: str) -> None:
    data = [
        (int(r["list_id"]), int(r["n"]), float(r["sum_sqdist"]))
        for r in rows
    ]
    spark.createDataFrame(
        data, "list_id int, n bigint, sum_sqdist double"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/stats")


def ivf_append(
    spark,
    path: str,
    new_df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    qerr_tolerance: float = 0.5,
    skew_tolerance: float = 3.0,
) -> dict:
    """Append vectors to a persisted IVF index WITHOUT retraining
    (VERDICT r10 task 8): assign against the FROZEN centroid table,
    append into the same hive layout (probes keep partition-pruning;
    parity with a frozen-centroid assignment is exact by construction
    and test-proven), and return drift metrics so the caller can
    schedule a retrain.

    Drift trigger heuristic (documented in SCALE.md): recommend a
    retrain when EITHER
    - ``qerr_ratio`` = appended mean squared assignment distance /
      the index's build-time mean exceeds ``1 + qerr_tolerance`` —
      the new data sits measurably farther from the frozen centroids
      than the data they were trained on (distribution shift), OR
    - ``max_list_share`` (largest list's fraction of the grown index)
      exceeds ``skew_tolerance / k_lists`` — appends are piling into
      few lists, so nprobe pruning degenerates toward a full scan.

    Neither trigger blocks the append: a stale-but-complete index
    returns correct nprobe-scoped results (recall degrades gracefully
    as centroids stale); the metrics make the staleness measurable.

    Returns dict(appended, qerr_new, qerr_index, qerr_ratio,
    max_list_share, k_lists, retrain_recommended).
    """
    cents_rows = sorted(
        spark.read.parquet(f"{path}/centroids").collect(),
        key=lambda r: r["list_id"],
    )
    centroids = [[float(x) for x in r["centroid"]] for r in cents_rows]
    assigned = new_df.withColumn(
        "list_id", _assign_lists_udf(centroids)(F.col(vec_col))
    ).withColumn("_qd", _min_sq_dist(F.col(vec_col), centroids))
    new_stats = {
        int(r["list_id"]): (int(r["n"]), float(r["sum_sqdist"]))
        for r in assigned.groupBy("list_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("_qd").alias("sum_sqdist"))
        .collect()
    }
    assigned.drop("_qd").write.mode("append").partitionBy(
        "list_id"
    ).parquet(f"{path}/lists")
    old_stats = {
        int(r["list_id"]): (int(r["n"]), float(r["sum_sqdist"]))
        for r in spark.read.parquet(f"{path}/stats").collect()
    }
    n_old = sum(n for n, _ in old_stats.values())
    sq_old = sum(s for _, s in old_stats.values())
    n_new = sum(n for n, _ in new_stats.values())
    sq_new = sum(s for _, s in new_stats.values())
    merged = {
        i: (
            old_stats.get(i, (0, 0.0))[0] + new_stats.get(i, (0, 0.0))[0],
            old_stats.get(i, (0, 0.0))[1] + new_stats.get(i, (0, 0.0))[1],
        )
        for i in set(old_stats) | set(new_stats)
    }
    _ivf_write_stats(
        spark,
        [
            {"list_id": i, "n": n, "sum_sqdist": s}
            for i, (n, s) in merged.items()
        ],
        path,
    )
    total = max(1, n_old + n_new)
    max_share = max(n for n, _ in merged.values()) / total
    qerr_index = sq_old / max(1, n_old)
    qerr_new = sq_new / max(1, n_new)
    ratio = qerr_new / qerr_index if qerr_index > 0 else float("inf")
    k = len(centroids)
    return {
        "appended": n_new,
        "qerr_new": qerr_new,
        "qerr_index": qerr_index,
        "qerr_ratio": ratio,
        "max_list_share": max_share,
        "k_lists": k,
        "retrain_recommended": bool(
            ratio > 1.0 + qerr_tolerance
            or max_share > skew_tolerance / k
        ),
    }


def ivf_topk_indexed(
    spark,
    path: str,
    query: list[float],
    k: int = 10,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_digits: int | None = 6,
) -> DataFrame:
    """Probe a persisted IVF index: rank centroids driver-side (k x dim
    doubles from the tiny centroid table), then scan ONLY the nprobe
    nearest list partitions.  The list_id filter is a partition filter
    (plan-asserted in tests) — scan cost is corpus_size * nprobe /
    k_lists regardless of total index size."""
    cent = {
        r["list_id"]: r["centroid"]
        for r in spark.read.parquet(f"{path}/centroids").collect()
    }
    ranked = sorted(
        cent,
        key=lambda i: (sum((a - b) ** 2 for a, b in zip(query, cent[i])), i),
    )
    probe = ranked[: max(1, nprobe)]
    lists = spark.read.parquet(f"{path}/lists").filter(
        F.col("list_id").isin(probe)
    )
    return brute_force_topk(lists, vec_col, query, k, id_col, round_digits)


def pq_train(
    df: DataFrame,
    vec_col: str,
    m_sub: int = 8,
    k_codes: int = 16,
    iters: int = 1,
    id_col: str = "vec_id",
    centroid_round: int | None = 6,
    seed_vectors: list[list[float]] | None = None,
) -> list[list[list[float]]]:
    """Product-quantization codebooks (Jégou et al. 2011, "Product
    Quantization for Nearest Neighbor Search"): split each vector into
    ``m_sub`` subvectors and k-means each subspace independently —
    the compressed-domain ANN path that IVF alone lacks.  A 64-dim
    float32 vector becomes ``m_sub`` small codes (8 bytes at the
    defaults vs 256 raw): at 100 TB the ADC scan reads a 32× narrower
    column and the codebooks (m*k*subdim doubles — 8 KiB here) ride
    inside the plan as literals, no broadcast table needed.

    Training mirrors :func:`ivf_build`'s determinism recipe: seeds are
    the ``k_codes`` rows with the smallest md5(id) (their subvector
    slices seed every subspace), each Lloyd step assigns by argmin
    squared-L2 (ties to the lowest code) and re-means per (subspace,
    code, dim) in ONE exploded groupBy (n*m_sub rows into m_sub*k
    groups — map-side combined), and ``centroid_round`` pins the means
    to a reduction-order-independent value so the whole PQ pipeline is
    DuckDB-oracle-checkable.  Empty cells keep their seed subvector.

    Returns ``codebooks[s][j]`` = centroid j of subspace s.

    ``seed_vectors`` (r15): the caller may hand in the k_codes seed
    vectors of ``vec_col`` (the ``(md5(id), id)``-smallest rows, in
    order) to skip the seed TakeOrdered job — see :func:`ivf_pq_topk`,
    which derives the residual seeds driver-side from one shared
    collect (§5 driver round-trips).
    """
    if seed_vectors is not None:
        svecs = [[float(x) for x in v] for v in seed_vectors[:k_codes]]
    else:
        seeds = (
            df.select(vec_col, id_col)
            .orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
            .limit(k_codes)
            .collect()
        )
        svecs = [[float(x) for x in r[0]] for r in seeds]
    if not svecs:
        raise ValueError("pq_train: empty input — nothing to seed from")
    # dim from the seed rows already on the driver (was a separate
    # first() job — optimization r14)
    dim = len(svecs[0])
    if dim % m_sub:
        raise ValueError(f"pq_train: dim {dim} not divisible by m_sub {m_sub}")
    sub = dim // m_sub
    books = [
        [v[s * sub: (s + 1) * sub] for v in svecs]
        for s in range(m_sub)
    ]
    vc = F.col(vec_col)
    for _ in range(iters):
        enc = pq_encode(df, vec_col, books, "_codes")
        cells = F.array(
            *[
                F.struct(
                    F.lit(s).alias("s"),
                    F.element_at(F.col("_codes"), s + 1).alias("code"),
                    F.slice(vc, s * sub + 1, sub).alias("sv"),
                )
                for s in range(m_sub)
            ]
        )
        ex = enc.select(F.explode(cells).alias("x")).select(
            "x.s", "x.code", "x.sv"
        )
        mean_i = [
            F.avg(F.element_at(F.col("sv"), i + 1)) for i in range(sub)
        ]
        if centroid_round is not None:
            mean_i = [F.round(m, centroid_round) for m in mean_i]
        rows = (
            ex.groupBy("s", "code")
            .agg(*[m.alias(f"c{i}") for i, m in enumerate(mean_i)])
            .collect()
        )
        upd = {
            (r["s"], r["code"]): [r[f"c{i}"] for i in range(sub)]
            for r in rows
        }
        books = [
            [upd.get((s, j), books[s][j]) for j in range(k_codes)]
            for s in range(m_sub)
        ]
    return books


def pq_encode(
    df: DataFrame,
    vec_col: str,
    codebooks: list[list[list[float]]],
    code_col: str = "pq_codes",
) -> DataFrame:
    """Attach the PQ code array (``m_sub`` small ints per vector) —
    map-only, no shuffle; the stored form a 100 TB embedding table
    would persist next to (or instead of) the raw vectors.

    Encodes in Arrow batches (:func:`_pq_codes_udf`) with the
    sequential-fold argmin — BIT-EXACT to the declarative
    zip_with/aggregate form, which lives in ``tests/fold_reference.py``
    as the property-test reference (Catalyst higher-order lambdas run
    interpreted, and encode is m_sub*k_codes folds per row, so the
    Arrow form is ~10-60x faster)."""
    return df.withColumn(code_col, _pq_codes_udf(codebooks)(F.col(vec_col)))


def pq_topk(
    df: DataFrame,
    vec_col: str,
    query: list[float],
    codebooks: list[list[list[float]]],
    k: int = 10,
    id_col: str = "vec_id",
    code_col: str | None = None,
    round_digits: int | None = 6,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: the query's
    distance to every codebook centroid is precomputed driver-side
    (m_sub * k_codes doubles) and embedded as plan literals; each
    row's approximate squared-L2 is then a pure ``m_sub``-term lookup
    fold over its code array — the scan never touches the raw
    vectors.  If ``code_col`` is None the codes are computed on the
    fly (one plan, still map-only); pass a persisted code column for
    the compressed-domain scan.  Ordering is the ROUNDED distance
    then id, matching :func:`brute_force_topk`'s convention.

    The distance table fold accumulates in subspace order (s=0..m-1),
    so the result is bit-reproducible and DuckDB-oracle-checkable.
    """
    m_sub = len(codebooks)
    sub = len(codebooks[0][0])
    # left-fold with explicit d*d products: matches the engine's
    # _sq_dist / the oracle's list_reduce bit for bit
    dtable = []
    for s in range(m_sub):
        qs = query[s * sub: (s + 1) * sub]
        row = []
        for cent in codebooks[s]:
            acc = 0.0
            for a, b in zip(qs, cent):
                d = a - b
                acc = acc + d * d
            row.append(acc)
        dtable.append(row)
    out = df
    if code_col is None:
        code_col = "_pq_codes"
        out = pq_encode(out, vec_col, codebooks, code_col)
    adc = F.lit(0.0)
    for s in range(m_sub):
        dt = literal_vector(dtable[s])
        adc = adc + F.element_at(dt, F.element_at(F.col(code_col), s + 1) + 1)
    if round_digits is not None:
        adc = F.round(adc, round_digits)
    return (
        out.select(F.col(id_col), adc.alias("adc"))
        .orderBy(F.col("adc"), F.col(id_col))
        .limit(k)
    )


def pq_refine_topk(
    df: DataFrame,
    vec_col: str,
    query: list[float],
    codebooks: list[list[list[float]]],
    k: int = 10,
    refine: int = 100,
    id_col: str = "vec_id",
    round_digits: int | None = 6,
) -> DataFrame:
    """ADC shortlist + exact re-rank (Jégou et al. 2011 §VI, the
    "IVFADC+R" refinement): :func:`pq_topk` picks ``refine``
    candidates from the compressed codes, then ONLY those rows' raw
    vectors are read back for an exact squared-L2 re-rank.  This is
    the production PQ shape at 100 TB — the full scan touches the 32×
    narrower code column; the raw-vector read is a ``refine``-row
    broadcast join — and it recovers the recall that pure ADC loses
    to quantization error (pytest-gated).  The shortlist order
    (rounded ADC, then id) is total, so the candidate set — and hence
    the result — is deterministic and oracle-checkable."""
    short = pq_topk(
        df, vec_col, query, codebooks, k=refine, id_col=id_col,
        code_col=None, round_digits=round_digits,
    ).select(id_col)
    cand = df.join(short, id_col)
    dist = _sq_dist(F.col(vec_col), literal_vector(query))
    if round_digits is not None:
        dist = F.round(dist, round_digits)
    return (
        cand.select(F.col(id_col), dist.alias("dist"))
        .orderBy(F.col("dist"), F.col(id_col))
        .limit(k)
    )


def random_projection(
    df: DataFrame,
    vec_col: str,
    out_dims: int = 16,
    in_dims: int | None = None,
    id_col: str = "vec_id",
    out_col: str = "projected",
) -> DataFrame:
    """Sign random projection (Achlioptas 2003's database-friendly
    Johnson-Lindenstrauss transform): ``y_j = (1/sqrt(out_dims)) *
    sum_i x_i * s_ij`` with ``s_ij in {+1, -1}`` — the standard 4x-16x
    dimension cut a 100 TB embedding table takes BEFORE the ANN index
    (pairwise distances preserved within (1 +- eps), eps ~
    sqrt(log n / out_dims); pytest-gated here).

    The projection matrix is never materialized: each sign is the md5
    parity of ``"j:i"`` (the same portable hash family as the
    sketches), computed driver-side into the UDF closure — no shuffle,
    no broadcast — and both engines derive the IDENTICAL matrix.

    Projects in Arrow batches (:func:`_project_signs_udf`) with the
    sequential multiply-add ``acc = acc + x_i * s_ij`` in dimension
    order, each step one elementwise IEEE op, so every row's
    accumulation is the IDENTICAL instruction sequence as the
    declarative zip_with/aggregate fold (and the oracle's list_reduce):
    BIT-EXACT without rounding.  The fold form lives in
    ``tests/fold_reference.py`` as the property-test reference.
    """
    import hashlib as _hashlib
    import math as _math

    if in_dims is None:
        in_dims = df.select(F.size(F.col(vec_col)).alias("d")).first()["d"]
    scale = 1.0 / _math.sqrt(out_dims)
    signs = [
        [
            1.0
            if int(_hashlib.md5(f"{j}:{i}".encode()).hexdigest()[:8], 16) % 2
            == 0
            else -1.0
            for i in range(in_dims)
        ]
        for j in range(out_dims)
    ]
    return df.select(
        F.col(id_col),
        _project_signs_udf(signs, scale)(F.col(vec_col)).alias(out_col),
    )


def _project_signs_udf(signs: list[list[float]], scale: float):
    """Arrow-batched sign projection — the ±1 matrix in the closure,
    sequential-over-dims multiply-add per batch (see
    :func:`random_projection`: bit-exact to the fold form; ``x * ±1.0``
    is an exact IEEE op).  A vector that is not ``in_dims`` long gets
    all-null components, as the fold's zip_with pads it with nulls."""
    import numpy as np
    from pyspark.sql.functions import arrow_udf

    S = np.array(signs, dtype=np.float64)

    def project(X):
        n = X.shape[0]
        out = np.empty((n, S.shape[0]), dtype=np.float64)
        for j in range(S.shape[0]):
            acc = np.zeros(n, dtype=np.float64)
            for i in range(S.shape[1]):
                acc = acc + X[:, i] * S[j, i]
            out[:, j] = acc * scale
        return out

    @arrow_udf("array<double>")
    def proj(col: pa.Array) -> pa.Array:
        return _map_vectors(col, S.shape[1], project)

    return proj


def _map_vectors(col, width: int, kernel, fold_valid=None, slices=1):
    """Run a batch ``kernel`` (float64 matrix of ``width`` columns ->
    one value, or one row of values, per vector) over an Arrow list
    array of vectors, and null out what the declarative fold yields
    as null: every output of a null vector, those of a vector whose
    length is not ``width`` unless ``fold_valid(length)`` marks them
    (a bool per output; the vector is zero-padded or cut to ``width``
    for the kernel), and every output that reads a null element.  The
    kernel's outputs read ``slices`` equal slices of the vector, output
    j slice j; with one slice every output reads the whole vector.
    Well-formed batches reshape the values buffer straight into the
    kernel; only rows of another length take the per-row path.  Arrow
    output keeps NaN distinct from null."""
    import numpy as np
    import pyarrow.compute as pc

    n = len(col)
    lens = pc.list_value_length(col).fill_null(-1).to_numpy()
    ok = lens == width

    def matrix(vectors):
        values = vectors.flatten()
        return (
            values.to_numpy(zero_copy_only=False)
            .astype(np.float64)
            .reshape(-1, width),
            values.is_null().to_numpy(zero_copy_only=False).reshape(-1, width),
        )

    odd = np.flatnonzero((lens >= 0) & ~ok)
    if ok.all():
        X, gaps = matrix(col)
    else:
        X = np.zeros((n, width), dtype=np.float64)
        gaps = np.zeros((n, width), dtype=bool)
        X[ok], gaps[ok] = matrix(col.filter(pa.array(ok)))
        for i in odd:
            v = col[int(i)].values[:width]
            X[i, : len(v)] = v.to_numpy(zero_copy_only=False)
            gaps[i, : len(v)] = v.is_null().to_numpy(zero_copy_only=False)
    with np.errstate(all="ignore"):  # IEEE results, as in the fold
        vals = kernel(X)
    null = np.zeros(vals.shape, dtype=bool)
    null[~ok] = True
    if fold_valid is not None:
        for i in odd:
            null[i] = ~fold_valid(int(lens[i]))
    gaps = gaps.reshape(n, slices, -1).any(axis=2)
    null |= gaps if vals.ndim == 2 else gaps[:, 0]
    if vals.ndim == 1:
        return pa.array(vals, mask=null)
    k = vals.shape[1]
    return pa.ListArray.from_arrays(
        pa.array(np.arange(0, n * k + 1, k, dtype=np.int32)),
        pa.array(vals.ravel(), mask=null.ravel()),
    )


def ivf_pq_topk(
    df: DataFrame,
    vec_col: str,
    query: list[float],
    k: int = 10,
    k_lists: int = 8,
    nprobe: int = 4,
    m_sub: int = 8,
    k_codes: int = 16,
    id_col: str = "vec_id",
    centroid_round: int | None = 6,
    round_digits: int | None = 6,
) -> DataFrame:
    """IVFADC (Jégou et al. 2011 §IV): the billion-scale ANN layout —
    a coarse IVF quantizer prunes to ``nprobe`` of ``k_lists``
    inverted lists, and PQ codebooks trained on RESIDUALS (vector
    minus its list centroid) score the survivors in the compressed
    domain.  Encoding residuals instead of raw vectors is what makes
    the ADC table per-list: the query's residual differs per probed
    list, so quantization error is measured around the local centroid
    — the precision lever that flat PQ lacks.

    Plan shape at 100 TB: the corpus is written partitioned by
    ``list_id`` with only the m-byte code column (+id); a query scans
    nprobe partitions of codes, scores each row with an
    ``m_sub``-term literal-lookup fold (the per-list distance tables
    are nprobe * m_sub * k_codes doubles riding the plan), and
    top-k's per partition.  Training reuses :func:`ivf_build` (rounded
    Lloyd means) and :func:`pq_train`'s recipe on the residual frame,
    so the whole pipeline stays deterministic and oracle-checkable.
    """
    # ONE seed TakeOrdered shared by the coarse quantizer and PQ
    # training (r15, §5 driver round-trips): both seed sets are the
    # (md5(id), id)-smallest rows — ivf_build takes the first k_lists
    # vectors, and pq_train's residual seeds are derived DRIVER-side
    # below with the same numpy ops the executors run (bit-exact:
    # _seq_sqdist_argmin is the assignment UDF's own kernel, and the
    # residual subtract is the identical float64 x - c per element).
    import numpy as np

    seed_rows = (
        df.select(vec_col, id_col)
        .orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
        .limit(max(k_lists, k_codes))
        .collect()
    )
    seed_vecs = [[float(x) for x in r[0]] for r in seed_rows]
    assigned, centroids = ivf_build(
        df, vec_col, k_lists, iters=1, id_col=id_col,
        centroid_round=centroid_round,
        seed_vectors=seed_vecs,
    )
    dim = len(centroids[0])
    if dim % m_sub:
        raise ValueError(f"ivf_pq_topk: dim {dim} % m_sub {m_sub} != 0")
    sub = dim // m_sub
    # residual = vector - its list centroid (codegen'd: centroid matrix
    # is a k_lists x dim literal, list_id indexes into it)
    cmat = F.array(*[literal_vector(c) for c in centroids])
    res = assigned.withColumn(
        "_res",
        F.zip_with(
            F.col(vec_col).cast("array<double>"),
            F.element_at(cmat, F.col("list_id") + 1),
            lambda x, c: x - c,
        ),
    )
    # the residual frame is read three times (pq_train's seed job, its
    # Lloyd aggregation, and the final encode+ADC scan); unpinned, each
    # read re-runs the Arrow assignment UDF plus the interpreted
    # zip_with residual.  The first consumer (pq_train's seed
    # TakeOrdered) stores the lazy pin, so no extra job is spent.
    # Values unchanged.
    res = pin(res, eager=False)
    # residual seeds for pq_train from the SAME seed rows, computed
    # driver-side: assign each seed vector with the executors' exact
    # argmin kernel and subtract its (rounded, plan-literal) centroid —
    # float64 ops in the same order as the _res column's zip_with
    X = np.array(seed_vecs[:k_codes], dtype=np.float64)
    C = np.array(centroids, dtype=np.float64)
    lids = _seq_sqdist_argmin(X, C)
    res_seeds = [list(X[i] - C[lids[i]]) for i in range(X.shape[0])]
    books = pq_train(
        res, "_res", m_sub=m_sub, k_codes=k_codes, iters=1,
        id_col=id_col, centroid_round=centroid_round,
        seed_vectors=res_seeds,
    )
    coded = pq_encode(res, "_res", books, code_col="_codes")
    # probe the nprobe nearest lists to the query (driver-side: the
    # centroid table is index metadata, k_lists x dim doubles)
    ranked = sorted(
        range(k_lists),
        key=lambda i: (
            sum((a - b) ** 2 for a, b in zip(query, centroids[i])),
            i,
        ),
    )
    probe = ranked[: max(1, nprobe)]
    # per-list ADC tables from the query's per-list residual, same
    # explicit left-fold as pq_topk so the oracle matches bit for bit
    tables: dict[int, list[list[float]]] = {}
    for li in probe:
        qres = [q - c for q, c in zip(query, centroids[li])]
        rows = []
        for s in range(m_sub):
            qs = qres[s * sub: (s + 1) * sub]
            row = []
            for cent in books[s]:
                acc = 0.0
                for a, b in zip(qs, cent):
                    d = a - b
                    acc = acc + d * d
                row.append(acc)
            rows.append(row)
        tables[li] = rows
    probe_lit = F.array(*[F.lit(int(li)) for li in probe])
    # nested literal: dt[probe_rank][s][code]
    dt = F.array(
        *[
            F.array(
                *[
                    literal_vector(tables[li][s])
                    for s in range(m_sub)
                ]
            )
            for li in probe
        ]
    )
    cand = coded.filter(F.col("list_id").isin([int(x) for x in probe]))
    rank = F.array_position(probe_lit, F.col("list_id"))  # 1-based
    adc = F.lit(0.0)
    for s in range(m_sub):
        adc = adc + F.element_at(
            F.element_at(F.element_at(dt, rank.cast("int")), s + 1),
            F.element_at(F.col("_codes"), s + 1) + 1,
        )
    if round_digits is not None:
        adc = F.round(adc, round_digits)
    return (
        cand.select(F.col(id_col), adc.alias("adc"))
        .orderBy(F.col("adc"), F.col(id_col))
        .limit(k)
    )


def _seq_sqdist_argmin(X: "np.ndarray", C: "np.ndarray") -> "np.ndarray":
    """Vectorized-over-rows, SEQUENTIAL-over-dims squared-L2 argmin:
    ``acc = 0.0; acc += d_i * d_i`` in dimension order — each numpy
    statement is one elementwise IEEE op, so every row's accumulation
    is the IDENTICAL instruction sequence as the declarative
    ``zip_with``/``aggregate`` fold (and the DuckDB ``list_reduce``
    oracle): BIT-EXACT, not epsilon-equal like a pairwise-summing
    matmul.  Ties resolve to the first (lowest) index, matching the
    array_position-of-min idiom."""
    import numpy as np

    n = X.shape[0]
    D = np.empty((n, C.shape[0]), dtype=np.float64)
    for j in range(C.shape[0]):
        acc = np.zeros(n, dtype=np.float64)
        for i in range(C.shape[1]):
            d = X[:, i] - C[j, i]
            acc = acc + d * d
        D[:, j] = acc
    return np.argmin(D, axis=1)


def _pq_codes_udf(codebooks: list[list[list[float]]]):
    """Arrow-batched PQ encoder (arrow_udf): the codebooks ride the
    closure (m*k*subdim float64 — KBs), each batch encodes with
    :func:`_seq_sqdist_argmin` per subspace.  Bit-exact to the fold
    form (``tests/fold_reference.py``; property-pinned in tests),
    ~10-60x its throughput — Catalyst higher-order lambdas run
    interpreted, and PQ encode is m*k folds per row.  As in the fold,
    which slices the vector per subspace, a subspace the vector does
    not fully cover or that holds a null element gets a null code, and
    dimensions past ``m*subdim`` are ignored."""
    import numpy as np
    from pyspark.sql.functions import arrow_udf

    m_sub = len(codebooks)
    sub = len(codebooks[0][0])
    C = [np.array(b, dtype=np.float64) for b in codebooks]
    ends = np.arange(1, m_sub + 1) * sub

    def encode(X):
        out = np.empty((X.shape[0], m_sub), dtype=np.int32)
        for s in range(m_sub):
            out[:, s] = _seq_sqdist_argmin(
                X[:, s * sub:(s + 1) * sub], C[s]
            )
        return out

    @arrow_udf("array<int>")
    def codes(col: pa.Array) -> pa.Array:
        return _map_vectors(
            col, m_sub * sub, encode, lambda n: ends <= n, m_sub
        )

    return codes


def _assign_lists_udf(centroids: list[list[float]]):
    """Arrow-batched IVF list assignment — the k_lists x dim centroid
    matrix in the closure, :func:`_seq_sqdist_argmin` per batch;
    bit-exact to the fold argmin in ``tests/fold_reference.py`` (see
    _pq_codes_udf), which leaves a vector that is not ``dim`` long
    unassigned (null)."""
    import numpy as np
    from pyspark.sql.functions import arrow_udf

    C = np.array(centroids, dtype=np.float64)

    @arrow_udf("int")
    def lid(col: pa.Array) -> pa.Array:
        return _map_vectors(
            col, C.shape[1], lambda X: _seq_sqdist_argmin(X, C).astype("int32")
        )

    return lid


def embedding_outliers(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    top_k: int = 20,
    scale: int = 1_000_000,
    z_extreme: float = 3.0,
) -> DataFrame:
    """Per-dimension standardized-distance outlier screen for an
    embedding column — the sanity gate a corpus pipeline runs before
    trusting vectors for dedup/retrieval (degenerate encoders, wrong
    normalization, truncated arrays and NaN-adjacent garbage all
    surface as extreme per-dimension z-scores).

    Exactness recipe (fully SQL-replicable, NO rounding of any float
    reduction): every component is integer-quantized first
    (``round(x * scale)`` as BIGINT), so the per-dimension sums and
    sum-of-squares are EXACT integers — order-independent on any
    engine (aggregated as DECIMAL(38,0) here / HUGEINT in the oracle,
    so neither wraps int64) — and mean/variance/std derive from those
    integers with identical IEEE double arithmetic on both sides.
    Cross-engine bit-exactness bound: the moment->double casts are
    both correctly rounded for sums < 2^64 (~18M unit-norm rows at
    the default scale); past that DuckDB's hugeint->double two-step
    can differ by 1 ulp (relative 1e-16), which can only flip a
    9-digit-rounded z^2 term on an exact tie.  The per-row score
    ``sum_d z_d^2`` is the DSIR pattern: each term rounded to 9 digits,
    integer-scaled 1e9 and SUMMED AS BIGINT (partial-aggregable,
    order-independent), divided once at the end.

    Scale shape: one explode + per-dim aggregate (64 rows out), one
    broadcast join back, one per-row aggregate — two shuffles total,
    both map-side combined; top-k is a TakeOrderedAndProject.
    Dimensions with zero variance contribute 0 (guarded, not NaN).

    Returns the ``top_k`` rows by score: ``(id, z2_score,
    n_extreme_dims)`` where ``n_extreme_dims`` counts |z| >
    ``z_extreme``.  Deterministic total order (score-sum desc, id asc).
    """
    q = df.select(
        F.col(id_col).alias("_id"),
        F.transform(
            F.col(vec_col),
            lambda x: F.round(x.cast("double") * F.lit(float(scale)), 0)
            .cast("long"),
        ).alias("_xi"),
    )
    ex = q.select("_id", F.posexplode("_xi").alias("_p", "_x"))
    # Moment sums in DECIMAL(38,0), NOT BIGINT: unit-range components
    # quantize to ~1e6, so sum(x*x) ~ n*1e12 silently wraps int64 in
    # non-ANSI Spark past ~9M rows (r10 ADVICE); the decimal sum is
    # exact to 1e38 (~1e26 unit rows).  The quantized component itself
    # is guarded below (assert_true): Java's double->long cast
    # SATURATES at Long.MAX while DuckDB errors, so an absurd
    # (unnormalized) component must fail loudly, not diverge silently.
    xd = F.col("_x").cast("decimal(19,0)")
    stats = ex.groupBy("_p").agg(
        F.sum(xd).alias("_s1"),
        F.sum(xd * xd).alias("_s2"),
        F.count(F.lit(1)).alias("_n"),
        F.max(F.abs(F.col("_x"))).alias("_amax"),
    )
    stats = stats.filter(
        F.assert_true(
            F.col("_amax") < F.lit(1 << 62),
            F.lit(
                "embedding_outliers: |component| * scale exceeds int64 "
                "headroom — lower `scale` or normalize the embeddings"
            ),
        ).isNull()
    ).drop("_amax")
    mean = F.col("_s1").cast("double") / F.col("_n").cast("double")
    var = (
        F.col("_s2").cast("double") / F.col("_n").cast("double")
        - mean * mean
    )
    z = F.when(
        var > 0,
        (F.col("_x").cast("double") - mean) / F.sqrt(var),
    ).otherwise(F.lit(0.0))
    terms = ex.join(F.broadcast(stats), "_p").select(
        "_id",
        F.round(z * z * F.lit(1e9), 0).cast("long").alias("_t9"),
        F.when(F.abs(z) > F.lit(float(z_extreme)), 1)
        .otherwise(0)
        .alias("_ext"),
    )
    per = terms.groupBy("_id").agg(
        F.sum("_t9").alias("_z2_9"),
        F.sum("_ext").cast("long").alias("n_extreme_dims"),
    )
    return (
        per.orderBy(F.col("_z2_9").desc(), F.col("_id"))
        .limit(int(top_k))
        .select(
            F.col("_id").alias(id_col),
            (F.col("_z2_9").cast("double") / F.lit(1e9)).alias("z2_score"),
            "n_extreme_dims",
        )
    )
