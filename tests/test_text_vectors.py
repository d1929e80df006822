"""Tests for the text-analysis and vector expression surfaces."""

import math
from contextlib import nullcontext

import pytest
from fold_reference import fold_forms
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from cloud_optimized_data_pipelines_spark.functions import text as T
from cloud_optimized_data_pipelines_spark.functions import vectors as V


def test_tokens_and_counts(spark):
    df = spark.createDataFrame(
        [("the quick  brown fox",), ("",), ("  ",), ("one",)], "t string"
    )
    rows = df.select(
        T.token_count("t").alias("n"), T.bpe_token_count("t").alias("b")
    ).collect()
    assert [r.n for r in rows] == [4, 0, 0, 1]
    assert rows[0].b == 4


def test_bpe_tokens_split_symbols(spark):
    df = spark.createDataFrame([("don't stop-me now123",)], "t string")
    # don | ' | t | stop | - | me | now | 123
    assert df.select(T.bpe_token_count("t").alias("n")).collect()[0].n == 8


def test_word_shingles(spark):
    df = spark.createDataFrame([("a b c d",), ("a b",)], "t string")
    rows = df.select(T.word_shingles("t", 3).alias("s")).collect()
    assert rows[0].s == ["a b c", "b c d"]
    assert rows[1].s == ["a b"]  # short doc -> whole text as one shingle


def test_ratios_and_quality(spark):
    df = spark.createDataFrame([("the cat, and the dog!",)], "t string")
    r = df.select(
        T.punct_ratio("t").alias("p"),
        T.stopword_ratio("t").alias("s"),
        T.quality_score("t").alias("q"),
    ).collect()[0]
    assert abs(r.p - 2 / 21) < 1e-9
    # tokens: the cat, and the dog! -> lowered ['the','cat,','and','the','dog!']
    # stopword hits: the, and, the = 3 of 5
    assert abs(r.s - 0.6) < 1e-9
    assert 0.0 <= r.q <= 1.0


def test_detect_language(spark):
    df = spark.createDataFrame(
        [
            ("the cat is in the house and it is big",),
            ("el perro y la casa de los gatos",),
            ("xyzzy plugh qwerty",),
        ],
        "t string",
    )
    got = [r.l for r in df.select(T.detect_language("t").alias("l")).collect()]
    assert got == ["en", "es", "und"]


def test_minhash_similar_docs_share_components(spark):
    from cloud_optimized_data_pipelines_spark.operators.dedup import lsh_banded

    a = "the quick brown fox jumps over the lazy dog again and again today"
    b = "the quick brown fox jumps over the lazy dog again and again tonight"
    c = "completely different words appear within this unrelated document text"
    df = spark.createDataFrame([(1, a), (2, b), (3, c)], "id int, t string")
    bands = {}
    for r in lsh_banded(df, "id", "t").collect():
        bands.setdefault(r.doc, set()).add((r.band, r.bucket))
    shared_ab = len(bands[1] & bands[2])
    shared_ac = len(bands[1] & bands[3])
    assert shared_ab > shared_ac  # ~0.83 true Jaccard against ~0


def test_lsh_bands_deterministic(spark):
    from cloud_optimized_data_pipelines_spark.operators.dedup import lsh_banded

    df = spark.createDataFrame([(1, "a b c d e f g")], "id int, t string")
    runs = [
        sorted(lsh_banded(df, "id", "t").collect()) for _ in range(2)
    ]
    assert runs[0] == runs[1]
    assert [x.band for x in runs[0]] == [0, 1, 2, 3]


def test_vector_math(spark):
    df = spark.createDataFrame([([1.0, 2.0, 3.0], [4.0, 5.0, 6.0])], "a array<double>, b array<double>")
    r = df.select(
        V.dot("a", "b").alias("d"),
        V.cosine_similarity("a", "b").alias("c"),
        V.sign_bucket("a", 3).alias("bk"),
    ).collect()[0]
    assert r.d == 32.0
    expected = 32.0 / (math.sqrt(14) * math.sqrt(77))
    assert abs(r.c - expected) < 1e-12
    assert r.bk == "111"


def test_doc_fingerprint_equal_for_equal_text(spark):
    df = spark.createDataFrame([(1, "a b c d e"), (2, "a b c d e")], "id int, t string")
    fps = [r.f for r in df.select(T.doc_fingerprint("t").alias("f")).collect()]
    assert fps[0] == fps[1] and fps[0] is not None


def test_ann_topk_by_id_matches_bucket_bruteforce(spark):
    from cloud_optimized_data_pipelines_spark.operators import similarity as S

    vecs = [
        (0, [1.0, 1.0, 1.0, 1.0]),   # bucket 1111 (query)
        (1, [2.0, 1.0, 1.0, 1.0]),   # bucket 1111
        (2, [1.0, 2.0, 3.0, 4.0]),   # bucket 1111
        (3, [-1.0, 1.0, 1.0, 1.0]),  # bucket 0111 — excluded by ANN
    ]
    df = spark.createDataFrame(vecs, "vec_id int, embedding array<double>")
    got = {r.vec_id: r.cos for r in S.ann_topk_by_id(
        df, "embedding", 0, k=10, num_dims=4).collect()}
    assert set(got) == {0, 1, 2}  # same-bucket only
    assert got[0] == 1.0
    assert all(-1.0 <= c <= 1.0 for c in got.values())


def test_minhash_dedup_equals_pair_formulation(spark):
    from pyspark.sql import functions as F
    from cloud_optimized_data_pipelines_spark.operators import dedup as D

    base = [
        "the quick brown fox jumps over the lazy dog again and again today",
        "an entirely different second document about spark and parquet files",
        "a third unique document mentioning streaming watermarks and state",
    ]
    rows = []
    for i, t in enumerate(base):
        for rep in range(4):  # 4 exact replicas of each -> dense buckets
            rows.append((rep * 100 + i, t))
    df = spark.createDataFrame(rows, "doc_id int, text string")

    kept = {r.doc_id for r in D.minhash_lsh_dedup(df, "doc_id", "text").collect()}
    pairs = D.minhash_lsh_candidates(df, "doc_id", "text")
    pair_losers = {r.doc_id for r in
                   pairs.select(F.col("doc_b").alias("doc_id")).distinct().collect()}
    assert kept == {r.doc_id for r in df.collect()} - pair_losers
    assert kept == {0, 1, 2}  # lowest id of each replica clique survives


def test_cluster_labels_follows_chains(spark):
    from cloud_optimized_data_pipelines_spark.operators.dedup import cluster_labels

    # bipartite graph: docs 1-2 share bucket x, 2-3 share y (chain!),
    # 9-10 share z (separate component), 7 isolated in its own bucket
    edges = spark.createDataFrame(
        [(1, "x"), (2, "x"), (2, "y"), (3, "y"), (9, "z"), (10, "z"), (7, "w")],
        "doc int, bkt string",
    )
    got = {r.doc: r.label for r in cluster_labels(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 9: 9, 10: 9, 7: 7}


def test_minhash_lsh_clusters_on_replicas(spark):
    from cloud_optimized_data_pipelines_spark.operators.dedup import (
        minhash_lsh_clusters,
    )

    base = [
        "the quick brown fox jumps over the lazy dog again and again today",
        "an entirely different second document about spark and parquet files",
    ]
    rows = [(rep * 10 + i, t) for i, t in enumerate(base) for rep in range(3)]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = minhash_lsh_clusters(df, "doc_id", "text").collect()
    clusters = {}
    for r in out:
        clusters.setdefault(r.cluster_id, set()).add(r.doc_id)
    assert clusters == {0: {0, 10, 20}, 1: {1, 11, 21}}


def test_ann_index_build_prunes_partitions(spark, tmp_path):
    """The ANN 'index build' is a partitioned write: reading one bucket
    back must hit only that bucket's directory (partition pruning =
    the physical index lookup)."""
    import os

    from pyspark.sql import functions as F
    from cloud_optimized_data_pipelines_spark.operators.similarity import (
        with_sign_bucket,
    )

    vecs = [(i, [float(b0), float(b1), 1.0])
            for i, (b0, b1) in enumerate([(1, 1), (1, -1), (-1, 1), (-1, -1)] * 5)]
    df = spark.createDataFrame(vecs, "vec_id int, embedding array<double>")
    out = str(tmp_path / "ann_index")
    with_sign_bucket(df, "embedding", num_dims=2).write.partitionBy(
        "bucket"
    ).parquet(out)

    assert sorted(d for d in os.listdir(out) if d.startswith("bucket=")) == [
        "bucket=00", "bucket=01", "bucket=10", "bucket=11",
    ]
    back = spark.read.parquet(out).filter(F.col("bucket") == "10")
    assert back.count() == 5
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "bucket" in plan


def test_deterministic_split_stable_under_growth(spark):
    from cloud_optimized_data_pipelines_spark.operators.sampling import (
        deterministic_split,
    )

    w = {"train": 90, "val": 5, "test": 5}
    small = spark.createDataFrame([(i,) for i in range(200)], "id int")
    big = spark.createDataFrame([(i,) for i in range(400)], "id int")
    s1 = {r.id: r.split for r in deterministic_split(small, "id", w).collect()}
    s2 = {r.id: r.split for r in deterministic_split(big, "id", w).collect()}
    # adding rows never reassigns existing ones
    assert all(s2[i] == s1[i] for i in s1)
    assert set(s2.values()) == {"train", "val", "test"}


def test_ivf_exact_when_probing_all_lists(spark, sf_dir):
    from cloud_optimized_data_pipelines_spark.operators import similarity as S

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    assigned, cents = S.ivf_build(emb, "embedding", k_lists=8, iters=1)
    exact = [
        r["vec_id"]
        for r in S.brute_force_topk(emb, "embedding", qv, k=10).collect()
    ]
    full_probe = [
        r["vec_id"]
        for r in S.ivf_topk(
            emb, "embedding", qv, k=10, k_lists=8, nprobe=8,
            assigned=assigned, centroids=cents,
        ).collect()
    ]
    assert full_probe == exact


def test_ivf_partial_probe_prunes_and_recalls(spark, sf_dir):
    from cloud_optimized_data_pipelines_spark.operators import similarity as S

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    assigned, cents = S.ivf_build(emb, "embedding", k_lists=16, iters=2)
    # determinism: a rebuild yields identical assignments
    assigned2, cents2 = S.ivf_build(emb, "embedding", k_lists=16, iters=2)
    assert cents == cents2
    assert (
        assigned.select("vec_id", "list_id")
        .exceptAll(assigned2.select("vec_id", "list_id"))
        .count()
        == 0
    )
    # every list is assigned something reasonable (no single mega-list)
    sizes = {
        r["list_id"]: r["n"]
        for r in assigned.groupBy("list_id").agg(F.count("*").alias("n")).collect()
    }
    total = sum(sizes.values())
    assert total == emb.count()
    assert max(sizes.values()) < total  # partitioned at all
    # nprobe=4/16 scans a strict subset but still finds most true neighbors
    ranked = sorted(
        range(len(cents)),
        key=lambda i: (sum((a - b) ** 2 for a, b in zip(qv, cents[i])), i),
    )
    probed = ranked[:4]
    scanned = sum(sizes.get(i, 0) for i in probed)
    assert scanned < total
    exact = {
        r["vec_id"]
        for r in S.brute_force_topk(emb, "embedding", qv, k=10).collect()
    }
    approx = {
        r["vec_id"]
        for r in S.ivf_topk(
            emb, "embedding", qv, k=10, k_lists=16, nprobe=4,
            assigned=assigned, centroids=cents,
        ).collect()
    }
    assert len(exact & approx) >= 5  # recall@10 >= 0.5 on this corpus


def test_ivf_persisted_index_prunes_and_matches_inmemory(spark, sf_dir, tmp_path):
    """ivf_write_index + ivf_topk_indexed: the probe scan must carry a
    list_id PARTITION filter (directory pruning, not data filtering),
    and results must equal the in-memory ivf_topk with identical
    centroids/nprobe."""
    import re

    from pyspark.sql import functions as F
    from cloud_optimized_data_pipelines_spark.operators.similarity import (
        ivf_topk,
        ivf_topk_indexed,
        ivf_write_index,
    )
    from cloud_optimized_data_pipelines_spark.queries import load_tables

    emb = load_tables(spark, sf_dir)["embeddings"]
    query_vec = [float(x) for x in emb.orderBy("vec_id").first()["embedding"]]
    path = str(tmp_path / "ivf")
    centroids = ivf_write_index(spark, emb, path, k_lists=8, iters=1)

    got = ivf_topk_indexed(spark, path, query_vec, k=5, nprobe=2)
    plan = got._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "list_id" in m.group(1), plan[:1500]

    want = ivf_topk(
        emb, "embedding", query_vec, k=5, k_lists=8, nprobe=2, iters=1
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    assert len(centroids) == 8


def test_ivf_probe_fixed_exact_when_probing_all_lists(spark, sf_dir):
    """nprobe == k_lists degenerates to exact brute force — the pruning
    is the ONLY approximation in the fixed-centroid IVF path."""
    from cloud_optimized_data_pipelines_spark.operators import similarity as S

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    exact = [
        r["vec_id"]
        for r in S.brute_force_topk(emb, "embedding", qv, k=10).collect()
    ]
    full = [
        r["vec_id"]
        for r in S.ivf_probe_fixed(
            emb, "embedding", 0, k=10, k_lists=8, nprobe=8
        ).collect()
    ]
    assert full == exact


def test_ivf_probe_fixed_partial_recall(spark, sf_dir):
    """nprobe=4/16 must still recall most of the exact top-10 (spherical
    assignment concentrates near-neighbours in the query's lists) and
    always recalls the query vector itself."""
    from cloud_optimized_data_pipelines_spark.operators import similarity as S

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    exact = {
        r["vec_id"]
        for r in S.brute_force_topk(emb, "embedding", qv, k=10).collect()
    }
    got = [
        r["vec_id"]
        for r in S.ivf_probe_fixed(
            emb, "embedding", 0, k=10, k_lists=16, nprobe=4
        ).collect()
    ]
    assert 0 in got
    assert len(set(got) & exact) >= 5


def test_semantic_dedup_flags_planted_near_dups(spark):
    """SemDeDup on a hand-built corpus: exact replicas of a centroid
    vector must be flagged as dups of the lowest-id copy; orthogonal
    vectors must all survive.  Every input id appears exactly once."""
    from cloud_optimized_data_pipelines_spark.operators import similarity as S

    vecs = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0, 0.0]),
        (2, [0.0, 0.0, 1.0, 0.0]),   # centroids 0-2 (k_lists=3)
        (10, [1.0, 0.01, 0.0, 0.0]),  # near-dup of 0
        (11, [1.0, 0.0, 0.01, 0.0]),  # near-dup of 0
        (12, [0.0, 1.0, 0.01, 0.0]),  # near-dup of 1
        (13, [0.0, 0.0, -1.0, 0.0]),  # anti-parallel to 2: unique
    ]
    df = spark.createDataFrame(vecs, "vec_id int, embedding array<double>")
    out = {
        r.vec_id: (r.cid, r.is_dup)
        for r in S.semantic_dedup(
            df, "embedding", "vec_id", k_lists=3, threshold=0.9
        ).collect()
    }
    assert len(out) == len(vecs)
    # lowest id in each near-dup group survives, later copies flagged
    assert out[0] == (0, False)
    assert out[10] == (0, True) and out[11] == (0, True)
    assert out[1] == (1, False) and out[12] == (1, True)
    assert out[13][1] is False  # anti-parallel: cosine -1, not a dup


def test_knn_join_matches_per_query_bruteforce(spark, sf_dir):
    """The batched two-phase top-k must equal running brute_force_topk
    once per query row."""
    from cloud_optimized_data_pipelines_spark.operators import similarity as S

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(300)
    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = {
        (r.query_id, r.rank): (r.vec_id, r.cos)
        for r in S.knn_join(queries, emb, "embedding", k=3).collect()
    }
    for qrow in queries.collect():
        single = S.brute_force_topk(
            emb, "embedding", [float(x) for x in qrow.embedding], k=3
        ).collect()
        for rank, r in enumerate(single, 1):
            assert got[(qrow.query_id, rank)] == (r.vec_id, r.cos)


def test_knn_join_ann_bucket_blocking(spark, sf_dir):
    """num_dims restricts candidates to the query's sign bucket; every
    returned neighbor must share the query's bucket, and results are a
    subset-ranking of the exact form."""
    from cloud_optimized_data_pipelines_spark.functions.vectors import sign_bucket
    from cloud_optimized_data_pipelines_spark.operators import similarity as S

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(300)
    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    buckets = {
        r.vec_id: r.b
        for r in emb.select(
            "vec_id", sign_bucket(F.col("embedding"), 4).alias("b")
        ).collect()
    }
    out = S.knn_join(queries, emb, "embedding", k=3, num_dims=4).collect()
    assert len(out) > 0
    for r in out:
        assert buckets[r.vec_id] == buckets[r.query_id]
        assert 1 <= r.rank <= 3


def test_knn_join_deterministic_across_partitionings(spark, sf_dir):
    """The per-partition salt must not leak into results: different
    input partitionings give identical output."""
    from cloud_optimized_data_pipelines_spark.operators import similarity as S

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(200)
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    a = sorted(
        map(tuple, S.knn_join(queries, emb, "embedding", k=4).collect())
    )
    b = sorted(
        map(
            tuple,
            S.knn_join(
                queries, emb.repartition(13), "embedding", k=4
            ).collect(),
        )
    )
    assert a == b


def test_semantic_dedup_indexed_equals_in_memory(spark, sf_dir, tmp_path):
    """The persisted-assignment path must be bit-identical to the
    in-memory form (parquet round-trips doubles losslessly) — the
    assignment crossJoin is just paid once at write time."""
    from cloud_optimized_data_pipelines_spark.operators import similarity as S

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(300)
    mem = {
        (r.vec_id, r.cid, r.is_dup)
        for r in S.semantic_dedup(
            emb, "embedding", "vec_id", k_lists=8, threshold=0.35
        ).collect()
    }
    S.semantic_dedup_write_assignment(
        emb, str(tmp_path), "embedding", "vec_id", k_lists=8
    )
    idx = {
        (r.vec_id, r.cid, r.is_dup)
        for r in S.semantic_dedup_indexed(
            spark, str(tmp_path), "embedding", "vec_id", threshold=0.35
        ).collect()
    }
    assert idx == mem
    # the on-disk layout is hive-partitioned by cid (probe = pruning)
    import os

    parts = [
        d for d in os.listdir(tmp_path / "assignment") if d.startswith("cid=")
    ]
    assert len(parts) >= 2


def test_semantic_dedup_indexed_probe_is_partition_pruned(spark, sf_dir, tmp_path):
    """A single-cluster probe over the persisted assignment must reach
    the scan as a partition filter, not a post-scan filter."""
    from cloud_optimized_data_pipelines_spark.operators import similarity as S

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(300)
    S.semantic_dedup_write_assignment(
        emb, str(tmp_path), "embedding", "vec_id", k_lists=8
    )
    probe = spark.read.parquet(f"{tmp_path}/assignment").filter(
        F.col("cid") == 3
    )
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    pf = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "cid" in pf


def test_semantic_dedup_fast_equals_fold_path(spark, sf_dir):
    """The Arrow/numpy fast path (matmul assignment + tiled-Gram
    flags) must reproduce the declarative fold path's flags exactly on
    the shipped corpus — including at several k_lists (cluster
    geometry) and a tile size smaller than the largest cluster (tiling
    must not change any flag)."""
    from cloud_optimized_data_pipelines_spark.operators import similarity as S

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    for k_lists, block in ((8, 4096), (16, 64)):
        fold = {
            (r.vec_id, r.cid, r.is_dup)
            for r in S.semantic_dedup(
                emb, "embedding", "vec_id", k_lists=k_lists, threshold=0.35
            ).collect()
        }
        fast = {
            (r.vec_id, r.cid, r.is_dup)
            for r in S.semantic_dedup_fast(
                emb,
                "embedding",
                "vec_id",
                k_lists=k_lists,
                threshold=0.35,
                block=block,
            ).collect()
        }
        assert fast == fold


def test_semantic_dedup_fast_zero_norm_rows_never_dup(spark):
    """Zero-norm vectors: the fold path's NULL cosine never qualifies;
    the numpy path normalizes them to the zero vector (cos 0) — both
    must land them in the lowest-id cluster, never flagged."""
    from cloud_optimized_data_pipelines_spark.operators import similarity as S

    rows = [
        (0, [1.0, 0.0]),
        (1, [0.0, 1.0]),
        (2, [0.0, 0.0]),
        (3, [0.0, 0.0]),
        (4, [2.0, 0.01]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    fast = {
        (r.vec_id, r.cid, r.is_dup)
        for r in S.semantic_dedup_fast(
            df, "embedding", "vec_id", k_lists=2, threshold=0.9
        ).collect()
    }
    fold = {
        (r.vec_id, r.cid, r.is_dup)
        for r in S.semantic_dedup(
            df, "embedding", "vec_id", k_lists=2, threshold=0.9
        ).collect()
    }
    assert fast == fold
    by_id = {i: (c, d) for i, c, d in fast}
    assert by_id[2] == (0, False) and by_id[3] == (0, False)
    assert by_id[4] == (0, True)  # near-parallel to centroid 0's mate


def test_semantic_dedup_threshold_monotone(spark, sf_dir):
    """Raising tau can only shrink the dup set (nested dedup levels)."""
    from cloud_optimized_data_pipelines_spark.operators import similarity as S

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(200)
    dups = {}
    for tau in (0.3, 0.4):
        dups[tau] = {
            r.vec_id
            for r in S.semantic_dedup(
                emb, "embedding", "vec_id", k_lists=8, threshold=tau
            ).collect()
            if r.is_dup
        }
    assert dups[0.4] <= dups[0.3]


def test_cosine_zero_vector_is_null_not_crash(spark):
    """Spark 4 ANSI mode aborts on double division by zero; a zero-norm
    vector must yield NULL cosine (DuckDB's semantics) and flow through
    every similarity operator instead of crashing the job."""
    from cloud_optimized_data_pipelines_spark.operators import similarity as S

    vecs = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0, 0.0]),
        (5, [0.0, 0.0, 0.0, 0.0]),  # zero vector
        (6, [1.0, 0.01, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(vecs, "vec_id int, embedding array<double>")
    out = {r.vec_id: r for r in S.semantic_dedup(
        df, "embedding", "vec_id", k_lists=2, threshold=0.9).collect()}
    assert len(out) == 4                      # zero-vec row preserved
    assert out[5].is_dup is False             # NULL cosine never >= tau
    assert out[5].cid == 0                    # -2.0 sentinel -> lowest cid
    assert out[6].is_dup is True
    pairs = S.embedding_near_dup_pairs(
        df, "embedding", "vec_id", threshold=0.5, num_dims=2
    ).collect()
    assert not any(5 in (r.id_a, r.id_b) for r in pairs)


def _pagerank_reference(
    edges, iters=5, scale=10**9, num=17, den=20, dangling="leak"
):
    """Pure-Python integer PageRank — same recurrence, serial."""
    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    e = sorted(set(edges))
    outdeg = {}
    for u, _ in e:
        outdeg[u] = outdeg.get(u, 0) + 1
    base = scale * (den - num) // den
    n = len(nodes)
    r = {x: scale for x in nodes}
    for _ in range(iters):
        share = 0
        if dangling == "redistribute":
            dm = sum(r[x] for x in nodes if x not in outdeg)
            share = (num * dm) // (den * n)
        nxt = {x: base + share for x in nodes}
        for u, v in e:
            nxt[v] += (num * r[u]) // (den * outdeg[u])
        r = nxt
    return r


def test_pagerank_matches_python_reference(spark):
    from cloud_optimized_data_pipelines_spark.operators.graph import pagerank

    edges = [
        ("a", "b"), ("b", "c"), ("c", "a"),      # 3-cycle
        ("d", "a"), ("e", "a"),                  # two feeders into a
        ("a", "f"),                              # and a sink (dangling)
    ]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r.node: r.rank for r in pagerank(df, iters=5).collect()}
    assert got == _pagerank_reference(edges, iters=5)
    # feeders d/e have no in-edges: rank = base
    assert got["d"] == got["e"] == 150_000_000
    # a receives from c, d, e -> strictly the largest rank
    assert got["a"] == max(got.values())


def test_pagerank_dangling_redistribute(spark):
    """Teleport-corrected variant: sink mass is shared equally (integer
    share) each round — parity vs the serial integer reference on a
    graph with sinks, and total mass stays strictly above the leak
    variant's."""
    from cloud_optimized_data_pipelines_spark.operators.graph import pagerank

    edges = [
        ("a", "b"), ("b", "c"), ("c", "a"),
        ("a", "s1"), ("b", "s2"),            # two sinks
        ("d", "a"),                          # d itself is a source-only feeder
    ]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {
        r.node: r.rank
        for r in pagerank(df, iters=5, dangling="redistribute").collect()
    }
    assert got == _pagerank_reference(edges, iters=5, dangling="redistribute")
    leak = {r.node: r.rank for r in pagerank(df, iters=5).collect()}
    assert sum(got.values()) > sum(leak.values())
    # every node benefits from the redistributed sink mass
    assert all(got[n] >= leak[n] for n in got)


def test_pagerank_overflow_guard_raises(spark):
    from cloud_optimized_data_pipelines_spark.operators.graph import pagerank

    df = spark.createDataFrame(
        [("a", "b"), ("b", "c")], "src string, dst string"
    )
    with pytest.raises(ValueError, match="overflow"):
        pagerank(df, iters=1, scale=2**62)
    with pytest.raises(ValueError, match="dangling"):
        pagerank(df, iters=1, dangling="bogus")


def test_pagerank_deterministic_across_partitionings(spark):
    from cloud_optimized_data_pipelines_spark.operators.graph import pagerank

    edges = [(f"n{i}", f"n{(i * 7 + 1) % 40}") for i in range(120)]
    df = spark.createDataFrame(edges, "src string, dst string")
    a = sorted(map(tuple, pagerank(df, iters=4).collect()))
    b = sorted(map(tuple, pagerank(df.repartition(17), iters=4).collect()))
    assert a == b
    assert a == sorted(_pagerank_reference(edges, iters=4).items())


def test_pagerank_checkpoint_dir(spark, session_checkpoint_dir):
    import os

    from cloud_optimized_data_pipelines_spark.operators.graph import pagerank

    edges = [("x", "y"), ("y", "z"), ("z", "x"), ("w", "x")]
    df = spark.createDataFrame(edges, "src string, dst string")
    base = sorted(map(tuple, pagerank(df, iters=3).collect()))
    ck_dir = session_checkpoint_dir()
    ck = sorted(map(tuple, pagerank(df, iters=3).collect()))
    assert base == ck
    assert any(os.scandir(ck_dir))


def test_psi_by_window_known_values(spark):
    """PSI on a hand-built shift: category mix 50/50 -> 80/20 must give
    the textbook per-term values (Laplace-smoothed), and a new category
    appearing only after the split stays finite."""
    import math

    import pytest

    from cloud_optimized_data_pipelines_spark.operators.drift import (
        psi_by_window,
    )

    rows = (
        [("before", "a")] * 50 + [("before", "b")] * 50
        + [("after", "a")] * 80 + [("after", "b")] * 20
        + [("after", "c")] * 10
    )
    df = spark.createDataFrame(rows, "w string, cat string")
    out = {r.cat: r for r in psi_by_window(df, "cat", F.col("w")).collect()}
    assert set(out) == {"a", "b", "c"}
    # smoothed: p_before(a) = 51/103, p_after(a) = 81/113
    pb, pa = 51 / 103, 81 / 113
    assert out["a"].p_before == pytest.approx(pb)
    assert out["a"].p_after == pytest.approx(pa)
    want = (pa - pb) * (round(math.log(pa), 9) - round(math.log(pb), 9))
    assert out["a"].psi_term == pytest.approx(want, rel=1e-12)
    # unseen-before category: cnt_before=0, smoothing keeps it finite
    assert out["c"].cnt_before == 0 and out["c"].psi_term > 0
    # total PSI is positive for a real shift
    assert sum(r.psi_term for r in out.values()) > 0.05


def test_ann_multiprobe_recall_dominates_single_bucket(spark, sf_dir):
    """Multiprobe scores a strict superset of the single-bucket
    candidates, so its top-k recall vs exact brute force can only be
    >= — verified on real embeddings over several queries, with at
    least one query where the extra probes actually help."""
    from cloud_optimized_data_pipelines_spark.operators import similarity as S

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")

    def topk(df):
        return [r.vec_id for r in df.collect()]

    gains = 0
    for qid in (0, 3, 11, 17):
        exact = set(topk(S.brute_force_topk(
            emb, "embedding",
            emb.filter(F.col("vec_id") == qid).first().embedding,
            k=10)))
        single = set(topk(S.ann_topk_by_id(
            emb, "embedding", qid, k=10, num_dims=4)))
        multi = set(topk(S.ann_topk_multiprobe(
            emb, "embedding", qid, k=10, num_dims=4)))
        r_single = len(single & exact)
        r_multi = len(multi & exact)
        assert r_multi >= r_single, (qid, r_single, r_multi)
        gains += r_multi - r_single
    assert gains > 0  # the Hamming-1 probes recovered real neighbors


def test_leakage_safe_split_clusters_co_travel(spark, sf_dir):
    """Every member of a near-dup component lands in the SAME split
    (the leakage guard), ratios roughly follow the weights, singleton
    docs hash on their own id, and the assignment is deterministic."""
    from cloud_optimized_data_pipelines_spark.operators import dedup as D
    from cloud_optimized_data_pipelines_spark.operators.sampling import (
        leakage_safe_split,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = D.simhash_near_dup_pairs(
        docs, "doc_id", "text", num_bands=4, max_hamming=3
    )
    out = leakage_safe_split(docs, pairs, "doc_id").select(
        "doc_id", "split_unit", "split"
    )
    rows = out.collect()
    assert len(rows) == docs.count()
    by_unit = {}
    for r in rows:
        by_unit.setdefault(r.split_unit, set()).add(r.split)
    # co-travel: one split per unit
    assert all(len(s) == 1 for s in by_unit.values())
    # paired docs share a unit
    linked = {(r.id_a, r.id_b) for r in pairs.collect()}
    unit_of = {r.doc_id: r.split_unit for r in rows}
    assert linked and all(unit_of[a] == unit_of[b] for a, b in linked)
    # ratio sanity (90/5/5 within generous tolerance)
    frac = sum(1 for r in rows if r.split == "train") / len(rows)
    assert 0.8 < frac < 0.97
    # determinism
    again = {(r.doc_id, r.split) for r in leakage_safe_split(
        docs, pairs, "doc_id").select("doc_id", "split_unit", "split")
        .collect()}
    assert again == {(r.doc_id, r.split) for r in rows}


def test_int8_quantization_error_bound_and_recall(spark, sf_dir):
    """Per-coordinate reconstruction error <= scale/2; zero vectors
    round-trip exactly; quantized top-k keeps high recall vs float."""
    from cloud_optimized_data_pipelines_spark.operators import similarity as S

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    rows = (
        S.dequantize_embeddings_int8(S.quantize_embeddings_int8(emb))
        .select("vec_id", "embedding", "scale", "codes", "embedding_deq")
        .limit(300)
        .collect()
    )
    for r in rows:
        assert all(-127 <= c <= 127 for c in r.codes)
        for x, d in zip(r.embedding, r.embedding_deq):
            assert abs(float(x) - d) <= r.scale / 2 + 1e-12
    zero = spark.createDataFrame(
        [(0, [0.0, 0.0, 0.0])], "vec_id long, embedding array<float>"
    )
    zr = S.dequantize_embeddings_int8(
        S.quantize_embeddings_int8(zero)
    ).collect()[0]
    assert zr.scale == 0.0 and list(zr.embedding_deq) == [0.0, 0.0, 0.0]

    from cloud_optimized_data_pipelines_spark.queries import QUERIES

    qk = {r.vec_id for r in QUERIES["similarity_quantized_topk"](
        spark, sf_dir).collect()}
    fk = {r.vec_id for r in QUERIES["similarity_bruteforce_topk"](
        spark, sf_dir).collect()}
    assert len(qk & fk) >= 8  # >= 80% recall@10 under int8


def test_truncated_rerank_recall_and_shape(spark, sf_dir):
    """The coarse-prefix + exact-rerank pipeline finds most of the true
    top-10 (recall is the candidates/prefix dial) and ranks by the
    EXACT cosine — the top hit is the query itself at cos 1.0."""
    from cloud_optimized_data_pipelines_spark.operators import similarity as S
    from cloud_optimized_data_pipelines_spark.queries import QUERIES

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qvec = [float(x) for x in emb.filter("vec_id = 0")
            .collect()[0]["embedding"]]
    two = S.truncated_rerank_topk(
        emb, "embedding", qvec, k=10, prefix_dims=16, candidates=50
    ).collect()
    assert [r.rank for r in two] == list(range(1, 11))
    assert two[0].vec_id == 0 and two[0].cos == 1.0
    exact = {(r.vec_id) for r in QUERIES["similarity_bruteforce_topk"](
        spark, sf_dir).collect()}
    got = {r.vec_id for r in two}
    # recall on RANDOM embeddings is the floor case: a 16-dim prefix of
    # an untrained 64-dim vector carries little signal (real Matryoshka
    # embeddings are trained so prefixes rank well) — require better
    # than chance (50/2000 candidates ~ 0.25 expected overlap), not
    # production recall
    assert len(got & exact) >= 3
    # widening the candidate pool can only help (monotone recall)...
    wide = {r.vec_id for r in S.truncated_rerank_topk(
        emb, "embedding", qvec, k=10, prefix_dims=16, candidates=500
    ).collect()}
    assert len(wide & exact) >= len(got & exact)
    # ...and with candidates >= corpus size the rerank IS brute force
    n = emb.count()
    full = {r.vec_id for r in S.truncated_rerank_topk(
        emb, "embedding", qvec, k=10, prefix_dims=16, candidates=n
    ).collect()}
    assert full == exact


def test_ivf_centroid_round_pins_learned_index(spark, sf_dir):
    """centroid_round=6 (the knob that makes the learned-IVF oracle
    checkable: reduction-order-independent Lloyd means) quantizes the
    centroids without changing the index: every rounded component is
    within half a 1e-6 step of the raw mean, and the graded ivf_topk
    result is unchanged on this corpus."""
    from cloud_optimized_data_pipelines_spark.operators import similarity as S

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    a_raw, c_raw = S.ivf_build(emb, "embedding", k_lists=16, iters=1)
    a_rnd, c_rnd = S.ivf_build(
        emb, "embedding", k_lists=16, iters=1, centroid_round=6
    )
    for cr, cx in zip(c_rnd, c_raw):
        for a, b in zip(cr, cx):
            assert abs(a - b) <= 5.1e-7
    raw = [
        r["vec_id"]
        for r in S.ivf_topk(
            emb, "embedding", qv, k=10, k_lists=16, nprobe=4,
            assigned=a_raw, centroids=c_raw,
        ).collect()
    ]
    rnd = [
        r["vec_id"]
        for r in S.ivf_topk(
            emb, "embedding", qv, k=10, k_lists=16, nprobe=4,
            assigned=a_rnd, centroids=c_rnd,
        ).collect()
    ]
    assert rnd == raw


def test_pq_codes_shape_and_determinism(spark, sf_dir):
    from cloud_optimized_data_pipelines_spark.operators import similarity as S

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    books = S.pq_train(emb, "embedding", m_sub=8, k_codes=16, iters=1)
    books2 = S.pq_train(emb, "embedding", m_sub=8, k_codes=16, iters=1)
    assert books == books2  # md5 seeds + rounded means: no RNG state
    assert len(books) == 8 and all(len(b) == 16 for b in books)
    assert all(len(c) == 8 for b in books for c in b)
    enc = S.pq_encode(emb, "embedding", books)
    bad = enc.filter(
        (F.size("pq_codes") != 8)
        | F.exists("pq_codes", lambda c: (c < 0) | (c >= 16))
    ).count()
    assert bad == 0


def test_pq_dim_not_divisible_raises(spark, sf_dir):
    from cloud_optimized_data_pipelines_spark.operators import similarity as S

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    with pytest.raises(ValueError, match="not divisible"):
        S.pq_train(emb, "embedding", m_sub=7)


def test_pq_adc_and_refine_recall(spark, sf_dir):
    """Pure ADC loses recall to quantization error on unstructured
    embeddings (the hardest PQ corpus); the Jégou §VI exact re-rank of
    a 100-candidate shortlist recovers it — and a shortlist of the
    whole corpus degrades to exact brute force."""
    from cloud_optimized_data_pipelines_spark.operators import similarity as S
    from cloud_optimized_data_pipelines_spark.operators.similarity import (
        _sq_dist,
        literal_vector,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    books = S.pq_train(emb, "embedding", m_sub=8, k_codes=16, iters=1)
    exact = [
        r["vec_id"]
        for r in emb.select(
            "vec_id",
            _sq_dist(F.col("embedding"), literal_vector(qv)).alias("d"),
        )
        .orderBy("d", "vec_id")
        .limit(10)
        .collect()
    ]
    adc = {
        r["vec_id"]
        for r in S.pq_topk(emb, "embedding", qv, books, k=10).collect()
    }
    assert exact[0] in adc  # the query row itself always survives ADC
    refined = {
        r["vec_id"]
        for r in S.pq_refine_topk(
            emb, "embedding", qv, books, k=10, refine=100
        ).collect()
    }
    assert len(set(exact) & refined) >= 7  # recall@10 >= 0.7
    n = emb.count()
    full = [
        r["vec_id"]
        for r in S.pq_refine_topk(
            emb, "embedding", qv, books, k=10, refine=n
        ).collect()
    ]
    assert full == exact


def test_random_projection_numpy_fold_parity(spark, sf_dir):
    """The Arrow path (r15) must be BIT-EXACT to the declarative fold
    reference: both accumulate acc = acc + x_i * s_ij in dimension
    order with exact ±1.0 multiplies and a power-of-two scale, so every
    double must match to the last bit — not epsilon-close."""
    from cloud_optimized_data_pipelines_spark.operators import similarity as S

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(300)
    with fold_forms():
        fold = {
            r["vec_id"]: list(r["projected"])
            for r in S.random_projection(
                emb, "embedding", out_dims=16
            ).collect()
        }
    fast = {
        r["vec_id"]: list(r["projected"])
        for r in S.random_projection(
            emb, "embedding", out_dims=16
        ).collect()
    }
    assert fast == fold


def test_literal_vector_non_finite_matches_lit_array(spark):
    """Non-finite values parse inside the one SQL literal and equal
    the per-element ``F.lit`` array, IEEE specials and -0.0 included."""
    vals = [1.5, float("inf"), -0.0, float("-inf"), float("nan"), 5e-324]
    row = spark.range(1).select(
        V.literal_vector(vals).alias("a"),
        F.array(*[F.lit(v) for v in vals]).alias("b"),
    ).select("a", "b", (F.col("a") == F.col("b")).alias("eq")).first()
    assert row["eq"]
    assert [repr(x) for x in row["a"]] == [repr(x) for x in row["b"]]
    assert [repr(x) for x in row["a"]] == [repr(v) for v in vals]


def test_numpy_vector_udfs_null_rows_match_fold(spark, sf_dir):
    """The Arrow vector UDFs (random_projection, pq_encode, IVF list
    assignment) give a null vector what the fold form gives it, and
    stay bit-exact on the non-null rows of the same batch."""
    from cloud_optimized_data_pipelines_spark.operators import similarity as S

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(40)
    nulls = emb.limit(3).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.lit(None).cast(emb.schema["embedding"].dataType).alias("embedding"),
    )
    df = emb.select("vec_id", "embedding").unionByName(nulls).coalesce(1)

    def by_id(frame, col):
        return {r["vec_id"]: r[col] for r in frame.collect()}

    books = S.pq_train(emb, "embedding", iters=1)
    cents = [
        [float(x) for x in r["embedding"]] for r in emb.limit(4).collect()
    ]
    proj, codes, lists = {}, {}, {}
    for impl, forms in (("fold", fold_forms), ("numpy", nullcontext)):
        with forms():
            proj[impl] = by_id(
                S.random_projection(df, "embedding", out_dims=8), "projected"
            )
            codes[impl] = by_id(
                S.pq_encode(df, "embedding", books), "pq_codes"
            )
            lists[impl] = by_id(
                df.withColumn("list_id", S._assign_lists_udf(cents)(
                    F.col("embedding"))),
                "list_id",
            )
    assert proj["numpy"] == proj["fold"]
    assert sum(v == [None] * 8 for v in proj["fold"].values()) == 3
    assert codes["numpy"] == codes["fold"]
    assert lists["numpy"] == lists["fold"]
    assert sum(v is None for v in lists["fold"].values()) == 3
    only_null = nulls.coalesce(1).withColumn(
        "list_id", S._assign_lists_udf(cents)(F.col("embedding"))
    )
    assert [r["list_id"] for r in only_null.collect()] == [None] * 3


_EDGE = [float("nan"), float("inf"), float("-inf"), 0.0, -0.0]
_elem = st.one_of(
    st.floats(-1e3, 1e3, allow_nan=False), st.sampled_from(_EDGE), st.none()
)
_vector = st.one_of(
    st.none(),
    st.lists(_elem, min_size=4, max_size=4),  # well-formed (dim 4)
    st.lists(_elem, min_size=0, max_size=6),  # empty, short, long
)
_edge_text = st.one_of(
    st.none(),
    st.text(alphabet=" \t\n\x0b\f\r", max_size=4),
    st.text(alphabet="ab \t", max_size=10),
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)
@given(
    st.lists(_vector, min_size=0, max_size=12),
    st.lists(_edge_text, min_size=0, max_size=8),
)
def test_arrow_udfs_match_fold_reference_on_edge_input(spark, vectors, texts):
    """The production Arrow paths give every row the fold reference's
    value — null vectors and null elements, NaN, ±inf, empty, short
    and long vectors alike, with one partition or with several (some
    holding zero rows) — and the fast simhash fingerprints equal the fold expressions on null, empty
    and whitespace-only text."""
    import fold_reference as R

    from cloud_optimized_data_pipelines_spark.operators import dedup as D
    from cloud_optimized_data_pipelines_spark.operators import similarity as S

    cents = [[0.0, 0.0, 0.0, 0.0], [1.0, 2.0, 3.0, 4.5], [-5.0, 9.0, 0.5, 2.0]]
    books = [[[0.0, 0.0], [1.0, 2.0], [-3.0, 1.0]], [[3.0, 4.0], [0.0, 0.0]]]
    signs = [[1.0, -1.0, 1.0, 1.0], [-1.0, -1.0, 1.0, -1.0]]
    vecs = spark.createDataFrame(
        list(enumerate(vectors)), "id int, v array<double>"
    )
    docs = spark.createDataFrame(list(enumerate(texts)), "id int, t string")
    v = F.col("v")
    pairs = [
        (
            S._project_signs_udf(signs, 0.5)(v),
            R.fold_project_signs(signs, 0.5)(v),
        ),
        (S._pq_codes_udf(books)(v), R.fold_pq_codes(books)(v)),
        (S._assign_lists_udf(cents)(v), R.fold_assign_lists(cents)(v)),
    ]
    for layout in (1, len(vectors) + 3):
        frame = vecs.repartition(layout)
        got = frame.select(
            "id", *[p.alias(f"p{i}") for i, (p, _) in enumerate(pairs)]
        )
        want = frame.select(
            "id", *[f.alias(f"p{i}") for i, (_, f) in enumerate(pairs)]
        )
        assert repr(sorted(got.collect())) == repr(sorted(want.collect()))

        dframe = docs.repartition(layout)
        fast = D.simhash_fingerprints_fast(dframe, "id", "t", 60)
        fold = dframe.select("id", D.simhash(F.col("t"), 60).alias("sh"))
        assert sorted(fast.collect()) == sorted(fold.collect())
        fast = D.simhash_wide_fingerprints_fast(dframe, "id", "t")
        fold = dframe.select("id", D.simhash_wide(F.col("t")).alias("sh"))
        assert sorted(fast.collect()) == sorted(fold.collect())


def test_random_projection_preserves_distances(spark, sf_dir):
    """JL distance preservation at 64 -> 16 dims: squared distances
    after projection track the originals within a generous (1 +- eps)
    band for the bulk of pairs (eps ~ sqrt(ln n / k) is ~0.6 here, so
    the gate is loose by design), and the transform is deterministic."""
    import math

    from cloud_optimized_data_pipelines_spark.operators import similarity as S

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(40)
    proj = S.random_projection(emb, "embedding", out_dims=16)
    proj2 = S.random_projection(emb, "embedding", out_dims=16)
    assert (
        proj.exceptAll(proj2).count() == 0
        and proj2.exceptAll(proj).count() == 0
    )
    orig = {r["vec_id"]: list(r["embedding"]) for r in emb.collect()}
    low = {r["vec_id"]: list(r["projected"]) for r in proj.collect()}
    ids = sorted(orig)
    ratios = []
    for a, b in zip(ids, ids[1:] + ids[:1]):
        d_o = sum((x - y) ** 2 for x, y in zip(orig[a], orig[b]))
        d_p = sum((x - y) ** 2 for x, y in zip(low[a], low[b]))
        if d_o > 0:
            ratios.append(d_p / d_o)
    inside = sum(1 for r in ratios if 0.25 <= r <= 2.5)
    assert inside >= 0.9 * len(ratios), sorted(ratios)[:5]
    # unbiased on average: the mean ratio is near 1
    mean = sum(ratios) / len(ratios)
    assert 0.6 <= mean <= 1.5, mean


def test_ivfpq_recall_and_determinism(spark, sf_dir):
    """IVFADC sanity: deterministic end-to-end (two builds agree),
    the query row itself survives residual quantization into the
    top-10, compressed-domain recall holds a floor, and a non-divisible
    subspace split raises."""
    from cloud_optimized_data_pipelines_spark.operators import similarity as S
    from cloud_optimized_data_pipelines_spark.operators.similarity import (
        _sq_dist,
        literal_vector,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    out1 = [
        (r["vec_id"], r["adc"])
        for r in S.ivf_pq_topk(emb, "embedding", qv, k=10, k_lists=8).collect()
    ]
    out2 = [
        (r["vec_id"], r["adc"])
        for r in S.ivf_pq_topk(emb, "embedding", qv, k=10, k_lists=8).collect()
    ]
    assert out1 == out2
    ids = {v for v, _ in out1}
    assert 0 in ids  # the query row itself
    exact = {
        r["vec_id"]
        for r in emb.select(
            "vec_id",
            _sq_dist(F.col("embedding"), literal_vector(qv)).alias("d"),
        )
        .orderBy("d", "vec_id")
        .limit(10)
        .collect()
    }
    assert len(exact & ids) >= 2  # compressed-domain floor
    with pytest.raises(ValueError, match="m_sub"):
        S.ivf_pq_topk(emb, "embedding", qv, m_sub=7)


def test_pq_numpy_impl_bit_exact_to_fold(spark, sf_dir):
    """The Arrow/numpy PQ encoder must be BIT-EXACT to the declarative
    fold (same sequential accumulation order — see _seq_sqdist_argmin),
    not epsilon-equal: codes, trained codebooks, and the final graded
    top-10 all identical."""
    from cloud_optimized_data_pipelines_spark.operators import similarity as S

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    with fold_forms():
        b_fold = S.pq_train(emb, "embedding", iters=1)
        c_fold = {
            r["vec_id"]: list(r["pq_codes"])
            for r in S.pq_encode(emb, "embedding", b_fold).collect()
        }
        t_fold = [
            (r["vec_id"], r["adc"])
            for r in S.pq_topk(emb, "embedding", qv, b_fold).collect()
        ]
        i_fold = [
            (r["vec_id"], r["adc"])
            for r in S.ivf_pq_topk(emb, "embedding", qv, k_lists=8).collect()
        ]
    b_np = S.pq_train(emb, "embedding", iters=1)
    assert b_fold == b_np
    c_np = {
        r["vec_id"]: list(r["pq_codes"])
        for r in S.pq_encode(emb, "embedding", b_np).collect()
    }
    assert c_fold == c_np
    t_np = [
        (r["vec_id"], r["adc"])
        for r in S.pq_topk(emb, "embedding", qv, b_np).collect()
    ]
    assert t_fold == t_np
    i_np = [
        (r["vec_id"], r["adc"])
        for r in S.ivf_pq_topk(emb, "embedding", qv, k_lists=8).collect()
    ]
    assert i_fold == i_np


def test_ivf_append_probe_parity_and_drift(spark, sf_dir, tmp_path):
    """ivf_append (VERDICT r10 task 8): append-without-retrain must
    (a) assign appended vectors exactly as a frozen-centroid
    assignment would, (b) keep FULL-probe results identical to brute
    force over the grown corpus, (c) leave same-distribution appends
    unflagged while (d) flagging a shifted append via the qerr ratio."""
    from pyspark.sql import functions as F

    from fold_reference import assign_lists as _assign_lists

    from cloud_optimized_data_pipelines_spark.operators.similarity import (
        brute_force_topk,
        ivf_append,
        ivf_topk_indexed,
        ivf_write_index,
    )
    from cloud_optimized_data_pipelines_spark.queries import load_tables

    emb = load_tables(spark, sf_dir)["embeddings"]
    base = emb.filter(F.col("vec_id") % 2 == 0)
    extra = emb.filter(F.col("vec_id") % 2 == 1)
    path = str(tmp_path / "ivf_app")
    ivf_write_index(spark, base, path, k_lists=8, iters=1)

    rep = ivf_append(spark, path, extra)
    assert rep["appended"] == extra.count()
    # (c) same distribution: no retrain recommendation
    assert not rep["retrain_recommended"], rep

    # (a) assignment parity against the frozen centroids
    cents = [
        [float(x) for x in r["centroid"]]
        for r in sorted(
            spark.read.parquet(f"{path}/centroids").collect(),
            key=lambda r: r["list_id"],
        )
    ]
    want = {
        r["vec_id"]: r["list_id"]
        for r in _assign_lists(extra, "embedding", cents).collect()
    }
    got = {
        r["vec_id"]: r["list_id"]
        for r in spark.read.parquet(f"{path}/lists")
        .join(extra.select("vec_id"), "vec_id")
        .collect()
    }
    assert got == want

    # (b) full-probe parity with brute force over the GROWN corpus
    q = [float(x) for x in emb.orderBy("vec_id").first()["embedding"]]
    idx = {
        (r["vec_id"], r["cos"])
        for r in ivf_topk_indexed(spark, path, q, k=7, nprobe=8).collect()
    }
    ref = {
        (r["vec_id"], r["cos"])
        for r in brute_force_topk(emb, "embedding", q, 7).collect()
    }
    assert idx == ref

    # (d) a shifted append (vectors scaled far off the trained space)
    shifted = extra.select(
        (F.col("vec_id") + 10_000_000).alias("vec_id"),
        F.transform(
            "embedding", lambda x: x * F.lit(25.0) + F.lit(40.0)
        ).alias("embedding"),
    )
    rep2 = ivf_append(spark, str(tmp_path / "ivf_app"), shifted)
    assert rep2["retrain_recommended"] and rep2["qerr_ratio"] > 1.5
