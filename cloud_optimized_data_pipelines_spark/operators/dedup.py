"""Deduplication operators for the training-data pipeline surface.

No reference counterpart (extension per SURVEY section 7.7).  Four
families, each picked for a different scale/recall trade-off:

- **exact**: group on content (or md5 fingerprint) — one shuffle,
  map-side partial aggregation, the 100 TB workhorse.
- **n-gram Jaccard**: exact similarity join via an inverted shingle
  index — no quadratic blow-up; candidate pairs only for docs sharing
  at least one shingle, verified with the exact Jaccard formula.
- **MinHash + LSH**: sub-linear near-dup at corpus scale — signatures
  and band buckets come from one Arrow kernel per document
  (functions/text.py::lsh_bands), the band join is the only shuffle,
  verification is optional.
- **SimHash**: Hamming-proximate fingerprints for near-identical text.

All hashing is md5-based so every operator is bit-reproducible across
engines (DuckDB-oracle checkable) and across Spark versions — no
dependence on JVM hash seeds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cloud_optimized_data_pipelines_spark.batching import pin, spread_small_scan
from cloud_optimized_data_pipelines_spark.functions.text import (
    lsh_bands,
    tokens,
    word_shingles,
)


def exact_dedup(df: DataFrame, content_col: str, id_col: str) -> DataFrame:
    """Keep the lowest-id row per exact content value.

    ``groupBy(content).agg(min(id))`` — partial aggregation halves the
    shuffle; at 100 TB prefer grouping on ``md5(content)`` (64x smaller
    shuffle keys for long documents) via :func:`exact_dedup_by_hash`.
    """
    keep = df.groupBy(content_col).agg(F.min(id_col).alias(id_col))
    return df.join(keep, [content_col, id_col], "left_semi")


def soft_dedup_weights(
    df: DataFrame, content_col: str, id_col: str, power: float = 1.0
) -> DataFrame:
    """SOFT deduplication: instead of dropping duplicates, every row
    gets a training weight ``(1 / dup_count) ** power`` so each unique
    content contributes unit total mass (He et al. 2024's soft
    deduplication / common-crawl "rehydration" weighting — hard dedup
    is the ``power->inf`` limit, no-op is ``power=0``).

    Survivorship form: every input row returns with ``dup_count``
    (bigint) and ``weight`` (double) — INCLUDING rows whose content is
    NULL: the digest key is coalesced to a sentinel (no 6-char string
    collides with a 32-char md5 hex) so null-content rows form their
    own duplicate group instead of being silently dropped by the inner
    join on a null key.  Scale shape: one map-side-combined groupBy on
    the md5 digest (16-byte shuffle keys, not documents) + one
    equi-join reusing the same key — the exact_dedup plan with the
    anti-join swapped for a weight projection.  Weights are IEEE-exact
    cross-engine at power=1 (a single double division).
    """
    hashed = df.withColumn(
        "_h", F.coalesce(F.md5(F.col(content_col)), F.lit("_null_"))
    )
    counts = hashed.groupBy("_h").agg(
        F.count(F.lit(1)).alias("dup_count")
    )
    out = hashed.join(counts, "_h").drop("_h")
    w = F.lit(1.0) / F.col("dup_count")
    if power != 1.0:
        w = F.pow(w, F.lit(float(power)))
    return out.withColumn("weight", w)


def exact_dedup_by_hash(df: DataFrame, content_col: str, id_col: str) -> DataFrame:
    """Exact dedup shuffling md5 digests instead of full documents."""
    hashed = df.withColumn("_h", F.md5(F.col(content_col)))
    w = Window.partitionBy("_h").orderBy(F.col(id_col))
    return (
        hashed.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_h", "_rn")
    )


def _guard_shingle_freq(idx: DataFrame, max_shingle_freq: int | None) -> DataFrame:
    """Drop over-frequent shingles with ONE shuffle: a count over a
    shingle-partitioned window instead of groupBy+self-join (the join
    form shuffles the index twice; measured 2.0 s vs 1.49 s at sf0.1).
    The window also leaves the index partitioned by shingle — exactly
    the partitioning the downstream self-join needs."""
    if max_shingle_freq is None:
        return idx
    w = Window.partitionBy("shingle")
    return (
        idx.withColumn("_f", F.count("*").over(w))
        .filter(F.col("_f") <= max_shingle_freq)
        .drop("_f")
    )


def shingle_index(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """Inverted index: one row per (doc, distinct shingle).

    ``word_shingles`` applies ``array_distinct`` per document, so a
    3-gram repeated within a doc is indexed once (set semantics, as
    Jaccard needs) without a shuffle; a doc shorter than n words is
    one whole-text shingle."""
    return spread_small_scan(df).select(
        F.col(id_col).alias("doc"),
        F.explode(word_shingles(text_col, n)).alias("shingle"),
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    max_shingle_freq: int | None = 1000,
) -> DataFrame:
    """Exact Jaccard similarity join on word n-grams.

    Semantics (the scalable classic):
      shingle index -> common-shingle count per (id_a < id_b) pair
      -> join per-doc set sizes
      -> jaccard = common / (|A| + |B| - common) >= threshold

    ``max_shingle_freq`` drops ubiquitous shingles before the pair
    expansion — the skew guard at corpus scale (a shingle appearing in
    1M docs would otherwise emit 10^12 candidate pairs).  Guarded BY
    DEFAULT (1000): the unguarded all-postings form is opt-in via
    ``max_shingle_freq=None`` and is only safe on bounded corpora.
    Pruned shingles are near-stopword n-grams carrying little
    discriminative signal; Jaccard is then exact over the pruned
    shingle space.  Registered queries keep Spark and oracle in
    lock-step: a guarded call pairs with an oracle applying the same
    HAVING COUNT(*) <= k shingle filter, an unguarded call
    (max_shingle_freq=None) with an unpruned oracle.

    Plan shape: posting lists instead of a self-equi-join —
    ``groupBy(shingle).collect_list(doc)`` builds the
    per-shingle occurrence list in one map-side-combined exchange, the
    frequency guard becomes a free ``size <= k`` filter (previously a
    window count over the full index), and the ``doc_a < doc_b``
    occurrence pairs are expanded in place from each list (exactly the
    rows the self-join produced).  The arrays are list-valued, not
    set-valued: the synthetic-corpus dup factor is 1.0 (see
    :func:`shingle_index`) but on real text the occurrence-pair
    semantics match the oracle's occurrence self-join bit-for-bit.

    Guard order: the frequency guard is applied BEFORE the list build
    — a map-side-combinable count finds the hot shingles
    (near-stopword n-grams) and a left-anti join drops their
    occurrences from the index, so no ``collect_list`` aggregation
    buffer ever holds a hot shingle's full posting array (at corpus
    scale a ubiquitous shingle's array is corpus-sized and
    collect_list cannot spill within a group; a ``size <= k`` filter
    after the build would materialize it before dropping it).
    Identical output rows: the filter condition is the same count.
    The hot set has up to total occurrences / k rows, millions for a
    small k on a large corpus, so the planner sizes the anti-join.
    """
    idx = shingle_index(df, id_col, text_col, n)
    if max_shingle_freq is not None:
        hot = (
            idx.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("_f"))
            .filter(F.col("_f") > max_shingle_freq)
            .select("shingle")
        )
        idx = idx.join(hot, "shingle", "left_anti")
    posts = idx.groupBy("shingle").agg(F.collect_list("doc").alias("_docs"))
    sizes = (
        posts.select(F.explode("_docs").alias("doc"))
        .groupBy("doc")
        .agg(F.count("*").alias("set_size"))
    )
    pair_structs = F.flatten(
        F.transform(
            F.col("_docs"),
            lambda a: F.transform(
                F.filter(F.col("_docs"), lambda b: a < b),
                lambda b: F.struct(a.alias("doc_a"), b.alias("doc_b")),
            ),
        )
    )
    common = (
        posts.select(F.explode(pair_structs).alias("_p"))
        .select("_p.doc_a", "_p.doc_b")
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("common"))
    )
    sa = sizes.select(F.col("doc").alias("doc_a"), F.col("set_size").alias("size_a"))
    sb = sizes.select(F.col("doc").alias("doc_b"), F.col("set_size").alias("size_b"))
    return (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.col("common") / (F.col("size_a") + F.col("size_b") - F.col("common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "common", "size_a", "size_b", "jaccard")
    )


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_freq: int | None = 1000,
) -> DataFrame:
    """Asymmetric containment join: C(A->B) = |A n B| / |A| (Broder
    1997's *containment*, the companion measure to resemblance /
    Jaccard).  High containment with small |A| flags quotes,
    boilerplate, and doc-in-doc inclusion that Jaccard misses entirely
    when |B| >> |A| — the RefinedWeb/ExactSubstr motivation viewed at
    document granularity.

    Same plan skeleton as :func:`ngram_jaccard_pairs` (posting lists
    -> in-place pair expansion -> per-pair count -> size join); only
    the normalizer changes, and the pair condition is ``!=`` rather
    than ``<`` because containment is directional — both (a, b) and
    (b, a) rows are emitted with their own scores.  The
    ``max_shingle_freq`` guard applies identically (oracle kept in
    lock-step).

    Unlike the Jaccard join, the index here is SET-valued: Broder
    containment is a set measure (|A n B| / |A| <= 1 by definition),
    and on real corpora with repeated n-grams occurrence-level
    counting would let "common" exceed |A| and containment exceed 1.0,
    silently distorting the threshold.  The guard's frequency is DOC
    frequency (the standard DF guard), the tighter skew bound.

    Plan shape: posting lists instead of a self-equi-join —
    ``groupBy(shingle).collect_set(doc)`` builds the
    per-shingle doc set in ONE map-side-combined exchange (the
    collect_set also IS the distinct), the DF guard becomes a free
    ``size(docs) <= k`` filter (previously a window count over the
    full index), ordered pairs are expanded in place from each posting
    list (exactly the rows the self-join produced — the guard bounds
    the fan-out at k^2 per shingle either way), and per-doc set sizes
    re-aggregate the exploded postings.  3 exchanges total vs 5 plus a
    sorted window and an SMJ sort in the self-join form.

    Guard order: the DF guard runs BEFORE the set build —
    ``count_distinct`` (two-phase, spillable hash aggregation keyed on
    (shingle, doc)) finds shingles in more than k docs and a left-anti
    join drops them from the index, so no ``collect_set`` buffer ever
    holds a ubiquitous shingle's full doc set (see
    :func:`ngram_jaccard_pairs` — same hazard, same fix, and the same
    unbounded hot set, so no broadcast hint).  Identical output rows:
    size(collect_set) IS the distinct doc count.

    Output: (doc_a, doc_b, common, size_a, containment) where
    containment = common / size_a >= threshold — "doc_a is contained
    in doc_b".
    """
    idx = shingle_index(df, id_col, text_col, n)
    if max_shingle_freq is not None:
        hot = (
            idx.groupBy("shingle")
            .agg(F.count_distinct("doc").alias("_f"))
            .filter(F.col("_f") > max_shingle_freq)
            .select("shingle")
        )
        idx = idx.join(hot, "shingle", "left_anti")
    posts = idx.groupBy("shingle").agg(F.collect_set("doc").alias("_docs"))
    sizes = (
        posts.select(F.explode("_docs").alias("doc"))
        .groupBy("doc")
        .agg(F.count("*").alias("set_size"))
    )
    pair_structs = F.flatten(
        F.transform(
            F.col("_docs"),
            lambda a: F.transform(
                F.filter(F.col("_docs"), lambda b: b != a),
                lambda b: F.struct(a.alias("doc_a"), b.alias("doc_b")),
            ),
        )
    )
    common = (
        posts.select(F.explode(pair_structs).alias("_p"))
        .select("_p.doc_a", "_p.doc_b")
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("common"))
    )
    sa = sizes.select(F.col("doc").alias("doc_a"), F.col("set_size").alias("size_a"))
    return (
        common.join(sa, "doc_a")
        .withColumn("containment", F.col("common") / F.col("size_a"))
        .filter(F.col("containment") >= threshold)
        .select("doc_a", "doc_b", "common", "size_a", "containment")
    )


def source_overlap_matrix(
    df: DataFrame,
    id_col: str,
    text_col: str,
    group_col: str,
    n: int = 5,
    max_shingle_freq: int | None = 1000,
) -> DataFrame:
    """Cross-source n-gram overlap matrix — the dataset-audit view of
    contamination: for every pair of sources/corpora, how many DISTINCT
    n-gram shingles they share and what fraction of each side that is
    (the corpus-level analog of :func:`ngram_containment_pairs`;
    the eval-set special case is ``operators/decontaminate.py``).

    Plan: distinct (group, shingle) index -> self-equi-join on shingle
    with ``group_a < group_b`` -> pair count.  Per-shingle fan-out is
    bounded by (number of groups)^2 — NOT corpus size — so unlike the
    doc-level joins no posting-list explosion exists; the
    ``max_shingle_freq`` guard (applied at doc granularity before the
    group distinct) still drops near-stopword shingles so the overlap
    measures signal, not glue words.

    Output: (source_a, source_b, shared, size_a, size_b,
    overlap_a, overlap_b) with overlap_x = shared / size_x.
    """
    idx = _guard_shingle_freq(
        shingle_index(df, id_col, text_col, n), max_shingle_freq
    )
    gidx = (
        df.select(F.col(id_col).alias("doc"), F.col(group_col).alias("grp"))
        .join(idx, "doc")
        .select("grp", "shingle")
        .distinct()
    )
    sizes = gidx.groupBy("grp").agg(F.count(F.lit(1)).alias("size"))
    a = gidx.alias("a")
    b = gidx.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.grp") < F.col("b.grp")),
        )
        .groupBy(
            F.col("a.grp").alias("source_a"), F.col("b.grp").alias("source_b")
        )
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    sa = sizes.select(F.col("grp").alias("source_a"), F.col("size").alias("size_a"))
    sb = sizes.select(F.col("grp").alias("source_b"), F.col("size").alias("size_b"))
    return (
        shared.join(sa, "source_a")
        .join(sb, "source_b")
        .withColumn("overlap_a", F.col("shared") / F.col("size_a"))
        .withColumn("overlap_b", F.col("shared") / F.col("size_b"))
        .select(
            "source_a", "source_b", "shared", "size_a", "size_b",
            "overlap_a", "overlap_b",
        )
    )


def positional_shingle_index(
    df: DataFrame, id_col: str, text_col: str, n: int = 8
) -> DataFrame:
    """Position-carrying inverted index: one row per (doc, pos, n-gram)
    occurrence — NOT distinct (unlike :func:`shingle_index`), because
    span detection needs every occurrence.  Docs shorter than n words
    emit nothing (no span of length n exists in them)."""
    # let-bind the token array (single-element transform) — an inlined
    # tokens() would re-split the text once per emitted gram, O(k^2)
    # per doc (see functions/text.py::word_shingles)
    def _grams(toks):
        k = F.size(toks)
        return F.when(
            k >= n,
            F.transform(
                F.sequence(F.lit(1), k - F.lit(n - 1)),
                lambda i: F.struct(
                    i.cast("long").alias("pos"),
                    F.concat_ws(" ", F.slice(toks, i, n)).alias("shingle"),
                ),
            ),
        ).otherwise(
            F.expr("CAST(array() AS ARRAY<STRUCT<pos BIGINT, shingle STRING>>)")
        )

    grams = F.transform(F.array(tokens(F.col(text_col))), _grams)[0]
    return (
        spread_small_scan(df)
        .select(F.col(id_col).alias("doc"), F.explode(grams).alias("g"))
        .select("doc", F.col("g.pos").alias("pos"), F.col("g.shingle").alias("shingle"))
    )


def cdc_chunks(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 3,
    divisor: int = 8,
) -> DataFrame:
    """Content-defined chunking at token granularity (the rsync/FastCDC
    boundary idea applied to text): token position ``p`` ENDS a chunk
    iff the hash of the ``window``-gram ending at p lands in a
    1/``divisor`` bucket — so expected chunk length is ~``divisor``
    tokens and, crucially, boundaries depend only on LOCAL content.
    Insert a sentence at the top of a document and fixed-offset
    chunking shifts every downstream chunk; CDC boundaries resync
    after ~``window`` tokens, so all later chunks keep their digests —
    the property that makes chunk-level dedup robust to the
    prepend/append edits web pages accumulate (tested).

    Hashing is the engine's md5 discipline (first 8 hex chars as an
    integer, mod ``divisor``) — bit-reproducible across engines, so
    the whole operator is DuckDB-oracle-checkable.

    Plan shape (optimization r14, guide §2.4): chunk boundaries are a
    pure function of ONE document's token array, so the whole chunk
    table is computed as scan expressions — boundary positions via a
    filter over the position sequence, chunk spans via a transform
    over the (let-bound) boundary array, digests via md5 of the token
    slice — and exploded once at CHUNK granularity (~1/divisor of the
    token count).  No token-level explode, no per-doc running-sum
    window (a corpus-token-scale sort+shuffle), no re-assembly
    groupBy: the operator is a single narrow map over the corpus.
    Output: one row per (doc, chunk_idx) with start_pos, n_tokens,
    chunk_md5 — identical rows to the r13 explode/window/groupBy form
    (the running sum of boundary flags over preceding positions IS the
    index into the boundary-position array).  Docs with no tokens emit
    no chunks (compose survivorship at the stats level,
    :func:`cdc_dup_stats`).
    """

    def _chunks(toks):
        k = F.size(toks)
        gram = lambda p: F.concat_ws(  # noqa: E731
            " ", F.slice(toks, p - F.lit(window - 1), window)
        )
        bucket = lambda p: (  # noqa: E731
            F.conv(F.substring(F.md5(gram(p)), 1, 8), 16, 10).cast("long")
            % divisor
        )
        bpos = F.filter(
            F.sequence(F.lit(1), k),
            lambda p: (p >= window) & (bucket(p) == 0),
        )
        # chunk ends = boundary positions, plus a trailing chunk for
        # any tokens after the last boundary (or the whole doc when no
        # boundary fired).
        ends_expr = F.when(
            (F.size(bpos) > 0) & (F.element_at(bpos, -1) == k), bpos
        ).otherwise(F.concat(bpos, F.array(k)))

        def from_ends(ends):
            return F.transform(
                ends,
                lambda e, i: F.struct(
                    i.cast("long").alias("chunk_idx"),
                    F.when(i == 0, F.lit(1))
                    .otherwise(F.element_at(ends, i) + 1)
                    .cast("long")
                    .alias("start_pos"),
                    (
                        e
                        - F.when(i == 0, F.lit(1)).otherwise(
                            F.element_at(ends, i) + 1
                        )
                        + 1
                    )
                    .cast("long")
                    .alias("n_tokens"),
                    F.md5(
                        F.concat_ws(
                            " ",
                            F.slice(
                                toks,
                                F.when(i == 0, F.lit(1)).otherwise(
                                    F.element_at(ends, i) + 1
                                ),
                                e
                                - F.when(i == 0, F.lit(1)).otherwise(
                                    F.element_at(ends, i) + 1
                                )
                                + 1,
                            ),
                        )
                    ).alias("chunk_md5"),
                ),
            )

        # ends is let-bound through a single-element transform: an
        # inlined expression would re-evaluate the md5-per-position
        # boundary filter once per chunk (O(tokens * chunks) digests).
        return F.when(
            k >= 1, F.transform(F.array(ends_expr), from_ends)[0]
        ).otherwise(
            F.expr(
                "CAST(array() AS ARRAY<STRUCT<chunk_idx BIGINT,"
                " start_pos BIGINT, n_tokens BIGINT, chunk_md5 STRING>>)"
            )
        )

    rows = F.transform(F.array(tokens(F.col(text_col))), _chunks)[0]
    return (
        spread_small_scan(df)
        .select(F.col(id_col).alias("doc"), F.explode(rows).alias("c"))
        .select("doc", "c.chunk_idx", "c.start_pos", "c.n_tokens", "c.chunk_md5")
    )


def cdc_dup_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 3,
    divisor: int = 8,
) -> DataFrame:
    """Per-document duplication profile over CDC chunks: ``n_chunks``,
    ``n_dup_chunks`` (chunks whose digest appears in >= 2 distinct
    docs), and ``dup_token_frac`` — the near-dup signal that survives
    the prefix/suffix edits fixed-window shingling is blind to.
    Survivorship: every input doc returns (token-less docs with zeros).

    Scale shape: chunk table (corpus tokens / ~divisor rows) ->
    per-digest distinct-doc count (map-side combined) -> digest join
    back -> per-doc aggregate.  No pair materialization anywhere.
    """
    chunks = cdc_chunks(df, id_col, text_col, window, divisor)
    freq = chunks.groupBy("chunk_md5").agg(
        F.count_distinct("doc").alias("_docs")
    )
    per_doc = (
        chunks.join(freq, "chunk_md5")
        .groupBy("doc")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_chunks"),
            F.sum((F.col("_docs") >= 2).cast("long"))
            .cast("long")
            .alias("n_dup_chunks"),
            F.sum("n_tokens").cast("long").alias("_tok"),
            F.sum(
                F.when(F.col("_docs") >= 2, F.col("n_tokens")).otherwise(0)
            )
            .cast("long")
            .alias("_dup_tok"),
        )
    )
    out = df.select(F.col(id_col).alias("doc")).join(per_doc, "doc", "left")
    return out.select(
        F.col("doc").alias(id_col),
        F.coalesce("n_chunks", F.lit(0)).cast("long").alias("n_chunks"),
        F.coalesce("n_dup_chunks", F.lit(0)).cast("long").alias("n_dup_chunks"),
        (
            F.coalesce("_dup_tok", F.lit(0)).cast("double")
            / F.greatest(F.coalesce("_tok", F.lit(0)), F.lit(1)).cast("double")
        ).alias("dup_token_frac"),
    )


def duplicate_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
    max_shingle_freq: int | None = 1000,
    min_span_tokens: int | None = None,
) -> DataFrame:
    """Cross-document duplicated SPANS (ExactSubstr dedup, Lee et al.
    2021 "Deduplicating Training Data Makes Language Models Better"):
    maximal runs of shared word n-grams between document pairs, with
    token positions — the operator behind cut-the-span (rather than
    drop-the-doc) dedup.

    Plan: positional shingle self-join (skew-guarded like
    :func:`ngram_jaccard_pairs`), then the diagonal-run trick — two
    matches belong to the same maximal span iff they share the
    alignment diagonal ``pos_a - pos_b`` and their positions are
    consecutive, so ``pos_a - row_number()`` over (pair, diag, pos_a)
    is constant per span.  One window + one aggregate; positions make
    runs mergeable without any sequential scan.  Output:
    (doc_a, doc_b, start_a, start_b, span_tokens).

    At-scale order of operations: run :func:`exact_dedup_by_hash`
    FIRST — byte-identical duplicates make the true span set quadratic
    in the replica count (output-bound, measured in SCALE.md), and
    exact dedup removes them for one digest shuffle.  On raw
    duplicate-heavy corpora, ``max_shingle_freq`` bounds per-shingle
    fan-out instead.
    """
    idx = _guard_shingle_freq(
        positional_shingle_index(df, id_col, text_col, n), max_shingle_freq
    )
    a = idx.alias("a")
    b = idx.alias("b")
    m = a.join(
        b,
        (F.col("a.shingle") == F.col("b.shingle"))
        & (F.col("a.doc") < F.col("b.doc")),
    ).select(
        F.col("a.doc").alias("doc_a"),
        F.col("b.doc").alias("doc_b"),
        F.col("a.pos").alias("pos_a"),
        F.col("b.pos").alias("pos_b"),
        (F.col("a.pos") - F.col("b.pos")).alias("diag"),
    )
    w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pos_a")
    runs = m.withColumn("grp", F.col("pos_a") - F.row_number().over(w))
    spans = (
        runs.groupBy("doc_a", "doc_b", "diag", "grp")
        .agg(
            F.min("pos_a").alias("start_a"),
            F.min("pos_b").alias("start_b"),
            (F.count("*") + F.lit(n - 1)).cast("long").alias("span_tokens"),
        )
        .select("doc_a", "doc_b", "start_a", "start_b", "span_tokens")
    )
    if min_span_tokens is not None:
        spans = spans.filter(F.col("span_tokens") >= min_span_tokens)
    return spans


def _fuzzy_prefixes(
    df: DataFrame, id_col: str, text_col: str, prefix_len: int
) -> DataFrame:
    prefix = F.substring(F.col(text_col), 1, prefix_len)
    return spread_small_scan(df).select(F.col(id_col).alias("doc"), prefix.alias("_pref"))


def fuzzy_prefix_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    prefix_len: int = 40,
    q: int = 3,
) -> DataFrame:
    """Distinct character-q-gram inverted index over text prefixes —
    the blocking index behind :func:`fuzzy_pairs`, exposed so callers
    can also feed it to :func:`guard_prune_stats`."""
    pref = _fuzzy_prefixes(df, id_col, text_col, prefix_len)
    p = F.col("_pref")
    n_grams = F.length(p) - F.lit(q - 1)
    grams = F.array_distinct(
        F.when(
            n_grams >= 1,
            F.transform(
                F.sequence(F.lit(1), n_grams),
                lambda i: p.substr(i, F.lit(q)),
            ),
        ).otherwise(F.array(p))
    )
    return pref.select("doc", F.explode(grams).alias("shingle"))


def guard_prune_stats(idx: DataFrame, max_shingle_freq: int) -> DataFrame:
    """One-row report of what :func:`_guard_shingle_freq` would drop
    from a (doc, shingle) index — the alarm channel for the guard's
    recall trade.

    The frequency guard fails SILENT at high duplication: on a corpus
    where every q-gram is ubiquitous (mass replicas), it prunes every
    posting, candidate generation emits zero pairs, and "no fuzzy
    duplicates" is indistinguishable from "guard ate the index".  A
    pipeline should run this (same single count-over-window shuffle
    shape as the guard itself) and alarm when ``pruned_frac`` nears 1.0
    or ``docs_zero_grams`` is material, then either raise the guard,
    switch to the unguarded join on a sampled stratum, or exact-dedup
    first.

    Columns: total_grams, pruned_grams, pruned_frac, docs_total,
    docs_zero_grams (docs whose EVERY gram is pruned — unjoinable, full
    recall loss for that doc).
    """
    w = Window.partitionBy("shingle")
    per_doc = (
        idx.withColumn("_f", F.count("*").over(w))
        .groupBy("doc")
        .agg(
            F.count("*").alias("grams"),
            F.sum((F.col("_f") > max_shingle_freq).cast("long")).alias("pruned"),
        )
    )
    return per_doc.agg(
        F.sum("grams").cast("long").alias("total_grams"),
        F.sum("pruned").cast("long").alias("pruned_grams"),
        (F.sum("pruned") / F.sum("grams")).alias("pruned_frac"),
        F.count("*").cast("long").alias("docs_total"),
        F.sum((F.col("pruned") == F.col("grams")).cast("long")).alias(
            "docs_zero_grams"
        ),
    )


def fuzzy_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_distance: int = 10,
    prefix_len: int = 40,
    q: int = 3,
    max_shingle_freq: int | None = 1000,
) -> DataFrame:
    """Bounded edit-distance similarity join (fuzzy dedup of short
    fields — titles, names, keys) with the classic character-q-gram
    filter (Gravano et al. 2001, "Approximate String Joins in a
    Database (Almost) for Free"): one edit destroys at most q char
    q-grams, so strings within levenshtein ``max_distance`` share at
    least ``min_len - q + 1 - max_distance*q`` q-grams — for the
    defaults (40-char prefixes, q=3, d=10) that bound is 8 > 0, i.e.
    candidate generation is COMPLETE: every true pair is blocked into
    the verify step, where exact engine-native levenshtein decides
    (integer-exact cross-engine).

    Same single-shuffle skew guard as the Jaccard join; verification
    runs only on blocked candidates, never all pairs.  NOTE: the guard
    can drop ubiquitous grams and with them the completeness bound —
    set ``max_shingle_freq=None`` when the guarantee matters more than
    skew safety, and run :func:`guard_prune_stats` over
    :func:`fuzzy_prefix_index` to measure the drop: at high duplication
    the guard prunes EVERY posting and this join silently returns zero
    pairs.
    """
    pref = _fuzzy_prefixes(df, id_col, text_col, prefix_len)
    idx = fuzzy_prefix_index(df, id_col, text_col, prefix_len, q)
    idx = _guard_shingle_freq(idx, max_shingle_freq)
    a = idx.alias("a")
    b = idx.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .distinct()
    )
    pa = pref.select(F.col("doc").alias("doc_a"), F.col("_pref").alias("_pa"))
    pb = pref.select(F.col("doc").alias("doc_b"), F.col("_pref").alias("_pb"))
    return (
        cand.join(pa, "doc_a")
        .join(pb, "doc_b")
        .withColumn(
            "distance", F.levenshtein(F.col("_pa"), F.col("_pb")).cast("long")
        )
        .filter(F.col("distance") <= max_distance)
        .select("doc_a", "doc_b", "distance")
    )


def lsh_banded(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    num_bands: int = 4,
    n: int = 3,
) -> DataFrame:
    """(doc, band, bucket) rows — the LSH index shared by the candidate,
    dedup and cluster paths: ``num_bands`` rows per input row, band
    numbered from 0.

    The buckets come from one Arrow kernel per document
    (functions/text.py::lsh_bands): tokenize, distinct word n-gram
    shingles, one md5 per shingle, the signature minima and the band
    md5s in one Python pass, so no shingle row and no signature
    aggregate reaches the JVM and this index needs no shuffle (the band
    join or window downstream is the first).  One row per input row:
    ids are expected unique, as the callers' document ids are.

    Hash family is double hashing, ONE md5 per distinct shingle: member
    i is h1 + i*h2 over two 56-bit halves of the digest (see
    :func:`~cloud_optimized_data_pipelines_spark.functions.text.lsh_bands_kernel`).

    Null text: tokenizes to no tokens and so, like an empty or
    whitespace-only text, has the single shingle ``""``: every such doc
    gets the same buckets, and :func:`minhash_lsh_dedup` keeps only the
    lowest id among them (the declarative form's ``concat_ws`` over a
    null token array, kept for oracle parity).
    """
    return spread_small_scan(df).select(
        F.col(id_col).alias("doc"),
        F.posexplode(lsh_bands(text_col, num_hashes, num_bands, n)).alias(
            "band", "bucket"
        ),
    )


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    num_bands: int = 4,
    n: int = 3,
) -> DataFrame:
    """Near-dup candidate pairs via banded MinHash LSH.

    Band buckets come from one Arrow pass per document (no shuffle,
    see :func:`lsh_banded`); the only wide op is the equi-join on
    (band, bucket).  With b bands of r rows the
    detection threshold is ~(1/b)^(1/r); 4 bands x 4 rows ~= 0.71.
    Output: (doc_a, doc_b, n_shared_bands).

    NOTE: pair ENUMERATION is quadratic in bucket occupancy by nature
    (measured: a 100x-replicated corpus yields 153M pairs) — for
    dedup-at-scale use :func:`minhash_lsh_dedup`, which never
    materializes pairs; reserve this for bounded-bucket analysis.
    """
    banded = lsh_banded(df, id_col, text_col, num_hashes, num_bands, n)
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .agg(F.count("*").alias("n_shared_bands"))
    )


def minhash_lsh_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    num_bands: int = 4,
    n: int = 3,
) -> DataFrame:
    """Drop near-duplicates: keep the lowest id of every LSH candidate
    cluster (union-find approximated by min-id propagation — one pass is
    exact for star-shaped clusters, which covers the overwhelming
    majority of near-dup groups).

    O(n), never enumerates pairs: a doc is dropped iff some bucket it
    occupies contains a lower id — i.e. ``doc > min(doc) over its
    (band, bucket)`` — identical losers to the pair formulation
    (doc_b of any candidate pair) at a tiny fraction of the cost when
    buckets are dense (100x-replica stress: pair path emits 153M rows,
    this path one window over 4n rows).
    """
    banded = lsh_banded(df, id_col, text_col, num_hashes, num_bands, n)
    w = Window.partitionBy("band", "bucket")
    losers = (
        banded.withColumn("_min", F.min("doc").over(w))
        .filter(F.col("doc") > F.col("_min"))
        .select(F.col("doc").alias(id_col))
        .distinct()
    )
    return df.join(losers, id_col, "left_anti")


def minhash_lsh_verified_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    num_bands: int = 4,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """The production near-dup pipeline: LSH candidate generation +
    exact Jaccard verification restricted to candidates.

    The all-pairs Jaccard join is quadratic in posting-list length; here
    the shingle self-join is SEMI-JOINED to the (sub-linear) LSH
    candidate set first, so exact similarity is only computed for pairs
    that already collide in a band — the standard candidates-then-verify
    composition.  Output: (doc_a, doc_b, jaccard) with jaccard >=
    threshold, where jaccard is exact over the full shingle sets.
    """
    cand = minhash_lsh_candidates(
        df, id_col, text_col, num_hashes, num_bands, n
    ).select("doc_a", "doc_b")
    idx = shingle_index(df, id_col, text_col, n)
    sizes = idx.groupBy("doc").agg(F.count("*").alias("set_size"))
    a = idx.select(F.col("doc").alias("doc_a"), "shingle")
    b = idx.select(F.col("doc").alias("doc_b"), "shingle")
    common = (
        cand.join(a, "doc_a")
        .join(b, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("common"))
    )
    sa = sizes.select(F.col("doc").alias("doc_a"), F.col("set_size").alias("size_a"))
    sb = sizes.select(F.col("doc").alias("doc_b"), F.col("set_size").alias("size_b"))
    return (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.col("common") / (F.col("size_a") + F.col("size_b") - F.col("common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def cluster_labels(edges: DataFrame, max_iter: int = 60) -> DataFrame:
    """Connected components over a bipartite (doc, bucket) graph by
    iterative min-label propagation: doc labels flow to buckets
    (groupBy min), bucket minima flow back to docs, until fixpoint.

    Never materializes doc-doc pairs — per iteration the work is two
    aggregations over the edge list (O(edges)), but iterations are
    bounded by COMPONENT DIAMETER, not a constant: sf0.1's LSH
    collision graph already needs 31 rounds, so hitting ``max_iter``
    without a fixpoint RAISES rather than returning silently wrong
    labels.  For deep/chained graphs prefer
    :func:`connected_components` (O(log^2 n) rounds regardless of
    diameter).  Each round's labels are pinned, so the plan doesn't
    grow with iterations — the standard Spark iterative-algorithm
    pattern.

    Input: (doc, bkt) rows.  Output: (doc, label) where label = min doc
    id of the doc's component.
    """
    # every round reads the edge list twice; unpinned, each read would
    # replay its upstream lineage (LSH banding: the Arrow band kernel)
    edges = pin(edges)
    labels = edges.select("doc").distinct().withColumn("label", F.col("doc"))
    for _ in range(max_iter):
        bucket_min = (
            edges.join(labels, "doc")
            .groupBy("bkt")
            .agg(F.min("label").alias("_bmin"))
        )
        new_labels = pin(
            edges.join(bucket_min, "bkt")
            .groupBy("doc")
            .agg(F.min("_bmin").alias("label"))
        )
        changed = (
            labels.alias("o")
            .join(new_labels.alias("n"), "doc")
            .filter(F.col("o.label") != F.col("n.label"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        # propagation needs O(component diameter) rounds; stopping
        # early would return silently WRONG labels (caught at sf0.1:
        # 31 rounds needed vs the former silent cap of 20)
        raise RuntimeError(
            f"cluster_labels: no fixpoint in {max_iter} rounds — raise "
            "max_iter, or use connected_components (diameter-independent)"
        )
    return labels


def minhash_lsh_clusters(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    num_bands: int = 4,
    n: int = 3,
    max_iter: int = 20,
) -> DataFrame:
    """Assign every doc a near-dup ``cluster_id`` (min doc id of its
    connected component in the LSH collision graph).

    Unlike :func:`minhash_lsh_dedup` (one bucket-min pass — exact for
    star clusters), this follows CHAINS: A~B and B~C put A,B,C in one
    cluster even when A,C never collide.

    Scale shape: each LSH bucket is collapsed to a STAR on its minimum
    doc — (doc, bucket_min) edges, O(bucket size) per bucket, which
    preserves connectivity exactly while a hot million-doc bucket
    would emit 10^12 rows as all-pairs — then
    :func:`connected_components` contracts the star graph in
    O(log^2 n) rounds independent of chain diameter.  (The pure
    bipartite propagation in :func:`cluster_labels` needs O(diameter)
    rounds — measured 31 at sf0.1 — so it is kept only as the simple
    reference form.)  The iteration is not SQL, but its fixpoint is:
    the registered query's oracle checks it as a recursive
    reachability walk with the MIN outside the recursive term.
    """
    banded = lsh_banded(df, id_col, text_col, num_hashes, num_bands, n)
    edges = banded.select(
        "doc", F.concat_ws("#", "band", "bucket").alias("bkt")
    )
    bmin = edges.groupBy("bkt").agg(F.min("doc").alias("bmin"))
    star = (
        edges.join(bmin, "bkt")
        .filter(F.col("doc") != F.col("bmin"))
        .select(F.col("doc").alias("src"), F.col("bmin").alias("dst"))
    )
    labels = connected_components(star, "src", "dst", max_iter)
    return (
        df.join(labels, df[id_col] == labels.node, "left")
        .drop("node")
        .withColumn("cluster_id", F.coalesce(F.col("component"), F.col(id_col)))
        .drop("component")
    )


# --- SimHash ---------------------------------------------------------------

SIMHASH_BITS = 32  # md5-hex prefix of 8 chars -> 32 bits; fits INT/BIGINT


def simhash(text_col, bits: int = SIMHASH_BITS):
    """SimHash over whitespace tokens, md5-derived per-token hashes.

    For each bit position, sum +1/-1 across token hashes; the sign
    vector packs into a BIGINT.  Pure expression (transform/aggregate),
    bit-identical across engines.

    The per-token hash array is LET-BOUND before the per-bit folds:
    codegen CSE does not reach inside higher-order lambdas, so an
    inlined hash would recompute every token's md5 once PER BIT —
    O(tokens x bits) digests per document instead of O(tokens)
    (measured 90.6 s -> 9.2 s over 500k docs at 32 bits).

    ``bits`` up to 60 (the fingerprint must stay a positive signed
    BIGINT in both engines); the per-token hash takes ceil(bits/4) md5
    hex chars.  Wider fingerprints matter for the banded pair join —
    see :func:`simhash_near_dup_pairs`.
    """
    from cloud_optimized_data_pipelines_spark.functions.text import tokens

    if not 1 <= bits <= 60:
        raise ValueError("bits must be in [1, 60] (signed-BIGINT-safe)")
    hex_chars = -(-bits // 4)

    def build(harr):
        def bit_sum(b: int):
            mask = 1 << b
            return F.aggregate(
                harr,
                F.lit(0),
                lambda acc, h: acc
                + F.when(h.bitwiseAND(F.lit(mask)) != 0, F.lit(1)).otherwise(
                    F.lit(-1)
                ),
            )

        out = F.lit(0).cast("long")
        for b in range(bits):
            out = out + F.when(bit_sum(b) > 0, F.lit(2**b).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
        return out

    hashes = F.transform(
        tokens(text_col),
        lambda t: F.conv(F.substring(F.md5(t), 1, hex_chars), 16, 10).cast("long"),
    )
    return F.transform(F.array(hashes), build)[0]


def incremental_dedup(
    new_batch: DataFrame,
    corpus: DataFrame,
    content_col: str,
    id_col: str,
) -> DataFrame:
    """Continual-ingest dedup: keep a new document only if its content
    digest is (a) unseen in the historical corpus and (b) the first of
    its digest within the batch (ties by smallest id).

    The corpus side reduces to DISTINCT digests BEFORE the anti-join —
    at 100 TB you keep exactly that digest table materialized (16 bytes
    a row) instead of ever re-reading corpus text; history is never
    re-deduped.  Both the anti-join and the within-batch survivor pick
    shuffle digests, not documents; the survivor is a partial-
    aggregable ``min_by`` (smallest id per digest — identical row to
    the previous row_number window, but duplicate-heavy batches reduce
    map-side instead of sort-shuffling every replica; optimization
    r14, guide §2.3/§2.4).
    """
    digest = F.md5(F.col(content_col))
    seen = corpus.select(digest.alias("__digest")).distinct()
    batch = new_batch.withColumn("__digest", digest)
    cols = new_batch.columns
    return (
        batch.join(seen, "__digest", "left_anti")
        .groupBy("__digest")
        .agg(
            F.min_by(
                F.struct(*[F.col(c) for c in cols]), F.col(id_col)
            ).alias("_r")
        )
        .select("_r.*")
    )


def cut_duplicate_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    spans: DataFrame,
) -> DataFrame:
    """The CUT step of ExactSubstr dedup (Lee et al. 2021): given the
    span table from :func:`duplicate_spans` (doc_a < doc_b, token
    positions 1-based), remove every duplicated span from the HIGHER-id
    document of each pair — the first occurrence in corpus order
    survives, later occurrences are excised, which is the
    cut-the-span-not-the-doc policy.

    Plan: spans -> per-doc interval list (bounded by that doc's span
    count — no corpus-wide state), left-join back to the corpus, then a
    pure column rebuild: tokens are indexed with a position-aware
    ``transform``, dropped when ANY interval covers them (overlap
    merging is unnecessary for a membership test), and re-joined with
    single spaces.  One small aggregate + one broadcast-friendly join +
    a narrow projection; the token arrays are let-bound (codegen CSE
    does not reach inside higher-order lambdas).

    Output: the input rows plus ``n_tokens_before``, ``n_tokens_after``
    and ``text_dedup`` (docs with no spans pass through re-joined on
    single spaces, so the column is uniformly normalized).
    """
    ivs = (
        spans.select(
            F.col("doc_b").alias("_doc"),
            F.struct(
                F.col("start_b").alias("s"),
                (F.col("start_b") + F.col("span_tokens")).alias("e"),
            ).alias("iv"),
        )
        .groupBy("_doc")
        .agg(F.collect_list("iv").alias("_ivs"))
    )
    out = df.join(ivs, df[id_col] == ivs["_doc"], "left").drop("_doc")

    def rebuild(toks):
        ivs_col = F.coalesce(
            F.col("_ivs"),
            F.expr("CAST(array() AS ARRAY<STRUCT<s BIGINT, e BIGINT>>)"),
        )
        indexed = F.transform(
            toks,
            lambda t, i: F.struct(t.alias("t"), (i + 1).cast("long").alias("p")),
        )
        kept = F.filter(
            indexed,
            lambda x: ~F.exists(
                ivs_col,
                lambda iv: (x["p"] >= iv["s"]) & (x["p"] < iv["e"]),
            ),
        )
        return F.struct(
            F.size(toks).cast("long").alias("before"),
            F.size(kept).cast("long").alias("after"),
            F.concat_ws(" ", F.transform(kept, lambda x: x["t"])).alias("txt"),
        )

    built = F.transform(F.array(tokens(F.col(text_col))), rebuild)[0]
    return (
        out.withColumn("_b", built)
        .withColumn("n_tokens_before", F.col("_b.before"))
        .withColumn("n_tokens_after", F.col("_b.after"))
        .withColumn("text_dedup", F.col("_b.txt"))
        .drop("_ivs", "_b")
    )


def _fixed_token_lines(text_col, n: int):
    """Consecutive ``n``-token chunks as the document's "lines" — the
    deterministic fallback for corpora without newline structure.  The
    token array is let-bound (codegen CSE does not reach inside
    higher-order lambdas)."""

    def build(toks):
        k = F.size(toks)
        nlines = F.ceil(k / F.lit(float(n))).cast("int")
        return F.when(
            k > 0,
            F.transform(
                F.sequence(F.lit(0), nlines - 1),
                lambda i: F.concat_ws(" ", F.slice(toks, i * n + 1, n)),
            ),
        ).otherwise(F.expr("CAST(array() AS ARRAY<STRING>)"))

    return F.transform(F.array(tokens(text_col)), build)[0]


def line_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_doc_freq: int = 1,
    line_sep: str | None = None,
    line_tokens: int = 10,
) -> DataFrame:
    """Corpus-frequency line deduplication (the RefinedWeb / Dolma
    recipe): remove every line that occurs in more than ``max_doc_freq``
    DISTINCT documents — boilerplate (nav bars, cookie banners, license
    headers) repeats across documents, body text does not.  Unlike the
    pairwise ExactSubstr family this needs no doc-pair reasoning at
    all: one global line-frequency table decides every removal.

    Lines are ``line_sep`` splits when given, else fixed
    ``line_tokens``-token chunks (:func:`_fixed_token_lines`) for
    corpora without newline structure.

    Scale shape: posexplode -> line-keyed count-distinct (partial-
    aggregated; hot boilerplate lines are exactly the map-side-combine
    case) -> the over-frequent set joined back on line (that set is
    tiny relative to the corpus — boilerplate by definition — so AQE
    picks a broadcast) -> one doc-keyed shuffle to rebuild kept text in
    position order.  Per-doc state is bounded by document size; no
    corpus-wide windows, no Python.

    Output: every input row with ``n_lines``, ``n_removed`` and
    ``text_dedup`` (kept lines re-joined in order; docs with no tokens
    pass through with zeros and empty text — filters never silently
    drop rows).
    """
    if line_sep is not None:
        # \Q..\E-quote the separator: F.split takes a Java REGEX but the
        # rejoin uses the literal string — an unescaped separator with
        # metacharacters (e.g. '|') would split per-character and
        # corrupt the rebuilt text
        lines_arr = F.split(F.col(text_col), F.lit("\\Q" + line_sep + "\\E"))
        joiner = line_sep
    else:
        lines_arr = _fixed_token_lines(text_col, line_tokens)
        joiner = " "
    # empty segments (consecutive separators) are KEPT as rows so the
    # rebuild round-trips documents byte-for-byte when nothing is
    # removed; they are excluded from frequency counting and from
    # n_lines/n_removed (an empty line is structure, not content)
    lines = df.select(
        F.col(id_col).alias("_doc"), F.posexplode(lines_arr).alias("pos", "line")
    )
    over = (
        lines.filter(F.col("line") != "")
        .groupBy("line")
        .agg(F.count_distinct("_doc").alias("_ndocs"))
        .filter(F.col("_ndocs") > max_doc_freq)
        .select("line", F.lit(True).alias("_rm"))
    )
    flagged = lines.join(over, "line", "left").withColumn(
        "_rm", F.coalesce(F.col("_rm"), F.lit(False))
    )
    per_doc = flagged.groupBy("_doc").agg(
        F.sum(F.when(F.col("line") != "", 1).otherwise(0))
        .cast("long")
        .alias("n_lines"),
        F.sum(F.when(F.col("_rm"), 1).otherwise(0)).cast("long").alias("n_removed"),
        F.concat_ws(
            joiner,
            F.transform(
                F.filter(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "line", "_rm"))
                    ),
                    lambda x: ~x["_rm"],
                ),
                lambda x: x["line"],
            ),
        ).alias("text_dedup"),
    )
    out = df.join(per_doc, df[id_col] == per_doc["_doc"], "left").drop("_doc")
    return (
        out.withColumn("n_lines", F.coalesce(F.col("n_lines"), F.lit(0)).cast("long"))
        .withColumn("n_removed", F.coalesce(F.col("n_removed"), F.lit(0)).cast("long"))
        .withColumn("text_dedup", F.coalesce(F.col("text_dedup"), F.lit("")))
    )


def simhash_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 60,
    num_bands: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-duplicate pairs via banded Hamming blocking — the
    Google web-dedup design (Manku, Jain & Das Sarma 2007, "Detecting
    Near-Duplicates for Web Crawling").

    Pigeonhole guarantee: two fingerprints within Hamming distance d
    share at least one of ``num_bands`` bit-bands whenever
    ``d < num_bands`` (with d = max_hamming = num_bands - 1 this
    blocking is COMPLETE — every qualifying pair is found, unlike the
    probabilistic MinHash bands).  Candidates are an equi-join on
    (band index, band value): the only shuffle, same scale shape as
    the LSH band join.  Verification is one xor + bit_count per
    DISTINCT candidate pair.

    Output: (id_a, id_b, hamming) with id_a < id_b.

    SIZE THE FINGERPRINT TO THE CORPUS: expected candidate pairs are
    ~num_bands * n^2 / 2^(bits/num_bands + 1), so band-value
    cardinality must track corpus size — the 32-bit form's 8-bit bands
    (256 values) cap it at ~10^5 docs (measured: 500k replica docs
    emit ~2*10^9 candidates and the join never finishes), while the
    default 60-bit/15-bit-band form handles 10^7 and a 64-bit unsigned
    fingerprint (Manku's production shape) goes beyond — BIGINT
    signedness caps this portable implementation at 60.

    Fingerprints come from :func:`simhash_fingerprints_fast` (Arrow/
    hashlib), bit-exact to the :func:`simhash` expression, which the
    parity tests use as the reference.  The fingerprint table is
    pinned at construction, so building the frame runs one Spark job.
    """
    if bits % num_bands:
        raise ValueError("bits must divide evenly into num_bands")
    if max_hamming >= num_bands:
        raise ValueError(
            "max_hamming must be < num_bands: the pigeonhole completeness "
            "guarantee only holds when the differing bits cannot cover "
            "every band (raise num_bands for a larger Hamming radius)"
        )
    width = bits // num_bands
    mask = (1 << width) - 1
    # fingerprinting is the dominant cost, and the self-join's two
    # sides would each re-derive every fingerprint from raw text
    sh = pin(
        simhash_fingerprints_fast(
            spread_small_scan(df), id_col, text_col, bits
        ).select(F.col(id_col).alias("id"), "sh")
    )
    banded = sh.select(
        "id",
        "sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("sh"), b * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("val"),
                    )
                    for b in range(num_bands)
                ]
            )
        ).alias("bv"),
    ).select("id", "sh", F.col("bv.band").alias("band"), F.col("bv.val").alias("val"))
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.sh").alias("sh_a"),
            F.col("b.sh").alias("sh_b"),
        )
        .distinct()  # a pair matching in k bands appears k times
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        cand.withColumn("hamming", hamming.cast("long"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def simhash_wide(text_col, words: int = 2, bits_per_word: int = 60):
    """Multi-word SimHash: an ``array<long>`` of ``words`` independent
    ``bits_per_word``-bit fingerprints — the scale fix for the banded
    pair join's band-cardinality cliff.

    Candidate pairs in the banded join grow as
    ~num_bands * n^2 / 2^(band_width + 1): the single-BIGINT form caps
    band width at 60/num_bands = 15 bits, which saturates around 10^7
    docs (measured: at 5M docs the 15-bit bands already emit ~10^9
    candidates, see SCALE.md round 8).  Two 60-bit words give 120 bits
    -> 6 bands of 20 bits (complete for Hamming <= 5), cutting expected
    candidates 32x per band-width bit; ``words`` scales further
    (Manku's production shape is 64-bit unsigned + permuted tables;
    multi-word is the signed-BIGINT-portable equivalent).

    Word ``w`` hashes token ``t`` as md5(t || '|w') so word bits are
    independent; per-token digests stay O(tokens * words), and the
    per-bit folds O(tokens * words * bits) — the same let-binding as
    :func:`simhash` keeps md5 out of the per-bit lambdas.  Bit-identical
    in DuckDB: ``('0x' || substr(md5(t || '|w'), 1, 15))::BIGINT``.
    """
    from cloud_optimized_data_pipelines_spark.functions.text import tokens

    if not 1 <= bits_per_word <= 60:
        raise ValueError("bits_per_word must be in [1, 60] (signed-BIGINT-safe)")
    hex_chars = -(-bits_per_word // 4)

    def build_word(harr):
        def bit_sum(b: int):
            mask = 1 << b
            return F.aggregate(
                harr,
                F.lit(0),
                lambda acc, h: acc
                + F.when(h.bitwiseAND(F.lit(mask)) != 0, F.lit(1)).otherwise(
                    F.lit(-1)
                ),
            )

        out = F.lit(0).cast("long")
        for b in range(bits_per_word):
            out = out + F.when(
                bit_sum(b) > 0, F.lit(2**b).cast("long")
            ).otherwise(F.lit(0).cast("long"))
        return out

    def hasher(w: int):
        # MUST be a unary lambda: F.transform dispatches on the
        # callable's arity, so the idiomatic ``lambda t, w=w`` default-
        # arg capture silently becomes a BINARY (element, index) lambda
        # — the index Column binds to ``w`` and gets repr-formatted
        # into the hash suffix (measured: run-to-run-unstable
        # fingerprints, caught by the python cross-check test)
        suffix = f"|{w}"
        return lambda t: F.conv(
            F.substring(F.md5(F.concat(t, F.lit(suffix))), 1, hex_chars),
            16,
            10,
        ).cast("long")

    fps = []
    for w in range(words):
        hashes = F.transform(tokens(text_col), hasher(w))
        fps.append(F.transform(F.array(hashes), build_word)[0])
    return F.array(*fps)


def simhash_fingerprints_fast(
    df: DataFrame, id_col: str, text_col: str, bits: int = 60
) -> DataFrame:
    """Arrow/numpy fast path for the single-BIGINT :func:`simhash` —
    BIT-EXACT (md5(token), integer majority votes; same construction,
    same JVM-ASCII tokenization parity as
    :func:`simhash_wide_fingerprints_fast`).  Returns (id, sh long)."""
    import hashlib as _hashlib
    import re as _re

    import numpy as np

    if not 1 <= bits <= 60:
        raise ValueError("bits must be in [1, 60] (signed-BIGINT-safe)")
    hex_chars = -(-bits // 4)
    jvm_ws = _re.compile(r"[ \t\n\x0b\f\r]+")
    shifts = np.arange(bits, dtype=np.uint64)
    weights = (np.uint64(1) << shifts).astype(np.int64)

    id_field = next(f for f in df.schema.fields if f.name == id_col)
    out_schema = f"{id_col} {id_field.dataType.simpleString()}, sh long"

    def run(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                toks = [t for t in jvm_ws.split(text or "") if t]
                if toks:
                    hs = np.array(
                        [
                            int(
                                _hashlib.md5(t.encode()).hexdigest()[
                                    :hex_chars
                                ],
                                16,
                            )
                            for t in toks
                        ],
                        dtype=np.uint64,
                    )
                    ones = ((hs[:, None] >> shifts) & np.uint64(1)).sum(
                        axis=0
                    )
                    fp = int(
                        weights[2 * ones.astype(np.int64) > len(toks)].sum()
                    )
                else:
                    fp = 0
                rows.append({id_col: did, "sh": fp})
            yield pd.DataFrame(rows)

    return df.select(id_col, text_col).mapInPandas(run, out_schema)


def simhash_wide_fingerprints_fast(
    df: DataFrame,
    id_col: str,
    text_col: str,
    words: int = 2,
    bits_per_word: int = 60,
) -> DataFrame:
    """Arrow/numpy fast path for :func:`simhash_wide` — BIT-EXACT to
    the declarative fold (integer majority votes over md5 bits, so
    unlike the cosine fast paths there is no floating-point caveat;
    equality is pinned by test and the shared oracle).

    Why: the :func:`simhash_wide` expression evaluates words*bits
    interpreted per-bit aggregate lambdas per document — the dominant
    cost of the wide banded join (25.7 s of the 100x probe's pair stage is
    fingerprinting).  Here each Arrow batch hashes tokens once with
    hashlib (same md5(token || '|w') construction) and counts all 60
    bit positions in one numpy broadcast.

    Tokenization parity trap: Java's ``\\s`` is ASCII-only while
    Python's ``re`` ``\\s`` matches unicode whitespace — this splits
    on the JVM's exact class so a NBSP-bearing document cannot
    diverge.
    """
    import hashlib as _hashlib
    import re as _re

    import numpy as np

    if not 1 <= bits_per_word <= 60:
        raise ValueError("bits_per_word must be in [1, 60] (signed-BIGINT-safe)")
    hex_chars = -(-bits_per_word // 4)
    jvm_ws = _re.compile(r"[ \t\n\x0b\f\r]+")
    shifts = np.arange(bits_per_word, dtype=np.uint64)
    weights = (np.uint64(1) << shifts).astype(np.int64)

    id_field = next(f for f in df.schema.fields if f.name == id_col)
    out_schema = (
        f"{id_col} {id_field.dataType.simpleString()}, sh array<long>"
    )

    def run(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                toks = [t for t in jvm_ws.split(text or "") if t]
                fps = []
                for w in range(words):
                    suffix = f"|{w}".encode()
                    if toks:
                        hs = np.array(
                            [
                                int(
                                    _hashlib.md5(
                                        t.encode() + suffix
                                    ).hexdigest()[:hex_chars],
                                    16,
                                )
                                for t in toks
                            ],
                            dtype=np.uint64,
                        )
                        ones = ((hs[:, None] >> shifts) & np.uint64(1)).sum(
                            axis=0
                        )
                        fp = int(
                            weights[2 * ones.astype(np.int64) > len(toks)].sum()
                        )
                    else:
                        fp = 0
                    fps.append(fp)
                rows.append({id_col: did, "sh": fps})
            yield pd.DataFrame(rows)

    return df.select(id_col, text_col).mapInPandas(run, out_schema)


def simhash_wide_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    words: int = 2,
    bits_per_word: int = 60,
    num_bands: int = 6,
    max_hamming: int = 3,
) -> DataFrame:
    """Banded Hamming near-dup pairs over the :func:`simhash_wide`
    multi-word fingerprint — :func:`simhash_near_dup_pairs` re-banded
    for corpora past the single-BIGINT cliff.

    Same pigeonhole completeness (``max_hamming < num_bands`` over the
    CONCATENATED words*bits_per_word-bit string), same equi-join shape;
    only the band width changes: 120 bits / 6 bands = 20-bit band
    values (2^20 cardinality vs 2^15), so expected candidates drop 32x
    at the same corpus size and the join stays collision-bound to
    ~10^8-10^9 docs.  ``num_bands`` must split evenly across words so a
    band never straddles a word boundary (band extraction stays one
    shiftright+mask on one BIGINT).

    Output: (id_a, id_b, hamming) with id_a < id_b, hamming over the
    full concatenated fingerprint.

    Fingerprints come from :func:`simhash_wide_fingerprints_fast`
    (Arrow/hashlib), bit-exact to the :func:`simhash_wide` expression,
    which the parity tests use as the reference; its words*bits
    interpreted per-bit lambdas dominated the pair stage (SCALE.md
    round 8).
    """
    if num_bands % words:
        raise ValueError("num_bands must divide evenly across words")
    bands_per_word = num_bands // words
    if bits_per_word % bands_per_word:
        raise ValueError("bits_per_word must divide evenly into per-word bands")
    if max_hamming >= num_bands:
        raise ValueError(
            "max_hamming must be < num_bands: pigeonhole completeness"
        )
    width = bits_per_word // bands_per_word
    mask = (1 << width) - 1
    # pinned once: the self-join's two sides read it (as in
    # simhash_near_dup_pairs)
    sh = pin(
        simhash_wide_fingerprints_fast(
            spread_small_scan(df), id_col, text_col, words, bits_per_word
        ).select(F.col(id_col).alias("id"), "sh")
    )
    banded = sh.select(
        "id",
        "sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(w * bands_per_word + b).alias("band"),
                        F.shiftright(F.col("sh")[w], b * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("val"),
                    )
                    for w in range(words)
                    for b in range(bands_per_word)
                ]
            )
        ).alias("bv"),
    ).select(
        "id", "sh", F.col("bv.band").alias("band"), F.col("bv.val").alias("val")
    )
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.sh").alias("sh_a"),
            F.col("b.sh").alias("sh_b"),
        )
        .distinct()  # a pair matching in k bands appears k times
    )
    hamming = F.aggregate(
        F.zip_with(
            F.col("sh_a"),
            F.col("sh_b"),
            lambda x, y: F.bit_count(x.bitwiseXOR(y)).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, h: acc + h,
    )
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


_INT_ID_TYPES = {"tinyint", "smallint", "int", "bigint"}


def _partition_star_contract(e: DataFrame) -> DataFrame:
    """Partition-local union-find pre-contraction for
    :func:`connected_components`: each partition's edge fragment is
    collapsed to a star forest (one ``(local_min, node)`` edge per
    non-root node) in a single Arrow ``mapInPandas`` pass, BEFORE any
    global alternation round.

    Why: the alternating-star rounds shuffle the full edge set several
    times; contracting every partition's local subgraph first is
    connectivity-preserving (each node still rides an edge to its
    local root, so cross-partition connectivity survives) and shrinks
    the alternation's input to at most one edge per node — on
    real corpora most near-dup edges are intra-partition after the
    canonicalizing distinct, so the rounds run on a fraction of the
    data and the round COUNT drops (a partition-sized sub-chain
    contracts in one pass instead of log(diameter) rounds).  Output
    labels are unchanged: the component min is partition-independent.

    Single pass, O(edges) dict union-find per partition (the one
    imperative-per-partition loop this engine allows itself — the
    textbook use of mapInPandas state)."""
    import pandas as pd

    def gen(batches):
        parent: dict = {}

        def find(x: int) -> int:
            r = x
            while parent.get(r, r) != r:
                r = parent[r]
            while parent.get(x, x) != x:
                parent[x], x = r, parent[x]
            return r

        for pdf in batches:
            for a, b in zip(
                pdf["u"].to_numpy(), pdf["v"].to_numpy()
            ):
                ra, rb = find(int(a)), find(int(b))
                if ra == rb:
                    continue
                if ra < rb:
                    parent[rb] = ra
                else:
                    parent[ra] = rb
        if parent:
            nodes = list(parent.keys())
            roots = [find(n) for n in nodes]
            yield pd.DataFrame({"u": roots, "v": nodes})

    return e.mapInPandas(gen, "u long, v long")


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
    stats: dict | None = None,
) -> DataFrame:
    """Duplicate-cluster labeling: connected components of a near-dup
    pair graph via alternating large-star / small-star (Kiveris et al.
    2014, "Connected Components in MapReduce and Beyond").

    Pair emitters (:func:`lsh_banded`, :func:`simhash_near_dup_pairs`,
    :func:`ngram_jaccard_pairs`) find EDGES; dedup policy needs
    CLUSTERS — near-duplication is not transitive (a~b, b~c without
    a~c), so keep-one-per-pair under-deletes and pairwise-greedy
    deletes both of a chain's ends.  The standard corpus recipe
    (RefinedWeb, Dolma, SlimPajama) is: pairs -> connected components
    -> keep one document per component.

    Why star-contraction instead of the obvious label propagation:
    min-label propagation needs O(diameter) rounds (a 1M-doc chain is
    1M shuffles); alternating star rounds contract the graph toward a
    star forest in O(log^2 n) rounds regardless of diameter, each
    round a pair of groupBy-min + broadcast-free equi-joins — no
    single-task stage, per-key state one BIGINT.  Iteration is
    driver-side control flow on metadata (a 2-value signature action
    per round); edge data never leaves the cluster.

    - large-star: every node points its LARGER neighbors at the
      minimum of its closed neighborhood — long tails collapse onto
      local minima without densifying small nodes;
    - small-star: every node points its smaller-or-equal neighbors at
      the neighborhood minimum — stars of stars flatten one level.

    Convergence = canonical edge set stable (count + xxhash64-sum
    signature; a changed edge set collides with probability ~2^-64
    per round).  Each round's edge set is pinned: unpinned, the plan
    doubles per iteration and Catalyst analysis time, not the data,
    becomes the bottleneck.

    Id columns may be ANY orderable type: integer ids run the
    contraction directly; string/other ids (URLs, content hashes) are
    densely mapped to longs internally — one distinct + two hash
    joins — and mapped back, so the output ``component`` is still the
    smallest ORIGINAL id under that type's ordering.  (A plain
    ``cast("long")`` here would hard-fail under ANSI mode, or with
    ANSI off cast to NULL and silently shred every edge.)

    Returns one row per node that appears in ``edges``:
    ``(node, component)`` with component = the smallest node id
    reachable from it.  Deterministic: min over ids, no RNG, no
    partition-order dependence.

    ``stats``, if given, is filled in-place with ``rounds`` (contraction
    rounds to the stable signature) and ``input_edges`` — the scale
    probes assert rounds stay O(log^2 n) as the graph grows.
    """
    dt = dict(edges.dtypes)
    numeric_ids = dt[src] in _INT_ID_TYPES and dt[dst] in _INT_ID_TYPES
    if numeric_ids:
        mapping = None
        e0 = edges.select(
            F.col(src).cast("long").alias("u"), F.col(dst).cast("long").alias("v")
        )
    else:
        # dense long ids for arbitrary node types.  monotonically_
        # increasing_id is partition-local (no single-task stage) but
        # NON-DETERMINISTIC across re-evaluations, so the mapping MUST
        # be pinned before it is joined twice (correctness, not an
        # optimization).
        nodes = (
            edges.select(F.col(src).alias("_orig"))
            .union(edges.select(F.col(dst).alias("_orig")))
            .distinct()
        )
        mapping = pin(nodes.withColumn("_nid", F.monotonically_increasing_id()))
        m_src = mapping.select(F.col("_orig").alias("_s"), F.col("_nid").alias("u"))
        m_dst = mapping.select(F.col("_orig").alias("_d"), F.col("_nid").alias("v"))
        e0 = (
            edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
            .join(m_src, "_s")
            .join(m_dst, "_d")
            .select("u", "v")
        )
    e = (
        e0.filter(F.col("u") != F.col("v"))
        .select(
            F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
        )
        # RANGE-partitioned dedup, not hash: dropDuplicates reuses the
        # range exchange (one shuffle either way — verified single
        # Exchange in the plan), and range partitioning co-locates
        # id-ADJACENT edges so the local contraction below actually
        # contracts (hash partitioning hands each partition a random
        # edge sample of the graph, which contracts nothing: a 1M-node
        # chain stayed at 21 alternation rounds under hash, drops to
        # ~log(partitions) under range)
        .repartitionByRange("u", "v")
        .dropDuplicates()
    )
    # partition-local union-find BEFORE the global alternation: each
    # partition contracts its fragment to a star forest in one Arrow
    # pass, so the rounds below start from <= one edge per node (and a
    # fully intra-partition graph converges on the first confirmation
    # round)
    e = _partition_star_contract(e)
    # LAZY pin: the signature action right below is what materializes
    # (and truncates) it — one job per round, not two (Spark
    # checkpoints marked ancestors at the end of any job that computes
    # them)
    e = pin(e, eager=False)

    def _signature(canon: DataFrame) -> tuple:
        row = canon.agg(
            F.count(F.lit(1)).alias("n"),
            # bit_xor, not sum: order-independent AND overflow-free
            # under ANSI mode (sum of ~2^63-scale hashes overflows)
            F.bit_xor(F.xxhash64("u", "v")).alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    def _sym(canon: DataFrame) -> DataFrame:
        return canon.union(
            canon.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )

    sig = _signature(e)
    if stats is not None:
        # edges ENTERING the alternation (post local contraction —
        # at most one star edge per non-root node)
        stats["input_edges"] = sig[0]
    rounds_run = 0
    for _ in range(max_iter):
        # large-star: over the symmetric edge list, m(u) = min(N(u) + {u});
        # emit (v, m(u)) for the strictly larger neighbors v of u
        sym = _sym(e)
        mins = sym.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        large = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
        )
        # NO distinct between the stars: small-star's aggregates are
        # all MINs (duplicate-insensitive) and the post-small distinct
        # canonicalizes — dropping it saves a full shuffle per round
        e = large.filter(F.col("a") != F.col("b")).select(
            F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v")
        )
        # small-star: orient (u = larger, v = smaller); m(u) = min
        # neighbor; emit (v, m(u)) for the other small neighbors and
        # (u, m(u)) for the center itself
        small_in = e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        smins = small_in.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            small_in.join(smins, "u")
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
            .union(smins.select(F.col("u").alias("a"), F.col("m").alias("b")))
        )
        e = (
            small.filter(F.col("a") != F.col("b"))
            .select(
                F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v")
            )
            .distinct()
        )
        e = pin(e, eager=False)  # the signature action materializes it
        rounds_run += 1
        new_sig = _signature(e)
        if new_sig == sig:
            break
        sig = new_sig
    else:
        raise RuntimeError(f"connected_components: no convergence in {max_iter} rounds")
    if stats is not None:
        stats["rounds"] = rounds_run
    # converged: e is a star forest of canonical (center=min, leaf) pairs
    lab = (
        _sym(e)
        .groupBy(F.col("u").alias("node"))
        .agg(F.least(F.min("v"), F.first("u")).alias("component"))
    )
    if mapping is None:
        return lab
    # map long labels back to original ids; relabel each component by
    # its min ORIGINAL id (the long-space min is an arbitrary member —
    # monotonically_increasing_id does not preserve the id ordering)
    m_node = mapping.select(
        F.col("_nid").alias("node"), F.col("_orig").alias("_node_orig")
    )
    withorig = lab.join(m_node, "node")
    comp_min = withorig.groupBy("component").agg(
        F.min("_node_orig").alias("_comp_orig")
    )
    return withorig.join(comp_min, "component").select(
        F.col("_node_orig").alias("node"),
        F.col("_comp_orig").alias("component"),
    )


def duplicate_clusters(
    pairs: DataFrame,
    id_col: str,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Cluster-complete dedup labels for a corpus: every document that
    appears in the near-dup ``pairs`` graph gets its connected
    component id and the cluster size; the canonical survivor is the
    component minimum (``is_survivor``).  Join back to ``df`` to drop
    ``component IS NOT NULL AND NOT is_survivor`` rows.
    """
    labels = connected_components(pairs, id_a, id_b)
    sizes = labels.groupBy("component").agg(F.count(F.lit(1)).alias("csize"))
    return (
        labels.join(sizes, "component")
        .select(
            F.col("node").alias(id_col),
            "component",
            "csize",
            (F.col("node") == F.col("component")).alias("is_survivor"),
        )
    )
