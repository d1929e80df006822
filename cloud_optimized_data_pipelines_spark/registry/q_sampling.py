"""sampling, split and data-mixture queries (stratified, token-budget, DSIR, CCNet buckets)

Split out of q_survey_misc.py in round 14 (VERDICT r13 task 5); registration order is preserved by the import order in
``cloud_optimized_data_pipelines_spark.queries`` and pinned by
``tests/test_registry_order.py``.  Code is unchanged — only moved.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window  # noqa: F401
from pyspark.sql import functions as F  # noqa: F401

from cloud_optimized_data_pipelines_spark.batching import pin
from cloud_optimized_data_pipelines_spark.functions.dates import extract_dates  # noqa: F401,E501
from cloud_optimized_data_pipelines_spark.functions.ids import item_id  # noqa: F401
from cloud_optimized_data_pipelines_spark.functions import text as T  # noqa: F401
from cloud_optimized_data_pipelines_spark.functions import vectors as V  # noqa: F401
from cloud_optimized_data_pipelines_spark.operators import dedup as D  # noqa: F401
from cloud_optimized_data_pipelines_spark.operators import similarity as S  # noqa: F401,E501
from cloud_optimized_data_pipelines_spark.operators.transfer import plan_transfer  # noqa: F401,E501
from cloud_optimized_data_pipelines_spark.sources import cmr as cmr_src  # noqa: F401
from cloud_optimized_data_pipelines_spark.sources import inventory as inv_src  # noqa: F401,E501

from cloud_optimized_data_pipelines_spark.queries import (  # noqa: F401
    load_tables,
    query,
)
from cloud_optimized_data_pipelines_spark.registry.q_text_quality import (  # noqa: F401,E501
    _UNIGRAM_CTES,
)
from cloud_optimized_data_pipelines_spark.registry.q_similarity import (  # noqa: F401,E501
    _DUCK_LTOKS,
    _LANG_CASE,
    _duck_lang_count,
)

_STRATIFIED = """
SELECT doc_id, lang, source
FROM documents
WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 10000 <
      CASE lang WHEN 'en' THEN 3000 WHEN 'zh' THEN 8000 ELSE 10000 END
"""


@query("sample_stratified_docs", _STRATIFIED)
def sample_stratified_docs_q(spark, sf_dir):
    """Training-mix rebalancing (operators/sampling.py): deterministic
    per-language downsampling — 30% of the English majority, 80% of zh,
    everything else kept.  Threshold-on-md5 construction: reproducible
    across engines AND nested (raising a rate only ever adds rows)."""
    from cloud_optimized_data_pipelines_spark.operators.sampling import (
        sample_stratified,
    )

    t = load_tables(spark, sf_dir)
    return sample_stratified(
        t["documents"], "doc_id", "lang", {"en": 0.3, "zh": 0.8}
    ).select("doc_id", "lang", "source")


_TOKEN_MIX = """
WITH t AS (
  SELECT doc_id, source,
         CAST(len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS BIGINT) AS n_tokens,
         md5(CAST(doc_id AS VARCHAR)) AS rnk
  FROM documents
),
c AS (
  SELECT doc_id, source, n_tokens,
         SUM(n_tokens) OVER (PARTITION BY source ORDER BY rnk, doc_id
                             ROWS UNBOUNDED PRECEDING) AS cum_tokens,
         CASE WHEN source = 'src0' THEN 1000 ELSE 500 END AS budget
  FROM t
)
SELECT doc_id, source, n_tokens,
       CAST(cum_tokens AS BIGINT) AS cum_tokens
FROM c WHERE cum_tokens - n_tokens < budget
"""


@query("sample_token_budget_mix", _TOKEN_MIX)
def sample_token_budget_mix_q(spark, sf_dir):
    """Training-mixture construction (operators/sampling.py::
    token_budget_mix): per-source token budgets filled greedily over
    the deterministic md5-rank order — one window shuffle, exact
    BIGINT cumulative sums, no RNG.  src0 gets a 1000-token budget,
    every other source 500 (binding at sf0.01: each source holds ~1.4k
    tokens, so roughly a third of each survives — the filter is
    exercised, not vacuous)."""
    from cloud_optimized_data_pipelines_spark.functions.text import token_count
    from cloud_optimized_data_pipelines_spark.operators.sampling import (
        token_budget_mix,
    )

    t = load_tables(spark, sf_dir)
    docs = t["documents"].select(
        "doc_id", "source", token_count("text").cast("long").alias("n_tokens")
    )
    out = token_budget_mix(
        docs, "doc_id", "n_tokens", "source",
        budgets={"src0": 1000}, default_budget=500,
    )
    return out.select("doc_id", "source", "n_tokens", "cum_tokens")


_CAP_PER_SOURCE = """
SELECT doc_id, source, CAST(rn AS BIGINT) AS rank_in_group
FROM (
  SELECT doc_id, source,
         ROW_NUMBER() OVER (
           PARTITION BY source
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
  FROM documents
) t WHERE rn <= 15
"""


@query("sample_cap_per_source", _CAP_PER_SOURCE)
def sample_cap_per_source_q(spark, sf_dir):
    """Per-domain contribution cap (operators/sampling.py::
    cap_per_group): at most 15 docs per source, selected by the
    deterministic md5 permutation — the C4/RefinedWeb rule that stops
    megasites from dominating a training mix.  Runs as the two-pass
    bucket cumsum (a cap is a unit-weight token budget), so a hot
    domain never serializes through one window task; the oracle states
    the same cap as the naive ROW_NUMBER form."""
    from cloud_optimized_data_pipelines_spark.operators.sampling import (
        cap_per_group,
    )

    t = load_tables(spark, sf_dir)
    docs = t["documents"].select("doc_id", "source")
    out = cap_per_group(docs, "doc_id", "source", max_per_group=15)
    return out.select("doc_id", "source", "rank_in_group")


_DSIR_WEIGHTS = """
WITH toks AS (
  SELECT doc_id, lang,
         list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS tk
  FROM documents
),
featarr AS (
  SELECT doc_id, lang,
         list_concat(tk,
           CASE WHEN len(tk) >= 2
                THEN list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i + 1])
                ELSE CAST([] AS VARCHAR[]) END) AS fs
  FROM toks
),
rawg AS (SELECT doc_id, UNNEST(fs) AS g FROM featarr),
rawf AS (SELECT doc_id,
                (('0x' || substr(md5(g), 1, 8))::BIGINT) % 10000 AS b
         FROM rawg),
rawdc AS (SELECT doc_id, b, CAST(COUNT(*) AS BIGINT) AS fc
          FROM rawf GROUP BY doc_id, b),
tgtg AS (SELECT UNNEST(fs) AS g FROM featarr WHERE lang = 'en'),
tgtf AS (SELECT (('0x' || substr(md5(g), 1, 8))::BIGINT) % 10000 AS b FROM tgtg),
tcnt AS (SELECT b, COUNT(*) AS tc FROM tgtf GROUP BY b),
rcnt AS (SELECT b, CAST(SUM(fc) AS BIGINT) AS rc FROM rawdc GROUP BY b),
tt AS (SELECT SUM(tc) AS tn FROM tcnt),
rt AS (SELECT SUM(rc) AS rn FROM rcnt),
scored AS (
  SELECT doc_id, b, fc,
         CAST(fc AS DOUBLE)
         * (round(ln(CAST(COALESCE(tc, 0) + 1 AS DOUBLE)
                     / CAST(tn + 10000 AS DOUBLE)), 9)
            - round(ln(CAST(COALESCE(rc, 0) + 1 AS DOUBLE)
                       / CAST(rn + 10000 AS DOUBLE)), 9)) AS lr
  FROM rawdc LEFT JOIN tcnt USING (b) LEFT JOIN rcnt USING (b)
  CROSS JOIN tt CROSS JOIN rt
),
per_doc AS (
  SELECT doc_id, CAST(SUM(fc) AS BIGINT) AS n_feats,
         CAST(CAST(SUM(CAST(round(lr * 1e9) AS BIGINT)) AS BIGINT)
              AS DOUBLE) / 1e9 AS log_weight
  FROM scored GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(p.n_feats, 0) AS BIGINT) AS n_feats,
       p.log_weight
FROM (SELECT doc_id FROM documents) d LEFT JOIN per_doc p USING (doc_id)
"""


@query("sample_dsir_weights", _DSIR_WEIGHTS)
def sample_dsir_weights_q(spark, sf_dir):
    """DSIR importance weights (operators/sampling.py::
    dsir_importance, Xie et al. 2023): log-likelihood ratio of each
    document under hashed-ngram bag models of a target slice (the
    English documents) vs the raw corpus — the data-selection signal
    behind importance-resampled pretraining mixes.  The two feature
    models are bucket-bounded (10k rows) so both model joins broadcast
    regardless of corpus size."""
    from cloud_optimized_data_pipelines_spark.operators.sampling import (
        dsir_importance,
    )

    t = load_tables(spark, sf_dir)
    docs = t["documents"]
    # the target_filter form runs the Arrow gram->bucket memo (bit-exact
    # to the declarative per-occurrence md5 + (doc, b) groupBy, whose
    # shuffle dominated the bench time; that form is the test reference)
    return dsir_importance(
        docs, "doc_id", "text", target_filter=F.col("lang") == "en"
    )


_DSIR_SELECT = f"""
WITH dsir AS ({_DSIR_WEIGHTS}),
gk AS (
  SELECT doc_id, n_feats, log_weight,
         round(log_weight
               - round(ln(-round(ln(
                   (CAST((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                          % 4294967296) AS DOUBLE) + 0.5) / 4294967296.0
                 ), 9)), 9), 9) AS gumbel_key
  FROM dsir WHERE n_feats > 0
)
SELECT doc_id, n_feats, log_weight, gumbel_key
FROM gk ORDER BY gumbel_key DESC, doc_id LIMIT 100
"""


@query("sample_dsir_select", _DSIR_SELECT)
def sample_dsir_select_q(spark, sf_dir):
    """The selection half of DSIR (operators/sampling.py::
    gumbel_topk): sample 100 docs without replacement proportional to
    exp(log_weight) via deterministic Gumbel-top-k — md5-derived
    uniforms, term-rounded nested logs, TakeOrderedAndProject (k rows
    per partition cross the wire, no corpus sort)."""
    from cloud_optimized_data_pipelines_spark.operators.sampling import (
        dsir_importance,
        gumbel_topk,
    )

    t = load_tables(spark, sf_dir)
    docs = t["documents"]
    w = dsir_importance(
        docs, "doc_id", "text", target_filter=F.col("lang") == "en"
    )
    return gumbel_topk(w.filter(F.col("n_feats") > 0), "doc_id", "log_weight", 100)


_CCNET_BUCKETS = f"""
WITH {_UNIGRAM_CTES.strip()},
lp AS (
  SELECT doc_id, sum_logp / CAST(n_tokens AS DOUBLE) AS mean_logprob
  FROM per_doc
),
cuts AS (
  SELECT quantile_cont(mean_logprob, {1.0 / 3!r}) AS c0,
         quantile_cont(mean_logprob, {2.0 / 3!r}) AS c1
  FROM lp
)
SELECT lp.doc_id, lp.mean_logprob,
       CASE WHEN lp.mean_logprob > c.c1 THEN 'head'
            WHEN lp.mean_logprob > c.c0 THEN 'middle'
            ELSE 'tail' END AS bucket
FROM lp CROSS JOIN cuts c
"""


@query("sample_ccnet_buckets", _CCNET_BUCKETS)
def sample_ccnet_buckets_q(spark, sf_dir):
    """CCNet head/middle/tail bucketing (operators/sampling.py::
    perplexity_buckets over quality.unigram_logprob): exact tercile
    cutoffs of the per-doc unigram log-prob, broadcast as a 1-row
    scalar, then a narrow label expression — no corpus-wide sort.
    Doubles are reproducible end-to-end: the log-prob fold is already
    bit-identical cross-engine, and Spark `percentile` interpolates
    identically to DuckDB `quantile_cont` (same fraction literal at
    Python-double precision)."""
    from cloud_optimized_data_pipelines_spark.operators.quality import (
        unigram_logprob,
    )
    from cloud_optimized_data_pipelines_spark.operators.sampling import (
        perplexity_buckets,
    )

    t = load_tables(spark, sf_dir)
    # pinned: both consumers (the tercile-cutoff aggregate and the
    # labeling pass) would otherwise replay the whole unigram-LM
    # scoring subtree
    scored = pin(
        unigram_logprob(t["documents"], "doc_id", "text").select(
            "doc_id", "mean_logprob"
        )
    )
    return perplexity_buckets(scored, "mean_logprob")


_EGRESS_PLAN = """
WITH s AS (
  SELECT doc_id,
         octet_length(encode(text)) + 1 AS b,
         SUM(octet_length(encode(text)) + 1)
           OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
  FROM documents
)
SELECT CAST(cum - b AS BIGINT) // 8192 AS shard_id,
       COUNT(*) AS n_docs,
       CAST(SUM(b) AS BIGINT) AS plan_bytes,
       MIN(doc_id) AS first_id,
       MAX(doc_id) AS last_id
FROM s GROUP BY 1
"""


@query("egress_shard_plan", _EGRESS_PLAN)
def egress_shard_plan_q(spark, sf_dir):
    """Corpus egress packing plan (operators/egress.py::shard_plan —
    the write-side twin of decode_text_column; the reference's only
    write path is per-record side files, queries/handler.py K2): shard
    k gets the docs whose exclusive running byte total (utf-8 payload
    + newline, doc_id order) lies in [k*8192, (k+1)*8192) — contiguous
    id ranges, fat docs never split.  The engine computes the running
    total with the two-pass contiguous-bucket cumsum (bucket sums ->
    metadata-sized base offsets -> in-bucket window); the oracle
    replays it as ONE global window, proving the decomposition exact.
    write_packed_shards turns this plan into deterministic gzip/zstd
    jsonl shards + manifest (md5-pinned round trip in
    tests/test_egress.py)."""
    from cloud_optimized_data_pipelines_spark.operators.egress import (
        shard_plan,
    )

    t = load_tables(spark, sf_dir)
    plan = shard_plan(t["documents"], "doc_id", "text", 8192)
    return plan.groupBy("shard_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("_bytes").alias("plan_bytes"),
        F.min("doc_id").alias("first_id"),
        F.max("doc_id").alias("last_id"),
    )


_DOREMI = """
WITH words AS (
  SELECT source AS domain,
         UNNEST(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS word
  FROM documents
),
dc AS (SELECT domain, word, COUNT(*) AS c_dw FROM words GROUP BY domain, word),
cc AS (SELECT word, SUM(c_dw) AS c_w FROM dc GROUP BY word),
dt AS (SELECT domain, SUM(c_dw) AS n_d FROM dc GROUP BY domain),
g AS (SELECT SUM(c_w) AS n FROM cc),
terms AS (
  SELECT dc.domain, dc.word, substr(md5(dc.word), 1, 1) AS bkt,
         (CAST(c_dw AS DOUBLE) / CAST(n_d AS DOUBLE)) *
         (round(ln(CAST(c_dw AS DOUBLE) / CAST(n_d AS DOUBLE)), 9)
          - round(ln(CAST(c_w AS DOUBLE) / CAST(n AS DOUBLE)), 9)) AS term
  FROM dc JOIN cc USING (word) JOIN dt USING (domain) CROSS JOIN g
),
bp AS (
  SELECT domain, bkt,
         list_reduce(list_transform(list_sort(
           list(struct_pack(w := word, t := term))), s -> s.t),
           (a, b) -> a + b) AS partial
  FROM terms GROUP BY domain, bkt
),
pd AS (
  SELECT domain,
         round(list_reduce(list_transform(list_sort(
           list(struct_pack(b := bkt, p := partial))), s -> s.p),
           (a, b) -> a + b), 9) AS kl_excess
  FROM bp GROUP BY domain
),
til AS (
  SELECT domain, n_d AS n_tokens, kl_excess,
         round(exp(1.0 * kl_excess), 9) AS wexp
  FROM pd JOIN dt USING (domain)
),
den AS (
  SELECT list_reduce(list_transform(list_sort(
           list(struct_pack(d := domain, w := wexp))), s -> s.w),
           (a, b) -> a + b) AS den,
         COUNT(*) AS k
  FROM til
)
SELECT domain, CAST(n_tokens AS BIGINT) AS n_tokens, kl_excess,
       round(0.99 * wexp / den + 0.01 / CAST(k AS DOUBLE), 9) AS weight
FROM til CROSS JOIN den
"""


@query("sample_doremi_weights", _DOREMI)
def sample_doremi_weights_q(spark, sf_dir):
    """DoReMi domain mixture reweighting (operators/sampling.py::
    doremi_weights; Xie et al. 2023): per-domain excess loss collapses
    to KL(p_domain || p_corpus) at the unigram proxy level (Gibbs:
    always >= 0), then one exponential-tilting step with uniform
    smoothing gives the training mixture weights.  Float determinism
    is the unigram_logprob recipe extended to exp(): ln and exp of
    exact integer-count ratios rounded at 9 decimals (both are 1-ulp
    JVM-vs-libm hazards), every float sum a fold over a sorted array —
    per-domain terms fold TWO-LEVEL (word-sorted within md5 bucket,
    then bucket-sorted partials) so array sizes stay bounded at a
    web-scale vocabulary."""
    from cloud_optimized_data_pipelines_spark.operators.sampling import (
        doremi_weights,
    )

    t = load_tables(spark, sf_dir)
    return doremi_weights(t["documents"], "doc_id", "text", "source")
