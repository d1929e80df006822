"""text-pipeline extras: chunking/packing, BPE training+encode, LM scoring, quality rules, classifier train/score, decontamination, BM25

Split out of q_survey_misc.py in round 14 (VERDICT r13 task 5); registration order is preserved by the import order in
``cloud_optimized_data_pipelines_spark.queries`` and pinned by
``tests/test_registry_order.py``.  Code is unchanged — only moved.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window  # noqa: F401
from pyspark.sql import functions as F  # noqa: F401

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
from cloud_optimized_data_pipelines_spark.registry.q_similarity import (  # noqa: F401,E501
    _DUCK_LTOKS,
    _LANG_CASE,
    _duck_lang_count,
)

_CHUNKS = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS t
  FROM documents
), st AS (
  SELECT doc_id, t,
         UNNEST(range(0,
                      GREATEST(CAST(ceil((len(t) - 64) / 48.0) AS BIGINT), 0) * 48 + 1,
                      48)) AS start
  FROM toks
)
SELECT doc_id,
       CAST(start // 48 AS BIGINT) AS chunk_idx,
       array_to_string(t[start + 1 : start + 64], ' ') AS chunk_text,
       CAST(LEAST(64, len(t) - start) AS BIGINT) AS n_tokens
FROM st
"""


@query("text_chunk_sliding", _CHUNKS)
def text_chunk_sliding_q(spark, sf_dir):
    """Sliding-window chunking (operators/packing.py): 64-token windows,
    stride 48 (16 overlap), as pure tokenize-once + explode-starts +
    slice — map-side only, no shuffle, no Python."""
    from cloud_optimized_data_pipelines_spark.operators.packing import (
        chunk_documents,
    )

    t = load_tables(spark, sf_dir)
    return chunk_documents(t["documents"], size=64, overlap=16)


_PACKS = """
WITH d AS (
  SELECT doc_id,
         CAST(len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS BIGINT) AS n_tokens,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 16 AS shard
  FROM documents
), c AS (
  SELECT doc_id, n_tokens, shard,
         SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) AS cum
  FROM d
)
SELECT doc_id, n_tokens, shard,
       CAST((cum - n_tokens) // 512 AS BIGINT) AS pack_id,
       CAST((cum - n_tokens) % 512 AS BIGINT) AS pack_offset
FROM c
"""


@query("text_pack_sequences", _PACKS)
def text_pack_sequences_q(spark, sf_dir):
    """Sequence packing (operators/packing.py): concat-and-split into
    512-token budgets across 16 hash-sharded streams.  The global
    cumsum (single-partition window, the scale trap) is replaced by
    per-shard windows — bounded partitions, same training semantics."""
    from cloud_optimized_data_pipelines_spark.operators.packing import (
        pack_documents,
    )

    t = load_tables(spark, sf_dir)
    return pack_documents(t["documents"], budget=512, n_shards=16)


_BPE_PAIRS = """
WITH words AS (
  SELECT UNNEST(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS w
  FROM documents
), pairs AS (
  SELECT substr(w, CAST(i AS INT), 2) AS pair
  FROM words, LATERAL (SELECT UNNEST(range(1, len(w))) AS i) t
  WHERE len(w) >= 2
)
SELECT pair, CAST(COUNT(*) AS BIGINT) AS n
FROM pairs GROUP BY pair ORDER BY n DESC, pair LIMIT 30
"""


@query("text_bpe_pair_counts", _BPE_PAIRS)
def text_bpe_pair_counts_q(spark, sf_dir):
    """The statistics step of BPE tokenizer training: corpus-wide
    counts of adjacent symbol pairs inside words (the pair with the
    max count becomes the next merge rule).  Pure columns: tokenize →
    explode words → explode substring pairs → one hash agg + top-k.
    A full training loop is this aggregation per merge iteration, with
    the chosen merge applied via regexp_replace — each iteration one
    scan + one shuffle of pair-sized rows, nothing driver-side except
    the argmax."""
    t = load_tables(spark, sf_dir)
    words = (
        t["documents"]
        .select(F.explode(T.tokens(F.col("text"))).alias("w"))
        .filter(F.length("w") >= 2)
    )
    pairs = words.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("w") - 1),
                lambda i: F.col("w").substr(i, F.lit(2)),
            )
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count("*").cast("long").alias("n"))
        .orderBy(F.desc("n"), "pair")
        .limit(30)
    )


_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_IP_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
_PHONE_RE = r"\b\d{3}[-.]\d{3}[-.]\d{4}\b"

_PII_REDACT = f"""
WITH seeded AS (
  SELECT doc_id,
         text
         || CASE WHEN doc_id % 7 = 0 THEN ' contact bob@example.com' ELSE '' END
         || CASE WHEN doc_id % 11 = 0 THEN ' from 10.0.42.7' ELSE '' END
         || CASE WHEN doc_id % 13 = 0 THEN ' call 415-555-1234' ELSE '' END AS text
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{_EMAIL_RE}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(text, '{_IP_RE}')) AS BIGINT) AS n_ips,
       CAST(len(regexp_extract_all(text, '{_PHONE_RE}')) AS BIGINT) AS n_phones,
       md5(regexp_replace(regexp_replace(regexp_replace(text,
           '{_EMAIL_RE}', '<EMAIL>', 'g'),
           '{_IP_RE}', '<IP>', 'g'),
           '{_PHONE_RE}', '<PHONE>', 'g')) AS redacted_md5
FROM seeded
"""


@query("text_pii_redact", _PII_REDACT)
def text_pii_redact_q(spark, sf_dir):
    """Corpus PII scrubbing: email/IP/phone redaction + per-doc counts,
    all regexp_replace/regexp_count columns (Java and RE2 agree on
    these character-class patterns — part of the oracle contract).  The
    synthetic corpus carries no PII, so deterministic markers are
    planted on id-modulo rows IN BOTH ENGINES, making the counts and
    the redacted-text md5 a real cross-engine check."""
    t = load_tables(spark, sf_dir)
    did = F.col("doc_id")
    seeded = t["documents"].select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(did % 7 == 0, F.lit(" contact bob@example.com")).otherwise(""),
            F.when(did % 11 == 0, F.lit(" from 10.0.42.7")).otherwise(""),
            F.when(did % 13 == 0, F.lit(" call 415-555-1234")).otherwise(""),
        ).alias("text"),
    )
    txt = F.col("text")
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(txt, _EMAIL_RE, "<EMAIL>"), _IP_RE, "<IP>"
        ),
        _PHONE_RE,
        "<PHONE>",
    )
    return seeded.select(
        "doc_id",
        F.regexp_count(txt, F.lit(_EMAIL_RE)).cast("long").alias("n_emails"),
        F.regexp_count(txt, F.lit(_IP_RE)).cast("long").alias("n_ips"),
        F.regexp_count(txt, F.lit(_PHONE_RE)).cast("long").alias("n_phones"),
        F.md5(redacted).alias("redacted_md5"),
    )


def _bpe_unrolled_ctes(n_merges: int) -> str:
    """The BPE training loop unrolled as chained DuckDB CTEs (the
    PageRank / LSH-reachability fixpoint-oracle pattern): v0 is the
    distinct-word vocab with character symbol lists; each iteration i
    picks the corpus-weighted argmax adjacent pair (r{i}, ties broken
    count desc then pair lexicographic — Spark's exact order) and
    rewrites every word's symbols (v{i}).

    The rewrite uses a delimiter encoding that makes the Spark side's
    leftmost-first non-overlapping merge fold a plain string replace:
    each symbol is individually wrapped in U+001F
    ("\\x1fa\\x1f\\x1fb\\x1f..."), so replace(s, wrap(a)||wrap(b),
    wrap(a||b)) scans left to right without occurrences sharing
    characters — exactly the fold semantics (a merged symbol cannot
    re-trigger its own rule in-pass since a||b != a).  U+001F never
    occurs in the corpus (whitespace-tokenized text); v0 would simply
    split wrong and the row-count/hash gate would catch it."""
    d = "chr(31)"
    dd = f"{d} || {d}"
    ctes = [
        """v0 AS (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS freq,
         list_transform(range(1, len(word) + 1),
                        i -> substr(word, CAST(i AS INT), 1)) AS syms
  FROM (
    SELECT UNNEST(list_filter(string_split_regex(COALESCE(text, ''), '\\s+'),
                              x -> x <> '')) AS word
    FROM documents
  ) GROUP BY word
)"""
    ]
    for it in range(1, n_merges + 1):
        ctes.append(
            f"""r{it} AS (
  SELECT a, b FROM (
    SELECT syms[CAST(i AS INT)] AS a, syms[CAST(i AS INT) + 1] AS b, freq
    FROM v{it - 1},
         LATERAL (SELECT UNNEST(range(1, len(syms))) AS i) ix
  ) p GROUP BY a, b
  ORDER BY SUM(freq) DESC, a, b LIMIT 1
)"""
        )
        s = f"{d} || array_to_string(syms, {dd}) || {d}"
        s2 = (
            f"replace({s}, {d} || r{it}.a || {dd} || r{it}.b || {d}, "
            f"{d} || r{it}.a || r{it}.b || {d})"
        )
        ctes.append(
            f"""v{it} AS (
  SELECT word, freq,
         string_split(substr(x.s, 2, len(x.s) - 2), {dd}) AS syms
  FROM v{it - 1}, r{it}, LATERAL (SELECT {s2} AS s) x
)"""
        )
    return ",\n".join(ctes)


def _bpe_merges_sql() -> str:
    rows = " UNION ALL ".join(
        f"SELECT CAST({i} AS INTEGER) AS rank, a AS \"left\", b AS \"right\","
        f" a || b AS merged FROM r{i + 1}"
        for i in range(8)
    )
    return f"WITH {_bpe_unrolled_ctes(8)}\n{rows}"


@query("text_bpe_merges", _bpe_merges_sql)
def text_bpe_merges_q(spark, sf_dir):
    """Full BPE tokenizer training (operators/bpe.py): 8 merge rules
    learned over the documents corpus.  Iterative algorithm (argmax
    collect per iteration, like IVF's Lloyd step), but DETERMINISTIC —
    ties break count desc then pair lexicographic — so the whole loop
    is oracle-backed by an unrolled-CTE DuckDB fixpoint
    (_bpe_unrolled_ctes): 8 chained argmax+rewrite stages whose merge
    rewrite replays the Spark fold as a delimiter-wrapped string
    replace.  Exact parity with a pure-Python reference BPE is also
    pytest-gated (test_bpe.py).  Iterations run on the distinct-WORD
    table, not the corpus — the reason this is tractable at 100 TB."""
    from cloud_optimized_data_pipelines_spark.operators.bpe import bpe_train

    t = load_tables(spark, sf_dir)
    rules, _vocab = bpe_train(t["documents"], n_merges=8)
    return spark.createDataFrame(
        [(i, a, b, a + b) for i, (a, b) in enumerate(rules)],
        "rank int, left string, right string, merged string",
    )


def _bpe_encode_stats_sql() -> str:
    """Oracle for text_bpe_encode_stats: the 8 unrolled training CTEs
    feed an UNROLLED ENCODER — per word, wrap the characters in the
    U+001F delimiter encoding and replay the 8 merge replaces in rule
    order (each rule row cross-joined in), then count symbols as
    delimiter-chars/2 (every symbol carries exactly two wrappers)."""
    d = "chr(31)"
    dd = f"{d} || {d}"
    enc = (
        f"{d} || array_to_string(list_transform(range(1, len(w) + 1), "
        f"i -> substr(w, CAST(i AS INT), 1)), {dd}) || {d}"
    )
    for i in range(1, 9):
        enc = (
            f"replace({enc}, {d} || r{i}.a || {dd} || r{i}.b || {d}, "
            f"{d} || r{i}.a || r{i}.b || {d})"
        )
    rjoins = ", ".join(f"r{i}" for i in range(1, 9))
    return f"""WITH {_bpe_unrolled_ctes(8)}
SELECT doc_id,
       CAST(len(regexp_replace(COALESCE(text, ''), '\\s+', '', 'g'))
            AS BIGINT) AS n_chars,
       CAST(COALESCE(list_sum(list_transform(
         list_filter(string_split_regex(COALESCE(text, ''), '\\s+'),
                     x -> x <> ''),
         w -> (len({enc}) - len(replace({enc}, {d}, ''))) // 2
       )), 0) AS BIGINT) AS n_bpe_tokens
FROM documents, {rjoins}
"""


@query("text_bpe_encode_stats", _bpe_encode_stats_sql)
def text_bpe_encode_stats_q(spark, sf_dir):
    """Train-then-apply: learn 8 merges, re-tokenize the corpus with
    the compiled single-expression encoder (operators/bpe.py::
    bpe_encode — map-only, no shuffle), report per-doc compression.
    Now oracle-backed end-to-end: the DuckDB side unrolls BOTH the
    training fixpoint and the encoder (see _bpe_encode_stats_sql);
    encoder parity with the trained vocab is also pytest-gated."""
    from cloud_optimized_data_pipelines_spark.operators.bpe import (
        bpe_encode,
        bpe_train,
    )

    t = load_tables(spark, sf_dir)
    rules, _ = bpe_train(t["documents"], n_merges=8)
    enc = bpe_encode("text", rules)
    return t["documents"].select(
        "doc_id",
        F.length(F.regexp_replace(F.coalesce("text", F.lit("")), r"\s+", ""))
        .cast("long")
        .alias("n_chars"),
        F.size(enc).cast("long").alias("n_bpe_tokens"),
    )


# shared CTE chain: per-doc unigram log-prob (term-level round-to-9 —
# JVM Math.log vs libm ln differ by 1 ulp on a few percent of
# arguments; see operators/quality.py::unigram_logprob)
_UNIGRAM_CTES = """
words AS (
  SELECT doc_id, UNNEST(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS word
  FROM documents
),
vocab AS (SELECT word, COUNT(*) AS cnt FROM words GROUP BY word),
tot AS (SELECT SUM(cnt) AS total FROM vocab),
scored AS (
  SELECT doc_id, word,
         round(ln(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE)), 9) AS logp
  FROM words JOIN vocab USING (word) CROSS JOIN tot
),
per_doc AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         list_reduce(
           list_transform(
             list_sort(list(struct_pack(w := word, l := logp))), s -> s.l),
           (a, b) -> a + b) AS sum_logp
  FROM scored GROUP BY doc_id
)
"""

_UNIGRAM_LP = f"""
WITH {_UNIGRAM_CTES.strip()}
SELECT doc_id, n_tokens, sum_logp / CAST(n_tokens AS DOUBLE) AS mean_logprob
FROM per_doc
"""


@query("text_unigram_logprob", _UNIGRAM_LP)
def text_unigram_logprob_q(spark, sf_dir):
    """CCNet-style LM quality proxy (operators/quality.py::
    unigram_logprob): mean log-prob under the corpus's own unigram
    distribution.  Engineered float determinism: log of exact integer
    ratios, summed by a left fold over the token-SORTED array on both
    engines (a plain SUM() would be shuffle-order-dependent and could
    differ in the last ulp)."""
    from cloud_optimized_data_pipelines_spark.operators.quality import (
        unigram_logprob,
    )

    t = load_tables(spark, sf_dir)
    return unigram_logprob(t["documents"], "doc_id", "text")


_BIGRAM_BACKOFF = """
WITH toks AS (
  SELECT doc_id, lang,
         list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS tk
  FROM documents
),
bi AS (
  SELECT doc_id, lang,
         CASE WHEN len(tk) >= 2
              THEN list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i + 1])
              ELSE CAST([] AS VARCHAR[]) END AS bgs
  FROM toks
),
train_bi AS (SELECT UNNEST(bgs) AS bg FROM bi WHERE lang = 'en'),
bcnt AS (SELECT bg, COUNT(*) AS bcnt FROM train_bi GROUP BY bg),
ctx AS (SELECT string_split(bg, ' ')[1] AS w1, COUNT(*) AS ccnt
        FROM train_bi GROUP BY 1),
train_w AS (SELECT UNNEST(tk) AS w2 FROM toks WHERE lang = 'en'),
uni AS (SELECT w2, COUNT(*) AS ucnt FROM train_w GROUP BY w2),
tot AS (SELECT SUM(ucnt) AS total FROM uni),
doc_bi AS (SELECT doc_id, UNNEST(bgs) AS bg FROM bi),
scored AS (
  SELECT doc_id, bg,
         CASE WHEN bcnt.bcnt IS NOT NULL
              THEN round(ln(CAST(bcnt.bcnt AS DOUBLE) / CAST(ctx.ccnt AS DOUBLE)), 9)
              ELSE round(ln(0.4 * (CAST(COALESCE(uni.ucnt, 1) AS DOUBLE)
                                   / CAST(tot.total AS DOUBLE))), 9)
         END AS logp
  FROM doc_bi
  LEFT JOIN bcnt USING (bg)
  LEFT JOIN ctx ON string_split(doc_bi.bg, ' ')[1] = ctx.w1
  LEFT JOIN uni ON string_split(doc_bi.bg, ' ')[-1] = uni.w2
  CROSS JOIN tot
),
per_doc AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         list_reduce(
           list_transform(
             list_sort(list(struct_pack(b := bg, l := logp))), s -> s.l),
           (a, b) -> a + b) AS sum_logp
  FROM scored GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(p.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       p.sum_logp / CAST(p.n_bigrams AS DOUBLE) AS mean_logprob
FROM (SELECT doc_id FROM documents) d LEFT JOIN per_doc p USING (doc_id)
"""


@query("text_bigram_backoff", _BIGRAM_BACKOFF)
def text_bigram_backoff_q(spark, sf_dir):
    """Held-out bigram LM with stupid backoff (operators/quality.py::
    bigram_logprob): the model is estimated on the English slice only,
    so scoring the full multilingual corpus genuinely exercises all
    three probability paths — seen bigram, unigram backoff, and the
    unseen-word floor (a same-corpus model would never back off).
    Same engineered float determinism as text_unigram_logprob."""
    from cloud_optimized_data_pipelines_spark.operators.quality import (
        bigram_logprob,
    )

    t = load_tables(spark, sf_dir)
    docs = t["documents"]
    return bigram_logprob(
        docs, "doc_id", "text", train=docs.filter(F.col("lang") == "en")
    )


_TOKEN_SHIFT = """
WITH words AS (
  SELECT CASE WHEN source = 'src0' THEN 'a' ELSE 'b' END AS sl,
         UNNEST(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS word
  FROM documents
),
counts AS (
  SELECT word,
         CAST(SUM(CASE WHEN sl = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS cnt_a,
         CAST(SUM(CASE WHEN sl = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS cnt_b
  FROM words GROUP BY word
),
scal AS (
  SELECT SUM(cnt_a) AS total_a, SUM(cnt_b) AS total_b,
         CAST(COUNT(*) AS BIGINT) AS vocab
  FROM counts
)
SELECT word, cnt_a, cnt_b,
       CAST(cnt_a + 1 AS DOUBLE) / CAST(total_a + vocab AS DOUBLE) AS p_a,
       CAST(cnt_b + 1 AS DOUBLE) / CAST(total_b + vocab AS DOUBLE) AS p_b,
       (CAST(cnt_a + 1 AS DOUBLE) / CAST(total_a + vocab AS DOUBLE))
       * (round(ln(CAST(cnt_a + 1 AS DOUBLE) / CAST(total_a + vocab AS DOUBLE)), 9)
          - round(ln(CAST(cnt_b + 1 AS DOUBLE) / CAST(total_b + vocab AS DOUBLE)), 9)) AS kl_term
FROM counts CROSS JOIN scal
"""


@query("text_distribution_shift", _TOKEN_SHIFT)
def text_distribution_shift_q(spark, sf_dir):
    """Corpus drift monitor (operators/drift.py::token_distribution_shift):
    per-token KL(P_src0 || P_rest) contributions with Laplace-smoothed
    probabilities over the union vocab — exact integer counts, single
    divisions, 9-decimal-rounded logs (the cross-engine ln discipline),
    no order-dependent sums (the total is the per-row decomposition's
    sum, foldable in word order when exactness matters)."""
    from cloud_optimized_data_pipelines_spark.operators.drift import (
        token_distribution_shift,
    )

    t = load_tables(spark, sf_dir)
    out = token_distribution_shift(
        t["documents"],
        "text",
        F.when(F.col("source") == "src0", "a").otherwise("b"),
        "a",
        "b",
    )
    return out


_DUCK_SHINGLES5 = """
toks AS (
  SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS tk
  FROM documents
),
sh AS (
  SELECT doc_id,
    CASE WHEN len(tk) >= 5
         THEN list_distinct(list_transform(range(1, len(tk) - 3),
                            i -> array_to_string(list_slice(tk, i, i + 4), ' ')))
         ELSE [array_to_string(tk, ' ')] END AS shingles
  FROM toks
)
"""

_DECONTAMINATE = f"""
WITH {_DUCK_SHINGLES5},
split AS (
  SELECT doc_id,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS bucket
  FROM documents
),
test_sh AS (
  SELECT DISTINCT UNNEST(shingles) AS shingle
  FROM sh JOIN split USING (doc_id) WHERE bucket >= 95
),
train AS (
  SELECT sh.doc_id FROM sh JOIN split USING (doc_id) WHERE bucket < 90
),
hits AS (
  SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
  FROM (SELECT sh.doc_id, UNNEST(shingles) AS shingle
        FROM sh JOIN split USING (doc_id) WHERE bucket < 90) t
  JOIN test_sh USING (shingle)
  GROUP BY t.doc_id
)
SELECT train.doc_id,
       COALESCE(hits.n_hits, 0) AS n_hits,
       COALESCE(hits.n_hits, 0) > 0 AS contaminated
FROM train LEFT JOIN hits USING (doc_id)
"""


@query("text_decontaminate", _DECONTAMINATE)
def text_decontaminate_q(spark, sf_dir):
    """Eval-set decontamination (operators/decontaminate.py): train
    docs (md5 bucket < 90) are flagged when they share any word 5-gram
    with the held-out test split (bucket >= 95) — the GPT-3/Pile
    contamination control.  The planner broadcasts the test-side shingle
    set at this size; the train side pays one scan + a doc-keyed count.  Same deterministic
    split rule as text_train_val_split."""
    from cloud_optimized_data_pipelines_spark.operators.decontaminate import (
        contamination_flags,
    )
    from cloud_optimized_data_pipelines_spark.operators.sampling import (
        hash_bucket,
    )

    t = load_tables(spark, sf_dir)
    docs = t["documents"].withColumn("bucket", hash_bucket("doc_id"))
    train = docs.filter(F.col("bucket") < 90).select("doc_id", "text")
    test = docs.filter(F.col("bucket") >= 95).select("doc_id", "text")
    out = contamination_flags(train, test, "doc_id", "text", n=5)
    return out.select("doc_id", "n_hits", "contaminated")


_GOPHER = """
WITH words AS (
  SELECT doc_id, UNNEST(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS word
  FROM documents
),
per_word AS (
  SELECT doc_id, word, COUNT(*) AS cnt FROM words GROUP BY doc_id, word
),
stats AS (
  SELECT doc_id,
         CAST(SUM(cnt) AS BIGINT) AS n_words,
         CAST(COUNT(*) AS BIGINT) AS n_unique_words,
         CAST(MAX(cnt) AS BIGINT) AS top_cnt,
         CAST(SUM(length(word) * cnt) AS BIGINT) AS char_sum
  FROM per_word GROUP BY doc_id
)
SELECT d.doc_id,
       COALESCE(s.n_words, 0) AS n_words,
       COALESCE(s.n_unique_words, 0) AS n_unique_words,
       CASE WHEN COALESCE(s.n_words, 0) > 0
            THEN CAST(s.char_sum AS DOUBLE) / CAST(s.n_words AS DOUBLE)
            ELSE 0.0 END AS mean_word_len,
       CASE WHEN COALESCE(s.n_words, 0) > 0
            THEN CAST(s.top_cnt AS DOUBLE) / CAST(s.n_words AS DOUBLE)
            ELSE 0.0 END AS top_word_frac,
       COALESCE(s.n_words, 0) >= 50 AND COALESCE(s.n_words, 0) <= 100000
         AND (CASE WHEN COALESCE(s.n_words, 0) > 0
                   THEN CAST(s.char_sum AS DOUBLE) / CAST(s.n_words AS DOUBLE)
                   ELSE 0.0 END) >= 3.0
         AND (CASE WHEN COALESCE(s.n_words, 0) > 0
                   THEN CAST(s.char_sum AS DOUBLE) / CAST(s.n_words AS DOUBLE)
                   ELSE 0.0 END) <= 10.0
         AND (CASE WHEN COALESCE(s.n_words, 0) > 0
                   THEN CAST(s.top_cnt AS DOUBLE) / CAST(s.n_words AS DOUBLE)
                   ELSE 0.0 END) < 0.2 AS keep
FROM documents d LEFT JOIN stats s USING (doc_id)
"""


@query("text_gopher_quality", _GOPHER)
def text_gopher_quality_q(spark, sf_dir):
    """MassiveText/Gopher word-level quality rules (operators/
    quality.py): word-count bounds, mean-word-length bounds, and the
    top-word repetition fraction, combined into a keep flag.  One
    Arrow pass over the documents computes the per-document word
    integers; the ratios and the flag are JVM expressions over them —
    no shuffle, no join.  The oracle is the explode + two aggregations
    + doc join form."""
    from cloud_optimized_data_pipelines_spark.operators.quality import (
        gopher_quality_flags,
    )

    t = load_tables(spark, sf_dir)
    out = gopher_quality_flags(t["documents"], "doc_id", "text")
    return out.select(
        "doc_id", "n_words", "n_unique_words", "mean_word_len",
        "top_word_frac", "keep",
    )


_CLASSIFIER = """
WITH toks AS (
  SELECT doc_id,
         list_transform(list_filter(string_split_regex(text, '\\s+'),
                                    x -> x <> ''), t -> lower(t)) AS lt
  FROM documents
),
w AS (
  SELECT doc_id,
         CAST(len(lt) AS BIGINT) AS n_tokens,
         CAST(CASE WHEN len(lt) > 0 THEN list_reduce(
                list_transform(lt, t ->
                  ('0x' || substr(md5(t), 1, 8))::BIGINT % 2001 - 1000),
                (a, b) -> a + b)
              ELSE 0 END AS BIGINT) AS margin
  FROM toks
)
SELECT doc_id, n_tokens, margin,
       CASE WHEN n_tokens > 0
            THEN margin::DOUBLE / (n_tokens::DOUBLE * 1000.0)
            ELSE 0.0 END AS score,
       (CASE WHEN n_tokens > 0
             THEN margin::DOUBLE / (n_tokens::DOUBLE * 1000.0)
             ELSE 0.0 END >= 0.0) AS keep
FROM w
"""


@query("text_classifier_score", _CLASSIFIER)
def text_classifier_score_q(spark, sf_dir):
    """fastText-style linear quality-classifier inference
    (operators/quality.py::classifier_score, hashed-weight form): the
    whole model application is one per-row expression over the
    let-bound token array — no explode, no shuffle, no Python — which
    is the execution shape for scoring 100 TB of documents.  Its
    ``transform``/``aggregate`` lambdas are CodegenFallback, so they
    evaluate interpreted, per token.  Integer weight sums keep the
    result exact; the only float is the final scaled division."""
    from cloud_optimized_data_pipelines_spark.operators.quality import (
        classifier_score,
    )

    t = load_tables(spark, sf_dir)
    out = classifier_score(t["documents"], "doc_id", "text", threshold=0.0)
    return out.select("doc_id", "n_tokens", "margin", "score", "keep")


def _clf_train_oracle(iters: int = 6, lr: float = 128.0, d: int = 64) -> str:
    """Unroll the full GD training loop of train_quality_classifier
    into a CTE chain (the BPE/PageRank/Lloyd treatment): w0 = zeros,
    then per iteration margin-fold -> rounded sigmoid -> per-bucket
    rounded gradient -> weight update.  Every float reduction the
    engines could order differently is rounded at the same point on
    both sides; the margin fold runs in token order over the same
    literal weights."""
    bucket = f"(('0x' || substr(md5(lower(t)), 1, 8))::BIGINT % {d})"
    parts = [f"""
WITH base AS (
  SELECT doc_id, tk, CAST(len(tk) AS DOUBLE) AS n,
         CASE WHEN len(tk) > 0
                   AND 16 * len(list_filter(tk, t -> lower(t) IN ('the', 'a')))
                       >= len(tk)
              THEN 1.0 ELSE 0.0 END AS y
  FROM (
    SELECT doc_id,
           list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS tk
    FROM documents
  ) raw
),
nn AS (SELECT CAST(count(*) AS DOUBLE) AS c FROM base),
w0 AS (SELECT unnest(range(0, {d})) AS b, CAST(0.0 AS DOUBLE) AS w)"""]
    for i in range(1, iters + 1):
        parts.append(f""",
w{i - 1}l AS (SELECT list(w ORDER BY b) AS wl FROM w{i - 1}),
m{i} AS (
  SELECT doc_id, y, tk, n,
         CASE WHEN n > 0 THEN
           list_reduce(
             list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(tk, t -> wl[{bucket} + 1])),
             (x, z) -> x + z) / n
         ELSE 0.0 END AS margin
  FROM base CROSS JOIN w{i - 1}l
),
o{i} AS (
  SELECT round(1.0 / (1.0 + exp(-margin)), 7) AS p, y, n, unnest(tk) AS t
  FROM m{i}
),
g{i} AS (
  SELECT {bucket} AS b,
         round(SUM((p - y) / n) / (SELECT c FROM nn), 6) AS g
  FROM o{i} GROUP BY 1
),
w{i} AS (
  SELECT prev.b, prev.w - {lr!r} * COALESCE(g{i}.g, 0.0) AS w
  FROM w{i - 1} prev LEFT JOIN g{i} ON prev.b = g{i}.b
)""")
    parts.append(f""",
w{iters}l AS (SELECT list(w ORDER BY b) AS wl FROM w{iters}),
mf AS (
  SELECT doc_id, y,
         CASE WHEN n > 0 THEN
           list_reduce(
             list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(tk, t -> wl[{bucket} + 1])),
             (x, z) -> x + z) / n
         ELSE 0.0 END AS margin
  FROM base CROSS JOIN w{iters}l
)
SELECT doc_id,
       CAST(y AS BIGINT) AS label,
       round(margin, 6) AS margin,
       round(1.0 / (1.0 + exp(-margin)), 7) AS prob,
       round(1.0 / (1.0 + exp(-margin)), 7) >= 0.5 AS pred
FROM mf
""")
    return "".join(parts)


@query("text_classifier_train", _clf_train_oracle())
def text_classifier_train_q(spark, sf_dir):
    """TRAIN the quality classifier, not just apply one (operators/
    quality.py::train_quality_classifier): distill a stopword-ratio
    quality rule (label = tf('the','a') >= 1/16 — the Gopher
    stop-word-signal shape) into a 64-bucket hashed logistic model by
    6 full-batch GD steps.  Each step is one distributed pass (margin
    = codegen'd token-order fold with plan-literal weights; gradient =
    token explode -> 64-group map-side-combined sum); driver traffic
    is 64 doubles per step.  Rounded sigmoids + rounded gradients make
    the whole loop reduction-order independent, so the oracle unrolls
    all 6 iterations into CTEs and hash-matches.  Training accuracy
    beats the majority baseline (0.75 vs 0.52 at sf0.01; pytest-
    gated)."""
    from cloud_optimized_data_pipelines_spark.operators.quality import (
        train_quality_classifier,
    )

    t = load_tables(spark, sf_dir)
    docs = t["documents"]
    tk = T.tokens("text")
    stop = F.size(F.filter(tk, lambda x: F.lower(x).isin("the", "a")))
    labeled = docs.withColumn(
        "label",
        ((F.size(tk) > 0) & (stop * 16 >= F.size(tk))).cast("int"),
    )
    scored, _w = train_quality_classifier(
        labeled, "doc_id", "text", "label", iters=6, lr=128.0
    )
    return scored.select(
        "doc_id",
        F.col("label").cast("long").alias("label"),
        "margin",
        "prob",
        "pred",
    )


_C4_CLEAN = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS t
  FROM documents
),
chunk AS (
  SELECT doc_id, i AS pos,
         array_to_string(t[(i*10+1):(i*10+10)], ' ')
         || CASE WHEN (doc_id + i) % 4 <> 0 THEN '.' ELSE '' END AS line,
         len(t[(i*10+1):(i*10+10)]) AS n_words
  FROM toks, UNNEST(range(0, CAST(ceil(len(t)/10.0) AS BIGINT))) AS u(i)
  WHERE len(t) > 0
),
flagged AS (
  SELECT doc_id, pos, line,
         (regexp_matches(line, '[.!?"]$') AND n_words >= 5) AS kept
  FROM chunk
),
per_doc AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT)
           + CASE WHEN doc_id % 17 = 0 THEN 1 ELSE 0 END AS n_lines,
         CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         COALESCE(string_agg(line, chr(10) ORDER BY pos) FILTER (WHERE kept), '')
           AS text_clean
  FROM flagged GROUP BY doc_id
)
SELECT d.doc_id,
       COALESCE(p.n_lines, 0) AS n_lines,
       COALESCE(p.n_kept, 0) AS n_kept,
       (COALESCE(p.n_kept, 0) >= 3 AND d.doc_id % 17 <> 0) AS keep,
       md5(COALESCE(p.text_clean, '')) AS clean_md5
FROM documents d LEFT JOIN per_doc p USING (doc_id)
"""


@query("text_c4_clean", _C4_CLEAN)
def text_c4_clean_q(spark, sf_dir):
    """C4 page cleaning (operators/quality.py::c4_line_filter): the
    Raffel et al. 2020 line rules — terminal punctuation, >= 5 words
    per line, >= 3 surviving lines, blocklist phrases — as pure
    per-document array expressions (no explode, no shuffle; the filter
    rides the scan like classifier_score).  The word-soup corpus has
    no line structure, so a line-structured text is built
    DETERMINISTICALLY IN BOTH ENGINES: 10-token chunks, chunk i of doc
    d terminated with '.' iff (d + i) % 4 != 0, and docs with
    doc_id % 17 == 0 get a trailing 'lorem ipsum.' line that trips the
    blocklist — every rule is exercised, and the kept-text md5 covers
    the rebuilt bytes."""
    from cloud_optimized_data_pipelines_spark.operators.dedup import (
        _fixed_token_lines,
    )
    from cloud_optimized_data_pipelines_spark.operators.quality import (
        c4_line_filter,
    )

    t = load_tables(spark, sf_dir)
    did = F.col("doc_id")
    chunks = _fixed_token_lines(F.col("text"), 10)
    lines = F.transform(
        chunks,
        lambda c, i: F.concat(
            c, F.when((did + i) % 4 != 0, F.lit(".")).otherwise(F.lit("")),
        ),
    )
    seeded = t["documents"].select(
        "doc_id",
        F.concat(
            F.array_join(lines, "\n"),
            F.when(did % 17 == 0, F.lit("\nlorem ipsum.")).otherwise(F.lit("")),
        ).alias("text"),
    )
    out = c4_line_filter(seeded, "doc_id", "text")
    return out.select(
        "doc_id", "n_lines", "n_kept", "keep",
        F.md5("text_clean").alias("clean_md5"),
    )


_NGRAM_REPETITION = """
WITH toks AS (
  SELECT doc_id, text,
         list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS tk
  FROM documents
),
g AS (
  SELECT doc_id, nn.n AS n,
         array_to_string(list_slice(tk, t.i, t.i + nn.n - 1), ' ') AS gram
  FROM toks, (VALUES (2), (3), (5)) AS nn(n),
       UNNEST(range(1, len(tk) - nn.n + 2)) AS t(i)
),
c AS (SELECT doc_id, n, gram, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM g GROUP BY doc_id, n, gram),
r AS (SELECT doc_id, n, cnt * length(gram) AS chars,
             ROW_NUMBER() OVER (PARTITION BY doc_id, n
                                ORDER BY cnt DESC, gram DESC) AS rn
      FROM c),
top2 AS (SELECT doc_id, chars FROM r WHERE n = 2 AND rn = 1),
top3 AS (SELECT doc_id, chars FROM r WHERE n = 3 AND rn = 1),
dup5 AS (SELECT doc_id,
                SUM(CASE WHEN cnt > 1 THEN cnt * length(gram) ELSE 0 END) AS chars
         FROM c WHERE n = 5 GROUP BY doc_id)
SELECT d.doc_id,
       COALESCE(CAST(t2.chars AS DOUBLE) / length(d.text), 0.0) AS top2_char_frac,
       COALESCE(CAST(t3.chars AS DOUBLE) / length(d.text), 0.0) AS top3_char_frac,
       COALESCE(CAST(d5.chars AS DOUBLE) / length(d.text), 0.0) AS dup5_char_frac,
       (COALESCE(CAST(t2.chars AS DOUBLE) / length(d.text), 0.0) <= 0.20
        AND COALESCE(CAST(t3.chars AS DOUBLE) / length(d.text), 0.0) <= 0.18
        AND COALESCE(CAST(d5.chars AS DOUBLE) / length(d.text), 0.0) <= 0.15) AS keep
FROM documents d
LEFT JOIN top2 t2 USING (doc_id)
LEFT JOIN top3 t3 USING (doc_id)
LEFT JOIN dup5 d5 USING (doc_id)
"""


_WORDPIECE_CHARS = "abcdefghijklmno"
from cloud_optimized_data_pipelines_spark.operators.wordpiece import (
    UNK_HASH32 as _WORDPIECE_UNK_HASH,
)

_WORDPIECE_STATS = f"""
WITH RECURSIVE
chars AS (SELECT UNNEST([{", ".join(repr(c) for c in _WORDPIECE_CHARS)}]) AS c),
topw AS (
  SELECT w FROM (
    SELECT UNNEST(regexp_extract_all(lower(text), '[a-z]+')) AS w
    FROM documents) g
  GROUP BY w ORDER BY COUNT(*) DESC, w LIMIT 10
),
vocab AS (
  SELECT c AS piece, c AS match_txt, 1 AS plen, TRUE AS is_raw FROM chars
  UNION ALL
  SELECT '##' || c, c, 1, FALSE FROM chars
  UNION ALL
  SELECT w, w, length(w)::INT, TRUE FROM topw
),
docs_words AS (
  SELECT doc_id, UNNEST(regexp_extract_all(lower(text), '[a-z]+')) AS w
  FROM documents
),
words AS (SELECT DISTINCT w FROM docs_words),
pos AS (SELECT UNNEST(range(0, 32)) AS p),
matches AS (
  SELECT wo.w, po.p,
         max_by(v.piece, v.plen) AS piece,
         MAX(v.plen) AS plen
  FROM words wo
  JOIN pos po ON po.p < length(wo.w)
  JOIN vocab v
    ON v.is_raw = (po.p = 0)
   AND substr(wo.w, po.p + 1, v.plen) = v.match_txt
  WHERE length(wo.w) <= 32
  GROUP BY wo.w, po.p
),
walk AS (
  SELECT w, CAST(0 AS BIGINT) AS p, CAST(0 AS BIGINT) AS n_pieces,
         FALSE AS failed, CAST(0 AS BIGINT) AS hsum
  FROM words WHERE length(w) <= 32
  UNION ALL
  SELECT k.w,
         CASE WHEN m.piece IS NULL THEN length(k.w) ELSE k.p + m.plen END,
         k.n_pieces + 1,
         m.piece IS NULL,
         k.hsum + CASE WHEN m.piece IS NULL THEN 0
                       ELSE ('0x' || substr(md5(m.piece), 1, 8))::BIGINT END
  FROM walk k LEFT JOIN matches m ON m.w = k.w AND m.p = k.p
  WHERE k.p < length(k.w) AND NOT k.failed
),
word_res AS (
  SELECT w,
         CASE WHEN failed THEN 1 ELSE n_pieces END AS n_pieces,
         CASE WHEN failed THEN 1 ELSE 0 END AS n_unk,
         CASE WHEN failed THEN CAST({_WORDPIECE_UNK_HASH} AS BIGINT)
              ELSE hsum END AS hsum
  FROM walk WHERE p >= length(w)
  UNION ALL
  SELECT w, 1, 1, CAST({_WORDPIECE_UNK_HASH} AS BIGINT)
  FROM words WHERE length(w) > 32
),
agg AS (
  SELECT dw.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_words,
         CAST(SUM(r.n_pieces) AS BIGINT) AS n_pieces,
         CAST(SUM(r.n_unk) AS BIGINT) AS n_unk,
         CAST(MAX(r.n_pieces) AS BIGINT) AS max_word_pieces,
         CAST(SUM(r.hsum) AS BIGINT) AS piece_hash_sum
  FROM docs_words dw JOIN word_res r USING (w)
  GROUP BY dw.doc_id
)
SELECT d.doc_id,
       COALESCE(a.n_words, 0) AS n_words,
       COALESCE(a.n_pieces, 0) AS n_pieces,
       COALESCE(a.n_unk, 0) AS n_unk,
       COALESCE(a.max_word_pieces, 0) AS max_word_pieces,
       COALESCE(a.piece_hash_sum, 0) AS piece_hash_sum
FROM documents d LEFT JOIN agg a USING (doc_id)
"""


@query("text_wordpiece_tokens", _WORDPIECE_STATS)
def text_wordpiece_tokens_q(spark, sf_dir):
    """WordPiece subword tokenization (operators/wordpiece.py — BERT's
    greedy longest-match-first with whole-word [UNK] fallback and the
    max-chars guard, r10): token budgets and packing lengths need a
    REAL subword tokenizer, not the whitespace proxy.  The vocabulary
    is corpus-derived and deterministic (a..o single chars in raw and
    ## continuation form + the 10 most frequent words, count desc /
    word asc — exact integer tie-break), so words with characters past
    'o' that miss the whole-word table exercise the [UNK] path.  The
    engine walks words in one Arrow pass (vocab + word memo in the
    closure, BPE-bound driver traffic: 10 collected rows — a top-10
    table on a 31-word synthetic vocabulary leaves two thirds of all
    words to the multi-piece char walk, so longest-match, continuation
    and [UNK] paths all execute under the driver hash); the oracle
    replays the SAME maximal munch as a recursive CTE over
    (word, position) states joined to the longest match per state —
    the per-doc 32-bit piece-hash sum pins piece IDENTITY cross-engine,
    not just counts."""
    from cloud_optimized_data_pipelines_spark.operators.wordpiece import (
        wordpiece_stats,
        wordpiece_vocab_from_corpus,
    )

    t = load_tables(spark, sf_dir)
    docs = t["documents"]
    vocab = wordpiece_vocab_from_corpus(
        docs, "text", top_k=10, base_chars=_WORDPIECE_CHARS
    )
    return wordpiece_stats(docs, "doc_id", "text", vocab)


@query("text_ngram_repetition", _NGRAM_REPETITION)
def text_ngram_repetition_q(spark, sf_dir):
    """Gopher repetition coverage (operators/quality.py::
    ngram_repetition): top-2/top-3-gram and duplicate-5-gram character
    fractions with the table-A1 thresholds.  All counts/lengths are
    exact integers; the fractions are single final divisions, and the
    top-gram tie-break (largest gram among max counts) makes
    max(struct(cnt, gram)) deterministic cross-engine."""
    from cloud_optimized_data_pipelines_spark.operators.quality import (
        ngram_repetition,
    )

    t = load_tables(spark, sf_dir)
    out = ngram_repetition(t["documents"], "doc_id", "text")
    return out.select(
        "doc_id", "top2_char_frac", "top3_char_frac", "dup5_char_frac", "keep"
    )


def _bm25_oracle(terms: list[str], k1: float = 1.2, b: float = 0.75) -> str:
    """Oracle mirroring operators/ranking.py::bm25_scores with the SAME
    float-determinism discipline: integer aggregates into a fixed
    expression tree (constants embedded at Python-double precision via
    repr), avgdl as SUM/COUNT not AVG, per-term columns added in
    sorted-term order."""
    tlist = ", ".join(f"'{t}'" for t in sorted(set(terms)))
    score_terms = " + ".join(
        f"COALESCE(SUM(CASE WHEN term = '{t}' THEN sc END), 0.0)"
        for t in sorted(set(terms))
    )
    return f"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS tk
  FROM documents
),
dl AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl FROM toks),
stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl),
words AS (SELECT doc_id, UNNEST(tk) AS term FROM toks),
tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
       FROM words WHERE term IN ({tlist}) GROUP BY doc_id, term),
dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
s AS (
  SELECT t.doc_id, t.term,
         round(ln((CAST(st.n_docs AS DOUBLE) - CAST(f.df AS DOUBLE) + 0.5)
                  / (CAST(f.df AS DOUBLE) + 0.5) + 1.0), 9)
         * (CAST(t.tf AS DOUBLE) * {k1 + 1.0!r})
         / (CAST(t.tf AS DOUBLE)
            + {k1!r} * ({1.0 - b!r} + {b!r} * CAST(d.dl AS DOUBLE) / st.avgdl)) AS sc
  FROM tf t
  JOIN dfreq f USING (term)
  JOIN dl d USING (doc_id)
  CROSS JOIN stats st
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits, {score_terms} AS score
FROM s GROUP BY doc_id
"""


_BM25_TERMS = ["spark", "table", "query", "window"]


@query("text_bm25_scores", _bm25_oracle(_BM25_TERMS))
def text_bm25_scores_q(spark, sf_dir):
    """Okapi BM25 relevance of every document against a fixed 4-term
    query (operators/ranking.py::bm25_scores) — the lexical-retrieval
    baseline next to embedding similarity.  Bit-identical doubles by
    construction: integer tf/df/N/dl aggregates, avgdl = SUM/COUNT,
    fixed-order per-term addition."""
    from cloud_optimized_data_pipelines_spark.operators.ranking import (
        bm25_scores,
    )

    t = load_tables(spark, sf_dir)
    return bm25_scores(t["documents"], "doc_id", "text", _BM25_TERMS)
