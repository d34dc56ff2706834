"""Catalog entries: corpus-curation operators (chunking, sequence
packing, contamination, mixture sampling, quotas) over the documents
table.

Every operator here is deterministic by construction (md5-nibble
sharding/sampling, id-ordered greedy walks), which is what lets each
one carry a full value-level DuckDB oracle — including the greedy
packer, whose oracle is a linear recursive CTE performing the identical
walk.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from financial_data_stream_processing_engine_spark.io_utils import load_table
from financial_data_stream_processing_engine_spark.operators import curation, text
from financial_data_stream_processing_engine_spark.operators.curation import pack_sequences_sql
from financial_data_stream_processing_engine_spark.plans import register


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


@register(
    "chunk_documents",
    sql="""
WITH t AS (
  SELECT doc_id, STRING_SPLIT(text, ' ') AS toks,
         1 + CAST(CEIL(GREATEST(LEN(STRING_SPLIT(text, ' ')) - 64, 0) / 48.0) AS INT)
           AS n_chunks
  FROM documents),
c AS (
  SELECT doc_id, UNNEST(GENERATE_SERIES(0, n_chunks - 1)) AS chunk_idx, toks
  FROM t)
SELECT doc_id,
       CAST(chunk_idx AS INT) AS chunk_idx,
       CAST(LEN(toks[chunk_idx * 48 + 1 : chunk_idx * 48 + 64]) AS INT) AS chunk_tokens,
       ARRAY_TO_STRING(toks[chunk_idx * 48 + 1 : chunk_idx * 48 + 64], ' ') AS chunk_text
FROM c
""",
)
def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (window 64, stride 48) — the
    step that turns documents into trainable sequences.  Map-only, no
    shuffle (operators/curation.py::chunk_documents)."""
    return curation.chunk_documents(_docs(spark, sf_dir), window=64, stride=48)


@register("pack_sequences", sql=pack_sequences_sql(budget=256))
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing into 256-token pack budgets per
    (source, md5-nibble shard).  The only curation op whose semantics
    are a true prefix recurrence → per-group applyInPandas; the oracle
    replays the identical walk as a recursive CTE."""
    return curation.pack_sequences(_docs(spark, sf_dir), budget=256)


def _pack_bpe_sql(budget: int = 512) -> str:
    """Oracle for BPE-exact packing: the per-piece recursive merge walk
    (shared with the token-count oracles) feeds per-document exact
    counts into the SAME greedy packing recursion the whitespace
    entry replays — two recursive CTEs in one WITH RECURSIVE clause."""
    return f"""
WITH RECURSIVE {text.bpe_ptok_sql_ctes()},
perdoc AS (
  SELECT dp.doc_id, CAST(SUM(pt.ntok) AS BIGINT) AS n_bpe_tokens
  FROM docpieces dp JOIN ptok pt ON dp.piece = pt.piece
  GROUP BY dp.doc_id),
d AS (
  SELECT CAST(source AS VARCHAR) AS source,
         SUBSTR(MD5(CAST(doc.doc_id AS VARCHAR)), 1, 1) AS shard,
         doc.doc_id,
         CAST(COALESCE(p.n_bpe_tokens, 0) AS BIGINT) AS n_tokens,
         ROW_NUMBER() OVER (
           PARTITION BY source, SUBSTR(MD5(CAST(doc.doc_id AS VARCHAR)), 1, 1)
           ORDER BY doc.doc_id) AS rn
  FROM documents doc LEFT JOIN perdoc p ON doc.doc_id = p.doc_id),
pk AS (
  SELECT source, shard, doc_id, n_tokens, rn,
         CAST(0 AS BIGINT) AS pack_idx, n_tokens AS acc
  FROM d WHERE rn = 1
  UNION ALL
  SELECT d.source, d.shard, d.doc_id, d.n_tokens, d.rn,
         CASE WHEN pk.acc + d.n_tokens <= {budget}
              THEN pk.pack_idx ELSE pk.pack_idx + 1 END,
         CASE WHEN pk.acc + d.n_tokens <= {budget}
              THEN pk.acc + d.n_tokens ELSE d.n_tokens END
  FROM pk JOIN d ON d.source = pk.source AND d.shard = pk.shard AND d.rn = pk.rn + 1)
SELECT source, shard, doc_id, n_tokens, pack_idx FROM pk
"""


@register("pack_sequences_bpe", sql=_pack_bpe_sql(budget=512))
def pack_sequences_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing on tokenizer-EXACT costs: the same greedy
    per-(source, shard) walk as ``pack_sequences``, but each document
    costs its real merges-table BPE token count
    (operators/text.py::bpe_doc_token_counts — word-cache walk over
    distinct pieces, occurrence sums JVM-side) against a 512-token
    pack budget, so packed sequences fill what the training run
    actually sees — the end of the exact-accounting chain (count →
    budget-select → pack).  Oracle: the recursive merge walk feeding
    the identical packing recursion in one WITH RECURSIVE clause."""
    docs = _docs(spark, sf_dir)
    exact = text.bpe_doc_token_counts(docs, "doc_id")
    return curation.pack_sequences(
        docs.join(exact, "doc_id"), budget=512, n_tokens_col="n_bpe_tokens"
    )


@register(
    "contamination_ngram_overlap",
    sql="""
WITH probe AS (
  SELECT DISTINCT UNNEST(LIST_DISTINCT(LIST_TRANSFORM(
           GENERATE_SERIES(1, GREATEST(LEN(STRING_SPLIT(text, ' ')) - 2, 1)),
           i -> ARRAY_TO_STRING(STRING_SPLIT(text, ' ')[i:i+2], ' ')))) AS s
  FROM documents WHERE doc_id % 97 = 0),
corpus AS (
  SELECT doc_id, UNNEST(LIST_DISTINCT(LIST_TRANSFORM(
           GENERATE_SERIES(1, GREATEST(LEN(STRING_SPLIT(text, ' ')) - 2, 1)),
           i -> ARRAY_TO_STRING(STRING_SPLIT(text, ' ')[i:i+2], ' ')))) AS s
  FROM documents WHERE doc_id % 97 <> 0),
agg AS (
  SELECT c.doc_id,
         COUNT(*) AS n_shingles,
         COUNT(p.s) AS n_overlap
  FROM corpus c LEFT JOIN probe p ON c.s = p.s
  GROUP BY c.doc_id)
SELECT doc_id, n_shingles, n_overlap,
       CAST(n_overlap AS DOUBLE) / n_shingles AS overlap_ratio,
       CAST(n_overlap AS DOUBLE) / n_shingles >= 0.2 AS contaminated
FROM agg
""",
)
def contamination_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination scan: 3-gram overlap of every corpus doc
    against the probe set (docs with id % 97 == 0 stand in for a
    benchmark).  Probe shingles broadcast; one count shuffle
    (operators/curation.py::contamination_overlap)."""
    docs = _docs(spark, sf_dir)
    return curation.contamination_overlap(
        docs, probe_pred=F.col("doc_id") % 97 == 0, n=3, flag_ratio=0.2
    )


@register(
    "mixture_sample_sources",
    sql="""
SELECT doc_id, source, lang
FROM documents
WHERE CAST('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 1) AS INT) <
      CASE source WHEN 'src0' THEN 8 WHEN 'src1' THEN 4 WHEN 'src2' THEN 1 ELSE 0 END
""",
)
def mixture_sample_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mixture-weight sampling: src0 at 8/16, src1 at
    4/16, src2 at 1/16, everything else dropped.  Pure per-row filter —
    reproducible across engines, no shuffle, pushed to the scan
    (operators/curation.py::mixture_sample)."""
    docs = _docs(spark, sf_dir).select("doc_id", "source", "lang")
    return curation.mixture_sample(docs, {"src0": 8, "src1": 4, "src2": 1})


#: deterministic PII synthesis shared by the Spark entry and the oracle
#: (the fixture corpus is PII-free word salad, so the entry plants
#: known literals in-plan — the redactor itself never special-cases)
_PII_SUFFIX_SQL = """CASE
  WHEN doc_id % 5 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR)
                           || '@example.com via 10.0.0.7'
  WHEN doc_id % 5 = 1 THEN ' call +1-555-123-4567'
  ELSE '' END"""


def _pii_redact_sql() -> str:
    x = f"(text || {_PII_SUFFIX_SQL})"
    # counts mirror the engine's progressive semantics: each category
    # counts on the text AFTER the earlier categories redacted, so
    # n_<cat> equals the placeholders that category actually emitted
    counts = []
    red = x
    for name, pat, repl in text.PII_PATTERNS:
        counts.append(
            f"CAST(LEN(REGEXP_EXTRACT_ALL({red}, '{pat}')) AS INT) AS n_{name}"
        )
        red = f"REGEXP_REPLACE({red}, '{pat}', '{repl}', 'g')"
    counts_sql = ",\n       ".join(counts)
    return f"""
SELECT doc_id,
       {counts_sql},
       {red} AS text_redacted
FROM documents
"""


@register("pii_redact_documents", sql=_pii_redact_sql())
def pii_redact_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: plant deterministic email/phone/IP literals on a
    slice of the corpus in-plan, then redact with the shared
    Java∩RE2 patterns and count hits per category.  Pure regexp
    expressions, no shuffle (operators/text.py::redact_pii)."""
    docs = _docs(spark, sf_dir)
    suffix = (
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com via 10.0.0.7"),
            ),
        )
        .when(F.col("doc_id") % 5 == 1, F.lit(" call +1-555-123-4567"))
        .otherwise(F.lit(""))
    )
    planted = docs.select(
        "doc_id", F.concat(F.col("text"), suffix).alias("text")
    )
    out = text.redact_pii(planted)
    return out.select(
        "doc_id",
        F.col("n_email").cast("int").alias("n_email"),
        F.col("n_phone").cast("int").alias("n_phone"),
        F.col("n_ipv4").cast("int").alias("n_ipv4"),
        "text_redacted",
    )


@register(
    "text_repetition_stats",
    sql="""
WITH ng AS (
  SELECT doc_id, UNNEST(LIST_TRANSFORM(
           GENERATE_SERIES(1, GREATEST(LEN(STRING_SPLIT(text, ' ')) - 2, 1)),
           i -> ARRAY_TO_STRING(STRING_SPLIT(text, ' ')[i:i+2], ' '))) AS g
  FROM documents),
pg AS (SELECT doc_id, g, COUNT(*) AS c FROM ng GROUP BY doc_id, g),
pd AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_ngrams,
              CAST(MAX(c) AS BIGINT) AS top_ngram_count
       FROM pg GROUP BY doc_id)
SELECT doc_id, n_ngrams, top_ngram_count,
       CAST(top_ngram_count AS DOUBLE) / n_ngrams AS repetition_ratio,
       CAST(top_ngram_count AS DOUBLE) / n_ngrams >= 0.1 AS repetitive
FROM pd
""",
)
def text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate/looping detector: share of each doc's 3-gram
    multiset taken by its most frequent 3-gram
    (operators/text.py::repetition_stats)."""
    return text.repetition_stats(_docs(spark, sf_dir), n=3, flag_ratio=0.1)


@register(
    "corpus_select_token_budget",
    sql=f"""
WITH RECURSIVE {text.bpe_ptok_sql_ctes()},
perdoc AS (
  SELECT dp.doc_id, CAST(SUM(pt.ntok) AS BIGINT) AS n_bpe_tokens
  FROM docpieces dp JOIN ptok pt ON dp.piece = pt.piece
  GROUP BY dp.doc_id),
t AS (
  SELECT d.doc_id,
         LENGTH(text) AS n_chars,
         LEN(STRING_SPLIT(text, ' ')) AS n_tokens,
         LEN(LIST_DISTINCT(STRING_SPLIT(text, ' '))) AS n_unique,
         LEN(REGEXP_EXTRACT_ALL(text, '[^\\w\\s]')) AS n_punct,
         LEN(REGEXP_EXTRACT_ALL(text, '[0-9]')) AS n_digit,
         CAST(COALESCE(p.n_bpe_tokens, 0) AS BIGINT) AS n_bpe_tokens
  FROM documents d LEFT JOIN perdoc p ON d.doc_id = p.doc_id),
qq AS (
  SELECT doc_id, n_bpe_tokens,
         (LEAST(n_tokens / 20.0, 1.0)
          + n_unique / n_tokens
          + GREATEST(0.0, 1.0 - 4 * (CAST(n_punct AS DOUBLE) / n_chars
                                     + CAST(n_digit AS DOUBLE) / n_chars))) / 3.0
           AS qs
  FROM t),
b AS (
  SELECT doc_id, n_bpe_tokens,
         GREATEST(LEAST(CAST(FLOOR(qs * 100) AS INT), 99), 0) AS bucket
  FROM qq),
h AS (SELECT bucket, SUM(n_bpe_tokens) AS toks FROM b GROUP BY bucket),
c AS (
  SELECT bucket,
         SUM(toks) OVER (
           ORDER BY bucket DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM h)
SELECT CAST(b.bucket AS INT) AS bucket, b.doc_id, b.n_bpe_tokens
FROM b JOIN c ON b.bucket = c.bucket
WHERE c.cum <= 16000
""",
)
def corpus_select_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Budget-bounded selection: highest-quality docs whose tokens fit
    a 16000-token budget, by quality-histogram threshold — two
    map-side-combinable passes + a broadcast keep-set, never a global
    sort (operators/curation.py::select_token_budget).  Budgeting is
    tokenizer-EXACT: each document's cost is its real merges-table BPE
    token count (operators/text.py::bpe_doc_token_counts — O(vocab)
    Python, per-occurrence sums JVM-side), not the chars/4 estimate,
    so the selected set's token total is what the training run will
    actually see."""
    docs = text.with_text_stats(_docs(spark, sf_dir)).select(
        "doc_id", "quality_score"
    )
    exact = text.bpe_doc_token_counts(_docs(spark, sf_dir), "doc_id")
    kept = curation.select_token_budget(
        docs.join(exact, "doc_id"), budget=16000, token_col="n_bpe_tokens"
    )
    return kept.select("bucket", "doc_id", "n_bpe_tokens")


@register(
    "quota_per_lang",
    sql="""
WITH r AS (
  SELECT doc_id, lang, source,
         ROW_NUMBER() OVER (
           PARTITION BY lang
           ORDER BY MD5(CAST(doc_id AS VARCHAR)), doc_id) AS __rk
  FROM documents)
SELECT doc_id, lang, source FROM r WHERE __rk <= 40
""",
)
def quota_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language cap at 40 docs, selected by md5(id) order — a
    layout-independent uniform subsample per group.  One window shuffle
    (operators/curation.py::quota_cap)."""
    docs = _docs(spark, sf_dir).select("doc_id", "lang", "source")
    return curation.quota_cap(docs, per_group=40, group_col="lang")


@register(
    "split_train_holdout",
    sql="""
SELECT doc_id, lang, source,
       CASE WHEN nib < 13 THEN 'train'
            WHEN nib < 14 THEN 'valid'
            ELSE 'test' END AS split
FROM (SELECT doc_id, lang, source,
             CAST('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 1) AS INT) AS nib
      FROM documents) t
""",
)
def split_train_holdout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic content-addressed train/valid/test split (13/1/2
    sixteenths by md5 nibble of doc_id) — holdout membership survives
    re-sharding and incremental corpus growth.  Pure projection, no
    shuffle (operators/curation.py::train_split)."""
    docs = _docs(spark, sf_dir).select("doc_id", "lang", "source")
    return curation.train_split(docs, valid_16ths=1, test_16ths=2)


@register(
    "tfidf_top_terms",
    sql="""
WITH words AS (
  SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS term FROM documents),
tf AS (
  SELECT doc_id, term, COUNT(*) AS tf
  FROM words WHERE term <> '' GROUP BY 1, 2),
dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
         tf.tf * (n.n_docs / dfreq.df) AS score
  FROM tf JOIN dfreq USING (term) CROSS JOIN n),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                               ORDER BY score DESC, term) AS rnk
  FROM scored)
SELECT doc_id, term, tf, df, score, CAST(rnk AS INT) AS rank
FROM ranked
WHERE rnk <= 3
""",
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per document by rational-idf tf·idf
    (score = tf·(N/df) — one IEEE division, engine-exact, unlike
    ln-idf).  Document frequencies broadcast
    (operators/text.py::tfidf_top_terms)."""
    return text.tfidf_top_terms(_docs(spark, sf_dir), k=3)


@register(
    "dedup_paragraph_exact",
    sql="""
WITH t AS (
  SELECT doc_id, STRING_SPLIT(text, ' ') AS toks,
         CAST(CEIL(LEN(STRING_SPLIT(text, ' ')) / 10.0) AS INT) AS n_seg
  FROM documents),
segs AS (
  SELECT doc_id, UNNEST(GENERATE_SERIES(0, n_seg - 1)) AS seg_idx, toks
  FROM t),
seg2 AS (
  SELECT doc_id, CAST(seg_idx AS INT) AS seg_idx,
         ARRAY_TO_STRING(toks[seg_idx * 10 + 1 : seg_idx * 10 + 10], ' ') AS seg_text
  FROM segs),
kept AS (
  SELECT doc_id, seg_idx, seg_text,
         ROW_NUMBER() OVER (PARTITION BY seg_text ORDER BY doc_id, seg_idx) AS rn
  FROM seg2),
rebuilt AS (
  SELECT doc_id, COUNT(*) AS n_kept,
         ARRAY_TO_STRING(LIST(seg_text ORDER BY seg_idx), ' ') AS dedup_text
  FROM kept WHERE rn = 1 GROUP BY doc_id)
SELECT t.doc_id,
       t.n_seg AS n_segments,
       CAST(COALESCE(r.n_kept, 0) AS BIGINT) AS n_kept,
       COALESCE(r.dedup_text, '') AS dedup_text
FROM t LEFT JOIN rebuilt r ON t.doc_id = r.doc_id
""",
)
def dedup_paragraph_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segment-level (10-token) corpus-wide exact dedup with in-order
    document reassembly — the CCNet line-dedup shape
    (operators/curation.py::dedup_segments)."""
    return curation.dedup_segments(_docs(spark, sf_dir), window=10)


@register(
    "text_unicode_normalize",
    sql=r"""
WITH planted AS (
  SELECT doc_id,
         text || CASE doc_id % 3
                   WHEN 0 THEN ' cafe' || CHR(101) || CHR(769)
                   WHEN 1 THEN ' ' || CHR(65) || CHR(778) || 'ngstrom'
                   ELSE ''
                 END AS t
  FROM documents)
SELECT doc_id,
       LENGTH(t) AS n_before,
       LENGTH(nfc_normalize(t)) AS n_after,
       nfc_normalize(t) <> t AS changed,
       nfc_normalize(t) AS text_nfc
FROM planted
""",
)
def text_unicode_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC normalization (operators/text.py::nfc_normalize):
    decomposed sequences planted onto the fixture text (e+COMBINING
    ACUTE, A+COMBINING RING) compose under NFC, shrinking the
    character length — the canonicalization step that makes dedup
    fingerprints agree across crawlers.  Oracle: DuckDB's
    nfc_normalize implements the same Unicode Annex #15 algorithm as
    Python's unicodedata, so text, lengths, and changed flags match
    exactly."""
    from financial_data_stream_processing_engine_spark.operators.text import nfc_normalize

    docs = _docs(spark, sf_dir)
    suffix = (
        F.when(F.col("doc_id") % 3 == 0, F.lit(" cafee\u0301"))
        .when(F.col("doc_id") % 3 == 1, F.lit(" A\u030angstrom"))
        .otherwise(F.lit(""))
    )
    planted = docs.select(
        "doc_id", F.concat(F.col("text"), suffix).alias("t")
    )
    out = nfc_normalize(planted, text_col="t", out_col="text_nfc")
    return out.select(
        "doc_id",
        F.length("t").cast("long").alias("n_before"),
        F.length("text_nfc").cast("long").alias("n_after"),
        (F.col("text_nfc") != F.col("t")).alias("changed"),
        "text_nfc",
    )


#: DuckDB rebuild of the identical BM25 computation: same rational
#: idf, same fixed-order score addition, same tf/df/dl integers.
_BM25_SQL = """
WITH toks AS (
  SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS term FROM documents),
per_doc AS (
  SELECT doc_id, COUNT(*) AS dl,
         COUNT(*) FILTER (WHERE term = 'spark') AS tf_spark,
         COUNT(*) FILTER (WHERE term = 'window') AS tf_window,
         COUNT(*) FILTER (WHERE term = 'merge') AS tf_merge
  FROM toks WHERE term <> '' GROUP BY doc_id),
stats AS (
  SELECT COUNT(*) AS n_docs, SUM(dl) AS total_tokens,
         COUNT(*) FILTER (WHERE tf_spark > 0) AS df_spark,
         COUNT(*) FILTER (WHERE tf_window > 0) AS df_window,
         COUNT(*) FILTER (WHERE tf_merge > 0) AS df_merge
  FROM per_doc),
scored AS (
  SELECT p.doc_id, p.dl, p.tf_spark, p.tf_window, p.tf_merge,
           CASE WHEN p.tf_spark > 0 THEN
             ((s.n_docs - s.df_spark + 0.5e0) / (s.df_spark + 0.5e0))
             * (p.tf_spark * 2.2e0)
             / (p.tf_spark + 1.2e0 * (0.25e0 + 0.75e0 * (p.dl / (CAST(s.total_tokens AS DOUBLE) / s.n_docs))))
           ELSE 0.0e0 END
         + CASE WHEN p.tf_window > 0 THEN
             ((s.n_docs - s.df_window + 0.5e0) / (s.df_window + 0.5e0))
             * (p.tf_window * 2.2e0)
             / (p.tf_window + 1.2e0 * (0.25e0 + 0.75e0 * (p.dl / (CAST(s.total_tokens AS DOUBLE) / s.n_docs))))
           ELSE 0.0e0 END
         + CASE WHEN p.tf_merge > 0 THEN
             ((s.n_docs - s.df_merge + 0.5e0) / (s.df_merge + 0.5e0))
             * (p.tf_merge * 2.2e0)
             / (p.tf_merge + 1.2e0 * (0.25e0 + 0.75e0 * (p.dl / (CAST(s.total_tokens AS DOUBLE) / s.n_docs))))
           ELSE 0.0e0 END AS score
  FROM per_doc p CROSS JOIN stats s)
SELECT doc_id, dl, tf_spark, tf_window, tf_merge, score,
       CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS INT) AS rank
FROM scored
ORDER BY score DESC, doc_id
LIMIT 10
"""


@register("text_bm25_topk", sql=_BM25_SQL)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval over the corpus for the fixed query
    ('spark','window','merge') — top-10 documents with the full
    tf-saturation term (k1=1.2, b=0.75) and a rational idf surrogate
    (the tfidf entry's engine-exactness trade; ln() differs at the
    last ulp between engines).  Per-doc totals add in fixed query-term
    order, so scores are bit-identical in Spark and DuckDB
    (operators/text.py::bm25_topk).  Plan: explode + conditional-count
    groupBy + broadcast stats row + TakeOrdered — no UDFs, two
    shuffles, linear at any corpus size."""
    from financial_data_stream_processing_engine_spark.operators.text import bm25_topk

    return bm25_topk(
        _docs(spark, sf_dir), query_terms=("spark", "window", "merge"), k=10
    )


def _lm_score_sql() -> str:
    """DuckDB restatement of the bigram-LM quality score: train the
    add-one counts model on the same doc_id%5=0 reference slice, score
    every document's transitions, quantize each probability to the
    1e-9 grid and sum exactly (functions/numeric.py rationale), then
    bucket with the identical e-notation double literals."""
    from financial_data_stream_processing_engine_spark.functions.numeric import (
        qcast_sql,
        qint_sql,
    )
    from financial_data_stream_processing_engine_spark.operators.lm import LM_BUCKETS

    (hi_name, hi), (mid_name, mid) = LM_BUCKETS
    return f"""
WITH toks AS (
  -- empty tokens dropped before pairing, in lockstep with the
  -- engine's _bigrams (operators/lm.py): whitespace formatting must
  -- not change transition counts, and V excludes '' already
  SELECT doc_id,
         LIST_FILTER(STRING_SPLIT(LOWER(text), ' '), x -> x <> '') AS t
  FROM documents),
bg AS (
  SELECT doc_id,
         UNNEST(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(t) - 1),
                               i -> struct_pack(u := t[i], v := t[i + 1]))) AS b
  FROM toks),
ref_bg AS (SELECT b.u AS u, b.v AS v FROM bg WHERE doc_id % 5 = 0),
pc AS (SELECT u, v, COUNT(*) AS c_uv FROM ref_bg GROUP BY u, v),
cc AS (SELECT u, COUNT(*) AS c_u FROM ref_bg GROUP BY u),
vs AS (
  SELECT COUNT(DISTINCT x.t) AS v_size
  FROM (SELECT UNNEST(t) AS t FROM toks WHERE doc_id % 5 = 0) x
  WHERE x.t <> ''),
sc AS (
  SELECT bg.doc_id,
         CASE WHEN pc.c_uv IS NULL THEN 1 ELSE 0 END AS unseen,
         CAST(COALESCE(pc.c_uv, 0) + 1 AS DOUBLE)
           / CAST(COALESCE(cc.c_u, 0) + vs.v_size AS DOUBLE) AS p
  FROM bg
  LEFT JOIN pc ON bg.b.u = pc.u AND bg.b.v = pc.v
  LEFT JOIN cc ON bg.b.u = cc.u
  CROSS JOIN vs),
per AS (
  SELECT doc_id,
         COUNT(*) AS n_bigrams,
         SUM(unseen) AS n_unseen_bigrams,
         {qcast_sql("SUM(" + qint_sql("p") + ")")} * 1e-09 AS sum_tp
  FROM sc GROUP BY doc_id)
SELECT d.doc_id,
       CAST(COALESCE(per.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       CAST(COALESCE(per.n_unseen_bigrams, 0) AS BIGINT) AS n_unseen_bigrams,
       CAST(per.sum_tp / per.n_bigrams AS DOUBLE) AS mean_tp,
       COALESCE(CASE WHEN per.sum_tp / per.n_bigrams >= {hi!r} THEN '{hi_name}'
                     WHEN per.sum_tp / per.n_bigrams >= {mid!r} THEN '{mid_name}'
                     ELSE 'low' END, 'und') AS lm_bucket
FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
"""


@register("text_lm_quality_score", sql=_lm_score_sql())
def text_lm_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram LM perplexity-style quality filter (the CCNet/Gopher
    recipe): train an add-one-smoothed bigram model on a trusted
    reference slice (every fifth doc), score every document's mean
    transition probability — the rational, engine-exact surrogate for
    perplexity (same trade as the tfidf/BM25 rational idf) — and
    bucket into CCNet-style terciles (operators/lm.py).

    Plan: two map-side-combinable training groupBys over the reference
    slice (vocabulary-sized results), then one explode + two
    vocabulary-keyed joins (AQE-broadcast here; shuffle-join fallback
    at 100 TB, linear in corpus bigrams) + one per-doc aggregation on
    the 1e-9 quantized grid.  No Python anywhere — the whole path is
    codegen'd expressions, and the score is bit-identical at any
    parallelism."""
    from financial_data_stream_processing_engine_spark.operators.lm import lm_quality_score

    return lm_quality_score(_docs(spark, sf_dir))


def _nb_classifier_sql() -> str:
    """DuckDB restatement of the NB classifier: identical train slice
    (doc_id%5≠0), identical add-one likelihood ratios, identical 1e-9
    quantized-grid summation — every arithmetic step stated in the
    same IEEE order as the Spark plan (operators/lm.py rationale)."""
    from financial_data_stream_processing_engine_spark.functions.numeric import (
        qcast_sql,
        qint_sql,
    )

    return f"""
WITH tk AS (
  SELECT doc_id, (lang = 'en') AS is_pos, (doc_id % 5 = 0) AS is_holdout,
         UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS t
  FROM documents),
tok AS (SELECT * FROM tk WHERE t <> ''),
wc AS (
  SELECT t, SUM(CAST(is_pos AS BIGINT)) AS c_pos,
         SUM(CAST(NOT is_pos AS BIGINT)) AS c_neg
  FROM tok WHERE NOT is_holdout GROUP BY t),
tot AS (
  SELECT SUM(CAST(is_pos AS BIGINT)) AS tot_pos,
         SUM(CAST(NOT is_pos AS BIGINT)) AS tot_neg,
         COUNT(DISTINCT t) AS v_size
  FROM tok WHERE NOT is_holdout),
sc AS (
  SELECT tok.doc_id,
         CASE WHEN wc.c_pos IS NULL THEN 1 ELSE 0 END AS oov,
         CAST(COALESCE(wc.c_pos, 0) + 1 AS DOUBLE)
           / CAST(tot.tot_pos + tot.v_size AS DOUBLE)
         - CAST(COALESCE(wc.c_neg, 0) + 1 AS DOUBLE)
           / CAST(tot.tot_neg + tot.v_size AS DOUBLE) AS delta
  FROM tok LEFT JOIN wc ON tok.t = wc.t CROSS JOIN tot),
per AS (
  SELECT doc_id, COUNT(*) AS n_tokens, SUM(oov) AS n_oov_tokens,
         {qcast_sql("SUM(" + qint_sql("delta") + ")")} * 1e-09 AS sum_delta
  FROM sc GROUP BY doc_id)
SELECT d.doc_id,
       CAST(COALESCE(per.n_tokens, 0) AS BIGINT) AS n_tokens,
       CAST(COALESCE(per.n_oov_tokens, 0) AS BIGINT) AS n_oov_tokens,
       CAST(per.sum_delta / per.n_tokens AS DOUBLE) AS mean_delta,
       CASE WHEN per.n_tokens IS NULL THEN 'und'
            WHEN per.sum_delta / per.n_tokens > 0 THEN 'en'
            ELSE 'other' END AS nb_pred,
       CASE WHEN d.lang = 'en' THEN 'en' ELSE 'other' END AS label_bin,
       (d.doc_id % 5 = 0) AS is_holdout
FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
"""


@register("text_nb_lang_classifier", sql=_nb_classifier_sql())
def text_nb_lang_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned document classifier: multinomial Naive Bayes with
    add-one smoothing, trained on the labeled slice (doc_id%5≠0,
    binary en-vs-other on the lang column), scoring EVERY document by
    the mean per-token likelihood difference — the counts-only,
    engine-exact stand-in for the fastText-style classifiers that fill
    the language-ID and quality-filter roles in CCNet/LLaMA-era
    curation stacks (operators/lm.py::nb_lang_classifier).  The
    heuristic ``text_language_id`` and this entry bracket the two ways
    real pipelines assign languages: rules vs learned model.  The
    fixture's synthetic text is drawn from one shared vocabulary, so
    its lang labels are token-independent and holdout accuracy here
    sits at the class prior — the oracle gates the MODEL ARITHMETIC
    (counts, smoothing, grid summation, decision rule), and
    learnability is golden-tested on a separable corpus in
    tests/test_lm.py, the same split text_language_id uses.

    Plan: one map-side-combinable training groupBy (vocabulary-sized)
    + a 3-scalar totals row, then explode + one vocabulary-keyed join
    (AQE-broadcast here, shuffle-join fallback at 100 TB — linear in
    corpus tokens) + per-doc aggregation on the 1e-9 quantized grid.
    No Python anywhere."""
    from financial_data_stream_processing_engine_spark.operators.lm import (
        nb_lang_classifier,
    )

    return nb_lang_classifier(_docs(spark, sf_dir))
