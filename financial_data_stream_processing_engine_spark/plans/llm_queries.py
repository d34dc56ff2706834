"""Catalog entries: LLM-data-pipeline operators over documents /
embeddings (dedup, similarity search, text analysis, multimodal).

Oracle notes:
* shingle/Jaccard/cosine arithmetic is expressed identically on both
  sides (double-precision sequential folds) → bit-exact hashes;
* MinHash-LSH's oracle is the *exact* all-pairs SQL — with (64 hashes,
  16 bands) at threshold 0.8 the per-pair miss probability is ≤4e-8,
  so verified-LSH output equals the exact answer;
* engine-specific hash values (xxhash64 signatures, SimHash bits, HLL
  sketches) are rows-only by nature.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from financial_data_stream_processing_engine_spark.functions.numeric import davg_sql, dlit_sql, qcast_sql, qint_sql
from financial_data_stream_processing_engine_spark.io_utils import load_table, scratch_dir
from financial_data_stream_processing_engine_spark.operators import dedup, multimodal, similarity, text
from financial_data_stream_processing_engine_spark.plans import media_fixtures
from financial_data_stream_processing_engine_spark.plans import register
from financial_data_stream_processing_engine_spark.streaming.sources import _sliced_feed

# ---------------------------------------------------------------------------
# shared DuckDB SQL fragments (kept next to the Spark ops they mirror)
# ---------------------------------------------------------------------------

#: distinct 3-token shingles of ``text`` (mirrors text.shingles(n=3))
_SH = (
    "LIST_DISTINCT(LIST_TRANSFORM("
    "GENERATE_SERIES(1, GREATEST(LEN(STRING_SPLIT({t}, ' ')) - 2, 1)), "
    "i -> ARRAY_TO_STRING(STRING_SPLIT({t}, ' ')[i:i+2], ' ')))"
)

#: double-precision sequential-fold cosine (mirrors dedup.cosine)
_COS = (
    "(list_reduce(list_transform(list_zip({a}, {b}),"
    " s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)), (x,y) -> x+y)"
    " / NULLIF(sqrt(list_reduce(list_transform({a}, v -> CAST(v AS DOUBLE)*CAST(v AS DOUBLE)), (x,y)->x+y))"
    " * sqrt(list_reduce(list_transform({b}, v -> CAST(v AS DOUBLE)*CAST(v AS DOUBLE)), (x,y)->x+y)), 0))"
)

_EXACT_PAIRS_SQL = f"""
WITH sh AS (SELECT doc_id, {_SH.format(t='text')} AS s FROM documents)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(LEN(LIST_INTERSECT(a.s, b.s)) AS DOUBLE)
       / (CAST(LEN(a.s) + LEN(b.s) AS DOUBLE) - CAST(LEN(LIST_INTERSECT(a.s, b.s)) AS DOUBLE))
       AS jaccard
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE CAST(LEN(LIST_INTERSECT(a.s, b.s)) AS DOUBLE)
      / (CAST(LEN(a.s) + LEN(b.s) AS DOUBLE) - CAST(LEN(LIST_INTERSECT(a.s, b.s)) AS DOUBLE)) >= 0.8
"""


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


def _embs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "embeddings")


def _fixture_media(spark: SparkSession, sf_dir: str, build, kind: str, mime: str) -> DataFrame:
    """One media row per document whose payload is ``build(doc_id)``, a
    :mod:`plans.media_fixtures` builder."""
    docs = _docs(spark, sf_dir).select("doc_id")
    return multimodal.as_media(
        media_fixtures.payload_frame(docs, build), id_col="doc_id",
        payload=F.col("payload"), kind=kind, mime=mime,
    )


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------

_STOP_SQL = "[" + ", ".join(f"'{w}'" for w in text.STOPWORDS) + "]"


#: shared text-stats reconstruction — the text_stats entry's oracle,
#: also the feature CTE of the linear-probe oracle (one text, so the
#: probe's features are bitwise the hash-proven stats columns)
_TEXT_STATS_SQL = f"""
WITH t AS (
  SELECT doc_id,
         LENGTH(text) AS n_chars_actual,
         LEN(STRING_SPLIT(text, ' ')) AS n_tokens,
         LEN(LIST_DISTINCT(STRING_SPLIT(text, ' '))) AS n_unique_tokens,
         LEN(REGEXP_EXTRACT_ALL(text, '[^\\w\\s]')) AS n_punct,
         LEN(REGEXP_EXTRACT_ALL(text, '[0-9]')) AS n_digit,
         LEN(LIST_INTERSECT(LIST_DISTINCT(STRING_SPLIT(text, ' ')), {_STOP_SQL})) AS n_stop
  FROM documents)
SELECT doc_id, n_chars_actual, n_tokens, n_unique_tokens,
       CAST(n_chars_actual - (n_tokens - 1) AS DOUBLE) / NULLIF(n_tokens, 0) AS avg_token_len,
       CAST(n_punct AS DOUBLE) / NULLIF(n_chars_actual, 0) AS punct_ratio,
       CAST(n_digit AS DOUBLE) / NULLIF(n_chars_actual, 0) AS digit_ratio,
       CAST(n_stop AS DOUBLE) / NULLIF(n_unique_tokens, 0) AS stopword_ratio,
       (LEAST(n_tokens / 20.0, 1.0)
        + n_unique_tokens / n_tokens
        + GREATEST(0.0, 1.0 - 4 * (CAST(n_punct AS DOUBLE) / n_chars_actual
                                   + CAST(n_digit AS DOUBLE) / n_chars_actual))) / 3.0
           AS quality_score
FROM t
"""


@register("text_stats", sql=_TEXT_STATS_SQL)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document statistics + pretraining-style quality score.

    Pure per-row expressions — no shuffle at any scale.
    """
    out = text.with_text_stats(_docs(spark, sf_dir))
    return out.select(
        "doc_id",
        "n_chars_actual",
        "n_tokens",
        "n_unique_tokens",
        "avg_token_len",
        "punct_ratio",
        "digit_ratio",
        "stopword_ratio",
        "quality_score",
    )


def _ols_probe_sql() -> str:
    """Oracle for the OLS quality probe: the SHARED text-stats
    reconstruction as the feature CTE (bitwise the hash-proven
    text_stats columns), the identical NULL filter and 1e-6
    quantization (OLS_QSCALE), the identical exact-integer raw
    moments (HUGEINT here, decimal(38,0) in Spark), the CENTERED
    covariance-form moments computed in the SAME exact integer domain
    (the qcast VARCHAR bridge for each single cast to double), then
    the SAME 3×3 Cramer expression text (operators/lm.py::
    cramer3_exprs — one string, both engines), the SAME intercept
    recovery (OLS_C0_SQL) and the SAME prediction/residual expressions
    (OLS_PRED_SQL)."""
    from financial_data_stream_processing_engine_spark.operators.lm import (
        OLS_C0_SQL,
        OLS_GRID_SQL,
        OLS_PRED_SQL,
        OLS_QSCALE,
        cramer3_exprs,
    )

    det_s, nums = cramer3_exprs()
    raw = ["CAST(COUNT(*) AS HUGEINT) AS n"]
    for i in (1, 2, 3):
        raw.append(f"SUM(q{i}) AS s{i}")
    raw.append("SUM(qy) AS sy")
    for i in (1, 2, 3):
        for j in (1, 2, 3):
            if i <= j:
                raw.append(f"SUM(q{i} * q{j}) AS a{i}{j}")
        raw.append(f"SUM(q{i} * qy) AS b{i}")
    cent = []
    for i in (1, 2, 3):
        for j in (1, 2, 3):
            if i <= j:
                cent.append(f"{qcast_sql(f'n * a{i}{j} - s{i} * s{j}')} AS C{i}{j}")
        cent.append(f"{qcast_sql(f'n * b{i} - s{i} * sy')} AS d{i}")
    coefs = ",\n         ".join(
        f"({nums[i]}) / NULLIF(({det_s}), 0.0e0) AS c{i + 1}" for i in range(3)
    )
    g = 10**OLS_QSCALE
    return f"""
WITH s AS ({_TEXT_STATS_SQL}),
f AS (
  SELECT doc_id,
         CAST({g} AS HUGEINT) AS q0,
         {qint_sql("avg_token_len", OLS_QSCALE)} AS q1,
         {qint_sql("stopword_ratio", OLS_QSCALE)} AS q2,
         {qint_sql("n_tokens", OLS_QSCALE)} AS q3,
         {qint_sql("quality_score", OLS_QSCALE)} AS qy
  FROM s
  WHERE avg_token_len IS NOT NULL AND stopword_ratio IS NOT NULL
    AND n_tokens IS NOT NULL AND quality_score IS NOT NULL),
m AS (SELECT {", ".join(raw)} FROM f),
cm AS (SELECT {", ".join(cent)}, n, s1, s2, s3, sy FROM m),
cc AS (SELECT n, s1, s2, s3, sy,
         {coefs}
       FROM cm),
c AS (SELECT ({OLS_C0_SQL}) AS c0, c1, c2, c3 FROM cc)
SELECT f.doc_id,
       CAST(qy AS DOUBLE) * {OLS_GRID_SQL} AS target,
       ({OLS_PRED_SQL}) * {OLS_GRID_SQL} AS pred,
       (CAST(qy AS DOUBLE) - ({OLS_PRED_SQL})) * {OLS_GRID_SQL} AS residual,
       c0, c1, c2, c3
FROM f CROSS JOIN c
"""


@register("text_quality_linear_probe", sql=_ols_probe_sql())
def text_quality_linear_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OLS linear probe of the heuristic quality gate — the
    "distill the gate into a cheap learned model" stage of a curation
    pipeline (a linear probe over engineered signals measures how much
    of a quality score a trivial model reproduces, and its residual
    outliers are the documents worth human/LLM review): fit
    ``quality_score ≈ w0 + w1·avg_token_len + w2·stopword_ratio +
    w3·n_tokens`` over the whole corpus by EXACT normal equations —
    features quantize to the 1e-6 grid, raw moments accumulate as
    exact decimal(38,0) integers in ONE map-side-combinable
    aggregation, the CENTERED covariance-form moments
    ``n·Σxixj − Σxi·Σxj`` cancel in the SAME exact integer domain
    (a raw normal-equations determinant cancels to garbage in doubles
    — measured on this very fixture), one correctly-rounded cast to
    double each, then 3×3 Cramer's rule stated as SHARED SQL text
    evaluated on the one-row moment frame plus exact-first-moment
    intercept recovery (operators/lm.py::{cramer3_exprs, ols_probe,
    OLS_C0_SQL}) — no driver linear algebra, no collect anywhere —
    and the coefficient row broadcast back for per-doc predictions.
    (The fixture's punct/digit ratios are constant 0 — zero-variance
    features are exactly singular, which the NULLIF guard reports as
    NULL coefficients; the chosen features all carry variance.)  One row per fit doc:
    (doc_id, target, pred, residual, c0..c3) — constant coefficient
    columns make the value hash certify the solve itself.

    Scale shape: one narrow aggregation + one broadcast join — the
    cheapest possible distributed regression; at 100 TB the Gram sums
    are still 14 numbers.

    Oracle: the shared text-stats chain, identical quantization,
    identical integer sums and the IDENTICAL Cramer/prediction
    expression text (see _ols_probe_sql)."""
    from financial_data_stream_processing_engine_spark.operators.lm import ols_probe

    stats = text.with_text_stats(_docs(spark, sf_dir))
    return ols_probe(
        stats,
        feature_cols=("avg_token_len", "stopword_ratio", "n_tokens"),
        target_col="quality_score",
        id_col="doc_id",
    )


def _ols_fit_sql() -> str:
    """Oracle: the probe oracle verbatim as a CTE, then the identical
    two-stage fit arithmetic — grid-quantized exact sums for the
    target mean and both squared-error totals, FIRST over the constant
    coefficient columns, and the same ``1.0e0 − sse / NULLIF(sst,
    0.0e0)`` expression text."""
    q_t = qint_sql("target")
    q_r = qint_sql("residual * residual")
    q_d = qint_sql("(target - ybar) * (target - ybar)")
    return f"""
WITH p AS ({_ols_probe_sql()}),
m1 AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         ({qcast_sql(f"SUM({q_t})")} * 1e-09) / CAST(COUNT(*) AS DOUBLE) AS ybar,
         {qcast_sql(f"SUM({q_r})")} * 1e-09 AS sse,
         FIRST(c0) AS c0, FIRST(c1) AS c1, FIRST(c2) AS c2, FIRST(c3) AS c3
  FROM p),
m2 AS (
  SELECT {qcast_sql(f"SUM({q_d})")} * 1e-09 AS sst
  FROM p CROSS JOIN m1)
SELECT n_docs, ybar, sse, sst,
       1.0e0 - sse / NULLIF(sst, 0.0e0) AS r2, c0, c1, c2, c3
FROM m1 CROSS JOIN m2
"""


@register("text_quality_probe_fit", sql=_ols_fit_sql())
def text_quality_probe_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goodness-of-fit certificate for the OLS quality probe — the
    model-evaluation row read before trusting the cheap linear model
    (high R² ⇒ the probe can replace the gate at scan time; low ⇒ the
    gate's signal is genuinely nonlinear): ONE row (n_docs, ybar, sse,
    sst, r2, c0..c3) over the probe's per-doc residuals
    (operators/lm.py::{ols_probe, ols_fit_report}).  Targets and
    squared deviations quantize to the 1e-9 grid and sum exactly;
    the mean and R² are single IEEE divisions; R² is NULL on a
    zero-variance target (NULLIF).  Two aggregation passes with the
    one-row mean broadcast between them — at 100 TB this is two
    narrow scans producing eight numbers.

    Oracle: the probe oracle verbatim as a CTE + the identical fit
    arithmetic (see _ols_fit_sql)."""
    from financial_data_stream_processing_engine_spark.operators.lm import (
        ols_fit_report,
        ols_probe,
    )

    stats = text.with_text_stats(_docs(spark, sf_dir))
    probe = ols_probe(
        stats,
        feature_cols=("avg_token_len", "stopword_ratio", "n_tokens"),
        target_col="quality_score",
        id_col="doc_id",
    )
    return ols_fit_report(probe)


def _marker_hits_sql(lang: str) -> str:
    markers = "[" + ", ".join(f"'{w}'" for w in text.LANG_MARKERS[lang]) + "]"
    return (
        f"LEN(LIST_FILTER(STRING_SPLIT(LOWER(text), ' '), "
        f"t -> LIST_CONTAINS({markers}, t)))"
    )


# CASE-chain equivalent of the operator's scan-order argmax: the winner
# is the FIRST language in (en, de, es, fr) whose hit count equals the
# maximum (later languages replace only on strictly-greater scores).
_LANG_SQL = f"""
WITH h AS (
  SELECT doc_id, lang,
         {_marker_hits_sql('en')} AS h_en,
         {_marker_hits_sql('de')} AS h_de,
         {_marker_hits_sql('es')} AS h_es,
         {_marker_hits_sql('fr')} AS h_fr,
         LEN(REGEXP_EXTRACT_ALL(text, '[一-鿿]')) AS n_cjk,
         LENGTH(text) AS n_chars
  FROM documents)
SELECT doc_id, lang,
       CASE WHEN n_cjk * 2 > n_chars THEN 'zh'
            WHEN GREATEST(h_en, h_de, h_es, h_fr) = 0 THEN 'und'
            WHEN h_en >= h_de AND h_en >= h_es AND h_en >= h_fr THEN 'en'
            WHEN h_de >= h_es AND h_de >= h_fr THEN 'de'
            WHEN h_es >= h_fr THEN 'es'
            ELSE 'fr' END AS lang_pred
FROM h
"""


@register("text_language_id", sql=_LANG_SQL)
def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker/charset language ID (see operators.text.with_language_id).

    Oracle: the same marker-count argmax expressed as a SQL CASE chain;
    classification behavior on real multilingual samples is additionally
    golden-tested in tests/test_llm_ops.py.
    """
    out = text.with_language_id(_docs(spark, sf_dir))
    return out.select("doc_id", "lang", "lang_pred")


#: whitespace-normalized text, shared by BOTH fingerprints (engine
#: lockstep: operators/text.py::with_fingerprints shingles the same
#: normalized form its md5_full hashes)
_FP_NORM = r"REGEXP_REPLACE(TRIM(text), '\s+', ' ', 'g')"


@register(
    "text_fingerprints",
    sql=f"""
SELECT doc_id,
       MD5({_FP_NORM}) AS md5_full,
       LIST_AGGREGATE(LIST_TRANSFORM({_SH.format(t=_FP_NORM)}, s -> MD5(s)), 'min')
           AS min_shingle_fp
FROM documents
""",
)
def text_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprints: normalized-text md5 + winnowing-style
    minimum shingle hash (md5-based → engine-portable)."""
    out = text.with_fingerprints(_docs(spark, sf_dir))
    return out.select("doc_id", "md5_full", "min_shingle_fp")


# ---------------------------------------------------------------------------
# dedup family
# ---------------------------------------------------------------------------


@register(
    "dedup_exact",
    sql="""
SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars
FROM documents d
JOIN (SELECT text, MIN(doc_id) AS doc_id FROM documents GROUP BY text) k
  ON d.text IS NOT DISTINCT FROM k.text AND d.doc_id = k.doc_id
""",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup keeping the minimum doc_id per distinct text
    (null-safe key equality: a NULL text is its own dedup group)."""
    out = dedup.dedup_exact(_docs(spark, sf_dir), key_cols=["text"], id_col="doc_id")
    return out.select("doc_id", "text", "lang", "source", "n_chars")


@register("dedup_ngram_jaccard", sql=_EXACT_PAIRS_SQL)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs 3-gram Jaccard near-dup pairs (threshold 0.8).

    Quadratic validation oracle for the LSH path — same output schema.
    """
    return dedup.ngram_jaccard_pairs(
        _docs(spark, sf_dir), id_col="doc_id", text_col="text", n=3, threshold=0.8
    )


@register("dedup_prefix_jaccard", sql=_EXACT_PAIRS_SQL)
def dedup_prefix_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT 3-gram Jaccard ≥ 0.8 pairs via prefix filtering
    (AllPairs/PPJoin) — the scalable exact path between the quadratic
    ``dedup_ngram_jaccard`` and the probabilistic ``dedup_minhash_lsh``:
    candidates only for documents sharing a RARE shingle within their
    frequency-ordered prefixes, provably lossless, threshold held as
    the rational 4/5 so required-overlap ceilings stay in integer
    arithmetic — a double ``ceil(θ·|S|)`` can land one above the exact
    rational and silently shorten the prefix below soundness
    (operators/dedup.py::prefix_filter_jaccard_pairs).

    Oracle = the brute-force all-pairs SQL: prefix filtering is an
    output-identical PLAN change, so any pair the blocking wrongly
    drops (or any unsound prefix shortening) is a row mismatch here.
    """
    return dedup.prefix_filter_jaccard_pairs(
        _docs(spark, sf_dir),
        id_col="doc_id",
        text_col="text",
        n=3,
        threshold_num=4,
        threshold_den=5,
    )


@register("dedup_minhash_lsh", sql=_EXACT_PAIRS_SQL)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(64) + LSH(16 bands) near-dup pairs, exact-verified.

    The scale path: linear in corpus size.  Oracle = the exact
    all-pairs SQL; miss probability ≤4e-8 per qualifying pair.
    """
    return dedup.minhash_lsh_pairs(
        _docs(spark, sf_dir),
        id_col="doc_id",
        text_col="text",
        n=3,
        num_hashes=64,
        bands=16,
        threshold=0.8,
    )


def _simhash_portable_sql(bits: int = 60, max_hamming: int = 3) -> str:
    """DuckDB oracle that recomputes the ENTIRE portable-SimHash pair
    set from scratch: md5-derived 60-bit token hashes → per-bit ±1
    majority votes → fingerprints → all-pairs hamming filter.  A bug
    anywhere in the engine's signature or banding path changes the
    Spark pair rows and mismatches this independent reconstruction."""
    votes = ",\n         ".join(
        f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(bits)
    )
    fp = " + ".join(
        f"CASE WHEN v{b} > 0 THEN CAST({1 << b} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
        for b in range(bits)
    )
    return f"""
WITH tok AS (
  SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS t FROM documents),
th AS (
  SELECT doc_id, CAST(('0x' || SUBSTR(MD5(t), 1, 15)) AS BIGINT) AS h FROM tok),
votes AS (
  SELECT doc_id,
         {votes}
  FROM th GROUP BY doc_id),
fp AS (SELECT doc_id, ({fp}) AS f FROM votes)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(BIT_COUNT(XOR(a.f, b.f)) AS INT) AS hamming
FROM fp a JOIN fp b ON a.doc_id < b.doc_id
WHERE BIT_COUNT(XOR(a.f, b.f)) <= {max_hamming}
"""


@register("dedup_simhash", sql=_simhash_portable_sql(bits=60, max_hamming=3))
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup candidate pairs within hamming ≤ 3, found by
    chunk banding (pigeonhole-complete), over the engine-PORTABLE
    60-bit md5 token-hash family — so the oracle rebuilds the entire
    pipeline (token hashes → bit votes → fingerprints → all-pairs
    hamming) independently in DuckDB and the driver value-hashes the
    actual pair rows.  No self-certification anywhere: a signature bug,
    a vote-sign bug, or a banding gap each changes the rows.

    Production default stays xxhash64/64-bit (operators.dedup.
    simhash_pairs) — same machinery, cheaper hash; its banding
    completeness is pinned by tests/test_llm_ops.py against a brute
    scan and by the shared code path with this entry.
    """
    docs = _docs(spark, sf_dir)
    return dedup.simhash_pairs(
        docs,
        id_col="doc_id",
        text_col="text",
        max_hamming=3,
        token_hash=dedup.md5_token_hash60,
        bits=60,
    ).withColumn("hamming", F.col("hamming").cast("int"))


@register(
    "dedup_embedding_cosine",
    sql=f"""
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       {_COS.format(a='a.embedding', b='b.embedding')} AS cos
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE {_COS.format(a='a.embedding', b='b.embedding')} >= 0.3
""",
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space near-dup pairs (cosine ≥ 0.3 on this corpus —
    the fixture's 10 classes are far apart, max pairwise ≈0.37).

    Brute pairs at validation scale; at corpus scale the same operator
    runs within sign-LSH buckets (similarity.random_hyperplane_buckets).
    """
    return dedup.embedding_cosine_pairs(
        _embs(spark, sf_dir), id_col="vec_id", vec_col="embedding", threshold=0.3
    )


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------


@register(
    "similarity_cosine_topk",
    sql=f"""
WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0)
SELECT vec_id, {_COS.format(a='embedding', b='qvec')} AS cos
FROM embeddings, q
ORDER BY cos DESC, vec_id
LIMIT 10
""",
)
def similarity_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-10 for the vec_id=0 query vector."""
    embs = _embs(spark, sf_dir)
    query = embs.filter(F.col("vec_id") == 0)
    return similarity.cosine_topk(embs, query, k=10, id_col="vec_id", vec_col="embedding")


def _label_cent_ctes(dim: str = "dim", cm: str = "cm", cent: str = "cent") -> str:
    """CTEs ``dim → cm → cent``: the label-mean centroids of
    operators/similarity.py::train_centroids (decimal-exact element
    means, REAL cast) as ``cent(centroid_id, centroid)``."""
    return f"""{dim} AS (
  SELECT label, UNNEST(embedding) AS v,
         GENERATE_SUBSCRIPTS(embedding, 1) AS pos
  FROM embeddings),
{cm} AS (
  SELECT label AS centroid_id, pos, {davg_sql('CAST(v AS DOUBLE)')} AS m
  FROM {dim} GROUP BY label, pos),
{cent} AS (
  SELECT centroid_id, LIST(CAST(m AS REAL) ORDER BY pos) AS centroid
  FROM {cm} GROUP BY centroid_id)"""


def _argmax_cell_ctes(
    cent: str = "cent", assign: str = "assign", best: str = "best"
) -> str:
    """CTEs ``assign → best``: every embedding's argmax-(cos, id DESC)
    centroid of CTE ``cent`` (operators/similarity.py::assign_cells) as
    ``best(vec_id, embedding, cell)``."""
    return f"""{assign} AS (
  SELECT e.vec_id, e.embedding, c.centroid_id,
         {_COS.format(a='e.embedding', b='c.centroid')} AS sim
  FROM embeddings e CROSS JOIN {cent} c),
{best} AS (
  SELECT vec_id, embedding, centroid_id AS cell FROM (
    SELECT vec_id, embedding, centroid_id,
           ROW_NUMBER() OVER (
             PARTITION BY vec_id ORDER BY sim DESC, centroid_id DESC) AS rk
    FROM {assign}) WHERE rk = 1)"""


#: label-mean cells: ``dim → cm → cent → assign → best``
_LABEL_CELL_CTES = f"{_label_cent_ctes()},\n{_argmax_cell_ctes()}"


#: Full engine-independent IVF reconstruction: DuckDB retrains the
#: label-mean centroids (decimal-exact means, REAL cast), reassigns
#: every vector to its argmax-(cos, id) cell, probes the 5 cells
#: nearest the query, and takes the top-10 — the identical pipeline to
#: operators.similarity.{train_centroids, assign_cells, ivf_search},
#: so the driver value-hashes the ACTUAL ANN rows.  Determinism comes
#: from the decimal-exact centroid means: every downstream comparison
#: is bit-identical across engines and partitionings.
_IVF_SQL = f"""
WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
{_LABEL_CELL_CTES},
probe AS (
  SELECT centroid_id AS cell
  FROM cent CROSS JOIN q
  ORDER BY {_COS.format(a='centroid', b='qvec')} DESC, centroid_id
  LIMIT 5)
SELECT b.vec_id, {_COS.format(a='b.embedding', b='qvec')} AS cos
FROM best b JOIN probe p ON b.cell = p.cell CROSS JOIN q
ORDER BY cos DESC, vec_id
LIMIT 10
"""


@register("similarity_ivf_topk", sql=_IVF_SQL)
def similarity_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN top-10 for the vec_id=0 query (label-mean centroids,
    nprobe=5 of 10 cells) — the actual search rows, value-checked
    against a full independent reconstruction of the IVF pipeline in
    DuckDB (``_IVF_SQL``): centroid training, cell assignment, probe
    selection, and final top-k are all recomputed oracle-side, so no
    part of the engine certifies itself.  Recall-vs-exact invariants
    live in tests/test_llm_ops.py::test_ivf_recall_vs_brute_force.
    """
    embs = _embs(spark, sf_dir)
    query = embs.filter(F.col("vec_id") == 0)
    centroids = similarity.train_centroids(embs, by="label", vec_col="embedding")
    with_cells = similarity.assign_cells(embs, centroids, vec_col="embedding")
    return similarity.ivf_search(
        with_cells, centroids, query, k=10, nprobe=5, id_col="vec_id", vec_col="embedding"
    )


#: batched-ANN twin of _IVF_SQL: same centroid/assignment pipeline, ten
#: query vectors (vec_id < 10), nprobe=2 cells per query, top-5 each.
_MULTIQUERY_IVF_SQL = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 10),
{_LABEL_CELL_CTES},
probe AS (
  SELECT query_id, qvec, cell FROM (
    SELECT q.query_id, q.qvec, c.centroid_id AS cell,
           ROW_NUMBER() OVER (
             PARTITION BY q.query_id
             ORDER BY {_COS.format(a='c.centroid', b='q.qvec')} DESC,
                      c.centroid_id) AS rk
    FROM q CROSS JOIN cent c) WHERE rk <= 2),
cand AS (
  SELECT p.query_id, b.vec_id,
         {_COS.format(a='b.embedding', b='p.qvec')} AS cos
  FROM best b JOIN probe p ON b.cell = p.cell)
SELECT query_id, vec_id, cos, CAST(rank AS INT) AS rank FROM (
  SELECT query_id, vec_id, cos,
         ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
  FROM cand) WHERE rank <= 5
"""


@register("similarity_multiquery_ivf_topk", sql=_MULTIQUERY_IVF_SQL)
def similarity_multiquery_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched ANN retrieval: top-5 per query for a 10-query batch in
    ONE plan (probe cells per query, corpus joined once on the cell
    key with the tiny probe side broadcast).  Oracle: the full pipeline
    rebuilt in DuckDB, bit-exact on the actual result rows — the
    retrieval-eval shape a training pipeline runs nightly
    (operators/similarity.py::multiquery_ivf_topk)."""
    embs = _embs(spark, sf_dir)
    queries = embs.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    centroids = similarity.train_centroids(embs, by="label", vec_col="embedding")
    with_cells = similarity.assign_cells(embs, centroids, vec_col="embedding")
    return similarity.multiquery_ivf_topk(
        with_cells, centroids, queries, k=5, nprobe=2,
        id_col="vec_id", vec_col="embedding", query_id_col="query_id",
    )


def _rrf_fusion_sql() -> str:
    """Hybrid-retrieval oracle (VERDICT r14 #2): the verified lexical
    (curation_queries._BM25_SQL, top-10, verbatim) and vector
    (_IVF_SQL, top-10, verbatim) pipelines as CTEs, their INTEGER
    ranks merged by reciprocal-rank fusion — the
    crossmodal_phash_ivf_agreement compositional-oracle move applied
    to retrieval.  RRF(d) = Σ_arms 1/(60 + rank_arm(d)) (Cormack et
    al. 2009, K = 60): two fixed-order IEEE reciprocal adds on exact
    integer ranks, bit-identical cross-engine."""
    from financial_data_stream_processing_engine_spark.plans.curation_queries import (
        _BM25_SQL,
    )

    return f"""
WITH lex AS ({_BM25_SQL}),
ann AS (
  SELECT vec_id,
         CAST(ROW_NUMBER() OVER (ORDER BY cos DESC, vec_id) AS INT)
           AS ann_rank
  FROM ({_IVF_SQL})),
fused AS (
  SELECT COALESCE(l.doc_id, a.vec_id) AS doc_id,
         l.rank AS lex_rank, a.ann_rank,
         COALESCE(1.0e0 / (60 + l.rank), 0.0e0)
           + COALESCE(1.0e0 / (60 + a.ann_rank), 0.0e0) AS rrf_score
  FROM lex l FULL OUTER JOIN ann a ON l.doc_id = a.vec_id)
SELECT doc_id, lex_rank, ann_rank, rrf_score,
       CAST(ROW_NUMBER() OVER (ORDER BY rrf_score DESC, doc_id) AS INT)
         AS fused_rank
FROM fused
"""


@register("retrieval_rrf_fusion", sql=_rrf_fusion_sql())
def retrieval_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval fusion (VERDICT r14 #2) — the standard
    two-tower retrieval stack: the LEXICAL arm is BM25 top-10 over
    documents for the fixed query ('spark','window','merge')
    (operators/text.py::bm25_topk, the text_bm25_topk pipeline
    verbatim), the VECTOR arm is IVF ANN top-10 over embeddings for
    the vec_id=0 query (label centroids, nprobe=5 — the
    similarity_ivf_topk pipeline verbatim), and the two result lists
    merge by reciprocal-rank fusion RRF(d) = 1/(60+r_lex) +
    1/(60+r_ann) with absent arms contributing 0 — rank-based fusion
    needs no score calibration between BM25 and cosine scales, which
    is why RRF is the production default.  Output: one row per
    retrieved doc with both arm ranks (NULL where an arm missed), the
    RRF score (two fixed-order IEEE reciprocal adds on exact integer
    ranks — deterministic ties broken by doc_id), and the fused rank.

    Scale: both arms are the already-verified INDEX paths (BM25 =
    explode + conditional-count groupBy + broadcast stats, linear,
    two shuffles; IVF = partition-pruned nprobe-cell scan); the
    fusion itself joins two k-sized frames — driver-bounded at any
    corpus size.  This entry replaces (retires)
    ``similarity_pq_adc_topk``: the flat-PQ wrapper's machinery
    (pq_train, LUT, decimal-grid ADC sum, exact-dot audit) stays
    oracle-certified end-to-end through ``similarity_ivfpq_topk`` and
    keeps its bitwise pytests (tests/test_llm_ops.py), while the
    catalog slot moves to a composition two verified indexes feed.
    Oracle: both arm pipelines recomputed in DuckDB verbatim, fused
    with the identical expression (_rrf_fusion_sql)."""
    from pyspark.sql import Window

    from financial_data_stream_processing_engine_spark.operators.text import (
        bm25_topk,
    )

    lex = bm25_topk(
        _docs(spark, sf_dir), query_terms=("spark", "window", "merge"), k=10
    ).select("doc_id", F.col("rank").alias("lex_rank"))
    embs = _embs(spark, sf_dir)
    query = embs.filter(F.col("vec_id") == 0)
    centroids = similarity.train_centroids(embs, by="label", vec_col="embedding")
    with_cells = similarity.assign_cells(embs, centroids, vec_col="embedding")
    ann = (
        similarity.ivf_search(
            with_cells, centroids, query, k=10, nprobe=5,
            id_col="vec_id", vec_col="embedding",
        )
        .withColumn(
            "ann_rank",
            F.row_number()
            .over(Window.orderBy(F.col("cos").desc(), "vec_id"))
            .cast("int"),
        )
        .select(F.col("vec_id").alias("doc_id"), "ann_rank")
    )
    rrf = F.coalesce(
        F.lit(1.0) / (F.lit(60) + F.col("lex_rank")), F.lit(0.0)
    ) + F.coalesce(F.lit(1.0) / (F.lit(60) + F.col("ann_rank")), F.lit(0.0))
    return (
        lex.join(ann, ["doc_id"], "full_outer")
        .select("doc_id", "lex_rank", "ann_rank", rrf.alias("rrf_score"))
        .withColumn(
            "fused_rank",
            F.row_number()
            .over(Window.orderBy(F.col("rrf_score").desc(), "doc_id"))
            .cast("int"),
        )
    )


def _kmeans_cent_sql(k: int, iters: int) -> str:
    """CTE chain recomputing ``operators.similarity.kmeans_train`` in
    DuckDB: seed cent0 = the k smallest-vec_id vectors, then per Lloyd
    iteration an argmax-(cos, id DESC) assignment, a decimal-exact
    element-wise mean, and an empty-cell COALESCE — the PageRank-style
    unrolled-iteration oracle.  The final CTE is ``cent{iters}``."""
    parts = [
        f"""cent0 AS (
  SELECT vec_id AS centroid_id, embedding AS centroid
  FROM embeddings ORDER BY vec_id LIMIT {k})"""
    ]
    for i in range(1, iters + 1):
        parts.append(_argmax_cell_ctes(f"cent{i - 1}", f"asg{i}", f"bst{i}"))
        parts.append(f"""dim{i} AS (
  SELECT cell, UNNEST(embedding) AS v,
         GENERATE_SUBSCRIPTS(embedding, 1) AS pos
  FROM bst{i}),
cm{i} AS (
  SELECT cell AS centroid_id, pos, {davg_sql('CAST(v AS DOUBLE)')} AS m
  FROM dim{i} GROUP BY cell, pos),
mean{i} AS (
  SELECT centroid_id, LIST(CAST(m AS REAL) ORDER BY pos) AS centroid
  FROM cm{i} GROUP BY centroid_id),
cent{i} AS (
  SELECT c.centroid_id, COALESCE(m.centroid, c.centroid) AS centroid
  FROM cent{i - 1} c LEFT JOIN mean{i} m ON c.centroid_id = m.centroid_id)""")
    return ",\n".join(parts)


#: IVF search over Lloyd-trained centroids (k=8, 2 iterations,
#: nprobe=4, top-10 for the vec_id=0 query) — the whole trainer is
#: re-run in DuckDB, so the hash certifies seeds, both assignment
#: rounds, both decimal-exact mean updates, AND the search.
_KMEANS_IVF_SQL = f"""
WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
{_kmeans_cent_sql(k=8, iters=2)},
{_argmax_cell_ctes("cent2")},
probe AS (
  SELECT centroid_id AS cell
  FROM cent2 CROSS JOIN q
  ORDER BY {_COS.format(a='centroid', b='qvec')} DESC, centroid_id
  LIMIT 4)
SELECT b.vec_id, {_COS.format(a='b.embedding', b='qvec')} AS cos
FROM best b JOIN probe p ON b.cell = p.cell CROSS JOIN q
ORDER BY cos DESC, vec_id
LIMIT 10
"""


@register("similarity_ivf_kmeans_topk", sql=_KMEANS_IVF_SQL)
def similarity_ivf_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN top-10 over a DATA-DRIVEN coarse quantizer: 2 Lloyd
    iterations of spherical k-means (k=8, smallest-id seeds,
    decimal-exact mean updates — operators/similarity.py::
    kmeans_train) instead of the label-mean shortcut.  This is the
    100 TB path: real corpora carry no label column, and IVF recall /
    SemDeDup's largest-cell bound both need data-driven, balanced
    cells.  Oracle: seeds + both Lloyd rounds + search fully
    recomputed in DuckDB (``_KMEANS_IVF_SQL``), bit-exact."""
    embs = _embs(spark, sf_dir)
    query = embs.filter(F.col("vec_id") == 0)
    # checkpoint=True: the k-row centroid frame is consumed by BOTH the
    # cell assignment and the probe ranking — materializing it once per
    # Lloyd round (8 rows) stops the whole trainer lineage re-running
    # for each consumer.
    centroids = similarity.kmeans_train(
        embs, k=8, iters=2, id_col="vec_id", vec_col="embedding",
        checkpoint=True,
    )
    with_cells = similarity.assign_cells(embs, centroids, vec_col="embedding")
    return similarity.ivf_search(
        with_cells, centroids, query, k=10, nprobe=4,
        id_col="vec_id", vec_col="embedding",
    )


#: SemDeDup over the SAME Lloyd-trained quantizer: cells from
#: kmeans_train(k=8, iters=2), then the within-cell smaller-id drop
#: rule — the label-free form the published procedure actually runs.
_SEMANTIC_KMEANS_SQL = f"""
WITH {_kmeans_cent_sql(k=8, iters=2)},
{_argmax_cell_ctes("cent2")},
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         {_COS.format(a='a.embedding', b='b.embedding')} AS cos
  FROM best a JOIN best b ON a.cell = b.cell AND a.vec_id < b.vec_id),
dropped AS (SELECT DISTINCT id_b FROM pairs WHERE cos >= 0.4)
SELECT b.vec_id, b.cell, (d.id_b IS NOT NULL) AS is_dropped
FROM best b LEFT JOIN dropped d ON b.vec_id = d.id_b
"""


@register("dedup_semantic_kmeans", sql=_SEMANTIC_KMEANS_SQL)
def dedup_semantic_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over DATA-DRIVEN cells: the same within-cell
    smaller-id drop rule as ``dedup_semantic``, but the coarse cells
    come from 2 Lloyd rounds of spherical k-means instead of the
    label column — the label-free form a real corpus requires, and
    the k-means balance guarantee is exactly what keeps the
    within-cell quadratic term bounded at 100 TB.  Oracle: trainer +
    assignment + pair/drop logic fully recomputed in DuckDB."""
    embs = _embs(spark, sf_dir)
    centroids = similarity.kmeans_train(
        embs, k=8, iters=2, id_col="vec_id", vec_col="embedding",
        checkpoint=True,
    )
    with_cells = similarity.assign_cells(embs, centroids, vec_col="embedding")
    return similarity.semantic_dedup(
        with_cells, id_col="vec_id", vec_col="embedding", threshold=0.4
    )


# ---------------------------------------------------------------------------
# multimodal columns
# ---------------------------------------------------------------------------


@register(
    "multimodal_metadata",
    sql="""
SELECT doc_id AS media_id, 'image' AS kind, 'image/x-fixture' AS mime,
       CAST(OCTET_LENGTH(ENCODE(text)) AS BIGINT) AS n_bytes,
       SHA256(text) AS sha256
FROM documents
""",
)
def multimodal_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque binary payload + engine-computed typed metadata.

    The fixture has no real image bytes, so the payload is the UTF-8
    encoding of the text column — the plumbing (binary column, length,
    content hash) is identical for real media.
    """
    docs = _docs(spark, sf_dir)
    media = multimodal.as_media(
        docs, id_col="doc_id", payload=F.encode("text", "UTF-8"),
        kind="image", mime="image/x-fixture",
    )
    return media.select(
        "media_id", "kind", F.col("meta.mime").alias("mime"),
        F.col("meta.n_bytes").alias("n_bytes"), F.col("meta.sha256").alias("sha256"),
    )


# RETIRED r13 (VERDICT r12 next-step #7): the fake=True
# multimodal_image_features / multimodal_audio_features catalog
# entries — the sha-derived stand-ins predate the real codec families
# (every image/audio format now has a bitwise round-trip entry) and
# only cost freshness-window slots.  The fake=True operator paths
# remain as API (tests/test_llm_ops.py covers the Arrow plumbing).


@register(
    "multimodal_frame_sample",
    sql="""
WITH l AS (
  SELECT doc_id,
         GENERATE_SERIES(0, GREATEST(OCTET_LENGTH(ENCODE(text)) - 1, 0), 64) AS offs
  FROM documents)
SELECT doc_id AS media_id,
       CAST(i - 1 AS INTEGER) AS frame_idx,
       CAST(offs[i] AS INTEGER) AS byte_offset
FROM l, UNNEST(GENERATE_SERIES(1, LEAST(LEN(offs), 4))) AS t(i)
""",
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-offset sampling over 'video' payloads (pure expressions)."""
    docs = _docs(spark, sf_dir)
    media = multimodal.as_media(
        docs, id_col="doc_id", payload=F.encode("text", "UTF-8"),
        kind="video", mime="video/x-fixture",
    )
    return multimodal.sample_frames(media, every_n_bytes=64, max_frames=4)


@register(
    "dedup_embedding_lsh",
    sql=f"""
SELECT (SELECT COUNT(*)
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE {_COS.format(a='a.embedding', b='b.embedding')} >= 0.3) AS n_exact_pairs,
       true AS precision_ok,
       true AS recall_ge_25
""",
)
def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs restricted to sign-LSH buckets with
    Hamming-1 multi-probe — the corpus-scale variant of
    dedup_embedding_cosine (candidate count scales with bucket size,
    not corpus²).

    Oracle strategy: the bucketing derives from xxhash64 hyperplanes,
    so the recalled *subset* is engine-specific — the checked output is
    the contract: every emitted pair is a true pair with the exact same
    cosine (precision 1.0), and multi-probe recall clears the
    analytical floor (≥25%; p⁴+4(1-p)p³ ≈ 0.47 at the fixture's ~72°
    same-cluster angle).  The oracle independently recomputes the exact
    pair count.  Raw pairs stay available as
    operators.similarity.bucketed_cosine_pairs.
    """
    embs = _embs(spark, sf_dir)
    # this call site owns the operator-internal bucketing persist via a
    # PersistHandle (ADVICE r15 #1: no module-global registry — a
    # shared global would pin corpus-sized blocks session-wide if any
    # caller forgot to release, and interleaved callers could unpersist
    # each other's frames); the with-block releases on every path
    with similarity.PersistHandle() as persists:
        lsh_pairs = similarity.bucketed_cosine_pairs(
            embs, id_col="vec_id", vec_col="embedding",
            num_planes=4, threshold=0.3, multiprobe=True,
            persists=persists,
        ).cache()
        exact = dedup.embedding_cosine_pairs(
            embs, id_col="vec_id", vec_col="embedding", threshold=0.3
        ).cache()
        # try/finally for the entry-local caches; the bucketing persist
        # is the handle's job (released by the with-block even when a
        # count fails)
        try:
            n_exact = exact.count()
            n_lsh = lsh_pairs.count()
            false_pos = lsh_pairs.join(
                exact, ["id_a", "id_b"], "left_anti"
            ).count()
            cos_mismatch = (
                lsh_pairs.alias("p")
                .join(exact.alias("e"), ["id_a", "id_b"])
                .filter(F.abs(F.col("p.cos") - F.col("e.cos")) > 1e-15)
                .count()
            )
        finally:
            lsh_pairs.unpersist()
            exact.unpersist()
    return spark.createDataFrame(
        [
            (
                n_exact,
                bool(false_pos == 0 and cos_mismatch == 0),
                bool(n_lsh * 4 >= n_exact),
            )
        ],
        schema="n_exact_pairs bigint, precision_ok boolean, recall_ge_25 boolean",
    )


def _hex_byte(col: str, i: int) -> str:
    """DuckDB expression: byte ``i`` (0-based) of a lowercase hex digest
    held in column ``col`` — mirrors ``hashlib.*(...).digest()[i]``."""
    return (
        f"((STRPOS('0123456789abcdef', SUBSTR({col}, {2 * i + 1}, 1)) - 1) * 16"
        f" + (STRPOS('0123456789abcdef', SUBSTR({col}, {2 * i + 2}, 1)) - 1))"
    )


#: sum over the 16 md5 digest bytes of f(byte_expr)
def _md5_sum(f: str) -> str:
    return " + ".join(f.format(b=_hex_byte("m", i)) for i in range(16))


@register(
    "multimodal_png_roundtrip",
    sql=f"""
WITH b AS (SELECT doc_id, MD5(CAST(doc_id AS VARCHAR)) AS m FROM documents)
SELECT doc_id AS media_id, 'image' AS kind,
       CAST(4 AS INTEGER) AS width, CAST(4 AS INTEGER) AS height,
       CAST(1 AS INTEGER) AS n_channels,
       (CAST({_md5_sum("({b})")} AS DOUBLE) / 16.0) / 255.0 AS mean_luma
FROM b
""",
)
def multimodal_png_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PNG codec round trip: encode a 4×4 grayscale PNG per doc
    whose 16 pixels are the md5(doc_id) digest bytes (one scanline per
    PNG filter type 0/1/2/3), then decode with the stdlib PNG decoder
    (fake=False) through the Arrow mapInPandas path.

    Oracle strategy: the pixel recipe is recomputable in SQL — DuckDB
    re-derives the md5 bytes and states the expected dimensions and
    mean luma; the sums involved are dyadic-exact, so the hash match is
    bitwise.  A corrupted chunk parse, inflate, unfilter pass, or luma
    reduction all break the match.
    """
    media = _fixture_media(spark, sf_dir, media_fixtures.png_4x4, "image", "image/png")
    return multimodal.decode_image_features(media, fake=False)


@register(
    "multimodal_png_adam7_roundtrip",
    sql=f"""
WITH b AS (SELECT doc_id, MD5(CAST(doc_id AS VARCHAR)) AS m FROM documents)
SELECT doc_id AS media_id, 'image' AS kind,
       CAST(8 AS INTEGER) AS width, CAST(8 AS INTEGER) AS height,
       CAST(1 AS INTEGER) AS n_channels,
       (CAST({_md5_sum("({b})")} AS DOUBLE) / 16.0) / 255.0 AS mean_luma
FROM b
""",
)
def multimodal_png_adam7_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL Adam7-interlaced PNG codec round trip: encode an 8×8
    grayscale interlaced PNG per doc (pixels = md5 digest bytes tiled
    4×, seven reduced passes, every pass filtered independently with a
    rotating filter type), then decode with the stdlib PNG decoder
    (fake=False) — the decode must walk all seven sub-images, restart
    the filter state per pass, and scatter each onto its Adam7 grid.

    Oracle strategy: the tiled recipe makes mean luma = sum(md5 bytes)
    / 16 regardless of position, and the sums are dyadic-exact, so the
    hash match is bitwise; positional scatter correctness (which a
    mean cannot see) is pinned by tests/test_multimodal_codecs.py
    against the raster recipe pixel-for-pixel.
    """
    media = _fixture_media(spark, sf_dir, media_fixtures.png_adam7, "image", "image/png")
    return multimodal.decode_image_features(media, fake=False)


def _gif_oracle_sql() -> str:
    """Restate the decoded GIF mean luma bitwise: per-palette-entry
    BT.601 lumas are precomputed HERE with the identical IEEE ops
    numpy runs (``(0.299·r + 0.587·g) + 0.114·b``), embedded as double
    literals; the 16-pixel mean replays numpy's 8-accumulator pairwise
    sum in closed form (r_i = x_i + x_{i+8}, then the balanced
    4-2-1 combine) — the ``multimodal_jpeg_420_roundtrip`` precedent
    generalized to 16 arbitrary values."""
    lumas = [(0.299 * r + 0.587 * g) + 0.114 * bl for r, g, bl in media_fixtures.GIF_PALETTE]
    # scientific notation forces DOUBLE literals (plain decimals parse
    # as DECIMAL in DuckDB — the documented dtype-drift gotcha)
    lit = "[" + ", ".join(
        repr(v) if "e" in repr(v) else repr(v) + "e0" for v in lumas
    ) + "]"
    xs = ",\n".join(
        f"         {lit}[CAST('0x' || SUBSTR(m, {k + 1}, 1) AS INT) + 1] AS x{k}"
        for k in range(16)
    )
    rs = ", ".join(f"x{i} + x{i + 8} AS r{i}" for i in range(8))
    total = "((r0 + r1) + (r2 + r3)) + ((r4 + r5) + (r6 + r7))"
    return f"""
WITH b AS (SELECT doc_id, MD5(CAST(doc_id AS VARCHAR)) AS m FROM documents),
px AS (
  SELECT doc_id,
{xs}
  FROM b),
acc AS (SELECT doc_id, {rs} FROM px)
SELECT doc_id AS media_id, 'image' AS kind,
       CAST(4 AS INTEGER) AS width, CAST(4 AS INTEGER) AS height,
       CAST(3 AS INTEGER) AS n_channels,
       ({total}) / 16.0 / 255.0 AS mean_luma
FROM acc
"""


def _bmp_oracle_sql() -> str:
    """Restate the decoded BMP mean luma bitwise: per-pixel BT.601 from
    the three md5 bytes (the same literal weights and op order the
    engine runs), then numpy's 16-element pairwise sum in closed form
    — the GIF oracle's machinery with per-doc channel values instead
    of fixed palette constants."""
    xs = ",\n".join(
        f"         (0.299 * CAST({_hex_byte('m', k)} AS DOUBLE)"
        f" + 0.587 * CAST({_hex_byte('m', (k + 5) % 16)} AS DOUBLE))"
        f" + 0.114 * CAST({_hex_byte('m', (k + 11) % 16)} AS DOUBLE) AS x{k}"
        for k in range(16)
    )
    rs = ", ".join(f"x{i} + x{i + 8} AS r{i}" for i in range(8))
    total = "((r0 + r1) + (r2 + r3)) + ((r4 + r5) + (r6 + r7))"
    return f"""
WITH b AS (SELECT doc_id, MD5(CAST(doc_id AS VARCHAR)) AS m FROM documents),
px AS (
  SELECT doc_id,
{xs}
  FROM b),
acc AS (SELECT doc_id, {rs} FROM px)
SELECT doc_id AS media_id, 'image' AS kind,
       CAST(4 AS INTEGER) AS width, CAST(4 AS INTEGER) AS height,
       CAST(3 AS INTEGER) AS n_channels,
       ({total}) / 16.0 / 255.0 AS mean_luma
FROM acc
"""


@register("multimodal_bmp_roundtrip", sql=_bmp_oracle_sql())
def multimodal_bmp_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL BMP codec round trip: each doc's 4×4 24-bit BMP stores
    md5-derived RGB as bottom-up BGR rows — decode must parse the
    BITMAPINFOHEADER, flip the row order, and swap BGR→RGB
    (operators/multimodal.py::decode_bmp).  A decoder that
    forgets the vertical flip produces a luma multiset that is
    IDENTICAL here (means are position-blind), so the flip itself is
    pinned by the pytest's asymmetric fixtures; what this entry's
    bitwise gate certifies is the header walk, stride math, channel
    order, and the BT.601 + pairwise-mean restatement.

    Oracle strategy: per-pixel BT.601 from the md5 bytes with the
    engine's literal weights and op order, then numpy's 16-element
    pairwise sum in closed form (the GIF-entry machinery with per-doc
    channel values).  8-bit palette, 32-bit BGRX, top-down rows, row
    padding and malformed variants are pinned by
    tests/test_multimodal_codecs.py.
    """
    media = _fixture_media(spark, sf_dir, media_fixtures.bmp, "image", "image/bmp")
    return multimodal.decode_image_features(media, fake=False)


@register("multimodal_gif_roundtrip", sql=_gif_oracle_sql())
def multimodal_gif_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL GIF codec round trip: each doc's 4×4 GIF89a is
    LZW-compressed by a real greedy longest-match encoder, row
    INTERLACED, palette-indexed by md5 nibbles, and prefixed with an
    extension block — decode must skip the extension, inflate the
    variable-width LSB-first LZW stream, de-interlace, and map the
    fixed palette (operators/multimodal.py::decode_gif).

    Oracle strategy: per-palette BT.601 lumas are Python-precomputed
    with numpy's exact op order and embedded as double literals; the
    16-pixel mean replays numpy's pairwise sum in closed form, so the
    hash gate is bitwise.  Compression-rich streams (width growth to
    the 12-bit cap, KwKwK), 256-color tables, local-palette override
    and malformed variants are pinned by
    tests/test_multimodal_codecs.py.
    """
    media = _fixture_media(spark, sf_dir, media_fixtures.gif, "image", "image/gif")
    return multimodal.decode_image_features(media, fake=False)


@register(
    "multimodal_png_4bit_roundtrip",
    sql="""
WITH n AS (
  SELECT doc_id,
         LIST_SUM(LIST_TRANSFORM(
           regexp_extract_all(MD5(CAST(doc_id AS VARCHAR)), '.'),
           c -> CAST('0x' || c AS INT))) AS s
  FROM documents)
SELECT doc_id AS media_id, 'image' AS kind,
       CAST(8 AS INTEGER) AS width, CAST(4 AS INTEGER) AS height,
       CAST(1 AS INTEGER) AS n_channels,
       CAST(17 * s AS DOUBLE) / 32.0 / 255.0 AS mean_luma
FROM n
""",
)
def multimodal_png_4bit_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL sub-byte PNG codec round trip: an Adam7-interlaced 4-bit
    grayscale PNG per doc whose samples are the md5 digest's 32
    nibbles — decode must unpack MSB-first bit groups per reduced
    pass (several passes are one sample wide, leaving padding bits in
    every scanline byte), discard pass padding, run the byte-level
    filters at fbpp=1, and scatter on the Adam7 grid
    (operators/multimodal.py::decode_png).

    Oracle strategy: 4-bit samples scale by the exact integer 17, so
    mean luma = 17·Σnibbles / 32 / 255 with one shared final rounding
    — bitwise.  1/2-bit depths and sub-byte palette images are pinned
    pixel-for-pixel by tests/test_multimodal_codecs.py.
    """
    media = _fixture_media(spark, sf_dir, media_fixtures.png_4bit, "image", "image/png")
    return multimodal.decode_image_features(media, fake=False)


@register(
    "multimodal_png_16bit_roundtrip",
    sql=f"""
WITH b AS (SELECT doc_id, MD5(CAST(doc_id AS VARCHAR)) AS m FROM documents)
SELECT doc_id AS media_id, 'image' AS kind,
       CAST(4 AS INTEGER) AS width, CAST(4 AS INTEGER) AS height,
       CAST(1 AS INTEGER) AS n_channels,
       CAST(257 * ({_md5_sum("({b})")}) AS DOUBLE) / 16.0 / 256.0 / 255.0
         AS mean_luma
FROM b
""",
)
def multimodal_png_16bit_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL 16-bit PNG codec round trip: each doc's 4×4 grayscale PNG
    carries big-endian 16-bit samples (md5-derived, every digest byte
    once as high and once as low), filtered Paeth/Sub/Up/Average with
    the 2-byte pixel lane offset — decode must run the byte-level
    filters at bpp=2 and reassemble the 16-bit samples
    (operators/multimodal.py::decode_png).

    Oracle strategy: samples scale to the 8-bit range by the EXACT
    dyadic /256, so mean luma = 257·Σdigest / 16 / 256 / 255 with one
    shared final rounding — bitwise across engines.  RGB/RGBA and
    Adam7 16-bit variants are pinned pixel-for-pixel by
    tests/test_multimodal_codecs.py.
    """
    media = _fixture_media(spark, sf_dir, media_fixtures.png_16bit, "image", "image/png")
    return multimodal.decode_image_features(media, fake=False)


@register(
    "multimodal_jpeg_roundtrip",
    sql=f"""
WITH b AS (SELECT doc_id, MD5(CAST(doc_id AS VARCHAR)) AS m FROM documents)
SELECT doc_id AS media_id, 'image' AS kind,
       CAST(16 AS INTEGER) AS width, CAST(16 AS INTEGER) AS height,
       CAST(1 AS INTEGER) AS n_channels,
       (CAST({_hex_byte('m', 0)} + {_hex_byte('m', 1)}
             + {_hex_byte('m', 2)} + {_hex_byte('m', 3)} AS DOUBLE) / 4.0) / 255.0
         AS mean_luma
FROM b
""",
)
def multimodal_jpeg_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL baseline-JPEG codec round trip: encode a 16×16 grayscale
    JPEG per doc (four DC-only blocks whose constants are md5(doc_id)
    bytes 0-3, all-ones quant tables, Annex-K DC Huffman), then decode
    with the stdlib+numpy baseline decoder (marker parse, canonical
    Huffman entropy decode, DC prediction, dezigzag, dequantize, float
    IDCT) through the Arrow mapInPandas path (fake=False).

    Oracle strategy: DC-only constant blocks survive quantize/IDCT
    exactly (see media_fixtures.jpeg), so DuckDB restates dimensions
    and the exact mean luma from the md5 bytes — any corruption in the
    marker walk, Huffman tables, bit reader, predictor, or IDCT breaks
    the value hash.  The AC run/size path beyond EOB is covered by
    tests/test_multimodal_codecs.py against synthetic coefficients.
    """
    media = _fixture_media(spark, sf_dir, media_fixtures.jpeg, "image", "image/jpeg")
    return multimodal.decode_image_features(media, fake=False)


@register(
    "multimodal_jpeg_progressive_roundtrip",
    sql=f"""
WITH b AS (SELECT doc_id, MD5(CAST(doc_id AS VARCHAR)) AS m FROM documents)
SELECT doc_id AS media_id, 'image' AS kind,
       CAST(16 AS INTEGER) AS width, CAST(16 AS INTEGER) AS height,
       CAST(1 AS INTEGER) AS n_channels,
       (CAST({_hex_byte('m', 0)} + {_hex_byte('m', 1)}
             + {_hex_byte('m', 2)} + {_hex_byte('m', 3)} AS DOUBLE) / 4.0) / 255.0
         AS mean_luma
FROM b
""",
)
def multimodal_jpeg_progressive_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL progressive-JPEG (SOF2, ITU-T T.81 §G) codec round trip:
    each doc's fixture decodes only if the decoder accumulates
    coefficients across six scans — spectral-selection bands,
    DC/AC successive approximation, cross-block EOB runs with
    corrections consumed inside the run, newly-significant ±1
    insertion, per-scan Huffman snapshots across a mid-stream DHT
    redefinition — then dequantizes/IDCTs once at the end
    (operators/multimodal.py::decode_jpeg, progressive path).

    Oracle strategy: the AC perturbations (±2 at zigzag 2, ±1 at
    zigzag 10) and the DC LSB each move any pixel < 0.5, so rint()
    restores the md5-byte block constants EXACTLY and DuckDB states
    dimensions + mean luma from the digest alone — the same bitwise
    hash gate as the baseline roundtrip, now over the multi-scan
    machinery.  The refinement correction-bit=1 branch (|v|=3) is
    pinned by tests/test_multimodal_codecs.py.
    """
    media = _fixture_media(spark, sf_dir, media_fixtures.jpeg_progressive, "image", "image/jpeg")
    return multimodal.decode_image_features(media, fake=False)


@register(
    "multimodal_jpeg_restart_roundtrip",
    sql=f"""
WITH b AS (SELECT doc_id, MD5(CAST(doc_id AS VARCHAR)) AS m FROM documents)
SELECT doc_id AS media_id, 'image' AS kind,
       CAST(16 AS INTEGER) AS width, CAST(16 AS INTEGER) AS height,
       CAST(1 AS INTEGER) AS n_channels,
       (CAST({_hex_byte('m', 0)} + {_hex_byte('m', 1)}
             + {_hex_byte('m', 2)} + {_hex_byte('m', 3)} AS DOUBLE) / 4.0) / 255.0
         AS mean_luma
FROM b
""",
)
def multimodal_jpeg_restart_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL restart-marker (DRI/RSTn, T.81 F.2.1.3) JPEG round trip:
    DRI=1 splits each doc's entropy stream into four byte-aligned
    segments separated by RST0-RST2; every block's DC arrives as an
    ABSOLUTE diff because the predictor resets at each marker — the
    error-resilience layout real crawl JPEGs use.  Decoding requires
    the segment split, per-segment byte alignment, and predictor
    resets to all be right
    (operators/multimodal.py::decode_jpeg).

    Oracle strategy: identical to the plain baseline roundtrip (DC-only
    constant blocks are transform-exact), so the bitwise md5 gate now
    certifies the restart machinery; progressive-scan restarts and the
    EOB-run-across-restart rejection are pinned by
    tests/test_multimodal_codecs.py.
    """
    media = _fixture_media(spark, sf_dir, media_fixtures.jpeg_restart, "image", "image/jpeg")
    return multimodal.decode_image_features(media, fake=False)


@register(
    "multimodal_wav_roundtrip",
    sql=f"""
WITH b AS (SELECT doc_id, MD5(CAST(doc_id AS VARCHAR)) AS m FROM documents)
SELECT doc_id AS media_id, 'audio' AS kind,
       CAST(8000 AS INTEGER) AS sample_rate,
       CAST(16 AS BIGINT) AS n_samples,
       CAST(16 AS DOUBLE) / 8000.0 AS duration_s,
       SQRT(CAST({_md5_sum("(({b}) - 128) * (({b}) - 128)")} AS DOUBLE)
            / 262144.0) AS rms
FROM b
""",
)
def multimodal_wav_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL WAV codec round trip: encode a 16-sample 8-bit-PCM mono WAV
    per doc (samples = md5(doc_id) digest bytes, 8 kHz), then decode
    with the stdlib wave decoder (fake=False).

    Oracle strategy: DuckDB recomputes the md5 sample bytes and states
    rate / frame count / duration / RMS.  With 8-bit PCM every
    intermediate ((b-128)/128)², and their 16-term sum, is dyadic-exact
    in a double, so the single SQRT rounding matches bitwise across
    engines — the hash check covers the whole RIFF parse + PCM math.
    """
    media = _fixture_media(spark, sf_dir, media_fixtures.wav, "audio", "audio/wav")
    return multimodal.decode_audio_features(media, fake=False)


@register(
    "text_token_counts",
    sql=f"""
WITH RECURSIVE {text.bpe_ptok_sql_ctes()},
perdoc AS (
  SELECT dp.doc_id, CAST(SUM(pt.ntok) AS BIGINT) AS n_bpe_tokens
  FROM docpieces dp JOIN ptok pt ON dp.piece = pt.piece
  GROUP BY dp.doc_id)
SELECT d.doc_id,
       CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_ws_tokens,
       CAST(LEN(REGEXP_EXTRACT_ALL(text, '{text.BPE_PIECE_PATTERN}')) AS BIGINT)
           AS n_bpe_pieces,
       CAST(CEIL(LENGTH(text) / 4.0) AS BIGINT) AS n_tokens_est,
       CAST(LENGTH(text) AS DOUBLE)
         / NULLIF(LEN(REGEXP_EXTRACT_ALL(text, '{text.BPE_PIECE_PATTERN}')), 0)
           AS chars_per_piece,
       CAST(COALESCE(p.n_bpe_tokens, 0) AS BIGINT) AS n_bpe_tokens
FROM documents d LEFT JOIN perdoc p ON d.doc_id = p.doc_id
""",
)
def text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting for budget planning: whitespace tokens, BPE-style
    pre-tokenizer pieces (letter/digit/punctuation runs), the chars/4
    estimator, payload density, and the tokenizer-EXACT count under the
    real merges-table BPE (word-cache walk over distinct pieces — the
    Python path is O(vocabulary) at any corpus size).  The estimator
    columns are pure per-row expressions; the exact count adds one
    vocabulary-sized join.  Oracle: the same estimators per-row plus
    the BPE merge walk restated as a DuckDB recursive CTE
    (operators/text.py::{{bpe_doc_token_counts, bpe_ptok_sql_ctes}}).
    """
    out = text.with_token_counts(_docs(spark, sf_dir), id_col="doc_id")
    return out.select(
        "doc_id", "n_ws_tokens", "n_bpe_pieces", "n_tokens_est",
        "chars_per_piece", "n_bpe_tokens",
    )


_Q_ERR = "LIST_TRANSFORM(LIST_ZIP(dq, v), s -> ABS(s[1] - s[2]))"

@register(
    "embedding_quantize_int8",
    sql=f"""
WITH base AS (
  SELECT vec_id, LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings),
s AS (
  SELECT vec_id, v, LEN(v) AS n_dims,
         LIST_AGGREGATE(LIST_TRANSFORM(v, x -> ABS(x)), 'max') AS scale
  FROM base),
qd AS (
  SELECT vec_id, v, n_dims, scale,
         CASE WHEN scale > 0
              THEN LIST_TRANSFORM(v, x -> CAST(FLOOR(x / scale * 127.0 + 0.5) AS INTEGER))
              ELSE LIST_TRANSFORM(v, x -> 0) END AS q
  FROM s),
d AS (
  SELECT vec_id, v, n_dims, scale, q,
         CASE WHEN scale > 0
              THEN LIST_TRANSFORM(q, c -> CAST(c AS DOUBLE) * scale / 127.0)
              ELSE LIST_TRANSFORM(q, c -> 0.0) END AS dq
  FROM qd)
SELECT vec_id, CAST(n_dims AS INTEGER) AS n_dims, scale,
       ARRAY_TO_STRING(q, ',') AS q_str,
       LIST_AGGREGATE({_Q_ERR}, 'max') AS max_abs_err,
       LIST_REDUCE(LIST_TRANSFORM({_Q_ERR}, e -> e * e), (a, b) -> a + b)
         / CAST(n_dims AS DOUBLE) AS mse
FROM d
""",
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric max-abs int8 vector quantization with reconstruction
    audit (operators.similarity.quantize_int8) — the 4× vector-store
    compression for corpus-scale ANN.

    The int8 codes are emitted comma-joined (the driver canonicalizer
    hashes scalars, not lists); the rounding rule is floor(x+0.5) on
    both sides, and the error folds are identical sequential reduces,
    so the hash comparison is bitwise.
    """
    out = similarity.quantize_int8(_embs(spark, sf_dir))
    return out.select(
        "vec_id",
        "n_dims",
        "scale",
        F.concat_ws(",", F.transform(F.col("q"), lambda c: c.cast("string"))).alias(
            "q_str"
        ),
        "max_abs_err",
        "mse",
    )


@register(
    "dedup_cluster_canonical",
    sql=f"""
WITH RECURSIVE
raw AS (
  SELECT id_a, id_b FROM ({_EXACT_PAIRS_SQL}) p
),
sym AS (
  SELECT id_a AS src, id_b AS dst FROM raw
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM raw
),
reach(node, r) AS (
  SELECT DISTINCT src, src FROM sym
  UNION
  SELECT reach.node, s.dst FROM reach JOIN sym s ON s.src = reach.r
),
comp AS (SELECT node, MIN(r) AS component FROM reach GROUP BY node)
SELECT d.doc_id AS id,
       COALESCE(c.component, d.doc_id) AS canonical_id,
       d.doc_id = COALESCE(c.component, d.doc_id) AS is_survivor
FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
""",
)
def dedup_cluster_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The last step of the dedup pipeline: near-dup PAIRS (MinHash-LSH,
    equal to the exact pairs at θ=0.8) collapse into clusters via
    iterative min-label propagation (operators.dedup.connected_components)
    and every document maps to its cluster's canonical (min-id) survivor.

    Oracle strategy: DuckDB computes the same components by recursive
    transitive closure over the exact pair set — tractable at oracle
    scale, while the Spark side is the linear-per-round label
    propagation that survives 100 TB (no transitive closure is ever
    materialized).
    """
    docs = _docs(spark, sf_dir)
    pairs = dedup.minhash_lsh_pairs(
        docs, id_col="doc_id", text_col="text", threshold=0.8
    )
    return dedup.dedup_clusters(docs, pairs, id_col="doc_id")


@register(
    "pipeline_pretraining_corpus",
    sql=f"""
WITH stats AS (
  SELECT doc_id, text, lang,
         LENGTH(text) AS n_chars,
         LEN(STRING_SPLIT(text, ' ')) AS n_tokens,
         LEN(LIST_DISTINCT(STRING_SPLIT(text, ' '))) AS n_unique,
         LEN(REGEXP_EXTRACT_ALL(text, '[^\\w\\s]')) AS n_punct,
         LEN(REGEXP_EXTRACT_ALL(text, '[0-9]')) AS n_digit
  FROM documents),
scored AS (
  SELECT doc_id, text, lang, n_tokens,
         (LEAST(n_tokens / 20.0, 1.0)
          + n_unique / n_tokens
          + GREATEST(0.0, 1.0 - 4 * (CAST(n_punct AS DOUBLE) / n_chars
                                     + CAST(n_digit AS DOUBLE) / n_chars))) / 3.0
             AS quality_score
  FROM stats),
kept AS (
  SELECT s.* FROM scored s
  JOIN (SELECT text, MIN(doc_id) AS doc_id FROM documents GROUP BY text) k
    ON s.text IS NOT DISTINCT FROM k.text AND s.doc_id = k.doc_id
  WHERE s.quality_score >= 0.5)
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(SUM(LENGTH(text)) AS BIGINT) AS total_chars
FROM kept
GROUP BY lang
""",
)
def pipeline_pretraining_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-corpus curation: quality-score → threshold
    filter → exact dedup (min-id survivor) → per-language token budget.

    The composition showcase: every stage is an existing operator
    (text.with_text_stats → filter → dedup.dedup_exact → groupBy), all
    engine-side, stage boundaries at the natural shuffles only (dedup's
    key groupBy and the final language rollup).
    """
    docs = _docs(spark, sf_dir)
    scored = text.with_text_stats(docs)
    deduped = dedup.dedup_exact(
        scored.filter(F.col("quality_score") >= 0.5),
        key_cols=["text"],
        id_col="doc_id",
    )
    return (
        deduped.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.sum(F.length("text")).cast("bigint").alias("total_chars"),
        )
    )


@register(
    "multimodal_png_resize",
    sql=f"""
WITH b AS (SELECT doc_id, MD5(CAST(doc_id AS VARCHAR)) AS m FROM documents)
SELECT doc_id AS media_id, 'image' AS kind,
       CAST(4 AS INTEGER) AS src_width, CAST(4 AS INTEGER) AS src_height,
       CAST(2 AS INTEGER) AS out_width, CAST(2 AS INTEGER) AS out_height,
       (CAST({_hex_byte("m", 0)} + {_hex_byte("m", 2)}
           + {_hex_byte("m", 8)} + {_hex_byte("m", 10)} AS DOUBLE)
        / 4.0) / 255.0 AS mean_luma
FROM b
""",
)
def multimodal_png_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL decode → nearest-neighbor resize: the md5-pixel 4×4 PNGs
    shrink to 2×2, which by the stated resample rule (src index =
    floor(i·src/out)) selects digest bytes 0, 2, 8, 10 — so DuckDB can
    restate the resized mean luma exactly and the hash match covers
    decode + resample end-to-end.
    """
    media = _fixture_media(spark, sf_dir, media_fixtures.png_4x4, "image", "image/png")
    return multimodal.decode_image_resized(media, out_w=2, out_h=2)


@register(
    "multimodal_jpeg_color_roundtrip",
    sql=f"""
WITH b AS (SELECT doc_id, MD5(CAST(doc_id AS VARCHAR)) AS m FROM documents),
c AS (
  SELECT doc_id,
         CAST({_hex_byte('m', 0)} AS DOUBLE) AS y,
         CAST({_hex_byte('m', 1)} AS DOUBLE) - 128.0 AS cb,
         CAST({_hex_byte('m', 2)} AS DOUBLE) - 128.0 AS cr
  FROM b),
rgb AS (
  SELECT doc_id,
         LEAST(GREATEST(round_even(y + 1.402 * cr, 0), 0.0), 255.0) AS r,
         LEAST(GREATEST(round_even(y - 0.344136 * cb - 0.714136 * cr, 0), 0.0), 255.0) AS g,
         LEAST(GREATEST(round_even(y + 1.772 * cb, 0), 0.0), 255.0) AS bch
  FROM c)
SELECT doc_id AS media_id, 'image' AS kind,
       CAST(1 AS INTEGER) AS width, CAST(1 AS INTEGER) AS height,
       CAST(3 AS INTEGER) AS n_channels,
       (0.299 * r + 0.587 * g + 0.114 * bch) / 255.0 AS mean_luma
FROM rgb
""",
)
def multimodal_jpeg_color_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL baseline COLOR JPEG round trip: encode a 1×1 4:4:4 YCbCr
    JPEG per doc (one interleaved MCU, three DC-only blocks from
    md5(doc_id) bytes 0-2), decode through the full baseline path —
    interleaved MCU walk, per-component DC predictors and tables,
    dezigzag/dequantize/IDCT per plane, JFIF BT.601 YCbCr→RGB — then
    BT.601 luma.  The oracle restates the exact conversion from the
    md5 bytes (round-then-clip, matching the decoder), so the value
    hash covers the color pipeline end-to-end bit-for-bit.
    """
    media = _fixture_media(spark, sf_dir, media_fixtures.jpeg_color, "image", "image/jpeg")
    return multimodal.decode_image_features(media, fake=False)


def _jpeg420_oracle_sql() -> str:
    """Restate the decoded 16×16 4:2:0 mean luma in DuckDB, matching
    numpy bit-for-bit.  The luma image is four constant 8×8 quadrants
    l0..l3; numpy's pairwise ``mean()`` over the row-major 16×16
    array reduces EXACTLY to (8·A + 8·B)/256 where A is the
    sequential 16-term alternating fold l0+l1+l0+… and B likewise for
    l2,l3: each half of 128 elements goes through numpy's 8-way
    unrolled loop whose eight accumulators all see the identical
    alternating sequence, and combining equal accumulators doubles
    exactly in IEEE (property-verified against numpy over random
    inputs).  The fold is list_reduce over the explicit 16-element
    list — DuckDB folds left sequentially, same order as numpy."""
    quad = []
    for i in range(4):
        quad.append(
            f"""         LEAST(GREATEST(round_even(y{i} + 1.402 * cr, 0), 0.0), 255.0) AS r{i},
         LEAST(GREATEST(round_even(y{i} - 0.344136 * cb - 0.714136 * cr, 0), 0.0), 255.0) AS g{i},
         LEAST(GREATEST(round_even(y{i} + 1.772 * cb, 0), 0.0), 255.0) AS b{i}"""
        )
    lumas = ",\n".join(
        f"         (0.299 * r{i} + 0.587 * g{i}) + 0.114 * b{i} AS l{i}"
        for i in range(4)
    )
    fold_a = "[" + ", ".join(["l0", "l1"] * 8) + "]"
    fold_b = "[" + ", ".join(["l2", "l3"] * 8) + "]"
    ybytes = ",\n".join(
        f"         CAST({_hex_byte('m', i)} AS DOUBLE) AS y{i}" for i in range(4)
    )
    quads = ",\n".join(quad)
    return f"""
WITH b AS (SELECT doc_id, MD5(CAST(doc_id AS VARCHAR)) AS m FROM documents),
c AS (
  SELECT doc_id,
{ybytes},
         CAST({_hex_byte('m', 4)} AS DOUBLE) - 128.0 AS cb,
         CAST({_hex_byte('m', 5)} AS DOUBLE) - 128.0 AS cr
  FROM b),
rgb AS (
  SELECT doc_id,
{quads}
  FROM c),
lm AS (
  SELECT doc_id,
{lumas}
  FROM rgb)
SELECT doc_id AS media_id, 'image' AS kind,
       CAST(16 AS INTEGER) AS width, CAST(16 AS INTEGER) AS height,
       CAST(3 AS INTEGER) AS n_channels,
       (8.0 * list_reduce({fold_a}, (x, y) -> x + y)
        + 8.0 * list_reduce({fold_b}, (x, y) -> x + y)) / 256.0 / 255.0
         AS mean_luma
FROM lm
"""


@register("multimodal_jpeg_420_roundtrip", sql=_jpeg420_oracle_sql())
def multimodal_jpeg_420_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL baseline **4:2:0** JPEG round trip — the dominant
    real-world chroma layout the 4:4:4-only decoder used to reject.
    Encode a 16×16 one-MCU 4:2:0 JPEG per doc (four diff-coded Y
    blocks + Cb + Cr from md5(doc_id) bytes 0-5), decode through the
    generalized baseline path — h×v multi-block MCU walk, shared
    per-component DC predictors, per-plane geometry, replication
    chroma upsampling, JFIF BT.601 conversion — then BT.601 mean
    luma.  The oracle restates the whole thing from the md5 bytes,
    INCLUDING numpy's pairwise mean reduced to a closed form
    (operators/multimodal.py::decode_jpeg)."""
    media = _fixture_media(spark, sf_dir, media_fixtures.jpeg_420, "image", "image/jpeg")
    return multimodal.decode_image_features(media, fake=False)


# ---------------------------------------------------------------------------
# round 4: SemDeDup / Bloom probe / substring-span dedup
# ---------------------------------------------------------------------------

#: SemDeDup oracle: retrain label-mean centroids, reassign cells (the
#: same cent/assign/best pipeline as _IVF_SQL), enumerate within-cell
#: pairs, and apply the smaller-id drop rule — fully engine-independent.
_SEMANTIC_SQL = f"""
WITH {_LABEL_CELL_CTES},
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         {_COS.format(a='a.embedding', b='b.embedding')} AS cos
  FROM best a JOIN best b ON a.cell = b.cell AND a.vec_id < b.vec_id),
dropped AS (SELECT DISTINCT id_b FROM pairs WHERE cos >= 0.4)
SELECT b.vec_id, b.cell, (d.id_b IS NOT NULL) AS is_dropped
FROM best b LEFT JOIN dropped d ON b.vec_id = d.id_b
"""


@register("dedup_semantic", sql=_SEMANTIC_SQL)
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup: coarse k-means-like cells
    (label-mean centroids — the same coarse quantizer the IVF family
    trains), then within-cell cosine pairs at ≥0.4, dropping each
    pair's larger id (operators/similarity.py::semantic_dedup).
    Oracle: the full pipeline — centroids, assignment, pairs, drop
    rule — reconstructed in DuckDB, bit-exact."""
    embs = _embs(spark, sf_dir)
    centroids = similarity.train_centroids(embs, by="label", vec_col="embedding")
    with_cells = similarity.assign_cells(embs, centroids, vec_col="embedding")
    return similarity.semantic_dedup(
        with_cells, id_col="vec_id", vec_col="embedding", threshold=0.4
    )


#: Bloom oracle: rebuild the identical filter (same md5-derived bit
#: positions, same 32-bit word packing) and probe it — both engines
#: compute the same bitmap, so even false positives agree.
_BLOOM_REF = "('src0','src2','src4','src6','src8')"
_BLOOM_SQL = f"""
WITH ref AS (SELECT text FROM documents WHERE source IN {_BLOOM_REF}),
pos AS (
  SELECT CAST(('0x' || SUBSTR(MD5(text || '#b0'), 1, 8)) AS BIGINT) % 65536 AS pos FROM ref
  UNION ALL
  SELECT CAST(('0x' || SUBSTR(MD5(text || '#b1'), 1, 8)) AS BIGINT) % 65536 FROM ref
  UNION ALL
  SELECT CAST(('0x' || SUBSTR(MD5(text || '#b2'), 1, 8)) AS BIGINT) % 65536 FROM ref),
words AS (
  SELECT pos // 32 AS word,
         BIT_OR(CAST(1 AS BIGINT) << CAST(pos % 32 AS INT)) AS bits
  FROM pos GROUP BY 1),
ppos AS (
  SELECT doc_id, CAST(('0x' || SUBSTR(MD5(text || '#b0'), 1, 8)) AS BIGINT) % 65536 AS pos FROM documents
  UNION ALL
  SELECT doc_id, CAST(('0x' || SUBSTR(MD5(text || '#b1'), 1, 8)) AS BIGINT) % 65536 FROM documents
  UNION ALL
  SELECT doc_id, CAST(('0x' || SUBSTR(MD5(text || '#b2'), 1, 8)) AS BIGINT) % 65536 FROM documents),
hit AS (
  SELECT doc_id,
         BOOL_AND(COALESCE(
           (w.bits & (CAST(1 AS BIGINT) << CAST(pos % 32 AS INT)))
             = (CAST(1 AS BIGINT) << CAST(pos % 32 AS INT)), FALSE)) AS bloom_hit
  FROM ppos LEFT JOIN words w ON pos // 32 = w.word
  GROUP BY doc_id)
SELECT doc_id, bloom_hit FROM hit
"""


@register("dedup_bloom_probe", sql=_BLOOM_SQL)
def dedup_bloom_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership precheck: build a 2¹⁶-bit, 3-hash filter
    over a reference corpus (even-numbered sources), then probe every
    document's text (operators/dedup.py::bloom_build/bloom_probe).
    The filter is a pure function of the data — both engines build the
    identical bitmap, so the driver hash-checks exact agreement,
    false positives included.  At 100 TB the build shuffles ≤2048
    rows total and the probe is a broadcast join: the cheapest
    possible "seen before?" gate in front of exact dedup."""
    docs = _docs(spark, sf_dir)
    ref = docs.filter(
        F.col("source").isin("src0", "src2", "src4", "src6", "src8")
    )
    words = dedup.bloom_build(ref, key_col="text", k=3)
    return dedup.bloom_probe(
        docs, words, key_col="text", id_col="doc_id", k=3
    )


_SPAN_SQL = """
WITH ng AS (
  SELECT doc_id, UNNEST(LIST_TRANSFORM(
           GENERATE_SERIES(1, GREATEST(LEN(STRING_SPLIT(text, ' ')) - 7, 1)),
           i -> ARRAY_TO_STRING(STRING_SPLIT(text, ' ')[i:i+7], ' '))) AS span
  FROM documents),
dup AS (SELECT span FROM ng GROUP BY span HAVING COUNT(DISTINCT doc_id) >= 2),
per AS (SELECT doc_id, COUNT(*) AS n_dup FROM ng JOIN dup USING (span) GROUP BY doc_id),
tot AS (SELECT doc_id,
               CAST(GREATEST(LEN(STRING_SPLIT(text, ' ')) - 7, 1) AS BIGINT) AS n_spans
        FROM documents)
SELECT t.doc_id, t.n_spans,
       CAST(COALESCE(p.n_dup, 0) AS BIGINT) AS n_dup_spans,
       CAST(COALESCE(p.n_dup, 0) AS DOUBLE) / t.n_spans AS dup_ratio
FROM tot t LEFT JOIN per p ON t.doc_id = p.doc_id
"""


@register("dedup_substring_spans", sql=_SPAN_SQL)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring span duplication per document: the share of each
    doc's 8-token spans (all positions, repeats kept) that occur in at
    least one other document — the span-level signal suffix-array
    dedup pipelines compute, here as explode + groupBy + semi join
    (operators/dedup.py::duplicated_span_stats)."""
    return dedup.duplicated_span_stats(
        _docs(spark, sf_dir), id_col="doc_id", text_col="text", n=8
    )


#: CTEs ``dim → … → pairs``: the cell-confined cosine≥0.3 similarity
#: edges (id_a < id_b) of :func:`_similarity_pairs`
_SIM_EDGE_CTES = f"""{_LABEL_CELL_CTES},
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM best a JOIN best b ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE {_COS.format(a='a.embedding', b='b.embedding')} >= 0.3)"""

#: CTEs ``deg → ok → orient`` over ``pairs``: each edge oriented from
#: its lower (degree·2³² + id) end, the key compared as exact BIGINTs
_ORIENT_CTES = """deg AS (
  SELECT node, COUNT(*) AS deg FROM (
    SELECT id_a AS node FROM pairs UNION ALL SELECT id_b FROM pairs)
  GROUP BY node),
ok AS (SELECT node, deg * 4294967296 + node AS ok FROM deg),
orient AS (
  SELECT CASE WHEN ka.ok < kb.ok THEN p.id_a ELSE p.id_b END AS src,
         CASE WHEN ka.ok < kb.ok THEN p.id_b ELSE p.id_a END AS dst,
         GREATEST(ka.ok, kb.ok) AS ok_dst
  FROM pairs p
  JOIN ok ka ON ka.node = p.id_a
  JOIN ok kb ON kb.node = p.id_b)"""


def _pagerank_sql(k: int = 4) -> str:
    """Unrolled k-iteration PageRank oracle over the cosine≥0.3
    similarity graph (qint-gridded neighbor sums, same as the
    operator)."""
    from financial_data_stream_processing_engine_spark.operators.graph import PR_QSCALE

    qsum = (
        qcast_sql("SUM(" + qint_sql("r.r / e.deg", PR_QSCALE) + ")")
        + f" * {10.0 ** -PR_QSCALE!r}"
    )
    lines = [
        f"""WITH {_SIM_EDGE_CTES},
sym AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM pairs),
deg AS (SELECT src, COUNT(*) AS deg FROM sym GROUP BY src),
ed AS (SELECT s.src, s.dst, d.deg FROM sym s JOIN deg d USING (src)),
nodes AS (SELECT vec_id AS node FROM embeddings),
nn AS (SELECT COUNT(*) AS n FROM nodes),
r0 AS (SELECT node, CAST(1.0 AS DOUBLE) / nn.n AS r FROM nodes, nn)"""
    ]
    for i in range(1, k + 1):
        lines.append(
            f"""s{i} AS (
  SELECT e.dst AS node, {qsum} AS s
  FROM ed e JOIN r{i - 1} r ON r.node = e.src GROUP BY e.dst)"""
        )
        lines.append(
            f"""r{i} AS (
  SELECT nodes.node,
         CAST(0.15 AS DOUBLE) / nn.n
           + CAST(0.85 AS DOUBLE) * COALESCE(s{i}.s, 0.0) AS r
  FROM nodes CROSS JOIN nn LEFT JOIN s{i} ON s{i}.node = nodes.node)"""
        )
    return ",\n".join(lines) + f"\nSELECT node, r AS rank FROM r{k}"


def _similarity_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cell-confined cosine≥0.3 similarity edge list (id_a < id_b)
    ALL five graph entries analyze: Lloyd centroids per label, nearest-
    cell assignment, within-cell pairs only (the coarse-quantizer bound
    that makes SemDeDup linear bounds edge enumeration here — all-pairs
    generation was measured 3.5× the whole pagerank entry's runtime at
    sf0.1), exact-cosine filter.  ONE definition keeps the five Spark
    entries and their shared oracle CTEs (``_SIM_EDGE_CTES``) in
    sync — a threshold or tie-break change lands everywhere or
    nowhere."""
    embs = _embs(spark, sf_dir)
    centroids = similarity.train_centroids(embs, by="label", vec_col="embedding")
    with_cells = similarity.assign_cells(embs, centroids, vec_col="embedding")
    a = with_cells.select(
        F.col("cell").alias("__cell"),
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("v_a"),
        dedup.vector_norm(F.col("embedding")).alias("na"),
    )
    b = a.select(
        F.col("__cell"),
        F.col("id_a").alias("id_b"),
        F.col("v_a").alias("v_b"),
        F.col("na").alias("nb"),
    )
    dot = dedup.pair_dot_udf()
    return (
        a.join(b, "__cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cos",
            F.try_divide(dot(F.col("v_a"), F.col("v_b")), F.col("na") * F.col("nb")),
        )
        .filter(F.col("cos") >= 0.3)
        .select("id_a", "id_b")
    )


@register("graph_pagerank_similarity", sql=_pagerank_sql(4))
def graph_pagerank_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (4 iterations, damping 0.85) over the undirected
    cosine≥0.3 similarity graph confined to coarse centroid cells
    (the SemDeDup quantizer bound keeps edge enumeration linear) — the centrality signal a
    dedup pipeline uses to pick the most-connected representative, and
    a second iterative-algorithm shape beside connected_components
    (operators/graph.py::pagerank).  Oracle: the full recursion
    unrolled in SQL with the same quantized-integer neighbor sums, so
    every iteration is bit-identical cross-engine."""
    from financial_data_stream_processing_engine_spark.operators.graph import pagerank

    pairs = _similarity_pairs(spark, sf_dir)
    sym = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).unionByName(
        pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
    )
    nodes = _embs(spark, sf_dir).select(F.col("vec_id").alias("node"))
    return pagerank(nodes, sym, k=4)


def _triangle_sql() -> str:
    """Oracle: the cell-confined cosine≥0.3 edge CTEs
    (``_SIM_EDGE_CTES``), then the identical degree-oriented
    wedge-closure count (``_ORIENT_CTES`` and the closed wedges) —
    the (degree·2³² + id) order key compares the same BIGINTs in both
    engines, so the count is exact, not approximate."""
    return f"""
WITH {_SIM_EDGE_CTES},
{_ORIENT_CTES},
wed AS (
  SELECT o1.dst AS v, o2.dst AS w
  FROM orient o1 JOIN orient o2
    ON o1.src = o2.src AND o1.ok_dst < o2.ok_dst),
tri AS (
  SELECT COUNT(*) AS n
  FROM wed JOIN orient e ON e.src = wed.v AND e.dst = wed.w)
SELECT CAST((SELECT COUNT(*) FROM embeddings) AS BIGINT) AS n_nodes,
       CAST((SELECT COUNT(*) FROM pairs) AS BIGINT) AS n_edges,
       CAST(tri.n AS BIGINT) AS n_triangles
FROM tri
"""


@register("graph_triangle_count_similarity", sql=_triangle_sql())
def graph_triangle_count_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle count over the same cell-confined cosine≥0.3
    similarity graph PageRank walks — the clustering-coefficient
    numerator a dedup/community pipeline reads as a density signal.
    Degree-oriented (NodeIterator++): every triangle counted once at
    its lowest-(degree, id) apex, wedge fan-out bounded by O(√|E|) on
    skewed graphs (operators/graph.py::triangle_count).  Oracle: the
    pagerank entry's edge CTEs + the identical oriented wedge-closure
    count in DuckDB."""
    from financial_data_stream_processing_engine_spark.operators.graph import triangle_count

    counts = triangle_count(_similarity_pairs(spark, sf_dir))
    n_nodes = _embs(spark, sf_dir).agg(F.count(F.lit(1)).alias("n_nodes"))
    return n_nodes.crossJoin(counts).select("n_nodes", "n_edges", "n_triangles")


def _lcc_sql() -> str:
    """Oracle: the triangle entry's edge and orientation CTEs, with the
    closed wedges exploded into their three corners and grouped per
    node; the only float op is the final exact-integer division."""
    return f"""
WITH {_SIM_EDGE_CTES},
{_ORIENT_CTES},
wed AS (
  SELECT o1.src AS u, o1.dst AS v, o2.dst AS w
  FROM orient o1 JOIN orient o2
    ON o1.src = o2.src AND o1.ok_dst < o2.ok_dst),
tris AS (
  SELECT u, v, w FROM wed JOIN orient e ON e.src = wed.v AND e.dst = wed.w),
corner AS (SELECT UNNEST([u, v, w]) AS node FROM tris),
tc AS (SELECT node, COUNT(*) AS n FROM corner GROUP BY node)
SELECT d.node, CAST(d.deg AS BIGINT) AS degree,
       CAST(COALESCE(tc.n, 0) AS BIGINT) AS n_triangles,
       CASE WHEN d.deg >= 2
            THEN CAST(COALESCE(tc.n, 0) * 2 AS DOUBLE)
                   / CAST(d.deg * (d.deg - 1) AS DOUBLE)
            ELSE CAST(0 AS DOUBLE) END AS lcc
FROM deg d LEFT JOIN tc ON tc.node = d.node
"""


@register("graph_clustering_coefficient", sql=_lcc_sql())
def graph_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node local clustering coefficient over the similarity
    graph: lcc(v) = 2·tri(v)/(deg(v)·(deg(v)−1)) — the density signal
    that separates tight near-duplicate communities (lcc → 1) from
    hub-and-spoke topic neighborhoods (lcc → 0), computed from the
    same degree-oriented wedge-closure core as the triangle entry with
    the closed wedges exploded per corner
    (operators/graph.py::clustering_coefficient).  Per-node output
    rows make this a value-dense driver check, not a single scalar."""
    from financial_data_stream_processing_engine_spark.operators.graph import (
        clustering_coefficient,
    )

    return clustering_coefficient(_similarity_pairs(spark, sf_dir))


# ---------------------------------------------------------------------------
# round 5 (cont.): product quantization ADC
# ---------------------------------------------------------------------------

#: squared-L2 fold (mirrors similarity.l2_sq — same left-to-right
#: double summation as _COS)
_L2 = (
    "list_reduce(list_transform(list_zip({a}, {b}),"
    " s -> (CAST(s[1] AS DOUBLE) - CAST(s[2] AS DOUBLE))"
    " * (CAST(s[1] AS DOUBLE) - CAST(s[2] AS DOUBLE))), (x,y) -> x+y)"
)

#: dot-product fold (mirrors similarity.dot_product)
_DOT = (
    "list_reduce(list_transform(list_zip({a}, {b}),"
    " s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)), (x,y) -> x+y)"
)

#: float-cast residual (double subtract, REAL round-trip — mirrors the
#: zip_with in similarity.ivfpq_topk)
_RESID = (
    "list_transform(list_zip({a}, {b}),"
    " s -> CAST(CAST(s[1] AS DOUBLE) - CAST(s[2] AS DOUBLE) AS REAL))"
)

#: IVF-PQ end to end: label coarse cells, argmax-cos assignment,
#: float residuals, ONE global residual codebook (smallest-id seeds +
#: one Lloyd round), encode, nprobe=2 probe, per-cell q·c + LUT grid
#: sum, top-10 with exact-dot audit — all recomputed in DuckDB.
_IVFPQ_SQL = f"""
WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
{_label_cent_ctes("dimc", "cmc")},
{_argmax_cell_ctes("cent", "assignc", "bestc")},
res AS (
  SELECT b.vec_id, b.cell,
         {_RESID.format(a='b.embedding', b='c.centroid')} AS r
  FROM bestc b JOIN cent c ON b.cell = c.centroid_id),
subs AS (SELECT UNNEST([0, 1, 2, 3]) AS sub),
subv AS (
  SELECT vec_id, cell, sub, r[sub * 16 + 1 : sub * 16 + 16] AS subvec
  FROM res CROSS JOIN subs),
seeds AS (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 8),
cb0 AS (
  SELECT s.sub, s.vec_id AS code_id, s.subvec AS codeword
  FROM subv s JOIN seeds ON s.vec_id = seeds.vec_id),
best1 AS (
  SELECT vec_id, sub, subvec, code_id AS pcell FROM (
    SELECT v.vec_id, v.sub, v.subvec, c.code_id,
           ROW_NUMBER() OVER (
             PARTITION BY v.vec_id, v.sub
             ORDER BY {_L2.format(a='v.subvec', b='c.codeword')} ASC,
                      c.code_id ASC) AS rk
    FROM subv v JOIN cb0 c ON v.sub = c.sub) WHERE rk = 1),
dim1 AS (
  SELECT sub, pcell, UNNEST(subvec) AS v,
         GENERATE_SUBSCRIPTS(subvec, 1) AS pos
  FROM best1),
cm1 AS (
  SELECT sub, pcell, pos, {davg_sql('CAST(v AS DOUBLE)')} AS m
  FROM dim1 GROUP BY sub, pcell, pos),
mean1 AS (
  SELECT sub, pcell AS code_id, LIST(CAST(m AS REAL) ORDER BY pos) AS codeword
  FROM cm1 GROUP BY sub, pcell),
cb1 AS (
  SELECT c.sub, c.code_id, COALESCE(m.codeword, c.codeword) AS codeword
  FROM cb0 c LEFT JOIN mean1 m ON c.sub = m.sub AND c.code_id = m.code_id),
codes AS (
  SELECT vec_id, cell, sub, code FROM (
    SELECT v.vec_id, v.cell, v.sub, c.code_id AS code,
           ROW_NUMBER() OVER (
             PARTITION BY v.vec_id, v.sub
             ORDER BY {_L2.format(a='v.subvec', b='c.codeword')} ASC,
                      c.code_id ASC) AS rk
    FROM subv v JOIN cb1 c ON v.sub = c.sub) WHERE rk = 1),
probe AS (
  SELECT centroid_id AS cell, centroid
  FROM cent CROSS JOIN q
  ORDER BY {_COS.format(a='centroid', b='q.embedding')} DESC, centroid_id
  LIMIT 2),
qres AS (
  SELECT p.cell,
         {_DOT.format(a='q.embedding', b='p.centroid')} AS qdotc,
         {_RESID.format(a='q.embedding', b='p.centroid')} AS qr
  FROM probe p CROSS JOIN q),
qsub AS (
  SELECT cell, qdotc, sub, qr[sub * 16 + 1 : sub * 16 + 16] AS qs
  FROM qres CROSS JOIN subs),
lut AS (
  SELECT s.cell, s.qdotc, c.sub, c.code_id,
         {_DOT.format(a='s.qs', b='c.codeword')} AS l
  FROM cb1 c JOIN qsub s ON c.sub = s.sub),
scored AS (
  SELECT k.vec_id, k.cell,
         l.qdotc + {qcast_sql(f"SUM({qint_sql('l.l')})")} * 1e-9 AS score_adc
  FROM codes k
  JOIN lut l ON k.cell = l.cell AND k.sub = l.sub AND k.code = l.code_id
  GROUP BY k.vec_id, k.cell, l.qdotc),
top AS (
  SELECT vec_id, cell, score_adc FROM scored
  ORDER BY score_adc DESC, vec_id LIMIT 10)
SELECT t.vec_id, t.cell, t.score_adc,
       {_DOT.format(a='e.embedding', b='q.embedding')} AS dot_exact,
       CAST(ROW_NUMBER() OVER (ORDER BY t.score_adc DESC, t.vec_id) AS INT) AS rank
FROM top t JOIN embeddings e ON t.vec_id = e.vec_id CROSS JOIN q
"""


@register("similarity_ivfpq_topk", sql=_IVFPQ_SQL)
def similarity_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ — the FAISS ``IVFADC`` composition and the canonical
    billion-scale ANN index: coarse cells bound the SCAN (nprobe
    cells, partition-prunable at 100 TB), PQ codes on the residuals
    bound the MEMORY (m codes per vector), and the score decomposes
    exactly as q·c + LUT(residual) per probed cell
    (operators/similarity.py::ivfpq_topk).  Coarse quantizer: the
    label-mean centroids (the kmeans-trained path is proven separately
    by ``similarity_ivf_kmeans_topk``; using the given-partition path
    keeps this oracle's CTE chain at one Lloyd recompute instead of
    three).  Oracle: cells, residuals, codebook training, encoding,
    probe, LUT grid sum and audit ALL recomputed in DuckDB,
    bit-exact."""
    embs = _embs(spark, sf_dir)
    cent = similarity.train_centroids(embs, by="label", vec_col="embedding")
    q = embs.filter(F.col("vec_id") == 0)
    return similarity.ivfpq_topk(
        embs, cent, q, k=10, nprobe=2, m=4, dims=64, ks=8,
        id_col="vec_id", vec_col="embedding",
    )


#: retrieval-quality evaluation: exact brute-force top-10 vs IVF
#: (label cells, nprobe=2) top-10 for the vec_id=0 query, overlap
#: counted — both pipelines recomputed in DuckDB.
_RECALL_SQL = f"""
WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
exact AS (
  SELECT vec_id FROM embeddings CROSS JOIN q
  ORDER BY {_COS.format(a='embedding', b='qvec')} DESC, vec_id
  LIMIT 10),
{_LABEL_CELL_CTES},
probe AS (
  SELECT centroid_id AS cell
  FROM cent CROSS JOIN q
  ORDER BY {_COS.format(a='centroid', b='qvec')} DESC, centroid_id
  LIMIT 2),
approxk AS (
  SELECT b.vec_id
  FROM best b JOIN probe p ON b.cell = p.cell CROSS JOIN q
  ORDER BY {_COS.format(a='b.embedding', b='qvec')} DESC, b.vec_id
  LIMIT 10),
hits AS (
  SELECT COUNT(*) AS n_hits FROM approxk
  WHERE vec_id IN (SELECT vec_id FROM exact))
SELECT CAST(10 AS INTEGER) AS k, n_hits, n_hits / 10.0e0 AS recall
FROM hits
"""


@register("similarity_recall_report", sql=_RECALL_SQL)
def similarity_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality evaluation — the report a retrieval pipeline runs
    nightly: recall@10 of the IVF index (label cells, nprobe=2)
    against the exact brute-force top-10 for a fixed query → one row
    (k, n_hits, recall).  Both pipelines are existing oracle-proven
    entries (``similarity_cosine_topk``, ``similarity_ivf_topk``);
    this entry pins their AGREEMENT level so an index regression
    (bad centroids, broken probe) shows up as a recall drop, not a
    silent quality loss.  Cost: the brute-force side is the audit —
    at 100 TB it runs on a sampled query set, which is exactly this
    shape."""
    embs = _embs(spark, sf_dir)
    q = embs.filter(F.col("vec_id") == 0)
    exact = similarity.cosine_topk(embs, q, k=10).select("vec_id")
    centroids = similarity.train_centroids(embs, by="label", vec_col="embedding")
    cells = similarity.assign_cells(embs, centroids, vec_col="embedding")
    approx = similarity.ivf_search(
        cells, centroids, q, k=10, nprobe=2, id_col="vec_id", vec_col="embedding"
    ).select("vec_id")
    hits = approx.join(exact, "vec_id", "semi").agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    return hits.select(
        F.lit(10).alias("k"),
        "n_hits",
        (F.col("n_hits") / F.lit(10.0)).alias("recall"),
    )


# ---------------------------------------------------------------------------
# round 6: real-merges BPE tokenization
# ---------------------------------------------------------------------------


def _bpe_sql() -> str:
    """Oracle: the IDENTICAL BPE merge walk restated as a DuckDB
    recursive CTE.  Token state is the delimiter string ``|t1|t2|…|``;
    one recursion step either re-applies the current merge (``replace``
    is left-to-right non-overlapping, the same scan as the Python
    pass) or advances to the next merge index once the pair is absent
    — the replace-to-fixpoint-in-table-order loop proven equivalent to
    greedy BPE in operators/text.py::bpe_tokenize_pieces.  A row exits
    the recursion when its merge index reaches len(merges) (the join
    against the merges relation fails)."""
    merges = text.DEFAULT_BPE_MERGES
    vals = ", ".join(
        f"({i}, '|{a}|{b}|', '|{a}{b}|')" for i, (a, b) in enumerate(merges)
    )
    n = len(merges)
    pat = text.BPE_PIECE_PATTERN
    return f"""
WITH RECURSIVE merges(mi, pat, rep) AS (SELECT * FROM (VALUES {vals})),
pieces AS (
  SELECT UNNEST(regexp_extract_all(lower(text), '{pat}')) AS piece
  FROM documents),
pc AS (SELECT piece, COUNT(*) AS n FROM pieces GROUP BY piece),
walk(piece, s, mi) AS (
  SELECT piece, '|' || array_to_string(regexp_extract_all(piece, '.'), '|') || '|', 0
  FROM pc WHERE regexp_full_match(piece, '[a-z]+')
  UNION ALL
  SELECT w.piece,
         CASE WHEN contains(w.s, m.pat) THEN replace(w.s, m.pat, m.rep) ELSE w.s END,
         CASE WHEN contains(w.s, m.pat) THEN w.mi ELSE w.mi + 1 END
  FROM walk w JOIN merges m ON m.mi = w.mi),
toks AS (
  SELECT piece, UNNEST(string_split(trim(s, '|'), '|')) AS token
  FROM walk WHERE mi = {n}
  UNION ALL
  SELECT piece, piece AS token FROM pc
  WHERE NOT regexp_full_match(piece, '[a-z]+')),
counted AS (
  SELECT t.token, CAST(SUM(pc.n) AS BIGINT) AS n_occurrences
  FROM toks t JOIN pc ON t.piece = pc.piece
  GROUP BY t.token)
SELECT token, n_occurrences,
       CAST(ROW_NUMBER() OVER (ORDER BY n_occurrences DESC, token) AS INT) AS rank
FROM counted
ORDER BY n_occurrences DESC, token
LIMIT 20
"""


@register("text_bpe_tokenize", sql=_bpe_sql())
def text_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-EXACT token accounting: a real merges-table BPE
    (loadable vocabulary, greedy highest-priority-pair loop — the
    Sennrich/GPT-2 algorithm) applied to the document corpus, top-20
    corpus tokens by exact occurrence count.  The Python path touches
    only DISTINCT word pieces (the word-cache trick); every
    per-occurrence cost is a JVM-side explode/groupBy — O(vocabulary)
    UDF work at any corpus size.  Oracle: the merge walk itself
    re-run in DuckDB as a recursive CTE over the same merges table
    (operators/text.py::{bpe_tokenize_pieces, bpe_token_counts})."""
    from pyspark.sql import Window as W

    counts = text.bpe_token_counts(_docs(spark, sf_dir))
    return (
        counts.orderBy(F.col("n_occurrences").desc(), F.col("token"))
        .limit(20)
        .withColumn(
            "rank",
            F.row_number().over(
                W.orderBy(F.col("n_occurrences").desc(), F.col("token"))
            ),
        )
    )


# ---------------------------------------------------------------------------
# round 6: CDC-driven incremental maintenance of the persisted IVF index
# ---------------------------------------------------------------------------

#: Oracle: the ENTIRE maintenance outcome recomputed from first
#: principles — new corpus version (reverse-updates / negate-inserts /
#: modulo-deletes), CDC classification (full outer join, null-safe
#: compare — mirroring operators/scale.py::table_diff), cell
#: assignment of every new-version vector (label-mean centroids, argmax
#: cosine, ties to the larger centroid id), and the touched-cell set
#: derived from the change rows alone (old cell from old_val, new cell
#: from new_val — the same no-index-scan rule the operator uses).  A
#: hash match proves the MAINTAINED on-disk index equals a full
#: rebuild cell-for-cell AND that exactly the delta-determined cells
#: were touched.
_INDEX_MAINTAIN_SQL = f"""
WITH {_label_cent_ctes()},
old_v AS (SELECT vec_id, embedding FROM embeddings),
upd AS (
  SELECT vec_id, list_reverse(embedding) AS embedding
  FROM old_v WHERE vec_id % 13 = 1),
ins AS (
  SELECT vec_id + 1000000 AS vec_id, list_transform(embedding, x -> -x) AS embedding
  FROM old_v WHERE vec_id % 19 = 2),
chg AS (SELECT * FROM upd UNION ALL SELECT * FROM ins),
new_v AS (
  SELECT * FROM (
    SELECT o.vec_id, o.embedding FROM old_v o
    WHERE NOT EXISTS (SELECT 1 FROM chg c WHERE c.vec_id = o.vec_id)
    UNION ALL SELECT * FROM chg)
  WHERE vec_id % 17 != 3),
feed AS (
  SELECT COALESCE(o.vec_id, n.vec_id) AS vec_id,
         o.embedding AS old_emb, n.embedding AS new_emb,
         CASE WHEN o.vec_id IS NULL THEN 'I'
              WHEN n.vec_id IS NULL THEN 'D'
              WHEN o.embedding IS DISTINCT FROM n.embedding THEN 'U' END AS ct
  FROM old_v o FULL OUTER JOIN new_v n ON o.vec_id = n.vec_id),
probe_old AS (SELECT vec_id, old_emb AS embedding FROM feed WHERE ct IN ('D','U')),
probe_new AS (SELECT vec_id, new_emb AS embedding FROM feed WHERE ct IN ('I','U')),
assign_all AS (
  SELECT vec_id, centroid_id AS cell FROM (
    SELECT e.vec_id, c.centroid_id,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY {_COS.format(a='e.embedding', b='c.centroid')} DESC,
                      c.centroid_id DESC) AS rk
    FROM new_v e CROSS JOIN cent c) WHERE rk = 1),
assign_old AS (
  SELECT vec_id, centroid_id AS cell FROM (
    SELECT e.vec_id, c.centroid_id,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY {_COS.format(a='e.embedding', b='c.centroid')} DESC,
                      c.centroid_id DESC) AS rk
    FROM probe_old e CROSS JOIN cent c) WHERE rk = 1),
assign_new AS (
  SELECT vec_id, centroid_id AS cell FROM (
    SELECT e.vec_id, c.centroid_id,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY {_COS.format(a='e.embedding', b='c.centroid')} DESC,
                      c.centroid_id DESC) AS rk
    FROM probe_new e CROSS JOIN cent c) WHERE rk = 1),
touched AS (
  SELECT DISTINCT cell FROM (
    SELECT cell FROM assign_old UNION ALL SELECT cell FROM assign_new)),
rep AS (
  SELECT cell, COUNT(*) AS n_vectors, SUM(vec_id) AS sum_vec_id
  FROM assign_all GROUP BY cell)
SELECT r.cell,
       CAST(r.n_vectors AS BIGINT) AS n_vectors,
       CAST(r.sum_vec_id AS BIGINT) AS sum_vec_id,
       (t.cell IS NOT NULL) AS touched
FROM rep r LEFT JOIN touched t ON r.cell = t.cell
"""


@register("similarity_index_maintain", sql=_INDEX_MAINTAIN_SQL)
def similarity_index_maintain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ANN index maintenance — the missing lifecycle piece
    between "build once" and "retrain on every corpus change": a CDC
    change feed (deterministic reverse-updates, negate-inserts and
    modulo-deletes over the embeddings corpus) is applied DIRECTLY to
    the persisted cell-partitioned IVF index
    (operators/similarity.py::maintain_ivf_index): only the cells the
    delta touches are read (partition pruning) and rewritten (dynamic
    partition overwrite); untouched partitions are never opened.  The
    result reads the maintained ON-DISK index back and reports per
    cell (n_vectors, sum_vec_id, touched); the oracle recomputes the
    full-rebuild assignment AND the delta-determined touched set, so a
    hash match proves maintained == rebuilt while touching only the
    right cells (the pytest twin additionally pins that untouched
    partition FILES are byte-identical)."""

    from financial_data_stream_processing_engine_spark.operators.scale import (
        merge_upsert,
        table_diff,
    )

    embs = _embs(spark, sf_dir)
    old = embs.select("vec_id", "embedding")
    # centroids materialized ONCE (r18): broadcast-built in
    # save_ivf_index and twice more inside maintain_ivf_index, each
    # build re-running the posexplode/davg plan on unbroken lineage
    cent = similarity.train_centroids(
        embs, by="label", vec_col="embedding"
    ).localCheckpoint()
    idx = scratch_dir(prefix="ivf_maint_")
    similarity.save_ivf_index(old, cent, idx, vec_col="embedding")

    upd = old.filter(F.col("vec_id") % 13 == 1).select(
        "vec_id", F.reverse("embedding").alias("embedding")
    )
    ins = old.filter(F.col("vec_id") % 19 == 2).select(
        (F.col("vec_id") + F.lit(1000000)).alias("vec_id"),
        F.transform("embedding", lambda v: -v).alias("embedding"),
    )
    new_v = merge_upsert(old, upd.unionByName(ins), keys=["vec_id"]).where(
        F.col("vec_id") % 17 != 3
    )
    # diff materialized ONCE (r18): maintain_ivf_index references it in
    # three subtrees (up/old assignments + stale keys) across two jobs,
    # each re-executing the full-outer-join plan without this
    diff = table_diff(
        old, new_v, keys=["vec_id"], compare_cols=["embedding"]
    ).localCheckpoint()
    touched = similarity.maintain_ivf_index(
        spark, idx, diff, cent, id_col="vec_id", vec_col="embedding"
    )
    maintained, _ = similarity.load_ivf_index(spark, idx)
    rep = maintained.groupBy("cell").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.sum("vec_id").alias("sum_vec_id"),
    )
    return rep.join(
        touched.withColumn("touched", F.lit(True)), "cell", "left"
    ).select(
        "cell",
        "n_vectors",
        "sum_vec_id",
        F.coalesce("touched", F.lit(False)).alias("touched"),
    )


@register("streaming_index_maintain", sql=_INDEX_MAINTAIN_SQL)
def streaming_index_maintain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN index freshness as a CONTINUOUS process: the same CDC
    change feed as ``similarity_index_maintain``, but arriving as a
    live stream (vec_id-sliced, see streaming/sources.py::_sliced_feed),
    each batch applied to the persisted IVF index by
    ``maintain_ivf_index`` (the ``streaming_ivm_orders_agg`` pattern,
    pointed at index partitions instead of aggregate state).  Slices
    are disjoint by vector id, so each batch is a valid delta against
    the current index and the final on-disk content is identical to
    one-shot maintenance — which is why the batch entry's
    full-rebuild oracle certifies the STREAMED index bit-for-bit,
    touched-set included (per-row touched cells are a function of the
    row alone, so the union over batches equals the full delta's set).  At 100 TB this is the serving
    story: index staleness bounded by the trigger interval, per-batch
    cost bounded by the cells that batch touches
    (operators/similarity.py::maintain_ivf_index)."""

    from financial_data_stream_processing_engine_spark.operators.scale import (
        merge_upsert,
        table_diff,
    )

    embs = _embs(spark, sf_dir)
    old = embs.select("vec_id", "embedding")
    # materialize the centroid frame ONCE (r18): it is broadcast-built
    # in save_ivf_index and TWICE per micro-batch (up/old cell
    # assignment in maintain_ivf_index), and broadcast builds re-run
    # an unbroken lineage per job — ~7 re-executions of the
    # posexplode/davg plan without this (the pagerank lineage rule)
    cent = similarity.train_centroids(
        embs, by="label", vec_col="embedding"
    ).localCheckpoint()
    idx = scratch_dir(prefix="ivf_stream_maint_")
    similarity.save_ivf_index(old, cent, idx, vec_col="embedding")

    upd = old.filter(F.col("vec_id") % 13 == 1).select(
        "vec_id", F.reverse("embedding").alias("embedding")
    )
    ins = old.filter(F.col("vec_id") % 19 == 2).select(
        (F.col("vec_id") + F.lit(1000000)).alias("vec_id"),
        F.transform("embedding", lambda v: -v).alias("embedding"),
    )
    new_v = merge_upsert(old, upd.unionByName(ins), keys=["vec_id"]).where(
        F.col("vec_id") % 17 != 3
    )
    # materialize the diff ONCE (r18): the three slice writes of the
    # feed each re-executed the full-outer-join diff plan from scratch —
    # one checkpoint job replaces two re-executions
    diff = table_diff(
        old, new_v, keys=["vec_id"], compare_cols=["embedding"]
    ).localCheckpoint()
    touched_dir = scratch_dir(prefix="ivf_touched_")

    def apply_delta(batch_df: DataFrame, epoch_id: int) -> None:
        t = similarity.maintain_ivf_index(
            spark, idx, batch_df, cent, id_col="vec_id", vec_col="embedding"
        )
        t.write.mode("append").parquet(touched_dir)

    _sliced_feed(diff, "vec_id", apply_delta)

    touched = spark.read.parquet(touched_dir).distinct()
    maintained, _ = similarity.load_ivf_index(spark, idx)
    rep = maintained.groupBy("cell").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.sum("vec_id").alias("sum_vec_id"),
    )
    return rep.join(
        touched.withColumn("touched", F.lit(True)), "cell", "left"
    ).select(
        "cell",
        "n_vectors",
        "sum_vec_id",
        F.coalesce("touched", F.lit(False)).alias("touched"),
    )


# ---------------------------------------------------------------------------
# µ-law WAV + MJPEG/AVI round trips (round 8)
# ---------------------------------------------------------------------------


def _ulaw_oracle_sql() -> str:
    """Restate the µ-law decode bitwise: per md5 byte, the G.711
    segment expansion ((mant·8+0x84)·2^exp − 0x84) in exact integer
    arithmetic (sign is RMS-irrelevant), squares summed as BIGINTs
    (≤16·32124² < 2^53, exact), one division by the dyadic
    16·32768² and a single SQRT rounding — the 8-bit-PCM WAV oracle's
    argument on the 16-bit µ-law scale."""
    mag = (
        "((((255 - ({b})) % 16) * 8 + 132)"
        " * (1 << (((255 - ({b})) // 16) % 8)) - 132)"
    )
    sq = f"({mag} * {mag})"
    return f"""
WITH b AS (SELECT doc_id, MD5(CAST(doc_id AS VARCHAR)) AS m FROM documents)
SELECT doc_id AS media_id, 'audio' AS kind,
       CAST(8000 AS INTEGER) AS sample_rate,
       CAST(16 AS BIGINT) AS n_samples,
       CAST(16 AS DOUBLE) / 8000.0 AS duration_s,
       SQRT(CAST({_md5_sum(sq)} AS DOUBLE) / 17179869184.0) AS rms
FROM b
"""


@register("multimodal_wav_ulaw_roundtrip", sql=_ulaw_oracle_sql())
def multimodal_wav_ulaw_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL G.711 µ-law WAV round trip: each doc's 16 md5 bytes are
    written verbatim as µ-law code words in a hand-built RIFF file
    (fmt tag 7, a ``fact`` chunk the walker must skip, 8 kHz mono) —
    decode complements each byte and applies the CCITT segment
    expansion (operators/multimodal.py::decode_audio_features).

    Oracle strategy: the expansion is pure integer arithmetic, so
    DuckDB recomputes every 16-bit magnitude exactly from the md5
    bytes; squares and their sum stay below 2^53 (exact), the mean
    divides by the dyadic 16·32768², and the single SQRT rounding
    matches bitwise — the hash gate covers the RIFF walk (including
    the fact-chunk skip), the complement, and the segment expansion.
    IMA-ADPCM decode and the sign path are pinned by
    tests/test_multimodal_codecs.py."""
    media = _fixture_media(spark, sf_dir, media_fixtures.wav_ulaw, "audio", "audio/basic")
    return multimodal.decode_audio_features(media, fake=False)


def _mjpeg_oracle_sql() -> str:
    """Four rows per doc — frame f's mean luma is the mean of md5
    bytes 4f..4f+3 (the DC-only constant-block exactness argument of
    the baseline JPEG oracle, once per frame)."""
    selects = []
    for f in range(4):
        mean = " + ".join(_hex_byte("m", 4 * f + k) for k in range(4))
        selects.append(
            f"""SELECT doc_id AS media_id, 'video' AS kind, CAST({f} AS INTEGER) AS frame_idx,
       CAST(16 AS INTEGER) AS width, CAST(16 AS INTEGER) AS height,
       CAST(1 AS INTEGER) AS n_channels,
       (CAST({mean} AS DOUBLE) / 4.0) / 255.0 AS mean_luma
FROM b"""
        )
    u = "\nUNION ALL\n".join(selects)
    return f"""
WITH b AS (SELECT doc_id, MD5(CAST(doc_id AS VARCHAR)) AS m FROM documents)
{u}
"""


@register("multimodal_video_frames_roundtrip", sql=_mjpeg_oracle_sql())
def multimodal_video_frames_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video-frame decode: each doc's payload is a well-formed
    MJPEG AVI (RIFF container: hdrl with avih + vids/MJPG stream
    headers, movi list of four '00dc' frame chunks) whose frames are
    DC-only 16×16 baseline JPEGs of md5 bytes — the container walk
    must parse nested word-aligned LIST chunks, find movi, and feed
    each frame chunk to the full JPEG decoder
    (operators/multimodal.py::decode_video_frames).  This retires the
    offset-lattice placeholder story: frames are actually decoded,
    per-frame, through the same codec the image entries certify.

    Oracle strategy: the baseline-JPEG DC-only exactness argument,
    once per frame — DuckDB states each frame's dims and exact mean
    luma from the md5 bytes, so any corruption in the RIFF walk,
    frame-chunk slicing, or the per-frame JPEG decode breaks the
    hash.  Truncated containers, odd-sized (padded) chunks and
    corrupt-single-frame isolation are pinned by
    tests/test_multimodal_codecs.py."""
    media = _fixture_media(spark, sf_dir, media_fixtures.mjpeg_avi, "video", "video/x-msvideo")
    return multimodal.decode_video_frames(media, max_frames=8)


def _video_scene_cuts_sql(threshold: str = "0.25e0") -> str:
    """Oracle: the MJPEG roundtrip's per-frame md5 luma reconstruction
    (frame f's mean luma = mean of digest bytes 4f..4f+3 — the DC-only
    constant-block exactness argument), then the identical LAG window
    keyed (media) ordered by frame, the single-subtract delta, exact
    ABS and the same DOUBLE threshold literal — frame 0 excluded by
    the NULL lag exactly as in Spark."""
    rows = []
    for f in range(4):
        mean = " + ".join(_hex_byte("m", 4 * f + k) for k in range(4))
        rows.append(
            f"SELECT doc_id AS media_id, {f} AS frame_idx,"
            f" (CAST({mean} AS DOUBLE) / 4.0) / 255.0 AS mean_luma FROM b"
        )
    u = "\nUNION ALL\n".join(rows)
    return f"""
WITH b AS (SELECT doc_id, MD5(CAST(doc_id AS VARCHAR)) AS m FROM documents),
fl AS ({u}),
d AS (
  SELECT media_id, frame_idx, mean_luma,
         mean_luma - LAG(mean_luma, 1) OVER (
           PARTITION BY media_id ORDER BY frame_idx) AS luma_delta
  FROM fl)
SELECT media_id, CAST(frame_idx AS INT) AS frame_idx, mean_luma, luma_delta,
       ABS(luma_delta) >= {threshold} AS is_cut
FROM d WHERE luma_delta IS NOT NULL
"""


@register("multimodal_video_scene_cuts", sql=_video_scene_cuts_sql())
def multimodal_video_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-difference scene-cut detection — the shot-boundary stage
    of a video-curation pipeline (clip segmentation for captioning,
    duplicate-shot removal, boundary-aware frame sampling), composed
    on the REAL decode path: each doc's MJPEG AVI walks the RIFF
    container and decodes every frame through the full JPEG decoder
    (the roundtrip entry's machinery), then one LAG window keyed
    (media) ordered by frame computes the inter-frame luminance delta
    and thresholds it (|Δ| ≥ 0.25) — frame 0 excluded, the flux
    convention (operators/multimodal.py::{decode_video_frames,
    video_scene_cuts}).  3 value-dense rows per doc: (media_id,
    frame_idx, mean_luma, luma_delta, is_cut).

    Exactness: decoded lumas are the bitwise-proven roundtrip values;
    the delta is one IEEE subtract, ABS exact, the threshold a shared
    DOUBLE literal — bit-identical cross-engine.

    Oracle: the roundtrip's md5 luma reconstruction + the identical
    LAG/subtract/ABS/threshold chain (see _video_scene_cuts_sql)."""
    media = _fixture_media(spark, sf_dir, media_fixtures.mjpeg_avi, "video", "video/x-msvideo")
    frames = multimodal.decode_video_frames(media, max_frames=8)
    return multimodal.video_scene_cuts(frames, threshold=0.25)


def _audio_spectrum_sql(n_fft: int = 16, bins: tuple[int, ...] = (1, 2, 3)) -> str:
    """DuckDB reconstruction of the DFT power spectrum: recompute the
    md5 PCM samples, join the SAME Python-computed twiddle doubles
    (dlit_sql round-trips each bit-exactly), and restate the identical
    product → 1e-9-grid quantize → exact sum → power arithmetic.  Any
    divergence anywhere in the RIFF walk, PCM normalization, twiddle
    table or aggregation order is a value-hash mismatch."""
    samp = ", ".join(
        f"struct_pack(pos := {i}, x := CAST({_hex_byte('m', i)} - 128 AS DOUBLE)"
        " / 128.0e0)"
        for i in range(n_fft)
    )
    tw = ", ".join(
        f"struct_pack(pos := {pos}, k := {k}, cosv := {dlit_sql(c)},"
        f" sinv := {dlit_sql(s)})"
        for (pos, k, c, s) in multimodal._dft_twiddles(n_fft, bins)
    )
    return f"""
WITH b AS (SELECT doc_id, MD5(CAST(doc_id AS VARCHAR)) AS m FROM documents),
samp AS (SELECT doc_id, UNNEST([{samp}]) AS s FROM b),
tw AS (SELECT UNNEST([{tw}]) AS w),
agg AS (
  SELECT doc_id AS media_id, w.k AS k,
         {qcast_sql("SUM(" + qint_sql("s.x * w.cosv") + ")")} * 1e-09 AS re_sum,
         {qcast_sql("SUM(" + qint_sql("s.x * w.sinv") + ")")} * 1e-09 AS im_sum
  FROM samp, tw WHERE s.pos = w.pos
  GROUP BY doc_id, w.k)
SELECT media_id, CAST(k AS INT) AS k, re_sum, im_sum,
       re_sum * re_sum + im_sum * im_sum AS power
FROM agg
"""


@register("multimodal_audio_spectrum", sql=_audio_spectrum_sql())
def multimodal_audio_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-domain audio features, JVM-side: decode each doc's
    16-sample 8-bit-PCM WAV (the wav_roundtrip fixture) into a sample
    ARRAY (operators/multimodal.py::decode_audio_samples — the Python
    decode seam), then compute DFT power at bins k=1,2,3 as plain
    relational algebra: posexplode + broadcast twiddle-table join +
    one map-side-combinable aggregation on the 1e-9 quantized grid
    (::audio_power_spectrum).  The analysis leaves Python entirely —
    tone detection / spectral filtering over a 100 TB audio corpus is
    one shuffle keyed on (media, bin), linear in samples.

    Oracle: full reconstruction — md5 sample bytes, the identical
    twiddle doubles as VARCHAR-bridged literals, the identical
    quantize-sum-square chain (see _audio_spectrum_sql)."""
    media = _fixture_media(spark, sf_dir, media_fixtures.wav, "audio", "audio/wav")
    samples = multimodal.decode_audio_samples(media, max_samples=16)
    return multimodal.audio_power_spectrum(samples, n_fft=16, bins=(1, 2, 3))


@register("text_bpe_train", sql=text.bpe_train_sql_ctes(10))
def text_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAIN a BPE merges table from the corpus — the learning half of
    the tokenizer story (``text_bpe_tokenize`` applies a fixed table;
    this entry derives one): 10 greedy Sennrich rounds over the
    word-frequency vocabulary, returning (rank, left_tok, right_tok,
    pair_count) in learned order (operators/text.py::bpe_train_merges).

    The corpus is scanned once (word-frequency groupBy); every round
    after that is vocabulary-sized — one pair-count shuffle, a 1-row
    deterministic argmax collect, a single-pass merge — which is why
    real vocabularies train from frequency tables at any corpus scale.
    Oracle: the identical 10 rounds unrolled as MATERIALIZED DuckDB
    CTEs (::bpe_train_sql_ctes); any divergence in pair counting
    (overlaps included), tie-breaking, or merge-pass semantics
    desynchronizes every later round's counts and mismatches."""
    return text.bpe_train_merges(_docs(spark, sf_dir), k=10)


@register(
    "multimodal_tiff_roundtrip",
    sql=f"""
WITH b AS (SELECT doc_id, MD5(CAST(doc_id AS VARCHAR)) AS m FROM documents)
SELECT doc_id AS media_id, 'image' AS kind,
       CAST(4 AS INTEGER) AS width, CAST(4 AS INTEGER) AS height,
       CAST(1 AS INTEGER) AS n_channels,
       (CAST({_md5_sum("({b})")} AS DOUBLE) / 16.0) / 255.0 AS mean_luma
FROM b
""",
)
def multimodal_tiff_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL TIFF codec round trip — the sixth image format in the
    shared magic dispatch, and the one where ENDIANNESS is data: each
    doc's 4×4 grayscale TIFF cycles by doc_id through II/MM byte
    order, one- and two-strip layouts (offset-addressed strip
    arrays), PackBits, LZW compression (MSB-first early-change
    codes — the variant most real scanned TIFFs use), LZW under
    Predictor 2 (horizontal differencing — the default pairing of
    common TIFF writers, undone by a per-row cumsum mod 256),
    Deflate (Compression 8: zlib strip streams — the remaining
    common real-world variant, routed through the same stdlib
    inflate the PNG path trusts) under the same predictor, and
    WhiteIsZero photometric with pre-inverted samples
    (operators/multimodal.py::decode_tiff
    — IFD tag walk, inline-vs-offset values, strip reassembly,
    PackBits runs, predictor reversal, photometric normalization).
    All seven variants decode to the SAME md5 pixel bytes, so the
    single md5 oracle certifies every path bitwise; layout-sensitive
    behavior (truncation, bad magic, RGB, strip math, LZW code-width
    growth and ClearCode table resets up to 64 KB strips,
    predictor-2 delta round trips, plain and legacy-32946 Deflate,
    corrupt-zlib isolation, float-predictor rejection) is
    pinned by tests/test_multimodal_codecs.py.
    """
    media = _fixture_media(spark, sf_dir, media_fixtures.tiff, "image", "image/tiff")
    return multimodal.decode_image_features(media, fake=False)


def _kcore_sql(k: int = 2, rounds: int = 12) -> str:
    """Oracle: the cell-confined edge CTEs (``_SIM_EDGE_CTES``), then
    the k-core peel UNROLLED ``rounds`` times — each round MATERIALIZED
    (rounds reference their predecessor more than once; DuckDB's
    default CTE inlining would replan an exponentially growing tree).
    Peeling is monotone, so once the fixpoint is reached every further
    unrolled round is the identity and the final round equals the true
    k-core — the comparison against Spark's iterate-to-convergence
    peel therefore certifies BOTH that the fixpoint is correct and
    that it is reached within ``rounds``."""
    parts = [
        """a0 AS MATERIALIZED (
  SELECT id_a AS node FROM pairs UNION SELECT id_b FROM pairs)"""
    ]
    prev = "a0"
    for i in range(1, rounds + 1):
        parts.append(
            f"""e{i} AS MATERIALIZED (
  SELECT p.id_a, p.id_b FROM pairs p
  JOIN {prev} x ON x.node = p.id_a
  JOIN {prev} y ON y.node = p.id_b),
d{i} AS MATERIALIZED (
  SELECT node, COUNT(*) AS deg FROM (
    SELECT id_a AS node FROM e{i} UNION ALL SELECT id_b FROM e{i})
  GROUP BY node),
a{i} AS MATERIALIZED (SELECT node FROM d{i} WHERE deg >= {k})"""
        )
        prev = f"a{i}"
    return (
        f"\nWITH {_SIM_EDGE_CTES},\n"
        + ",".join(parts)
        + f"""
SELECT a.node, CAST(d.deg AS BIGINT) AS core_deg
FROM a{rounds} a JOIN d{rounds} d USING (node)
"""
    )


@register("graph_kcore_similarity", sql=_kcore_sql(2, 12))
def graph_kcore_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-core of the cell-confined cosine≥0.3 similarity graph — the
    density pruning a community/centrality pipeline applies before
    heavier analysis: iterative peeling drops pendant and isolated
    vectors until every survivor keeps ≥2 in-core neighbours
    (operators/graph.py::kcore).  A third iterative-algorithm shape
    beside min-label propagation (data-dependent round count,
    monotone-shrinking state) and fixed-k PageRank: convergence is a
    per-round bounded driver scalar, and the count-equality test is
    sound precisely BECAUSE peeling is monotone.  Oracle: the same
    peel unrolled as MATERIALIZED DuckDB CTEs past the fixpoint, so
    the driver comparison certifies the fixpoint AND that Spark's
    iteration reached it."""
    from financial_data_stream_processing_engine_spark.operators.graph import kcore

    return kcore(_similarity_pairs(spark, sf_dir), k=2)


def _bpe_train_apply_sql(k: int = 10) -> str:
    """Oracle for the end-to-end tokenizer chain: the unrolled trainer
    CTEs (operators/text.py::bpe_train_sql_parts), the learned rounds
    collected into a (mi, pat, rep) merges relation, then the SAME
    recursive apply walk the fixed-table ``text_bpe_tokenize`` oracle
    uses — one query retrains the vocabulary from scratch AND
    re-tokenizes the corpus under it.  Training and apply share ONE
    merge-application semantic: the replace-to-fixpoint walk (a
    single delimiter-string pass is NOT equivalent — adjacent
    occurrences share their boundary ``|``, the bug our property
    sweep caught), so the learned table and the tokenization are
    mutually consistent by construction."""
    pat = text.BPE_PIECE_PATTERN
    return f"""
WITH RECURSIVE {text.bpe_train_sql_parts(k)},
lm_merges(mi, pat, rep) AS MATERIALIZED (
  SELECT rank - 1, '|' || left_tok || '|' || right_tok || '|',
         '|' || left_tok || right_tok || '|'
  FROM ({text.bpe_train_sql_union(k)})),
pieces AS (
  SELECT UNNEST(regexp_extract_all(lower(text), '{pat}')) AS piece
  FROM documents),
pc AS (SELECT piece, COUNT(*) AS n FROM pieces GROUP BY piece),
walk(piece, s, mi) AS (
  SELECT piece, '|' || array_to_string(regexp_extract_all(piece, '.'), '|') || '|', 0
  FROM pc WHERE regexp_full_match(piece, '[a-z]+')
  UNION ALL
  SELECT w.piece,
         CASE WHEN contains(w.s, m.pat) THEN replace(w.s, m.pat, m.rep) ELSE w.s END,
         CASE WHEN contains(w.s, m.pat) THEN w.mi ELSE w.mi + 1 END
  FROM walk w JOIN lm_merges m ON m.mi = w.mi),
toks AS (
  SELECT piece, UNNEST(string_split(trim(s, '|'), '|')) AS token
  FROM walk WHERE mi = {k}
  UNION ALL
  SELECT piece, piece AS token FROM pc
  WHERE NOT regexp_full_match(piece, '[a-z]+')),
counted AS (
  SELECT t.token, CAST(SUM(pc.n) AS BIGINT) AS n_occurrences
  FROM toks t JOIN pc ON t.piece = pc.piece
  GROUP BY t.token)
SELECT token, n_occurrences,
       CAST(ROW_NUMBER() OVER (ORDER BY n_occurrences DESC, token) AS INT) AS rank
FROM counted
ORDER BY n_occurrences DESC, token
LIMIT 20
"""


@register("text_bpe_train_tokenize", sql=_bpe_train_apply_sql(10))
def text_bpe_train_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tokenizer chain END TO END: learn 10 BPE merges from the
    corpus (``text_bpe_train``'s trainer), then tokenize the SAME
    corpus under the learned vocabulary and report the top-20 tokens
    by exact occurrence — the closed loop a real pipeline runs when it
    retrains its tokenizer on refreshed data.  The learned table moves
    from trainer to tokenizer as a k-row driver collect (bounded —
    merges tables ARE driver-sized artifacts); corpus-scale work stays
    in the two word-cache paths already proven separately.  Oracle:
    one DuckDB query that retrains the rounds AND re-runs the
    recursive apply walk under the learned merges — divergence in
    EITHER half desynchronizes the token histogram."""
    from pyspark.sql import Window as W

    docs = _docs(spark, sf_dir)
    learned = text.bpe_train_merges(docs, k=10).orderBy("rank").collect()
    merges = tuple((r["left_tok"], r["right_tok"]) for r in learned)
    counts = text.bpe_token_counts(docs, merges=merges)
    return (
        counts.orderBy(F.col("n_occurrences").desc(), F.col("token"))
        .limit(20)
        .withColumn(
            "rank",
            F.row_number().over(
                W.orderBy(F.col("n_occurrences").desc(), F.col("token"))
            ),
        )
    )


def _pcm_ctes(n_samples: int) -> str:
    """CTEs ``b → samp``: each doc's ``n_samples`` PCM samples rebuilt
    from md5 digests (digest ``i`` of ``doc_id`` or ``'doc_id:i'``
    holds samples 16i..16i+15), one ``s = (pos, x)`` row per sample."""
    m_cols = ", ".join(
        "MD5(CAST(doc_id AS VARCHAR)) AS m0"
        if i == 0
        else f"MD5(CAST(doc_id AS VARCHAR) || ':{i}') AS m{i}"
        for i in range(n_samples // 16)
    )
    samp = ", ".join(
        f"struct_pack(pos := {i}, x := CAST({_hex_byte(f'm{i // 16}', i % 16)}"
        " - 128 AS DOUBLE) / 128.0e0)"
        for i in range(n_samples)
    )
    return f"""b AS (SELECT doc_id, {m_cols} FROM documents),
samp AS (SELECT doc_id, UNNEST([{samp}]) AS s FROM b)"""


def _stft_ctes(
    n_samples: int, n_fft: int, hop: int, bins: tuple[int, ...]
) -> str:
    """CTEs ``tw → agg`` over ``samp``: one (absolute_pos, frame, k,
    cos, sin) twiddle row per frame-basis element (the Python doubles
    of the Spark twiddle table, frame-shifted by f·hop), then the
    1e-9-grid quantized re/im sums per (doc, frame, bin)."""
    n_frames = (n_samples - n_fft) // hop + 1
    tw = ", ".join(
        f"struct_pack(pos := {f * hop + pos}, f := {f}, k := {k},"
        f" cosv := {dlit_sql(c)}, sinv := {dlit_sql(s)})"
        for f in range(n_frames)
        for (pos, k, c, s) in multimodal._dft_twiddles(n_fft, bins)
    )
    return f"""tw AS (SELECT UNNEST([{tw}]) AS w),
agg AS (
  SELECT doc_id AS media_id, w.f AS frame_idx, w.k AS k,
         {qcast_sql("SUM(" + qint_sql("s.x * w.cosv") + ")")} * 1e-09 AS re_sum,
         {qcast_sql("SUM(" + qint_sql("s.x * w.sinv") + ")")} * 1e-09 AS im_sum
  FROM samp, tw WHERE s.pos = w.pos
  GROUP BY doc_id, w.f, w.k)"""


#: CTE ``pw``: the power of each ``agg`` (doc, frame, bin) sum
_POWER_CTE = """pw AS (
  SELECT media_id, frame_idx, k,
         re_sum * re_sum + im_sum * im_sum AS power
  FROM agg)"""

#: CTE ``fx``: frame-to-frame power change per (doc, bin); NULL at frame 0
_FLUX_DIFF_CTE = """fx AS (
  SELECT media_id, frame_idx,
         power - LAG(power, 1) OVER (
           PARTITION BY media_id, k ORDER BY frame_idx) AS d
  FROM pw)"""


def _mel_weight_cte(
    n_fft: int, sr: int, bins: tuple[int, ...], n_bands: int
) -> str:
    """CTE ``wtb``: the triangular mel filterbank doubles of
    operators/multimodal.py::mel_band_weights as literals."""
    wt = ", ".join(
        f"struct_pack(k := {k}, band := {band}, w := {dlit_sql(w)})"
        for (k, band, w) in multimodal.mel_band_weights(n_fft, sr, bins, n_bands)
    )
    return f"wtb AS (SELECT UNNEST([{wt}]) AS m)"


def _zcr_pair_ctes(n_samples: int, n_fft: int, hop: int) -> str:
    """CTEs ``ptbl → px`` over ``samp``: the (pair position, frame)
    table of the STFT lattice (position p pairs samples p−1 and p) and
    one sign-change flag per pair and frame containing it."""
    n_frames = (n_samples - n_fft) // hop + 1
    ptbl = ", ".join(
        f"struct_pack(pos := {p}, f := {f})"
        for f in range(n_frames)
        for p in range(f * hop + 1, f * hop + n_fft)
    )
    return f"""ptbl AS (SELECT UNNEST([{ptbl}]) AS w),
px AS (
  SELECT a.doc_id AS media_id, w.f AS frame_idx,
         CASE WHEN (a.s.x < 0) <> (p.s.x < 0) THEN 1 ELSE 0 END AS c
  FROM samp a
  JOIN samp p ON p.doc_id = a.doc_id AND p.s.pos = a.s.pos - 1
  JOIN ptbl w ON w.pos = a.s.pos)"""


def _audio_stft_sql(
    n_samples: int = 64,
    n_fft: int = 16,
    hop: int = 8,
    bins: tuple[int, ...] = (1, 2, 3),
) -> str:
    """DuckDB reconstruction of the windowed STFT: recompute the four
    md5 digests' PCM samples, embed one (absolute_pos, frame, k, cos,
    sin) row per frame-basis element — the SAME Python doubles the
    Spark twiddle table carries, frame-shifted by f·hop — and restate
    the identical product → 1e-9 quantize → exact sum → power chain
    per (doc, frame, bin).  Any divergence in the frame lattice, the
    within-frame position arithmetic or the aggregation is a
    value-hash mismatch."""
    return f"""
WITH {_pcm_ctes(n_samples)},
{_stft_ctes(n_samples, n_fft, hop, bins)}
SELECT media_id, CAST(frame_idx AS INT) AS frame_idx, CAST(k AS INT) AS k,
       re_sum, im_sum, re_sum * re_sum + im_sum * im_sum AS power
FROM agg
"""


@register("multimodal_audio_stft", sql=_audio_stft_sql())
def multimodal_audio_stft(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Short-time spectrogram — the WINDOWED generalization of
    ``multimodal_audio_spectrum`` and the standard time-frequency
    feature for audio curation (onset/silence detection, per-window
    tone energy): decode each doc's 64-sample 8-bit-PCM WAV (four md5
    digests) through the shared RIFF walk
    (operators/multimodal.py::decode_audio_samples), then compute DFT
    power at bins k=1,2,3 over SEVEN overlapping 16-sample frames
    (hop 8) entirely JVM-side — posexplode, a constant-factor
    sequence-explode assigning each sample to the ≤2 frames containing
    it, one broadcast twiddle join (one table for ALL frames — the
    basis is frame-invariant), one map-side-combinable aggregation
    keyed (media, frame, bin) on the 1e-9 grid
    (::audio_stft).  21 value-dense rows per doc.

    Oracle: full reconstruction — md5 samples, the identical
    frame-shifted twiddle doubles as literals, the identical
    quantize-sum-square chain (see _audio_stft_sql)."""
    media = _fixture_media(spark, sf_dir, media_fixtures.wav_stft, "audio", "audio/wav")
    samples = multimodal.decode_audio_samples(media, max_samples=64)
    return multimodal.audio_stft(samples, n_fft=16, hop=8, bins=(1, 2, 3))


def _audio_melbands_sql(
    n_samples: int = 64,
    n_fft: int = 16,
    hop: int = 8,
    sr: int = 8000,
    bins: tuple[int, ...] = tuple(range(1, 8)),
    n_bands: int = 3,
) -> str:
    """DuckDB reconstruction of the mel-band energies: the STFT
    reconstruction chain (md5 PCM samples, frame-shifted twiddle
    doubles, quantize-sum-square — the _audio_stft_sql argument,
    restated over the melband entry's wider bin set), then ONE more
    weighted aggregation joining the SAME Python-computed triangular
    filterbank doubles (operators/multimodal.py::mel_band_weights —
    dlit_sql round-trips each bit-exactly) per (doc, frame, band).
    Any divergence in the filterbank geometry, the weight constants
    or the final quantized sum is a value-hash mismatch."""
    return f"""
WITH {_pcm_ctes(n_samples)},
{_stft_ctes(n_samples, n_fft, hop, bins)},
{_POWER_CTE},
{_mel_weight_cte(n_fft, sr, bins, n_bands)}
SELECT media_id, CAST(frame_idx AS INT) AS frame_idx,
       CAST(m.band AS INT) AS band,
       {qcast_sql("SUM(" + qint_sql("pw.power * m.w") + ")")} * 1e-09 AS energy,
       CAST(COUNT(*) AS BIGINT) AS n_bins
FROM pw JOIN wtb ON pw.k = m.k
GROUP BY media_id, frame_idx, m.band
"""


@register("multimodal_audio_melbands", sql=_audio_melbands_sql())
def multimodal_audio_melbands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangular mel-filterbank energies over the STFT — the actual
    audio-curation feature one aggregation downstream of the r9
    spectrogram (speech/music discrimination, silence trimming and
    band-limited-noise detection read banded energies, not raw bins):
    decode each doc's 64-sample WAV through the shared RIFF walk,
    compute the windowed DFT power at bins k=1..7 over seven
    overlapping 16-sample frames (operators/multimodal.py::audio_stft
    — same constant-factor frame lattice, ONE broadcast twiddle
    table), then broadcast-join the 11-row HTK-mel triangular weight
    table (::mel_band_weights) and aggregate ``Σ w·power`` per
    (media, frame, band) on the 1e-9 grid (::audio_melbands).  21
    value-dense rows per doc; still zero Python past the decode seam,
    still one map-side-combinable shuffle per aggregation.

    Oracle: full reconstruction — md5 samples, the identical
    frame-shifted twiddle AND filterbank doubles as literals, the
    identical quantize-sum chains (see _audio_melbands_sql)."""
    media = _fixture_media(spark, sf_dir, media_fixtures.wav_stft, "audio", "audio/wav")
    samples = multimodal.decode_audio_samples(media, max_samples=64)
    stft = multimodal.audio_stft(samples, n_fft=16, hop=8, bins=tuple(range(1, 8)))
    return multimodal.audio_melbands(
        stft,
        multimodal.mel_band_weights(
            n_fft=16, sr=8000, bins=tuple(range(1, 8)), n_bands=3
        ),
    )


def _audio_mfcc_sql(
    n_samples: int = 64,
    n_fft: int = 16,
    hop: int = 8,
    sr: int = 8000,
    bins: tuple[int, ...] = tuple(range(1, 8)),
    n_bands: int = 3,
    n_coeffs: int = 3,
) -> str:
    """DuckDB reconstruction of the MFCCs: the full mel-band chain
    (md5 PCM samples → frame-shifted twiddle doubles → quantize-sum-
    square → triangular filterbank weighted sum — the
    _audio_melbands_sql argument verbatim), then the quantized log
    ``⌊LN(energy + 1e-9)·10⁹⌋·10⁻⁹`` (the floor collapses ln's
    last-ulp engine liberty — swept bit-identical across Spark/DuckDB/
    CPython on every fixture energy) and ONE more weighted aggregation
    joining the SAME Python-computed DCT-II basis doubles
    (operators/multimodal.py::dct2_basis — dlit_sql round-trips each
    bit-exactly) per (doc, frame, coeff).  Any divergence in the
    filterbank, the log grid, the basis constants or the final
    quantized sum is a value-hash mismatch."""
    dct = ", ".join(
        f"struct_pack(band := {band}, c := {c}, w := {dlit_sql(w)})"
        for (band, c, w) in multimodal.dct2_basis(n_bands, n_coeffs)
    )
    return f"""
WITH {_pcm_ctes(n_samples)},
{_stft_ctes(n_samples, n_fft, hop, bins)},
{_POWER_CTE},
{_mel_weight_cte(n_fft, sr, bins, n_bands)},
mb AS (
  SELECT media_id, frame_idx, m.band AS band,
         {qcast_sql("SUM(" + qint_sql("pw.power * m.w") + ")")} * 1e-09 AS energy
  FROM pw JOIN wtb ON pw.k = m.k
  GROUP BY media_id, frame_idx, m.band),
lg AS (
  SELECT media_id, frame_idx, band,
         CAST(FLOOR(LN(energy + 1e-09) * 1e9) AS DOUBLE) * 1e-09 AS logq
  FROM mb),
dct AS (SELECT UNNEST([{dct}]) AS d)
SELECT media_id, CAST(frame_idx AS INT) AS frame_idx, CAST(d.c AS INT) AS c,
       {qcast_sql("SUM(" + qint_sql("lg.logq * d.w") + ")")} * 1e-09 AS mfcc,
       CAST(COUNT(*) AS BIGINT) AS n_bands
FROM lg JOIN dct ON lg.band = d.band
GROUP BY media_id, frame_idx, d.c
"""


@register("multimodal_audio_mfcc", sql=_audio_mfcc_sql())
def multimodal_audio_mfcc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mel-frequency cepstral coefficients — the last step of the
    standard audio-curation chain (VERDICT r10 next-step #2), one
    quantized log + one aggregation downstream of the r10 mel
    energies: decode each doc's 64-sample WAV through the shared RIFF
    walk, windowed DFT power at bins k=1..7 over seven overlapping
    16-sample frames (operators/multimodal.py::audio_stft), the
    11-row HTK-mel triangular filterbank
    (::mel_band_weights/::audio_melbands), then the grid-quantized
    log-energy ``⌊ln(e + 1e-9)·10⁹⌋·10⁻⁹`` and ONE broadcast join of
    the 9-row DCT-II basis (::dct2_basis) with a map-side-combinable
    ``Σ w·logq`` per (media, frame, coeff) (::audio_mfcc).  21
    value-dense rows per doc; zero Python past the decode seam; every
    join in the chain broadcast, every aggregation keyed and
    map-side-combinable — linear in samples × constant overlap at any
    scale.

    Oracle: full reconstruction — md5 samples, the identical twiddle,
    filterbank AND DCT doubles as literals, the identical quantize
    chains including the log grid (see _audio_mfcc_sql)."""
    media = _fixture_media(spark, sf_dir, media_fixtures.wav_stft, "audio", "audio/wav")
    samples = multimodal.decode_audio_samples(media, max_samples=64)
    stft = multimodal.audio_stft(samples, n_fft=16, hop=8, bins=tuple(range(1, 8)))
    mel = multimodal.audio_melbands(
        stft,
        multimodal.mel_band_weights(
            n_fft=16, sr=8000, bins=tuple(range(1, 8)), n_bands=3
        ),
    )
    return multimodal.audio_mfcc(mel, multimodal.dct2_basis(n_bands=3, n_coeffs=3))


def _audio_spectral_sql(
    n_samples: int = 64,
    n_fft: int = 16,
    hop: int = 8,
    sr: int = 8000,
    bins: tuple[int, ...] = tuple(range(1, 8)),
    rolloff_pct: int = 85,
) -> str:
    """DuckDB reconstruction of the spectral shape features: the STFT
    reconstruction chain (md5 PCM samples, frame-shifted twiddle
    doubles, quantize-sum-square — the _audio_stft_sql argument over
    the wider bin set), then the identical per-frame statistics —
    integer-quantized powers for every sum (cumulative window + frame
    total), the EXACT-integer rolloff comparison ``100·cum ≥ pct·tot``
    (HUGEINT here, decimal(38,0) in Spark — both exact), and the
    grid-quantized logs of the flatness ratio.  Any divergence in the
    window frame, the quantization or the division shapes is a
    value-hash mismatch."""
    fk = f"(CAST(k AS DOUBLE) * {dlit_sql(float(sr) / n_fft)})"
    return f"""
WITH {_pcm_ctes(n_samples)},
{_stft_ctes(n_samples, n_fft, hop, bins)},
{_POWER_CTE},
q AS (
  SELECT media_id, frame_idx, k,
         {qint_sql("power")} AS p_int,
         {qint_sql(f"power * {fk}")} AS pf_int,
         CAST(FLOOR(LN(power + 1e-09) * 1e9) AS BIGINT) AS lq_int
  FROM pw),
c AS (
  SELECT *,
         SUM(p_int) OVER (PARTITION BY media_id, frame_idx ORDER BY k
                          ROWS UNBOUNDED PRECEDING) AS cum_int,
         SUM(p_int) OVER (PARTITION BY media_id, frame_idx) AS tot_int
  FROM q)
SELECT media_id, CAST(frame_idx AS INT) AS frame_idx,
       CAST(COUNT(*) AS BIGINT) AS n_bins,
       ({qcast_sql("SUM(pf_int)")} * 1e-09)
         / NULLIF({qcast_sql("SUM(p_int)")} * 1e-09, 0.0) AS centroid,
       MIN(CASE WHEN cum_int * 100 >= tot_int * {rolloff_pct} THEN k END)
         AS rolloff_k,
       (CAST(SUM(lq_int) AS DOUBLE) * 1e-09) / CAST(COUNT(*) AS DOUBLE)
         - CAST(FLOOR(LN({qcast_sql("SUM(p_int)")} * 1e-09
                         / CAST(COUNT(*) AS DOUBLE) + 1e-09) * 1e9) AS DOUBLE)
           * 1e-09 AS flatness_log
FROM c
GROUP BY media_id, frame_idx
"""


@register("multimodal_audio_spectral", sql=_audio_spectral_sql())
def multimodal_audio_spectral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spectral shape features — centroid, rolloff and log-flatness
    per STFT frame (VERDICT r10 next-step #5), the classic per-frame
    audio-quality gates (tonal-vs-noise scoring, silence/hiss
    trimming, band-limited-upload detection) one aggregation
    downstream of the r9 spectrogram: decode each doc's 64-sample WAV
    through the shared RIFF walk, windowed DFT power at bins k=1..7
    over seven overlapping 16-sample frames
    (operators/multimodal.py::audio_stft), then the power-weighted
    mean frequency, the EXACT-integer ``100·cum ≥ 85·tot`` rolloff bin
    and the quantized-log flatness ratio in ONE exchange keyed
    (media, frame) carrying both window computations and the final
    aggregation (::audio_spectral_shape).  7 value-dense rows per doc;
    zero Python past the decode seam.

    Oracle: full reconstruction — md5 samples, identical twiddle
    doubles, identical integer-quantized window/aggregation shapes
    including the rolloff integer compare and the log grid (see
    _audio_spectral_sql)."""
    media = _fixture_media(spark, sf_dir, media_fixtures.wav_stft, "audio", "audio/wav")
    samples = multimodal.decode_audio_samples(media, max_samples=64)
    stft = multimodal.audio_stft(samples, n_fft=16, hop=8, bins=tuple(range(1, 8)))
    return multimodal.audio_spectral_shape(
        stft, sr=8000, n_fft=16, rolloff_pct=85
    )


def _audio_flux_sql(
    n_samples: int = 64,
    n_fft: int = 16,
    hop: int = 8,
    bins: tuple[int, ...] = tuple(range(1, 8)),
) -> str:
    """DuckDB reconstruction of the rectified spectral flux: the STFT
    reconstruction chain (md5 PCM samples, frame-shifted twiddle
    doubles, quantize-sum-square — the _audio_stft_sql argument over
    the wider bin set), then the identical LAG window keyed
    (media, bin) ordered by frame, the exact rectified difference and
    one quantized sum per (media, frame) — frame 0 excluded exactly as
    in Spark (LAG NULL drops the row)."""
    return f"""
WITH {_pcm_ctes(n_samples)},
{_stft_ctes(n_samples, n_fft, hop, bins)},
{_POWER_CTE},
{_FLUX_DIFF_CTE}
SELECT media_id, CAST(frame_idx AS INT) AS frame_idx,
       {qcast_sql("SUM(" + qint_sql("GREATEST(0.0e0, d)") + ")")} * 1e-09 AS flux,
       CAST(COUNT(*) AS BIGINT) AS n_bins
FROM fx WHERE d IS NOT NULL
GROUP BY media_id, frame_idx
"""


@register("multimodal_audio_flux", sql=_audio_flux_sql())
def multimodal_audio_flux(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rectified spectral flux — THE onset/novelty statistic of audio
    curation (attack detection, syllable rate, cut detection read
    frame-to-frame spectral change, not static energy): decode each
    doc's 64-sample WAV through the shared RIFF walk, windowed DFT
    power at bins k=1..7 over seven overlapping 16-sample frames
    (operators/multimodal.py::audio_stft), then ``Σ_k max(0, p[f,k] −
    p[f−1,k])`` per frame — one LAG window keyed (media, bin), one
    map-side-combinable aggregation keyed (media, frame), frame 0
    excluded (no predecessor) — 6 value-dense rows per doc
    (::audio_spectral_flux).  Zero Python past the decode seam.

    Oracle: full reconstruction — md5 samples, identical twiddle
    doubles, the identical LAG/rectify/quantize chain (see
    _audio_flux_sql)."""
    media = _fixture_media(spark, sf_dir, media_fixtures.wav_stft, "audio", "audio/wav")
    samples = multimodal.decode_audio_samples(media, max_samples=64)
    stft = multimodal.audio_stft(samples, n_fft=16, hop=8, bins=tuple(range(1, 8)))
    return multimodal.audio_spectral_flux(stft)


def _audio_zcr_sql(
    n_samples: int = 64,
    n_fft: int = 16,
    hop: int = 8,
) -> str:
    """DuckDB reconstruction of the per-frame zero-crossing rate: the
    md5 PCM samples, a (pair position, frame) assignment table as
    literals (position p pairs samples p−1 and p; a pair belongs to
    every frame containing both — the STFT lattice), the identical
    sign-difference predicate, one integer aggregation and the single
    constant division."""
    return f"""
WITH {_pcm_ctes(n_samples)},
{_zcr_pair_ctes(n_samples, n_fft, hop)}
SELECT media_id, CAST(frame_idx AS INT) AS frame_idx,
       CAST(SUM(c) AS BIGINT) AS zc_count,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(c) AS DOUBLE) / {float(n_fft - 1)!r} AS zc_rate
FROM px
GROUP BY media_id, frame_idx
"""


@register("multimodal_audio_zcr", sql=_audio_zcr_sql())
def multimodal_audio_zcr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-frame zero-crossing rate — completing the classic
    short-time trio beside energy and flux (voiced-unvoiced
    discrimination and noisiness scoring read sign changes, no
    spectrum needed): decode each doc's 64-sample WAV through the
    shared RIFF walk, then count sign-differing consecutive-sample
    pairs per overlapping 16-sample frame (hop 8, the STFT lattice;
    a pair belongs to every frame containing both samples) —
    (media, frame, zc_count, n_pairs, zc_rate), 7 value-dense rows
    per doc (operators/multimodal.py::audio_zcr).  Entirely integer
    arithmetic until one division by the constant pair count; one lag
    window keyed (media), the constant-factor frame expansion, one
    map-side-combinable aggregation.

    Oracle: full reconstruction — md5 samples, a literal
    (pair position, frame) table, the identical sign predicate and
    constant division (see _audio_zcr_sql)."""
    media = _fixture_media(spark, sf_dir, media_fixtures.wav_stft, "audio", "audio/wav")
    samples = multimodal.decode_audio_samples(media, max_samples=64)
    return multimodal.audio_zcr(samples, n_fft=16, hop=8)


def _audio_segments_sql(
    n_samples: int = 64,
    n_fft: int = 16,
    hop: int = 8,
    bins: tuple[int, ...] = tuple(range(1, 8)),
    zcr_noise: str = "0.57e0",
    flat_noise: str = "-0.45e0",
    flux_voiced: str = "18.0e0",
) -> str:
    """DuckDB reconstruction of the composed segment classifier: the
    shared STFT chain (md5 PCM samples, frame-shifted twiddle doubles,
    quantize-sum-square), the flatness and flux statistics verbatim
    from their own oracles, the ZCR pair-table chain verbatim from its
    oracle, then the identical three-way CASE against the identical
    e-notation literals (DOUBLE, not DECIMAL — the literal-type
    gotcha) and the per-media histogram + deterministic dominant-class
    CASE.  Any drift in any feature, the thresholds, or the tie-break
    order is a value-hash mismatch."""
    return f"""
WITH {_pcm_ctes(n_samples)},
{_stft_ctes(n_samples, n_fft, hop, bins)},
{_POWER_CTE},
q AS (
  SELECT media_id, frame_idx, k,
         {qint_sql("power")} AS p_int,
         CAST(FLOOR(LN(power + 1e-09) * 1e9) AS BIGINT) AS lq_int
  FROM pw),
flat AS (
  SELECT media_id, frame_idx,
         (CAST(SUM(lq_int) AS DOUBLE) * 1e-09) / CAST(COUNT(*) AS DOUBLE)
         - CAST(FLOOR(LN({qcast_sql("SUM(p_int)")} * 1e-09
                         / CAST(COUNT(*) AS DOUBLE) + 1e-09) * 1e9) AS DOUBLE)
           * 1e-09 AS flatness_log
  FROM q GROUP BY media_id, frame_idx),
{_FLUX_DIFF_CTE},
flux AS (
  SELECT media_id, frame_idx,
         {qcast_sql("SUM(" + qint_sql("GREATEST(0.0e0, d)") + ")")} * 1e-09 AS flux
  FROM fx WHERE d IS NOT NULL
  GROUP BY media_id, frame_idx),
{_zcr_pair_ctes(n_samples, n_fft, hop)},
zcr AS (
  SELECT media_id, frame_idx,
         CAST(SUM(c) AS DOUBLE) / {float(n_fft - 1)!r} AS zc_rate
  FROM px GROUP BY media_id, frame_idx),
cls AS (
  SELECT z.media_id,
         CASE WHEN z.zc_rate >= {zcr_noise}
                   AND f.flatness_log >= {flat_noise} THEN 'noise'
              WHEN x.flux >= {flux_voiced} THEN 'voiced'
              ELSE 'music' END AS seg
  FROM zcr z
  JOIN flat f ON f.media_id = z.media_id AND f.frame_idx = z.frame_idx
  JOIN flux x ON x.media_id = z.media_id AND x.frame_idx = z.frame_idx),
cnt AS (
  SELECT media_id, CAST(COUNT(*) AS BIGINT) AS n_frames,
         CAST(SUM(CASE WHEN seg = 'voiced' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_voiced,
         CAST(SUM(CASE WHEN seg = 'music' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_music,
         CAST(SUM(CASE WHEN seg = 'noise' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_noise
  FROM cls GROUP BY media_id)
SELECT media_id, n_frames, n_voiced, n_music, n_noise,
       CASE WHEN n_voiced >= n_music AND n_voiced >= n_noise THEN 'voiced'
            WHEN n_music >= n_noise THEN 'music'
            ELSE 'noise' END AS dominant_class
FROM cnt
"""


@register("multimodal_audio_segments", sql=_audio_segments_sql())
def multimodal_audio_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Voiced/music/noise segmentation — the composed curation gate
    the r9-r12 short-time audio family exists to feed (VERDICT r11
    next-step #5; the audio counterpart of the text family's
    pipeline_pretraining_corpus): decode each doc's 64-sample WAV
    through the shared RIFF walk, compute the per-frame trio over the
    STFT lattice — zero-crossing rate (::audio_zcr), rectified
    spectral flux (::audio_spectral_flux) and log-flatness
    (::audio_spectral_shape) — then classify every frame with one
    stateless CASE (high-ZCR + flat ⇒ noise; onset-rich ⇒ voiced;
    tonal remainder ⇒ music) and roll up the per-media histogram with
    a deterministic dominant-class tie-break (voiced ≻ music ≻ noise
    on equal counts).  Frame 0 carries no flux and is excluded (the
    partial-window rule composed).  One row per doc: (media_id,
    n_frames, n_voiced, n_music, n_noise, dominant_class)
    (operators/multimodal.py::audio_segment_classes).

    Plan shape: the feature joins land on (media, frame)-keyed
    aggregates; the only NEW exchange is the final per-media rollup —
    zero new shuffles beyond one keyed agg.  The decision path is
    three comparisons of bit-identical doubles against literal
    thresholds, so the classification is exact cross-engine.

    Oracle: the shared STFT/flux/flatness/ZCR reconstructions
    verbatim from their own oracles, then the identical CASE,
    histogram and tie-break (see _audio_segments_sql)."""
    media = _fixture_media(spark, sf_dir, media_fixtures.wav_stft, "audio", "audio/wav")
    # the classifier fans out over BOTH relations (samples → ZCR;
    # STFT → flux AND flatness): materialize each once so the decode
    # seam runs once, not once per branch — without this the plan
    # re-decodes the corpus three times (measured: 12 Python evals /
    # 20 exchanges lazy vs 0 / 12 materialized — the decode runs once,
    # at checkpoint time)
    samples = multimodal.decode_audio_samples(media, max_samples=64).localCheckpoint()
    stft = multimodal.audio_stft(
        samples, n_fft=16, hop=8, bins=tuple(range(1, 8))
    ).localCheckpoint()
    per_frame = multimodal.audio_segment_classes(
        samples, stft, n_fft=16, hop=8,
        zcr_noise=0.57, flat_noise=-0.45, flux_voiced=18.0,
    )
    is_cls = lambda c: (F.col("segment_class") == c).cast("long")  # noqa: E731
    counts = per_frame.groupBy("media_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_frames"),
        F.sum(is_cls("voiced")).alias("n_voiced"),
        F.sum(is_cls("music")).alias("n_music"),
        F.sum(is_cls("noise")).alias("n_noise"),
    )
    dominant = (
        F.when(
            (F.col("n_voiced") >= F.col("n_music"))
            & (F.col("n_voiced") >= F.col("n_noise")),
            F.lit("voiced"),
        )
        .when(F.col("n_music") >= F.col("n_noise"), F.lit("music"))
        .otherwise(F.lit("noise"))
    )
    return counts.select(
        "media_id", "n_frames", "n_voiced", "n_music", "n_noise",
        dominant.alias("dominant_class"),
    )


def _ktruss_unrolled_ctes(k: int = 3, rounds: int = 8) -> tuple[str, str]:
    """Shared CTE builder for the k-truss oracles: the cell-confined
    edge CTEs (``_SIM_EDGE_CTES``), then the peel UNROLLED
    ``rounds`` times — per round one degree orientation + wedge
    closure (the _triangle_sql machinery over the CURRENT edge set),
    the triangles exploded into canonical edges, per-edge support
    counts, and the support-≥-k−2 filter.  Every round is MATERIALIZED
    (each references its predecessor many times; DuckDB's default
    inlining would replan an exponentially growing tree — the k-core
    lesson).  Peeling is monotone, so past the fixpoint each unrolled
    round is the identity and the final round equals the true k-truss
    with its in-truss supports — the comparison certifies the fixpoint
    AND that Spark's iteration reached it.

    ``rounds=8`` is NOT arbitrary: the sf0.001/sf0.01 fixtures'
    measured peel depth is ≤ 3 rounds (tests/test_graph.py::
    test_ktruss_oracle_unroll_depth_covers_fixtures runs the Spark
    peel with ``max_rounds=8`` against both fixture similarity graphs
    and fails LOUDLY if a fixture change ever needs more), so 8 is the
    fixpoint plus five identity rounds of headroom.  A denser future
    fixture that trips that test must raise ``rounds`` here in step.

    Returns (cte_list, final_edge_cte_name)."""
    t = k - 2
    parts = ["e0 AS MATERIALIZED (SELECT id_a, id_b FROM pairs)"]
    prev = "e0"
    for i in range(1, rounds + 1):
        parts.append(
            f"""dg{i} AS MATERIALIZED (
  SELECT node, COUNT(*) AS deg FROM (
    SELECT id_a AS node FROM {prev} UNION ALL SELECT id_b FROM {prev})
  GROUP BY node),
ok{i} AS MATERIALIZED (SELECT node, deg * 4294967296 + node AS ok FROM dg{i}),
orn{i} AS MATERIALIZED (
  SELECT CASE WHEN ka.ok < kb.ok THEN p.id_a ELSE p.id_b END AS src,
         CASE WHEN ka.ok < kb.ok THEN p.id_b ELSE p.id_a END AS dst,
         GREATEST(ka.ok, kb.ok) AS ok_dst
  FROM {prev} p
  JOIN ok{i} ka ON ka.node = p.id_a
  JOIN ok{i} kb ON kb.node = p.id_b),
tri{i} AS MATERIALIZED (
  SELECT o1.src AS u, o1.dst AS v, o2.dst AS w
  FROM orn{i} o1 JOIN orn{i} o2
    ON o1.src = o2.src AND o1.ok_dst < o2.ok_dst
  JOIN orn{i} e ON e.src = o1.dst AND e.dst = o2.dst),
te{i} AS MATERIALIZED (
  SELECT LEAST(u, v) AS id_a, GREATEST(u, v) AS id_b FROM tri{i}
  UNION ALL SELECT LEAST(u, w), GREATEST(u, w) FROM tri{i}
  UNION ALL SELECT LEAST(v, w), GREATEST(v, w) FROM tri{i}),
sp{i} AS MATERIALIZED (
  SELECT id_a, id_b, COUNT(*) AS support FROM te{i} GROUP BY id_a, id_b),
e{i} AS MATERIALIZED (
  SELECT e.id_a, e.id_b, COALESCE(s.support, 0) AS support
  FROM {prev} e LEFT JOIN sp{i} s USING (id_a, id_b)
  WHERE COALESCE(s.support, 0) >= {t})"""
        )
        prev = f"e{i}"
    return f"{_SIM_EDGE_CTES},\n" + ",".join(parts), f"e{rounds}"


def _ktruss_sql(k: int = 3, rounds: int = 8) -> str:
    """Oracle: the unrolled peel (see :func:`_ktruss_unrolled_ctes`),
    final round's surviving edges with their in-truss supports."""
    ctes, last = _ktruss_unrolled_ctes(k, rounds)
    return f"""
WITH {ctes}
SELECT id_a, id_b, CAST(support AS BIGINT) AS support FROM {last}
"""


def _truss_communities_sql(k: int = 3, rounds: int = 8) -> str:
    """Oracle: the same unrolled peel, then community labels by
    RECURSIVE transitive closure over the surviving truss edges (the
    dedup_cluster_canonical closure pattern — tractable at oracle
    scale; the Spark side is the linear-per-round min-label
    propagation that survives 100 TB), min reachable id per node +
    one member count per label."""
    return f"""
WITH RECURSIVE {_truss_closure_ctes(k, rounds)},
cs AS (SELECT community, COUNT(*) AS n_members FROM comp GROUP BY community)
SELECT c.node, c.community, CAST(cs.n_members AS BIGINT) AS n_members
FROM comp c JOIN cs USING (community)
"""


def _truss_closure_ctes(k: int = 3, rounds: int = 8) -> str:
    """CTEs: the unrolled peel (:func:`_ktruss_unrolled_ctes`), then
    ``sym → reach → comp``, each surviving truss node's min reachable
    id by transitive closure.  ``reach`` is recursive and DuckDB scopes
    RECURSIVE per statement, so callers open with ``WITH RECURSIVE``."""
    ctes, last = _ktruss_unrolled_ctes(k, rounds)
    return f"""{ctes},
sym AS MATERIALIZED (
  SELECT id_a AS src, id_b AS dst FROM {last}
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM {last}),
reach(node, r) AS (
  SELECT DISTINCT src, src FROM sym
  UNION
  SELECT reach.node, s.dst FROM reach JOIN sym s ON s.src = reach.r),
comp AS (SELECT node, MIN(r) AS community FROM reach GROUP BY node)"""


@register("graph_ktruss_similarity", sql=_ktruss_sql(3, 8))
def graph_ktruss_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-truss of the cell-confined cosine≥0.3 similarity graph — the
    COHESION refinement one step above the k-core entry's degree
    pruning: every surviving edge must close ≥1 triangle inside the
    surviving subgraph, so hub-and-spoke neighborhoods that pass a
    2-core dissolve while near-duplicate communities keep their edges
    (operators/graph.py::ktruss, reusing the degree-oriented
    wedge-closure core of the triangle/lcc entries per peel round).
    Returns the surviving canonical edges WITH their in-truss
    support — a value-dense per-edge check, not a scalar.  Oracle:
    the same peel unrolled past the fixpoint as MATERIALIZED DuckDB
    CTEs (see _ktruss_sql)."""
    from financial_data_stream_processing_engine_spark.operators.graph import ktruss

    return ktruss(_similarity_pairs(spark, sf_dir), k=3)


@register("graph_truss_communities", sql=_truss_communities_sql(3, 8))
def graph_truss_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense-community extraction over the similarity graph — the
    composition that closes the graph story: peel to the 3-truss
    (every surviving edge closes a triangle inside the survivors, so
    weak ties between communities dissolve), then label the truss's
    connected components by iterative min-label propagation
    (operators/graph.py::truss_communities, chaining the r9 ktruss
    peel with the dedup family's connected_components).  Returns
    (node, community, n_members) — which dense cluster each surviving
    doc belongs to and how big it is, the per-doc signal a curation
    pipeline reads to cap near-duplicate community contributions.

    Oracle: the same peel unrolled past the fixpoint as MATERIALIZED
    CTEs, then a RECURSIVE transitive closure over the surviving
    edges (see _truss_communities_sql) — closure at oracle scale,
    linear label propagation at corpus scale."""
    from financial_data_stream_processing_engine_spark.operators.graph import (
        truss_communities,
    )

    return truss_communities(_similarity_pairs(spark, sf_dir), k=3)


def _truss_modularity_sql(k: int = 3, rounds: int = 8) -> str:
    """Oracle: the unrolled peel + the communities entry's RECURSIVE
    closure, then Newman's per-community modularity arithmetic over
    the ORIGINAL pairs relation — all aggregates exact BIGINTs, the
    final ``q_c = e_c/m − (d_c/2m)²`` stated in the same fixed IEEE
    shape as the Spark expression (two divisions, one multiply, one
    subtract — bit-identical on exactly-representable counts)."""
    return f"""
WITH RECURSIVE {_truss_closure_ctes(k, rounds)},
degn AS (
  SELECT node, COUNT(*) AS deg FROM (
    SELECT id_a AS node FROM pairs UNION ALL SELECT id_b FROM pairs)
  GROUP BY node),
lab AS (
  SELECT d.node, d.deg, COALESCE(c.community, d.node) AS community,
         c.community IS NOT NULL AS labeled
  FROM degn d LEFT JOIN comp c ON c.node = d.node),
mm AS (SELECT COUNT(*) AS m FROM pairs),
ns AS (
  SELECT community, COUNT(*) AS n_members, BOOL_OR(labeled) AS is_labeled,
         SUM(deg) AS degree_sum
  FROM lab GROUP BY community),
ie AS (
  SELECT la.community, COUNT(*) AS intra
  FROM pairs p
  JOIN lab la ON la.node = p.id_a
  JOIN lab lb ON lb.node = p.id_b
  WHERE la.community = lb.community
  GROUP BY la.community)
SELECT ns.community, CAST(ns.n_members AS BIGINT) AS n_members,
       ns.is_labeled,
       CAST(COALESCE(ie.intra, 0) AS BIGINT) AS intra_edges,
       CAST(ns.degree_sum AS BIGINT) AS degree_sum,
       CAST(COALESCE(ie.intra, 0) AS DOUBLE) / CAST(mm.m AS DOUBLE)
       - (CAST(ns.degree_sum AS DOUBLE) / CAST(mm.m * 2 AS DOUBLE))
         * (CAST(ns.degree_sum AS DOUBLE) / CAST(mm.m * 2 AS DOUBLE)) AS q_contrib
FROM ns LEFT JOIN ie USING (community) CROSS JOIN mm
"""


def _louvain_move_round_blocks(
    deg: str, mm: str, sym: str, l0: str, move_rounds: int, tag: str
) -> tuple[list[str], str]:
    """Shared per-round CTE generator for the Louvain local-move
    oracles, parametrized by the chain's degree/total-weight/
    symmetrized-adjacency/initial-label CTE names and a ``tag``
    disambiguating round CTE names when one statement carries TWO
    chains (the level-2 oracle).  ``{sym}`` must expose (node, nb, w)
    — weight 1 rows for the unweighted level-1 chain, the coarsened
    counts for level 2 — so neighbor-community mass is uniformly
    ``SUM(s.w)`` (a HUGEINT; value-identical to the COUNT the
    unweighted chain used to state).  Each block restates the Spark
    round exactly: the EXACT-INTEGER gain relation, the per-node argmax
    window, the priority-blocking left-joins (best departure per
    source / best arrival per target), the COMBINED per-target +
    per-source conservative admission (two cumulative-degree windows,
    identical frame — the multi-departure form), the single-move
    fallback and the label update — all MATERIALIZED (the k-truss
    unroll lesson).

    Returns (blocks, final_label_cte_name)."""
    parts: list[str] = []
    prev = l0
    t = tag
    for r in range(1, move_rounds + 1):
        parts.append(
            f"""tt{t}{r} AS MATERIALIZED (
  SELECT l.community, SUM(d.k) AS tot
  FROM {prev} l JOIN {deg} d USING (node) GROUP BY l.community),
kc{t}{r} AS MATERIALIZED (
  SELECT s.node, l.community AS c, SUM(s.w) AS kic
  FROM {sym} s JOIN {prev} l ON l.node = s.nb
  GROUP BY s.node, l.community),
cd{t}{r} AS MATERIALIZED (
  SELECT cur.node, d.k, cur.community AS src, t.c AS tgt,
         2 * {mm}.m * (t.kic - COALESCE(o.kic, 0))
           - d.k * (tb.tot - ta.tot + d.k) AS g
  FROM {prev} cur
  JOIN {deg} d USING (node)
  JOIN kc{t}{r} t ON t.node = cur.node AND t.c <> cur.community
  LEFT JOIN kc{t}{r} o ON o.node = cur.node AND o.c = cur.community
  JOIN tt{t}{r} tb ON tb.community = t.c
  JOIN tt{t}{r} ta ON ta.community = cur.community
  CROSS JOIN {mm}
  WHERE 2 * {mm}.m * (t.kic - COALESCE(o.kic, 0))
        - d.k * (tb.tot - ta.tot + d.k) > 0),
bn{t}{r} AS MATERIALIZED (
  SELECT node, k, src, tgt, g FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY node ORDER BY g DESC, tgt) AS rn
    FROM cd{t}{r}) WHERE rn = 1),
dp{t}{r} AS MATERIALIZED (
  SELECT src, dg, dn FROM (
    SELECT src, g AS dg, node AS dn,
           ROW_NUMBER() OVER (PARTITION BY src ORDER BY g DESC, node) AS rn
    FROM bn{t}{r}) WHERE rn = 1),
ar{t}{r} AS MATERIALIZED (
  SELECT tgt, ag, an FROM (
    SELECT tgt, g AS ag, node AS an,
           ROW_NUMBER() OVER (PARTITION BY tgt ORDER BY g DESC, node) AS rn
    FROM bn{t}{r}) WHERE rn = 1),
fr{t}{r} AS MATERIALIZED (
  SELECT s.node, s.k, s.src, s.tgt, s.g
  FROM bn{t}{r} s
  LEFT JOIN dp{t}{r} dp ON dp.src = s.tgt
  LEFT JOIN ar{t}{r} a ON a.tgt = s.src
  WHERE NOT COALESCE(dp.dg > s.g OR (dp.dg = s.g AND dp.dn < s.node), FALSE)
    AND NOT COALESCE(a.ag > s.g OR (a.ag = s.g AND a.an < s.node), FALSE)),
pf{t}{r} AS MATERIALIZED (
  SELECT node, tgt, g FROM (
    SELECT node, tgt, g,
           g - k * (COALESCE(SUM(k) OVER (
                 PARTITION BY tgt ORDER BY g DESC, node
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             + COALESCE(SUM(k) OVER (
                 PARTITION BY src ORDER BY g DESC, node
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)) AS cg
    FROM fr{t}{r}) x
  WHERE cg > 0),
ap{t}{r} AS MATERIALIZED (
  SELECT node, tgt FROM pf{t}{r}
  UNION ALL
  SELECT node, tgt FROM (
    SELECT node, tgt, ROW_NUMBER() OVER (ORDER BY g DESC, node) AS rn
    FROM bn{t}{r}) one
  WHERE rn = 1 AND NOT EXISTS (SELECT 1 FROM pf{t}{r})),
l{t}{r} AS MATERIALIZED (
  SELECT l.node, COALESCE(a.tgt, l.community) AS community
  FROM {prev} l LEFT JOIN ap{t}{r} a USING (node))"""
        )
        prev = f"l{t}{r}"
    return parts, prev


def _louvain_unrolled_ctes(
    k: int = 3, truss_rounds: int = 8, move_rounds: int = 8
) -> tuple[str, str]:
    """Shared CTE builder for the Louvain-refinement oracles:
    the unrolled peel + the communities entry's RECURSIVE closure for
    the initial partition (singletons for non-truss nodes), then the
    Louvain local-move phase UNROLLED ``move_rounds`` times — per
    round the EXACT-INTEGER gain relation (``g = 2m·(k_ib − k_ia) −
    k·(Σtot_b − Σtot_a + k)``, BIGINT here, decimal(38,0) in Spark),
    the per-node argmax window, the priority blocking left-joins, the
    combined per-target + per-source conservative admission
    (multi-departure; two cumulative-degree windows, identical frame),
    the single-move fallback and the label update — each MATERIALIZED
    (the k-truss
    unroll lesson).  Applied rounds strictly increase Q, so past the
    fixpoint every unrolled round is the identity and the final
    labels equal Spark's converged refinement; ``move_rounds=8`` is
    the COMPARE-scale fixpoint (≤ 4 at sf0.001/sf0.01, the scales the
    driver hash-compares) plus identity headroom — the ktruss pattern:
    the Spark entries run a generous ``max_rounds=40`` (the sf0.1
    BENCH graph needs ~16 rounds; nothing compares values there), and
    tests/test_graph.py::test_louvain_oracle_unroll_depth_covers_fixtures
    re-runs the sf0.001 chain with ``max_rounds=8`` so a fixture
    change that deepens the COMPARE-scale refinement raises loudly
    before the driver sees a mismatch.

    Returns (cte_list, final_label_cte_name); the list holds the
    RECURSIVE closure, so callers open it with ``WITH RECURSIVE``."""
    parts = [
        """degn AS MATERIALIZED (
  SELECT node, COUNT(*) AS k FROM (
    SELECT id_a AS node FROM pairs UNION ALL SELECT id_b FROM pairs)
  GROUP BY node),
mm AS (SELECT COUNT(*) AS m FROM pairs),
sym2 AS MATERIALIZED (
  SELECT id_a AS node, id_b AS nb, 1 AS w FROM pairs
  UNION ALL SELECT id_b, id_a, 1 FROM pairs),
l0 AS MATERIALIZED (
  SELECT d.node, COALESCE(c.community, d.node) AS community
  FROM degn d LEFT JOIN comp c USING (node))"""
    ]
    blocks, last = _louvain_move_round_blocks(
        deg="degn", mm="mm", sym="sym2", l0="l0", move_rounds=move_rounds, tag=""
    )
    parts.extend(blocks)
    return _truss_closure_ctes(k, truss_rounds) + ",\n" + ",\n".join(parts), last


def _louvain_refine_sql(
    k: int = 3, truss_rounds: int = 8, move_rounds: int = 8
) -> str:
    """Oracle: the shared unrolled local-move chain (see
    :func:`_louvain_unrolled_ctes`), final labels joined back to the
    initial partition for the ``moved`` flag."""
    ctes, last = _louvain_unrolled_ctes(k, truss_rounds, move_rounds)
    return f"""
WITH RECURSIVE {ctes}
SELECT l.node, l.community, l.community <> b.community AS moved
FROM {last} l JOIN l0 b ON b.node = l.node
"""


def _community_coarsen_sql(
    k: int = 3, truss_rounds: int = 8, move_rounds: int = 8
) -> str:
    """Oracle: the shared unrolled local-move chain, then the
    coarsening aggregation — both label joins onto the ORIGINAL pairs
    relation, least/greatest canonicalization, one integer count per
    (community_a, community_b) — all-integer output, nothing to
    quantize."""
    ctes, last = _louvain_unrolled_ctes(k, truss_rounds, move_rounds)
    return f"""
WITH RECURSIVE {ctes}
SELECT LEAST(la.community, lb.community) AS community_a,
       GREATEST(la.community, lb.community) AS community_b,
       CAST(COUNT(*) AS BIGINT) AS weight
FROM pairs p
JOIN {last} la ON la.node = p.id_a
JOIN {last} lb ON lb.node = p.id_b
GROUP BY 1, 2
"""


def _coarse_graph_ctes(l1: str) -> str:
    """CTEs ``cg → wsym → wdeg → wmm → wl0``: the level-1 labels in CTE
    ``l1`` coarsened to a weighted supernode graph (self-loops carry
    intra weight, counted twice in weighted degrees), every supernode
    its own singleton — the level-2 local-move input."""
    return f"""cg AS MATERIALIZED (
  SELECT LEAST(la.community, lb.community) AS a,
         GREATEST(la.community, lb.community) AS b,
         COUNT(*) AS w
  FROM pairs p
  JOIN {l1} la ON la.node = p.id_a
  JOIN {l1} lb ON lb.node = p.id_b
  GROUP BY 1, 2),
wsym AS MATERIALIZED (
  SELECT a AS node, b AS nb, w FROM cg WHERE a <> b
  UNION ALL SELECT b, a, w FROM cg WHERE a <> b),
wdeg AS MATERIALIZED (
  SELECT node, SUM(w) AS k FROM (
    SELECT a AS node, w FROM cg WHERE a <> b
    UNION ALL SELECT b, w FROM cg WHERE a <> b
    UNION ALL SELECT a, 2 * w FROM cg WHERE a = b) u
  GROUP BY node),
wmm AS (SELECT SUM(w) AS m FROM cg),
wl0 AS MATERIALIZED (SELECT node, node AS community FROM wdeg)"""


def _louvain_level2_sql(
    k: int = 3,
    truss_rounds: int = 8,
    move_rounds: int = 8,
    l2_rounds: int = 8,
) -> str:
    """Oracle for the full one-pass Louvain: the shared unrolled
    level-1 local-move chain, the coarsening aggregation, then the
    WEIGHTED local-move phase unrolled ``l2_rounds`` times over the
    coarse graph through the SAME round-block generator
    (:func:`_louvain_move_round_blocks`, tag ``w``) — weighted degrees
    count self-loops twice (the 2W degree-sum identity), the
    symmetrized adjacency excludes them, total weight replaces m, and
    every supernode starts as its own singleton.  ``l2_rounds=8`` is
    the compare-scale fixpoint (≤ 4 at sf0.001/sf0.01) plus identity
    headroom; the Spark entry runs a generous ``max_rounds=40`` (the
    sf0.1 bench graph needs ~16 rounds per level; nothing compares
    values there) and the sf0.001 pytest depth guard re-runs the
    chain at the unroll depth.  Final labels join back to the level-1
    node partition for the per-document view."""
    ctes, l1 = _louvain_unrolled_ctes(k, truss_rounds, move_rounds)
    blocks, wlast = _louvain_move_round_blocks(
        deg="wdeg", mm="wmm", sym="wsym", l0="wl0", move_rounds=l2_rounds, tag="w"
    )
    return (
        f"\nWITH RECURSIVE {ctes},\n"
        + ",\n".join([_coarse_graph_ctes(l1)] + blocks)
        + f"""
SELECT n.node, n.community AS community_l1, l2.community AS community_l2
FROM {l1} n JOIN {wlast} l2 ON l2.node = n.community
"""
    )


@register("graph_louvain_level2", sql=_louvain_level2_sql(3, 8, 8, 8))
def graph_louvain_level2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full one-pass Louvain over the similarity graph — local-move,
    coarsen, then the WEIGHTED local-move over the coarse graph
    (phase 2 of Blondel et al. 2008, completing the chain the refine
    and coarsen entries open): supernodes = refined communities,
    super-edge weights = edge counts (self-loops carrying intra
    weight, counted twice in weighted degrees), every supernode its
    own singleton to start, and the SAME exact-integer gain machinery
    (``g = 2W·(w_ib − w_ia) − k·(Σtot_b − Σtot_a + k)``, weighted
    sums for neighbor-community mass, total weight W for m —
    operators/graph.py::louvain_refine with ``weight=``) run to its
    fixpoint (4 rounds per level at the compare scales; ~16 at the
    sf0.1 bench scale).  Returns one row per document node: (node,
    community_l1, community_l2) — the fine partition and the merged
    level-2 partition a curation pipeline caps at coarse granularity.
    No float anywhere in any decision path, so the two-level fixpoint
    is bit-identical cross-engine.

    Scale shape: the coarse graph is communities-sized — orders of
    magnitude smaller than the corpus — so level 2 costs a fraction
    of level 1; round state spills to parquet (the Pregel
    stable-storage discipline; also what keeps checkpoint-carried
    statistics from compounding exponentially — see louvain_refine).

    Oracle: the shared unrolled level-1 chain + coarsening + the
    weighted local-move unrolled through the SAME round-block
    generator (see _louvain_level2_sql); the depth guard is the
    ktruss pattern — generous Spark ``max_rounds=40``, unroll sized
    to the COMPARE-scale fixpoint plus headroom, and a pytest that
    re-runs the sf0.001 chain at the unroll depth."""
    from financial_data_stream_processing_engine_spark.operators.graph import (
        community_coarsen,
        louvain_refine,
        truss_labels,
    )

    pairs = _similarity_pairs(spark, sf_dir).localCheckpoint()
    comm = truss_labels(pairs, k=3)
    l1 = louvain_refine(pairs, comm, max_rounds=40).select("node", "community")
    l1 = l1.localCheckpoint()
    coarse = community_coarsen(pairs, l1)
    empty = spark.createDataFrame([], "node long, community long")
    l2 = louvain_refine(
        coarse, empty, max_rounds=40,
        src="community_a", dst="community_b", weight="weight",
    )
    return (
        l1.select("node", F.col("community").alias("community_l1"))
        .join(
            l2.select(
                F.col("node").alias("community_l1"),
                F.col("community").alias("community_l2"),
            ),
            ["community_l1"],
        )
        .select("node", "community_l1", "community_l2")
    )


def _louvain_level2_modularity_sql(
    k: int = 3,
    truss_rounds: int = 8,
    move_rounds: int = 8,
    l2_rounds: int = 8,
) -> str:
    """Oracle: the level-2 chain (shared unrolled level-1 + coarsen +
    weighted unroll), the supernode labels expanded back to documents,
    then the truss-modularity entry's Newman arithmetic verbatim over
    the ORIGINAL pairs relation — exact BIGINT aggregates, the fixed
    IEEE ``e_c/m − (d_c/2m)²`` shape."""
    ctes, l1 = _louvain_unrolled_ctes(k, truss_rounds, move_rounds)
    blocks, wlast = _louvain_move_round_blocks(
        deg="wdeg", mm="wmm", sym="wsym", l0="wl0", move_rounds=l2_rounds, tag="w"
    )
    return (
        f"\nWITH RECURSIVE {ctes},\n"
        + ",\n".join([_coarse_graph_ctes(l1)] + blocks)
        + f""",
lab2 AS MATERIALIZED (
  SELECT n.node, d.k AS deg, l2.community, TRUE AS labeled
  FROM {l1} n
  JOIN {wlast} l2 ON l2.node = n.community
  JOIN degn d ON d.node = n.node),
ns2 AS (
  SELECT community, COUNT(*) AS n_members, BOOL_OR(labeled) AS is_labeled,
         SUM(deg) AS degree_sum
  FROM lab2 GROUP BY community),
ie2 AS (
  SELECT la.community, COUNT(*) AS intra
  FROM pairs p
  JOIN lab2 la ON la.node = p.id_a
  JOIN lab2 lb ON lb.node = p.id_b
  WHERE la.community = lb.community
  GROUP BY la.community)
SELECT ns2.community, CAST(ns2.n_members AS BIGINT) AS n_members,
       ns2.is_labeled,
       CAST(COALESCE(ie2.intra, 0) AS BIGINT) AS intra_edges,
       CAST(ns2.degree_sum AS BIGINT) AS degree_sum,
       CAST(COALESCE(ie2.intra, 0) AS DOUBLE) / CAST(mm.m AS DOUBLE)
       - (CAST(ns2.degree_sum AS DOUBLE) / CAST(mm.m * 2 AS DOUBLE))
         * (CAST(ns2.degree_sum AS DOUBLE) / CAST(mm.m * 2 AS DOUBLE)) AS q_contrib
FROM ns2 LEFT JOIN ie2 USING (community) CROSS JOIN mm
"""
    )


@register(
    "graph_louvain_level2_modularity", sql=_louvain_level2_modularity_sql(3, 8, 8, 8)
)
def graph_louvain_level2_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the TWO-LEVEL Louvain partition measured
    over the ORIGINAL similarity graph — the quality certificate that
    closes the Louvain story: by the standard Louvain equivalence,
    modularity of the coarse partition w.r.t. the weighted coarse
    graph (self-loops included) EQUALS modularity of the expanded
    partition w.r.t. the original graph, and every level-2 move
    strictly increased the former — so this entry's ΣQ must dominate
    both the truss partition's (~0.02) and the level-1 refinement's
    (~0.76), a law tests/test_graph.py pins on the fixture.  Per-
    community rows keep the result value-dense: member counts,
    intra-edge counts, degree sums (exact integers) and the float
    contribution in the fixed IEEE shape of partition_modularity
    (operators/graph.py::{louvain_refine, community_coarsen,
    partition_modularity}).

    Oracle: the shared level-2 chain (byte-identical CTEs with the
    level-2 entry) + the truss-modularity arithmetic verbatim (see
    _louvain_level2_modularity_sql)."""
    from financial_data_stream_processing_engine_spark.operators.graph import (
        community_coarsen,
        louvain_refine,
        partition_modularity,
        truss_labels,
    )

    pairs = _similarity_pairs(spark, sf_dir).localCheckpoint()
    comm = truss_labels(pairs, k=3)
    l1 = louvain_refine(pairs, comm, max_rounds=40).select("node", "community")
    l1 = l1.localCheckpoint()
    coarse = community_coarsen(pairs, l1)
    empty = spark.createDataFrame([], "node long, community long")
    l2 = louvain_refine(
        coarse, empty, max_rounds=40,
        src="community_a", dst="community_b", weight="weight",
    )
    labels2 = l1.join(
        l2.select(F.col("node").alias("community"), F.col("community").alias("__c2")),
        ["community"],
    ).select("node", F.col("__c2").alias("community"))
    return partition_modularity(pairs, labels2)


@register("graph_community_coarsen", sql=_community_coarsen_sql(3, 8, 8))
def graph_community_coarsen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community-graph coarsening — the AGGREGATE step of Louvain
    (phase 2 of Blondel et al. 2008) over the refined partition:
    collapse every refined community to one supernode and count the
    weighted super-edges, ``community_a = community_b`` rows carrying
    each community's intra-edge count (self-loop weight), ``a < b``
    rows the inter-community cut sizes
    (operators/graph.py::community_coarsen).  The coarsened relation
    IS the input a second Louvain level would consume, and its cut
    weights are the between-community contamination signal a curation
    pipeline caps; total weight always equals m (every edge lands in
    exactly one row).  Two node-keyed label joins (AQE broadcasts the
    node-sized label frame), one least/greatest canonicalization, one
    map-side-combinable count — linear in |E|, all-integer output.

    Oracle: the shared unrolled local-move chain (byte-identical CTEs
    with the refine entry via _louvain_unrolled_ctes), then the
    identical coarsening aggregation (see _community_coarsen_sql)."""
    from financial_data_stream_processing_engine_spark.operators.graph import (
        community_coarsen,
        louvain_refine,
        truss_labels,
    )

    pairs = _similarity_pairs(spark, sf_dir).localCheckpoint()
    comm = truss_labels(pairs, k=3)
    refined = louvain_refine(pairs, comm, max_rounds=40).select("node", "community")
    return community_coarsen(pairs, refined)


def _neardup_communities_sql(move_rounds: int = 8, cap: int = 2) -> str:
    """Oracle for the near-dup community pipeline: the exact all-pairs
    Jaccard SQL (the dedup family's shared oracle — prefix filtering
    is an output-identical plan change), the dedup_cluster_canonical
    recursive transitive closure for the component seed, the SHARED
    Louvain round-block generator unrolled ``move_rounds`` times
    (tag ``n``; identical CTE text to the graph entries — one
    generator, every chain), then the per-community rank/size windows
    and the cap predicate, left-joined back onto every document
    (non-graph docs are kept singletons)."""
    blocks, last = _louvain_move_round_blocks(
        deg="ndeg", mm="nmm", sym="nsym", l0="nl0", move_rounds=move_rounds, tag="n"
    )
    head = f"""WITH RECURSIVE
npairs AS MATERIALIZED (SELECT id_a, id_b FROM ({_EXACT_PAIRS_SQL}) p),
scc AS (
  SELECT id_a AS src, id_b AS dst FROM npairs
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM npairs),
reach(node, r) AS (
  SELECT DISTINCT src, src FROM scc
  UNION
  SELECT reach.node, s.dst FROM reach JOIN scc s ON s.src = reach.r),
comp AS (SELECT node, MIN(r) AS community FROM reach GROUP BY node),
ndeg AS MATERIALIZED (
  SELECT node, COUNT(*) AS k FROM (
    SELECT id_a AS node FROM npairs UNION ALL SELECT id_b FROM npairs)
  GROUP BY node),
nmm AS (SELECT COUNT(*) AS m FROM npairs),
nsym AS MATERIALIZED (
  SELECT id_a AS node, id_b AS nb, 1 AS w FROM npairs
  UNION ALL SELECT id_b, id_a, 1 FROM npairs),
nl0 AS MATERIALIZED (
  SELECT d.node, COALESCE(c.community, d.node) AS community
  FROM ndeg d LEFT JOIN comp c USING (node))"""
    return (
        head
        + ",\n"
        + ",\n".join(blocks)
        + f""",
ranked AS (
  SELECT node, community,
         ROW_NUMBER() OVER (PARTITION BY community ORDER BY node) AS rnk,
         COUNT(*) OVER (PARTITION BY community) AS nm
  FROM {last})
SELECT d.doc_id,
       COALESCE(r.community, d.doc_id) AS community,
       CAST(COALESCE(r.nm, 1) AS BIGINT) AS n_members,
       CAST(COALESCE(r.rnk, 1) AS BIGINT) AS rank_in_community,
       COALESCE(r.rnk, 1) <= {cap} AS kept
FROM documents d LEFT JOIN ranked r ON r.node = d.doc_id
"""
    )


@register("pipeline_neardup_communities", sql=_neardup_communities_sql())
def pipeline_neardup_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup community sizing with per-community contribution caps
    — the composition stage 3b of examples/curation_demo.py promoted
    to a verified entry (VERDICT r11 next-step #6): exact Jaccard ≥
    4/5 near-dup pairs via prefix filtering (the PPJoin plan,
    candidates bounded by rare-shingle collisions), connected
    components as the partition seed (min-label propagation, linear
    per round), the exact-integer Louvain local-move refinement of
    that seed (operators/graph.py::louvain_refine — multi-departure
    admission, parquet-spilled round state), then the cap: members
    rank by doc_id within their refined community and only the first
    ``cap=2`` are kept — the contribution-capping rule a pretraining
    pipeline applies so one boilerplate cluster cannot dominate a
    training mix.  Docs outside the near-dup graph are kept
    singletons.  One row per document: (doc_id, community, n_members,
    rank_in_community, kept).

    Scale shape: every stage is the bucketed/iterative form (no
    all-pairs anywhere — the quadratic Jaccard exists only in the
    ORACLE); ranking windows are keyed by community, the final join
    is doc-keyed.  At 100 TB the cost is the PPJoin + a few
    label-propagation rounds over the (sparse) near-dup graph.

    Oracle: exact all-pairs Jaccard + recursive-closure components +
    the SHARED unrolled Louvain round blocks + identical window/cap
    arithmetic (see _neardup_communities_sql)."""
    from pyspark.sql import Window

    from financial_data_stream_processing_engine_spark.operators.dedup import (
        connected_components,
    )
    from financial_data_stream_processing_engine_spark.operators.graph import (
        louvain_refine,
    )

    docs = _docs(spark, sf_dir)
    pairs = dedup.prefix_filter_jaccard_pairs(
        docs, id_col="doc_id", text_col="text", n=3,
        threshold_num=4, threshold_den=5,
    ).localCheckpoint()
    if not pairs.take(1):
        # pair-free corpus: the near-dup graph is empty, so Louvain
        # has no edges (m=0 would raise) — every doc is a kept
        # singleton, exactly the oracle's LEFT-JOIN-miss semantics
        return docs.select(
            "doc_id",
            F.col("doc_id").alias("community"),
            F.lit(1).cast("long").alias("n_members"),
            F.lit(1).cast("long").alias("rank_in_community"),
            F.lit(True).alias("kept"),
        )
    seed = connected_components(pairs).select(
        "node", F.col("component").alias("community")
    )
    refined = louvain_refine(
        pairs, seed, src="id_a", dst="id_b", max_rounds=40
    ).select("node", "community")
    wc = Window.partitionBy("community")
    ranked = refined.select(
        F.col("node").alias("doc_id"),
        "community",
        F.row_number().over(wc.orderBy("node")).alias("rank_in_community"),
        F.count(F.lit(1)).over(wc).alias("n_members"),
    )
    return (
        docs.select("doc_id")
        .join(ranked, ["doc_id"], "left")
        .select(
            "doc_id",
            F.coalesce("community", "doc_id").alias("community"),
            F.coalesce("n_members", F.lit(1)).cast("long").alias("n_members"),
            F.coalesce("rank_in_community", F.lit(1))
            .cast("long")
            .alias("rank_in_community"),
            (F.coalesce("rank_in_community", F.lit(1)) <= F.lit(2)).alias("kept"),
        )
    )


@register("graph_louvain_refine", sql=_louvain_refine_sql(3, 8, 8))
def graph_louvain_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-level Louvain local-move refinement of the truss-community
    partition (VERDICT r10 next-step #6) — now that the modularity
    entry provides the exact objective, improve it: start from the
    3-truss communities (non-truss nodes as singletons), and per round
    move nodes into neighbor communities whose EXACT-INTEGER gain
    numerator ``g = 2m·(k_ib − k_ia) − k·(Σtot_b − Σtot_a + k)`` is
    positive, applying a deterministic non-interfering batch
    (per-node argmax, priority blocking, combined per-target +
    per-source conservative admission — the multi-departure form;
    every applied round strictly increases Q) until no improving move
    exists
    (operators/graph.py::louvain_refine; generous ``max_rounds=40``,
    the ktruss guard pattern — see _louvain_unrolled_ctes).  On this
    fixture Q rises
    from ~0.02 (truss labels leave most docs singleton) to ~0.76 —
    the partition a curation pipeline would actually cap communities
    by.  Returns (node, community, moved) — value-dense per-node
    labels plus which docs the refinement re-homed.

    No float exists anywhere in the decision path (decimal(38,0) vs
    HUGEINT — the rolloff-comparison contract), so the fixpoint is
    bit-identical cross-engine.  Oracle: the shared unrolled peel +
    recursive closure, then the local-move phase unrolled past the
    compare-scale fixpoint as MATERIALIZED CTEs (see
    _louvain_refine_sql); depth guarded the ktruss way — the sf0.001
    pytest re-runs the refinement at the unroll depth, verify_local
    covers sf0.01, and the generous ``max_rounds=40`` lets the
    (never value-compared) sf0.1 bench graph run its deeper ~16-round
    fixpoint without raising."""
    from financial_data_stream_processing_engine_spark.operators.graph import (
        louvain_refine,
        truss_labels,
    )

    pairs = _similarity_pairs(spark, sf_dir).localCheckpoint()
    comm = truss_labels(pairs, k=3)
    return louvain_refine(pairs, comm, max_rounds=40)


@register("graph_truss_modularity", sql=_truss_modularity_sql(3, 8))
def graph_truss_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the truss-community partition — the
    community-QUALITY score that closes the loop on community
    extraction (is the partition the truss found actually denser than
    chance?): nodes outside the truss are singleton communities, every
    community contributes ``q_c = e_c/m − (d_c/(2m))²`` measured over
    the ORIGINAL similarity graph, and ``Q = Σ q_c`` is one sum away
    (operators/graph.py::{truss_communities, partition_modularity}).
    Per-community rows keep the result value-dense: member counts,
    intra-edge counts, degree sums (all exact integers) and the float
    contribution (three IEEE ops on exact counts — bit-identical
    cross-engine).

    Oracle: the shared unrolled peel + recursive closure, then the
    identical modularity arithmetic in DuckDB (see
    _truss_modularity_sql)."""
    from financial_data_stream_processing_engine_spark.operators.graph import (
        partition_modularity,
        truss_labels,
    )

    pairs = _similarity_pairs(spark, sf_dir).localCheckpoint()
    comm = truss_labels(pairs, k=3)
    return partition_modularity(pairs, comm)


# ---------------------------------------------------------------------------
# image perceptual hashing (DCT pHash) — image near-dup the way SimHash
# gives text near-dup (VERDICT r12 next-step #4b)
# ---------------------------------------------------------------------------


def _phash_sql_ctes() -> str:
    """Shared DuckDB CTE chain ending in ``phash_tbl(media_id, width,
    height, phash, dc, median_ac)`` — the ORACLE replay of the whole
    pHash pipeline: md5-derived pixels (incl. the planted-perturbation
    rule), the exact-integer DCT via the :data:`operators.phash.DCT8_W`
    VALUES table (one source of truth), the exact 32nd-smallest AC
    median, and the strict-compare bit pack."""
    from financial_data_stream_processing_engine_spark.operators.phash import (
        dct8_values_sql,
    )

    b = (
        "((STRPOS('0123456789abcdef', SUBSTR(m, 2*i + 1, 1)) - 1) * 16"
        " + (STRPOS('0123456789abcdef', SUBSTR(m, 2*i + 2, 1)) - 1))"
    )
    return f"""
psrc AS (SELECT doc_id,
                CASE WHEN doc_id % 5 = 4 THEN doc_id - 4 ELSE doc_id END AS s,
                (doc_id % 5 = 4) AS pert
         FROM documents),
pdig AS (SELECT doc_id, pert, k,
                MD5(CAST(s AS VARCHAR) || ':' || CAST(k AS VARCHAR)) AS m
         FROM psrc, (SELECT UNNEST(GENERATE_SERIES(0, 3)) AS k) ks),
ppix AS (SELECT doc_id, k * 16 + i AS pos,
                CASE WHEN pert AND k * 16 + i = 0
                     THEN xor({b}, 1) ELSE {b} END AS p
         FROM pdig, (SELECT UNNEST(GENERATE_SERIES(0, 15)) AS i) bs),
pcoef AS MATERIALIZED (
  SELECT doc_id, wu.u AS u, wv.u AS v,
         CAST(SUM(p * wu.w * wv.w) AS BIGINT) AS c
  FROM ppix
  JOIN {dct8_values_sql("wu")} ON wu.x = ppix.pos // 8
  JOIN {dct8_values_sql("wv")} ON wv.x = ppix.pos % 8
  GROUP BY doc_id, wu.u, wv.u),
pac AS (SELECT doc_id, u * 8 + v - 1 AS idx, c FROM pcoef WHERE u * 8 + v > 0),
pmed AS (SELECT doc_id, c AS median_ac FROM (
           SELECT doc_id, c,
                  ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY c, idx) AS rn
           FROM pac) r
         WHERE rn = 32),
phash_tbl AS MATERIALIZED (
  SELECT a.doc_id AS media_id,
         CAST(8 AS INTEGER) AS width, CAST(8 AS INTEGER) AS height,
         CAST(SUM(CASE WHEN a.c > m.median_ac
                       THEN CAST(1 AS BIGINT) << a.idx
                       ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS phash,
         ANY_VALUE(d.c) AS dc, ANY_VALUE(m.median_ac) AS median_ac
  FROM pac a
  JOIN pmed m ON m.doc_id = a.doc_id
  JOIN (SELECT doc_id, c FROM pcoef WHERE u = 0 AND v = 0) d
    ON d.doc_id = a.doc_id
  GROUP BY a.doc_id)"""


def _phash_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _fixture_media(spark, sf_dir, media_fixtures.png_phash, "image", "image/png")


@register(
    "multimodal_image_phash",
    sql=f"""
WITH {_phash_sql_ctes()}
SELECT media_id, width, height, phash, dc, median_ac FROM phash_tbl
""",
)
def multimodal_image_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DCT perceptual hash per image over the REAL decode path
    (operators/phash.py::phash64): encode an 8×8 grayscale PNG per doc
    (md5-derived pixels, ~20% planted near-dup perturbations), decode
    with the stdlib PNG codec, then the exact-integer pHash — quantized
    2^14 DCT-II basis, exact int64 coefficients, exact 32nd-smallest
    AC median, strict-compare 63-bit pack.  Returns (media_id, width,
    height, phash, dc, median_ac) — dc and the median certify the DCT
    itself, not just the bit pack.

    Scale shape: one Arrow mapInPandas pass, zero shuffles — hashing
    100 TB of images is scan-bound.  Oracle: the identical integer
    pipeline replayed relationally in DuckDB from the same DCT table
    literal (see _phash_sql_ctes)."""
    from financial_data_stream_processing_engine_spark.operators import phash

    return phash.phash64(_phash_media(spark, sf_dir))


@register(
    "dedup_phash_hamming",
    sql=f"""
WITH {_phash_sql_ctes()}
SELECT a.media_id AS id_a, b.media_id AS id_b,
       CAST(bit_count(xor(a.phash, b.phash)) AS INTEGER) AS hamming
FROM phash_tbl a
JOIN phash_tbl b ON a.media_id < b.media_id
WHERE bit_count(xor(a.phash, b.phash)) <= 3
""",
)
def dedup_phash_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup retrieval over the pHash frame — the image twin
    of dedup_simhash: split each 63-bit hash into 4 disjoint 16-bit
    bands, bucket-join on (band, value) for candidates, verify with
    the exact ``bit_count(xor)`` Hamming distance, keep pairs at
    distance ≤ 3 (operators/phash.py::phash_hamming_pairs).
    Pigeonhole: ≤3 flipped bits touch ≤3 of the 4 disjoint bands, so
    every qualifying pair shares a band — COMPLETE recall, candidates
    confined to band-bucket collisions, never all-pairs (the quadratic
    join exists only in this oracle).  The planted perturbation
    family (doc 5j+4 ← doc 5j) supplies real pairs at tiny distance."""
    from financial_data_stream_processing_engine_spark.operators import phash

    return phash.phash_hamming_pairs(phash.phash64(_phash_media(spark, sf_dir)))


# ---------------------------------------------------------------------------
# unigram-LM tokenizer training (SentencePiece-style Viterbi hard-EM) —
# the counterpart to the BPE trainer (VERDICT r12 next-step #4a)
# ---------------------------------------------------------------------------


def _unigram_sql_parts(
    k: int,
    p: str = "u",
    src: str = "documents",
    comp_grid_from: tuple[str, str] | None = None,
) -> str:
    """The comma-joined CTE chain of the unrolled DuckDB unigram
    trainer: the one corpus word pass, the composition/grid VALUES
    tables rendered from operators/unigram.py's one source of truth,
    the substring-count init vocabulary, then per round r < k the
    piece-cost frame (the SHARED QLOG/QCOST text), the lattice scoring
    join, the (cost, n_parts, comp_id) Viterbi argmin, the usage
    counts and the char-reseeded vocabulary update — plus the FINAL
    round-k scoring/argmin block (``ucst{k}``/``us{k}``/``ub{k}``) the
    segmentation oracle consumes.  MATERIALIZED throughout: the round
    CTEs fan out and default inlining would replan an exponentially
    growing tree (the bpe_train_sql_parts precedent).

    Parameterized for the CDC oracle (streaming_unigram_cdc needs one
    chain per rolling corpus prefix): ``p`` prefixes every CTE name,
    ``src`` is the corpus relation the word pass scans, and
    ``comp_grid_from=(grid, comp)`` references an already-emitted
    composition/grid pair instead of re-emitting the ~1k-row VALUES
    literals per chain.  The defaults reproduce the single-chain text
    BYTE-IDENTICALLY (asserted at import, _UNIGRAM_SQL_BYTE_GUARD) so
    the pre-existing text_unigram_* oracles are value-neutral under
    this refactor."""
    from financial_data_stream_processing_engine_spark.operators.unigram import (
        MAX_WORD_LEN,
        MIN_COUNT,
        QCOST_SQL_T,
        comp_parts_rows,
        grid_rows,
    )

    if comp_grid_from is None:
        grid, comp = f"{p}grid", f"{p}comp"
    else:
        grid, comp = comp_grid_from
    comp_vals = ", ".join(
        f"({w},{c},{n},{pi},{ps},{pl})"
        for (w, c, n, pi, ps, pl) in comp_parts_rows()
    )
    grid_vals = ", ".join(f"({w},{s},{p_})" for (w, s, p_) in grid_rows())
    tables = (
        ""
        if comp_grid_from is not None
        else f"""{grid} AS (SELECT * FROM (VALUES {grid_vals}) g(wlen, gstart, plen)),
{comp} AS MATERIALIZED (
  SELECT * FROM (VALUES {comp_vals})
         c(wlen, comp_id, n_parts, pidx, pstart, plen)),
"""
    )
    parts = [
        f"""{p}w AS MATERIALIZED (
  SELECT w AS word, CAST(COUNT(*) AS BIGINT) AS freq
  FROM (SELECT UNNEST(REGEXP_EXTRACT_ALL(LOWER(text), '[a-z]+')) AS w
        FROM {src})
  WHERE LENGTH(w) <= {MAX_WORD_LEN}
  GROUP BY w),
{tables}{p}chars AS MATERIALIZED (
  SELECT DISTINCT SUBSTR(word, i, 1) AS piece
  FROM {p}w, UNNEST(GENERATE_SERIES(1, {MAX_WORD_LEN})) AS t(i)
  WHERE i <= LENGTH(word)),
{p}v0 AS MATERIALIZED (
  SELECT piece, CAST(SUM(freq) AS BIGINT) AS cnt
  FROM (SELECT SUBSTR({p}w.word, g.gstart + 1, g.plen) AS piece, {p}w.freq
        FROM {p}w JOIN {grid} g ON g.wlen = LENGTH({p}w.word))
  GROUP BY piece
  HAVING LENGTH(piece) = 1 OR SUM(freq) >= {MIN_COUNT})"""
    ]
    qcost = QCOST_SQL_T.format(t="t", c="cnt")
    for r in range(k + 1):
        parts.append(
            f"""{p}t{r} AS (SELECT CAST(SUM(cnt) AS BIGINT) AS t FROM {p}v{r}),
{p}cst{r} AS MATERIALIZED (
  SELECT piece, cnt, {qcost} AS qcost FROM {p}v{r}, {p}t{r}),
{p}s{r} AS MATERIALIZED (
  SELECT w.word, w.freq, c.comp_id, c.n_parts,
         CAST(SUM(p.qcost) AS BIGINT) AS cost
  FROM {p}w w
  JOIN {comp} c ON c.wlen = LENGTH(w.word)
  JOIN {p}cst{r} p ON p.piece = SUBSTR(w.word, c.pstart + 1, c.plen)
  GROUP BY w.word, w.freq, c.comp_id, c.n_parts
  HAVING COUNT(*) = c.n_parts),
{p}b{r} AS MATERIALIZED (
  SELECT word, freq, comp_id, n_parts, cost FROM (
    SELECT word, freq, comp_id, n_parts, cost,
           ROW_NUMBER() OVER (PARTITION BY word
                              ORDER BY cost, n_parts, comp_id) AS rn
    FROM {p}s{r}) x
  WHERE rn = 1)"""
        )
        if r == k:
            break
        parts.append(
            f"""{p}u{r} AS MATERIALIZED (
  SELECT SUBSTR(b.word, c.pstart + 1, c.plen) AS piece,
         CAST(SUM(b.freq) AS BIGINT) AS cnt
  FROM {p}b{r} b
  JOIN {comp} c ON c.wlen = LENGTH(b.word) AND c.comp_id = b.comp_id
  GROUP BY 1),
{p}v{r + 1} AS MATERIALIZED (
  SELECT piece, cnt FROM {p}u{r}
  UNION ALL
  SELECT ch.piece, CAST(1 AS BIGINT) AS cnt
  FROM {p}chars ch
  WHERE NOT EXISTS (SELECT 1 FROM {p}u{r} u WHERE u.piece = ch.piece))"""
        )
    return ",\n".join(parts)


_UNIGRAM_ROUNDS = 3


def _unigram_sql_byte_guard() -> None:
    """The r14 parametrization of ``_unigram_sql_parts`` (prefix /
    corpus-source / shared-tables knobs for the CDC oracle) must
    reproduce the r13 single-chain text BYTE-FOR-BYTE at the default
    arguments — the value-neutrality precondition for NOT re-entering
    the driver-green text_unigram_* entries in the r14 check window
    (the OLS_QSCALE precedent).  Pinned by sha256 of the three oracle
    texts exactly as committed at r13 (1692ed1-era)."""
    import hashlib

    expected = {
        "d8066c6185c78de0": _unigram_train_sql,
        "4b445f626a7a7df9": _unigram_fit_sql,
        "51caa6844b53134d": _unigram_segment_sql,
    }
    for h, fn in expected.items():
        got = hashlib.sha256(fn().encode("utf-8")).hexdigest()[:16]
        assert got == h, (
            f"{fn.__name__} oracle text drifted from its r13 bytes "
            f"({got} != {h}) — a value-affecting change; re-enter the "
            f"text_unigram_* entries in the check window or fix the drift"
        )


def _unigram_train_sql() -> str:
    from financial_data_stream_processing_engine_spark.operators.unigram import QCOST_SQL_T

    k = _UNIGRAM_ROUNDS
    qcost = QCOST_SQL_T.format(t="t", c="cnt")
    return f"""
WITH {_unigram_sql_parts(k)}
SELECT piece, cnt, {qcost} AS cost FROM uv{k}, ut{k}
"""


def _unigram_fit_sql() -> str:
    k = _UNIGRAM_ROUNDS
    rows = "\nUNION ALL\n".join(
        f"""SELECT CAST({r} AS INTEGER) AS round,
       (SELECT CAST(SUM(freq * cost) AS BIGINT) FROM ub{r}) AS corpus_cost,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM uv{r}) AS model_pieces,
       (SELECT CAST(SUM(cnt) AS BIGINT) FROM uv{r}) AS model_total"""
        for r in range(k)
    )
    return f"""
WITH {_unigram_sql_parts(k)}
{rows}
"""


def _unigram_segment_sql() -> str:
    from financial_data_stream_processing_engine_spark.operators.unigram import MAX_WORD_LEN

    k = _UNIGRAM_ROUNDS
    return f"""
WITH {_unigram_sql_parts(k)},
udw AS (
  SELECT doc_id, w AS word, CAST(COUNT(*) AS BIGINT) AS n
  FROM (SELECT doc_id, UNNEST(REGEXP_EXTRACT_ALL(LOWER(text), '[a-z]+')) AS w
        FROM documents)
  WHERE LENGTH(w) <= {MAX_WORD_LEN}
  GROUP BY doc_id, w)
SELECT d.doc_id,
       CAST(SUM(d.n) AS BIGINT) AS n_words,
       CAST(SUM(d.n * b.n_parts) AS BIGINT) AS n_pieces,
       CAST(SUM(d.n * b.cost) AS BIGINT) AS total_cost
FROM udw d JOIN ub{k} b ON b.word = d.word
GROUP BY d.doc_id
"""


@register("text_unigram_train", sql=_unigram_train_sql())
def text_unigram_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM tokenizer training (operators/unigram.py::
    unigram_train — SentencePiece-style Viterbi hard-EM, Kudo 2018,
    made exact-integer): 3 EM rounds from the substring-count init,
    returning the final model ``(piece, cnt, cost)`` — the vocabulary
    a tokenizer ships, with the 1/256-bit integer QLOG costs.  On the
    fixture corpus the model shrinks ~228 → 60 pieces and learns real
    subwords ("scan", "wind", "co"+"lumn").

    No float exists anywhere (bit-length + mantissa-shift integer
    log2, integer counts, integer argmin tie-broken by
    (cost, n_parts, comp_id)), so the fixpoint is bit-identical
    cross-engine.  Scale: one corpus pass, then vocabulary-sized
    rounds with a constant ~944-row composition fan-out; round state
    spills to parquet.  Oracle: the identical rounds unrolled as
    MATERIALIZED CTEs from the same composition VALUES and QLOG text
    (_unigram_sql_parts)."""
    from financial_data_stream_processing_engine_spark.operators import unigram

    vocab, _report = unigram.unigram_train(
        _docs(spark, sf_dir), rounds=_UNIGRAM_ROUNDS
    )
    return vocab


@register("text_unigram_train_fit", sql=_unigram_fit_sql())
def text_unigram_train_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fit certificate for the unigram trainer (the r12 R²-certificate
    pattern): one row per EM round — (round, corpus_cost,
    model_pieces, model_total) with corpus_cost the exact integer
    Viterbi cost of the whole corpus under that round's model.  On the
    fixture the ladder drops 82.1M → 57.1M and then holds (the
    hard-EM fixpoint) while the model shrinks 228 → 60 pieces — the
    value content that proves the EM actually moved, not just that
    both engines agree."""
    from financial_data_stream_processing_engine_spark.operators import unigram

    _vocab, report = unigram.unigram_train(
        _docs(spark, sf_dir), rounds=_UNIGRAM_ROUNDS
    )
    return report


@register("text_unigram_segment", sql=_unigram_segment_sql())
def text_unigram_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document segmentation accounting under the trained unigram
    model (operators/unigram.py::unigram_segment) — the unigram twin
    of text_token_counts' exact-BPE accounting: one Viterbi pass over
    the distinct bounded words, joined back to per-doc occurrence
    counts → (doc_id, n_words, n_pieces, total_cost).  The integer
    total_cost is the document's exact negative-log-likelihood
    surrogate under the final model — the signal a token-budget or
    quality gate consumes."""
    from financial_data_stream_processing_engine_spark.operators import unigram

    docs = _docs(spark, sf_dir)
    vocab, _report = unigram.unigram_train(docs, rounds=_UNIGRAM_ROUNDS)
    return unigram.unigram_segment(docs, vocab)


_unigram_sql_byte_guard()


# ---------------------------------------------------------------------------
# cross-modal index agreement — the pHash band index × the embedding
# IVF cell index over the same curation records (VERDICT r13 #4c)
# ---------------------------------------------------------------------------

#: the label-mean centroid training + argmax-(cos, id) cell assignment
#: of _IVF_SQL, as a reusable CTE tail ``xcell(vec_id, cell)`` — the
#: exact pipeline of operators/similarity.{train_centroids,
#: assign_cells}, reconstructed engine-independently.
_XMODAL_CELL_SQL = f"""
{_label_cent_ctes("xdim", "xcm", "xcent")},
xassign AS (
  SELECT e.vec_id, c.centroid_id,
         {_COS.format(a='e.embedding', b='c.centroid')} AS sim
  FROM embeddings e CROSS JOIN xcent c),
xcell AS MATERIALIZED (
  SELECT vec_id, centroid_id AS cell FROM (
    SELECT vec_id, centroid_id,
           ROW_NUMBER() OVER (
             PARTITION BY vec_id ORDER BY sim DESC, centroid_id DESC) AS rk
    FROM xassign) WHERE rk = 1)"""


@register(
    "crossmodal_phash_ivf_agreement",
    sql=f"""
WITH {_phash_sql_ctes()},
{_XMODAL_CELL_SQL}
SELECT a.media_id AS id_a, b.media_id AS id_b,
       CAST(bit_count(xor(a.phash, b.phash)) AS INTEGER) AS hamming,
       CAST(ca.cell AS INTEGER) AS cell_a,
       CAST(cb.cell AS INTEGER) AS cell_b,
       (ca.cell = cb.cell) AS same_cell
FROM phash_tbl a
JOIN phash_tbl b ON a.media_id < b.media_id
JOIN xcell ca ON ca.vec_id = a.media_id
JOIN xcell cb ON cb.vec_id = b.media_id
WHERE bit_count(xor(a.phash, b.phash)) <= 3
""",
)
def crossmodal_phash_ivf_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal index agreement report — a real curation query over
    TWO existing indexes on the same records (doc_id = vec_id joins a
    record's image to its embedding): for every image near-dup pair
    the banded pHash index retrieves (operators/phash.py::
    phash_hamming_pairs, Hamming ≤ 3, pigeonhole-complete recall),
    look up each side's embedding IVF cell (operators/similarity.py::
    {train_centroids, assign_cells} — the exact index
    similarity_ivf_topk searches) and report whether the two
    modalities AGREE that the records are near-duplicates:
    (id_a, id_b, hamming, cell_a, cell_b, same_cell).

    same_cell=false rows are the curation signal: pixel-level
    near-dups whose embeddings disagree (the fixture's planted
    perturbation pairs link doc 5j+4 to doc 5j, whose embeddings
    carry unrelated labels — visual duplication does not imply
    semantic duplication, exactly what a dedup-policy audit needs).

    Scale shape: pHash pairs come from the band-bucket join (never
    all-pairs — the quadratic form exists only in the oracle); the
    cell lookup is a keyed join of the (sparse) pair relation against
    the corpus-sized cell assignment, shuffled on the id key twice
    (once per side).  Everything in the decision path is exact
    (integer hashes, decimal-exact centroid means), so the driver
    value-hashes the actual cross-index report."""
    from financial_data_stream_processing_engine_spark.operators import phash

    pairs = phash.phash_hamming_pairs(phash.phash64(_phash_media(spark, sf_dir)))
    embs = _embs(spark, sf_dir)
    centroids = similarity.train_centroids(embs, by="label", vec_col="embedding")
    cells = similarity.assign_cells(embs, centroids, vec_col="embedding").select(
        "vec_id", F.col("cell").cast("int").alias("cell")
    )
    ca = cells.select(F.col("vec_id").alias("id_a"), F.col("cell").alias("cell_a"))
    cb = cells.select(F.col("vec_id").alias("id_b"), F.col("cell").alias("cell_b"))
    return (
        pairs.join(ca, ["id_a"])
        .join(cb, ["id_b"])
        .select(
            "id_a", "id_b", "hamming", "cell_a", "cell_b",
            (F.col("cell_a") == F.col("cell_b")).alias("same_cell"),
        )
    )
