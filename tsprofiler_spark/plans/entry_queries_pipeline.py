"""Driver-contract queries for the training-data pipeline operators
(dedup, similarity, text analysis, multimodal) over `documents` and
`embeddings`, with DuckDB oracle SQL where SQL-expressible.

Cross-engine hash: h32 = md5-prefix (functions/hashing.py); inexact floats
canonicalized to integer micro-units on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tsprofiler_spark.functions.hashing import h32_sql_duckdb
from tsprofiler_spark.operators.dedup import (
    decontaminate,
    dedup_exact,
    minhash_candidates,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash,
    synth_benchmark,
)
from tsprofiler_spark.operators.sampling import hash_split, stratified_sample
from tsprofiler_spark.operators.multimodal import (
    attach_payload,
    decode_features,
    sample_frames,
    synthesize_ppm_payloads,
    synthesize_wav_payloads,
)
from tsprofiler_spark.operators.similarity import ann_topk, brute_force_topk, lsh_buckets
from tsprofiler_spark.operators.textops import (
    REDACT_PATTERNS,
    STOPWORDS,
    doc_fingerprints,
    language_id,
    pack_sequences,
    quality_scores,
    repetition_scores,
    text_chunks,
    text_redact,
    token_counts,
)
from tsprofiler_spark.sources.tables import load_table

PIPELINE_QUERIES: dict = {}
PIPELINE_ORACLE: dict[str, str] = {}


def _register(name, fn, oracle=None):
    PIPELINE_QUERIES[name] = fn
    if oracle is not None:
        PIPELINE_ORACLE[name] = oracle


def _docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents")


def _embs(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


# shared DuckDB CTE: word tokens + distinct 3-gram shingles
_SHINGLES_CTE = """
tok AS (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
sh AS (
  SELECT doc_id, unnest(list_distinct(
    CASE WHEN len(ws) >= 3
         THEN [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
               for i in generate_series(1, len(ws) - 2)]
         ELSE []::VARCHAR[] END)) AS shingle
  FROM tok
)
""".strip()

# --- dedup_exact -------------------------------------------------------------

_register(
    "dedup_exact",
    lambda spark, sf: dedup_exact(_docs(spark, sf)),
    """
SELECT md5(text) AS text_hash, MIN(doc_id) AS keeper_id, COUNT(*) AS n_copies
FROM documents GROUP BY md5(text)
""".strip(),
)

# --- minhash signatures + LSH candidates ---------------------------------------

# shared minhash CTE: one 60-bit base hash per shingle + the mod-(2^61-1)
# universal-hash family — constants AND the overflow-free Mersenne-fold
# expression come from operators/dedup (uhash_consts / uhash_sql), so the
# oracle evaluates the IDENTICAL arithmetic text Spark runs
from tsprofiler_spark.functions.hashing import h60_sql_duckdb
from tsprofiler_spark.operators.dedup import uhash_consts as _uhash_consts
from tsprofiler_spark.operators.dedup import uhash_sql as _uhash_sql

_UH_VALUES = ", ".join(
    f"({j}, {a}, {b})" for j, (a, b) in enumerate(_uhash_consts(12))
)
_SIGS_CTE = f"""hs AS (
  SELECT doc_id, {h60_sql_duckdb("shingle")} AS h FROM sh
),
uh(j, a, b) AS (SELECT * FROM (VALUES {_UH_VALUES})),
sigs AS (
  SELECT doc_id, j, MIN({_uhash_sql("a", "b")}) AS minhash
  FROM hs CROSS JOIN uh GROUP BY doc_id, j
)"""

# One definition of the LSH banding scheme (rows_per_band=3, band-hash
# encoding, doc_a < doc_b pairing) shared by every oracle that grades a
# banding-dependent operator — edits here reach all of them at once.
_BANDS_CTE = """bands AS (
  SELECT doc_id, CAST(FLOOR(j / 3) AS INT) AS band_id,
         string_agg(CAST(minhash AS STRING), '-' ORDER BY j) AS band_hash
  FROM sigs GROUP BY doc_id, CAST(FLOOR(j / 3) AS INT)
)"""
_CAND_SELECT = """SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands a JOIN bands b
  ON a.band_id = b.band_id AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id"""
_CAND_CTE = f"""cand AS (
  {_CAND_SELECT}
)"""

_register(
    "dedup_minhash_signatures",
    lambda spark, sf: minhash_signatures(_docs(spark, sf), k=12),
    f"""
WITH {_SHINGLES_CTE},
{_SIGS_CTE}
SELECT doc_id, j, minhash FROM sigs
""".strip(),
)

_register(
    "dedup_minhash_candidates",
    lambda spark, sf: minhash_candidates(_docs(spark, sf), k=12, rows_per_band=3),
    f"""
WITH {_SHINGLES_CTE},
{_SIGS_CTE},
{_BANDS_CTE}
{_CAND_SELECT}
""".strip(),
)

# --- dedup_minhash_verified: the LSH candidates -> exact-Jaccard verify stage ------


def _q_dedup_minhash_verified(spark, sf):
    from tsprofiler_spark.operators.dedup import verify_candidates

    docs = _docs(spark, sf)
    cands = minhash_candidates(docs, k=12, rows_per_band=3)
    return verify_candidates(docs, cands, n=3, threshold=0.5)


_register(
    "dedup_minhash_verified",
    _q_dedup_minhash_verified,
    f"""
WITH {_SHINGLES_CTE},
{_SIGS_CTE},
{_BANDS_CTE},
{_CAND_CTE},
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
common AS (
  SELECT c.doc_a, c.doc_b, COUNT(sb.shingle) AS common
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.doc_a
  LEFT JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
  GROUP BY c.doc_a, c.doc_b
)
SELECT c.doc_a, c.doc_b, cm.common, sa.n_sh AS na, sb.n_sh AS nb,
  CAST(FLOOR((cm.common / (sa.n_sh + sb.n_sh - cm.common)) * 1000000 + 0.5) AS BIGINT)
    AS jaccard_u,
  CAST(cm.common / (sa.n_sh + sb.n_sh - cm.common) >= 0.5 AS INT) AS is_dup
FROM cand c
JOIN common cm ON cm.doc_a = c.doc_a AND cm.doc_b = c.doc_b
JOIN sizes sa ON sa.doc_id = c.doc_a
JOIN sizes sb ON sb.doc_id = c.doc_b
""".strip(),
)


# --- dedup_components: connected-components keeper resolution ---------------------
# The post-LSH step of a real dedup pipeline: group candidate pairs into
# components, keep min doc_id per component. Spark runs iterative min-label
# propagation (O(diameter) co-partitioned joins); the oracle is the same
# fixpoint as a DuckDB recursive CTE.


def _q_dedup_components(spark, sf):
    from tsprofiler_spark.operators.dedup import dedup_components

    docs = _docs(spark, sf)
    return dedup_components(docs, minhash_candidates(docs, k=12, rows_per_band=3))


_register(
    "dedup_components",
    _q_dedup_components,
    f"""
WITH RECURSIVE {_SHINGLES_CTE},
{_SIGS_CTE},
{_BANDS_CTE},
{_CAND_CTE},
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM cand
  UNION SELECT doc_b, doc_a FROM cand
),
cc AS (
  SELECT doc_id, doc_id AS comp FROM documents
  UNION
  SELECT e.dst AS doc_id, cc.comp FROM cc JOIN edges e ON e.src = cc.doc_id
)
SELECT doc_id, MIN(comp) AS keeper_id,
       CAST(MIN(comp) = doc_id AS INT) AS is_keeper
FROM cc GROUP BY doc_id
""".strip(),
)

# --- simhash ---------------------------------------------------------------------

_H_TOKEN = h32_sql_duckdb("token")

_register(
    "dedup_simhash",
    lambda spark, sf: simhash(_docs(spark, sf), bits=32),
    f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token FROM documents
),
hs AS (SELECT doc_id, {_H_TOKEN} AS h FROM toks WHERE token != ''),
pb AS (
  SELECT doc_id, bit,
    CASE WHEN CAST(FLOOR(h / pow(2, bit)) AS BIGINT) % 2 = 1 THEN 1 ELSE -1 END AS sign
  FROM hs CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS bit) bits
),
bs AS (SELECT doc_id, bit, SUM(sign) AS s FROM pb GROUP BY doc_id, bit)
SELECT doc_id,
  CAST(SUM(CASE WHEN s > 0 THEN CAST(pow(2, bit) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
FROM bs GROUP BY doc_id
""".strip(),
)

# --- n-gram Jaccard pairs -----------------------------------------------------------

_register(
    "dedup_ngram_jaccard",
    lambda spark, sf: ngram_jaccard_pairs(_docs(spark, sf), n=3, threshold=0.5),
    f"""
WITH {_SHINGLES_CTE},
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b, common, sa.n_sh AS na, sb.n_sh AS nb,
  CAST(FLOOR((common / (sa.n_sh + sb.n_sh - common)) * 1000000 + 0.5) AS BIGINT) AS jaccard_u
FROM common
JOIN sizes sa ON sa.doc_id = common.doc_a
JOIN sizes sb ON sb.doc_id = common.doc_b
WHERE common / (sa.n_sh + sb.n_sh - common) >= 0.5
""".strip(),
)

# --- decontamination -------------------------------------------------------------------

# 5-gram list comprehension reused by both sides of the decontaminate oracle
_FIVEGRAMS = (
    "CASE WHEN len(ws) >= 5 THEN list_distinct("
    "[ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4] "
    "for i in generate_series(1, len(ws) - 4)]) ELSE []::VARCHAR[] END"
)

_register(
    "decontaminate",
    lambda spark, sf: decontaminate(
        _docs(spark, sf), synth_benchmark(_docs(spark, sf)), n=5
    ),
    f"""
WITH tok AS (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
sh AS (SELECT doc_id, unnest({_FIVEGRAMS}) AS shingle FROM tok),
bench AS (
  SELECT doc_id AS bench_id,
         array_to_string(list_slice(string_split(lower(text), ' '), 4, 13), ' ') AS btext
  FROM documents WHERE doc_id % 29 = 0
),
btok AS (SELECT bench_id, string_split(btext, ' ') AS ws FROM bench),
bsh AS (
  SELECT DISTINCT bench_id, shingle FROM (
    SELECT bench_id, unnest({_FIVEGRAMS}) AS shingle FROM btok
  )
),
hits AS (
  SELECT s.doc_id, COUNT(DISTINCT s.shingle) AS n_hit_shingles,
         COUNT(DISTINCT b.bench_id) AS n_bench_matches
  FROM sh s JOIN bsh b USING (shingle) GROUP BY s.doc_id
),
base AS (SELECT doc_id, len({_FIVEGRAMS}) AS n_shingles FROM tok)
SELECT base.doc_id, CAST(n_shingles AS INT) AS n_shingles,
  CAST(COALESCE(n_hit_shingles, 0) AS INT) AS n_hit_shingles,
  CAST(COALESCE(n_bench_matches, 0) AS INT) AS n_bench_matches,
  COALESCE(n_hit_shingles, 0) > 0 AS contaminated
FROM base LEFT JOIN hits ON base.doc_id = hits.doc_id
""".strip(),
)

# --- deterministic sampling / splits ----------------------------------------------------

_H_DOCID = h32_sql_duckdb("CAST(doc_id AS STRING)")

_register(
    "sample_hash_split",
    lambda spark, sf: hash_split(_docs(spark, sf), train_pct=80, val_pct=10),
    f"""
SELECT doc_id, CAST(h % 100 AS INT) AS bucket,
  CASE WHEN h % 100 < 80 THEN 'train'
       WHEN h % 100 < 90 THEN 'val'
       ELSE 'test' END AS split
FROM (SELECT doc_id, {_H_DOCID} AS h FROM documents)
""".strip(),
)

_H_STRAT = h32_sql_duckdb("coalesce(lang, '') || ':' || CAST(doc_id AS STRING)")

_register(
    "sample_stratified",
    lambda spark, sf: stratified_sample(
        _docs(spark, sf), {"en": 0.35, "zh": 0.8}, default_fraction=0.6
    ),
    f"""
SELECT doc_id, lang
FROM (SELECT doc_id, lang, {_H_STRAT} AS h FROM documents)
WHERE h % 1000000 < CASE coalesce(lang, '') WHEN 'en' THEN 350000 WHEN 'zh' THEN 800000
                    ELSE 600000 END
""".strip(),
)

# --- text analysis --------------------------------------------------------------------

_register(
    "text_token_counts",
    lambda spark, sf: token_counts(_docs(spark, sf)).select(
        "doc_id",
        F.col("n_chars").cast("int"),
        F.col("n_tokens").cast("int"),
        F.col("n_distinct_tokens").cast("int"),
        F.col("n_bpe_pieces").cast("long"),
    ),
    """
SELECT doc_id,
  CAST(length(text) AS INT) AS n_chars,
  CAST(len(string_split(lower(text), ' ')) AS INT) AS n_tokens,
  CAST(len(list_distinct(string_split(lower(text), ' '))) AS INT) AS n_distinct_tokens,
  CAST(list_sum([CAST(ceil(length(t) / 4.0) AS BIGINT)
                 for t in string_split(lower(text), ' ')]) AS BIGINT) AS n_bpe_pieces
FROM documents
""".strip(),
)


def _stop_list_sql(lang: str) -> str:
    return "[" + ", ".join(f"'{w}'" for w in STOPWORDS[lang]) + "]"


_register(
    "text_quality",
    lambda spark, sf: quality_scores(_docs(spark, sf)).select(
        "doc_id", F.col("n_chars").cast("int"), F.col("n_tokens").cast("int"),
        "alpha_ratio_u", "stop_ratio_u", "distinct_ratio_u", "quality_u",
    ),
    f"""
WITH t AS (
  SELECT doc_id, text, string_split(lower(text), ' ') AS ws,
    CAST(length(text) AS INT) AS n_chars,
    CAST(len(string_split(lower(text), ' ')) AS INT) AS n_tokens,
    length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS alpha_chars
  FROM documents
),
r AS (
  SELECT doc_id, n_chars, n_tokens,
    alpha_chars / GREATEST(n_chars, 1) AS alpha_ratio,
    len(list_intersect(ws, {_stop_list_sql('en')})) / GREATEST(n_tokens, 1) AS stop_ratio,
    len(list_distinct(ws)) / GREATEST(n_tokens, 1) AS distinct_ratio,
    (n_chars - (n_tokens - 1)) / GREATEST(n_tokens, 1) AS mean_tok_len
  FROM t
)
SELECT doc_id, n_chars, n_tokens,
  CAST(FLOOR(alpha_ratio * 1000000 + 0.5) AS BIGINT) AS alpha_ratio_u,
  CAST(FLOOR(stop_ratio * 1000000 + 0.5) AS BIGINT) AS stop_ratio_u,
  CAST(FLOOR(distinct_ratio * 1000000 + 0.5) AS BIGINT) AS distinct_ratio_u,
  CAST(FLOOR((0.3 * LEAST(n_tokens / 64.0, 1.0) + 0.2 * alpha_ratio
    + 0.2 * distinct_ratio + 0.15 * LEAST(stop_ratio * 5, 1.0)
    + 0.15 * LEAST(mean_tok_len / 8.0, 1.0)) * 1000000 + 0.5) AS BIGINT) AS quality_u
FROM r
""".strip(),
)

_register(
    "text_lang_id",
    lambda spark, sf: language_id(_docs(spark, sf)).select(
        "doc_id",
        *[F.col(f"hits_{l}").cast("int") for l in ("en", "de", "fr", "es")],
        "lang_pred",
    ),
    f"""
WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
h AS (
  SELECT doc_id,
    CAST(len(list_intersect(ws, {_stop_list_sql('en')})) AS INT) AS hits_en,
    CAST(len(list_intersect(ws, {_stop_list_sql('de')})) AS INT) AS hits_de,
    CAST(len(list_intersect(ws, {_stop_list_sql('fr')})) AS INT) AS hits_fr,
    CAST(len(list_intersect(ws, {_stop_list_sql('es')})) AS INT) AS hits_es
  FROM t
)
SELECT doc_id, hits_en, hits_de, hits_fr, hits_es,
  CASE
    WHEN hits_en = 0 AND hits_de = 0 AND hits_fr = 0 AND hits_es = 0 THEN 'unk'
    WHEN hits_en >= hits_de AND hits_en >= hits_fr AND hits_en >= hits_es THEN 'en'
    WHEN hits_de >= hits_fr AND hits_de >= hits_es THEN 'de'
    WHEN hits_fr >= hits_es THEN 'fr'
    ELSE 'es' END AS lang_pred
FROM h
""".strip(),
)

_register(
    "text_repetition",
    lambda spark, sf: repetition_scores(_docs(spark, sf), n=3),
    """
WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS ws, lower(text) AS lt FROM documents),
s AS (
  SELECT doc_id,
    CASE WHEN len(ws) >= 3
         THEN [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
               for i in generate_series(1, len(ws) - 2)]
         ELSE [lt] END AS shingles
  FROM t
),
ex AS (SELECT doc_id, unnest(shingles) AS sh FROM s),
mult AS (
  SELECT doc_id, sh, COUNT(*) AS c FROM ex GROUP BY doc_id, sh
)
SELECT m.doc_id,
  CAST(SUM(c) AS INT) AS n_shingles,
  CAST(COUNT(*) AS INT) AS n_distinct_shingles,
  CAST(MAX(c) AS INT) AS top_shingle_count,
  CAST(FLOOR((1.0 - COUNT(*) / GREATEST(SUM(c), 1)) * 1000000 + 0.5) AS BIGINT)
    AS dup_ngram_ratio_u
FROM mult m GROUP BY m.doc_id
""".strip(),
)

_register(
    "text_chunks",
    lambda spark, sf: text_chunks(_docs(spark, sf), chunk_tokens=64, overlap=16),
    """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
s AS (SELECT doc_id, toks, len(toks) AS n FROM t),
e AS (
  SELECT doc_id, toks, n,
    unnest(generate_series(0,
      GREATEST(0, CAST(FLOOR((n - 64 + 47) / 48.0) AS BIGINT)))) AS k
  FROM s
)
SELECT doc_id, CAST(k AS INT) AS chunk_idx, CAST(k * 48 AS INT) AS start_token,
  CAST(len(list_slice(toks, k * 48 + 1, k * 48 + 64)) AS INT) AS chunk_n_tokens,
  array_to_string(list_slice(toks, k * 48 + 1, k * 48 + 64), ' ') AS chunk_text
FROM e
""".strip(),
)


# text_redact: the synthetic corpus carries no natural PII, so the query
# PLANTS deterministic contacts on every 10th doc with the same string
# arithmetic in both engines — the full match-count + masked-hash pipeline
# is then value-checked end-to-end, not just on zero-match rows.

def _q_text_redact(spark, sf):
    docs = _docs(spark, sf)
    planted = F.when(
        F.col("doc_id") % 10 == 0,
        F.concat(
            F.col("text"),
            F.lit(" contact user"), F.col("doc_id").cast("string"),
            F.lit("@example.com or https://ex.org/d/"),
            F.col("doc_id").cast("string"),
            F.lit(" ref 1234567890"),
        ),
    ).otherwise(F.col("text"))
    return text_redact(docs.withColumn("text", planted))


_TEXT_REDACT_ORACLE = """
WITH aug AS (
  SELECT doc_id,
    CASE WHEN doc_id % 10 = 0
         THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@example.com or https://ex.org/d/' || CAST(doc_id AS VARCHAR)
              || ' ref 1234567890'
         ELSE text END AS text
  FROM documents
),
red AS (
  SELECT doc_id, text,
    regexp_replace(
      regexp_replace(
        regexp_replace(text, '{email}', '<EMAIL>', 'g'),
        '{url}', '<URL>', 'g'),
      '{longnum}', '<LONGNUM>', 'g') AS redacted
  FROM aug
)
SELECT doc_id,
  CAST(len(regexp_extract_all(text, '{email}')) AS INT) AS n_email,
  CAST(len(regexp_extract_all(text, '{url}')) AS INT) AS n_url,
  CAST(len(regexp_extract_all(text, '{longnum}')) AS INT) AS n_longnum,
  CAST(length(redacted) AS INT) AS redacted_len,
  md5(redacted) AS redacted_md5
FROM red
""".strip().format(**REDACT_PATTERNS)

_register("text_redact", _q_text_redact, _TEXT_REDACT_ORACLE)

_register(
    "text_pack_sequences",
    lambda spark, sf: pack_sequences(_docs(spark, sf), budget_tokens=256, n_shards=8),
    """
WITH d AS (
  SELECT doc_id, CAST(doc_id % 8 AS INT) AS shard,
         CAST(CASE WHEN length(coalesce(text, '')) = 0 THEN 0
              ELSE length(text) - length(replace(text, ' ', '')) + 1 END
              AS BIGINT) AS n_tokens
  FROM documents
),
c AS (
  -- CAST is load-bearing: DuckDB types SUM(BIGINT) as HUGEINT, which crosses
  -- Arrow as decimal128(38,0) and hash-mismatches Spark's int64 even when the
  -- values are identical (r3 verdict root cause — the only non-standard-typed
  -- column in the whole oracle contract).
  SELECT *, CAST(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id) - n_tokens
           AS BIGINT) AS start_offset
  FROM d
)
SELECT doc_id, shard, n_tokens, start_offset,
       CAST(start_offset // 256 AS BIGINT) AS pack_id,
       CAST(start_offset % 256 AS BIGINT) AS offset_in_pack
FROM c
""".strip(),
)

_H_SH5 = h32_sql_duckdb("s")

_register(
    "text_fingerprint",
    lambda spark, sf: doc_fingerprints(_docs(spark, sf), window=5).select(
        "doc_id", "fp_min", "fp_max", F.col("n_shingles").cast("int")
    ),
    f"""
WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS ws, lower(text) AS lt FROM documents),
s AS (
  SELECT doc_id,
    CASE WHEN len(ws) >= 5
         THEN [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4]
               for i in generate_series(1, len(ws) - 4)]
         ELSE [lt] END AS shingles
  FROM t
)
SELECT doc_id,
  list_min(list_transform(shingles, s -> {_H_SH5})) AS fp_min,
  list_max(list_transform(shingles, s -> {_H_SH5})) AS fp_max,
  CAST(len(shingles) AS INT) AS n_shingles
FROM s
""".strip(),
)

# --- similarity search ---------------------------------------------------------------------

_register(
    "sim_brute_topk",
    lambda spark, sf: brute_force_topk(_embs(spark, sf), k=10, query_mod=100),
    """
WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
q AS (SELECT vec_id AS query_id, emb AS q_emb FROM base WHERE vec_id % 100 = 0),
scored AS (
  SELECT q.query_id, b.vec_id AS neighbor_id,
    list_dot_product(q.q_emb, b.emb)
      / (sqrt(list_dot_product(q.q_emb, q.q_emb)) * sqrt(list_dot_product(b.emb, b.emb))) AS cosine
  FROM base b, q WHERE b.vec_id != q.query_id
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank,
       CAST(FLOOR(cosine * 1000000 + 0.5) AS BIGINT) AS cosine_u
FROM ranked WHERE rank <= 10
""".strip(),
)

_W_PLANE = h32_sql_duckdb("CAST(p AS STRING) || '-' || CAST(d - 1 AS STRING)")

_register(
    "sim_lsh_buckets",
    lambda spark, sf: lsh_buckets(_embs(spark, sf), n_planes=12, dim=64),
    f"""
WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
dims AS (SELECT unnest(generate_series(1, 64)) AS d),
planes AS (
  SELECT p, d, (({_W_PLANE}) % 2001 - 1000) / 1000.0 AS w
  FROM (SELECT unnest(generate_series(0, 11)) AS p) ps CROSS JOIN dims
),
x AS (SELECT vec_id, d, emb[d] AS v FROM base CROSS JOIN dims),
dots AS (SELECT vec_id, p, SUM(v * w) AS dot FROM x JOIN planes USING (d) GROUP BY vec_id, p)
SELECT vec_id,
  CAST(SUM(CASE WHEN dot > 0 THEN CAST(pow(2, p) AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
FROM dots GROUP BY vec_id
""".strip(),
)

# ANN inside LSH buckets, multi-probe (own bucket + every Hamming-1 bucket).
# Fully SQL-expressible: buckets use the same deterministic hyperplanes as
# sim_lsh_buckets, candidates join bucket-locally, ties break on neighbor_id
# like sim_brute_topk. 4 planes = 16 buckets: sized for the 500-vector test
# corpus (the plane count scales with log2(n/target_bucket_size) in
# production). Recall-vs-brute-force is additionally pinned in pytest.
_register(
    "sim_ann_topk",
    lambda spark, sf: ann_topk(_embs(spark, sf), k=10, query_mod=100, n_planes=4),
    f"""
WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
dims AS (SELECT unnest(generate_series(1, 64)) AS d),
planes AS (
  SELECT p, d, (({_W_PLANE}) % 2001 - 1000) / 1000.0 AS w
  FROM (SELECT unnest(generate_series(0, 3)) AS p) ps CROSS JOIN dims
),
x AS (SELECT vec_id, d, emb[d] AS v FROM base CROSS JOIN dims),
dots AS (SELECT vec_id, p, SUM(v * w) AS dot FROM x JOIN planes USING (d) GROUP BY vec_id, p),
buckets AS (
  SELECT vec_id,
    CAST(SUM(CASE WHEN dot > 0 THEN CAST(pow(2, p) AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
  FROM dots GROUP BY vec_id
),
b AS (SELECT base.vec_id, emb, bucket FROM base JOIN buckets USING (vec_id)),
qprobe AS (
  SELECT vec_id AS query_id, emb AS q_emb,
         unnest([bucket] || [xor(bucket, CAST(pow(2, p) AS BIGINT))
                             for p in generate_series(0, 3)]) AS q_bucket
  FROM b WHERE vec_id % 100 = 0
),
scored AS (
  SELECT q.query_id, b.vec_id AS neighbor_id,
    list_dot_product(q.q_emb, b.emb)
      / (sqrt(list_dot_product(q.q_emb, q.q_emb)) * sqrt(list_dot_product(b.emb, b.emb))) AS cosine
  FROM qprobe q JOIN b ON b.bucket = q.q_bucket AND b.vec_id != q.query_id
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank,
       CAST(FLOOR(cosine * 1000000 + 0.5) AS BIGINT) AS cosine_u
FROM ranked WHERE rank <= 10
""".strip(),
)


# --- dedup_embedding: embedding-cosine near-dup (LSH-bucket-restricted) ------
# The driver corpus has no natural near-dups (max pairwise cosine ~0.51), so
# the query plants them deterministically: every 50th vector gets a copy at
# vec_id+100000 with a small index-dependent additive perturbation — built
# with the SAME arithmetic in Spark and DuckDB, so the whole pipeline
# (buckets -> candidate pairs -> exact cosine >= threshold) is value-checked.

def _q_dedup_embedding(spark, sf):
    from tsprofiler_spark.operators.dedup import embedding_near_dups

    base = _embs(spark, sf).select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    pert = base.where(F.col("vec_id") % 50 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(
            "embedding", lambda x, i: x * (1 + ((i % 7) - 3) * F.lit(0.01))
        ).alias("embedding"),
    )
    aug = base.unionByName(pert)
    return embedding_near_dups(aug, threshold=0.97, n_planes=6)



_register(
    "dedup_embedding",
    _q_dedup_embedding,
    f"""
WITH orig AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
dims AS (SELECT unnest(generate_series(1, 64)) AS d),
pert AS (
  SELECT vec_id + 100000 AS vec_id,
         list(v * (1 + (((d - 1) % 7) - 3) * 0.01) ORDER BY d) AS emb
  FROM (SELECT vec_id, d, emb[d] AS v FROM orig CROSS JOIN dims) x
  WHERE vec_id % 50 = 0 GROUP BY vec_id
),
base AS (SELECT * FROM orig UNION ALL SELECT * FROM pert),
planes AS (
  SELECT p, d, (({_W_PLANE}) % 2001 - 1000) / 1000.0 AS w
  FROM (SELECT unnest(generate_series(0, 5)) AS p) ps CROSS JOIN dims
),
x AS (SELECT vec_id, d, emb[d] AS v FROM base CROSS JOIN dims),
dots AS (SELECT vec_id, p, SUM(v * w) AS dot FROM x JOIN planes USING (d) GROUP BY vec_id, p),
buckets AS (
  SELECT vec_id,
    CAST(SUM(CASE WHEN dot > 0 THEN CAST(pow(2, p) AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
  FROM dots GROUP BY vec_id
),
b AS (SELECT base.vec_id, emb, bucket FROM base JOIN buckets USING (vec_id)),
pairs AS (
  SELECT a.vec_id AS keep_id, c.vec_id AS dup_id,
    list_dot_product(a.emb, c.emb)
      / (sqrt(list_dot_product(a.emb, a.emb)) * sqrt(list_dot_product(c.emb, c.emb))) AS cos
  FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
)
SELECT keep_id, dup_id, ROUND(cos, 6) AS cosine FROM pairs WHERE cos >= 0.97
""".strip(),
)


def _q_sim_ivf_kmeans_topk(spark, sf):
    """IVF ANN with a LEARNED coarse quantizer, fully value-checked: the
    integer-exact seeded Lloyd's KMeans (kmeans_integer) keeps training on
    the BIGINT micro-unit grid (exact distances, floor-division means), so
    DuckDB replays the entire path — seed draw, every Lloyd round, final
    assignment, probe ranking, bucket-local scoring — bit-for-bit. The
    MLlib-KMeans variant (ivf_index/ivf_topk default) stays library API,
    pinned by test_similarity_ivf.py (float KMeans isn't SQL-replayable)."""
    from tsprofiler_spark.operators.similarity import ivf_topk, kmeans_integer

    embs = _embs(spark, sf)
    cents = kmeans_integer(embs, n_centroids=8, iters=3)
    return ivf_topk(embs, k=10, query_mod=100, n_probe=3, centroids=cents)


def _ivf_probe_score_tail(dim=64, n_probe=3, k=10, query_mod=100):
    """assign/probe/score/rank tail shared by BOTH IVF oracles (learned and
    fixed quantizer) — one definition of the probe-ranking epsilon, the
    tie-breaks, and the cosine formula, so the fixed-quantizer twin grades
    exactly the same machinery as the learned-quantizer query. Expects
    CTEs ``base(vec_id, emb)`` and ``cent(centroid_id, centroid)``."""
    return f"""assign0 AS (
  SELECT b.vec_id, c.centroid_id,
    list_sum([pow(b.emb[d] - c.centroid[d], 2) for d in generate_series(1, {dim})]) AS d2
  FROM base b CROSS JOIN cent c
),
assigned AS (
  SELECT vec_id, centroid_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, centroid_id) AS rn
    FROM assign0
  ) WHERE rn = 1
),
q AS (SELECT vec_id AS query_id, emb AS q_emb FROM base WHERE vec_id % {query_mod} = 0),
probes AS (
  SELECT query_id, q_emb, centroid_id FROM (
    SELECT q.query_id, q.q_emb, c.centroid_id,
      ROW_NUMBER() OVER (
        PARTITION BY q.query_id
        ORDER BY list_dot_product(q.q_emb, c.centroid)
                 / (1e-12 + sqrt(list_dot_product(c.centroid, c.centroid))) DESC,
                 c.centroid_id
      ) AS probe_rank
    FROM q CROSS JOIN cent c
  ) WHERE probe_rank <= {n_probe}
),
scored AS (
  SELECT p.query_id, b.vec_id AS neighbor_id,
    list_dot_product(p.q_emb, b.emb)
      / (sqrt(list_dot_product(p.q_emb, p.q_emb)) * sqrt(list_dot_product(b.emb, b.emb))) AS cos
  FROM probes p
  JOIN assigned a ON a.centroid_id = p.centroid_id
  JOIN base b ON b.vec_id = a.vec_id
  WHERE b.vec_id != p.query_id
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, ROUND(cos, 6) AS cosine, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {k}"""


def _ivf_kmeans_oracle(n_centroids=8, iters=3, dim=64, n_probe=3, k=10, query_mod=100):
    """Unrolled Lloyd's KMeans + IVF probe/score as DuckDB CTEs.

    Mirrors kmeans_integer exactly: micro-unit quantization, (h32, vec_id)
    seed draw, integer squared-L2 assignment with centroid_id tie-break,
    floor-division mean ((s - pmod(s,n)) // n == Python s // n), empty
    clusters keeping the previous centroid via LEFT JOIN + COALESCE."""
    h = h32_sql_duckdb("CAST(vec_id AS STRING)")
    parts = [
        f"""
WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
ebu AS (
  SELECT vec_id, [CAST(FLOOR(e * 1000000 + 0.5) AS BIGINT) for e in emb] AS eu
  FROM base
),
c0 AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY h, vec_id) - 1 AS INT) AS centroid_id, eu AS cu
  FROM (SELECT vec_id, eu, {h} AS h FROM ebu)
  QUALIFY centroid_id <= {n_centroids - 1}
)"""
    ]
    for t in range(1, iters + 1):
        prev = f"c{t - 1}"
        parts.append(
            f""",
a{t} AS (
  SELECT vec_id, centroid_id FROM (
    SELECT e.vec_id, c.centroid_id,
      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
        list_sum([(e.eu[d] - c.cu[d]) * (e.eu[d] - c.cu[d]) for d in generate_series(1, {dim})]),
        c.centroid_id) AS rn
    FROM ebu e CROSS JOIN {prev} c
  ) WHERE rn = 1
),
m{t} AS (
  SELECT a.centroid_id, ds.d, SUM(e.eu[ds.d]) AS s, COUNT(*) AS n
  FROM a{t} a JOIN ebu e USING (vec_id)
  CROSS JOIN (SELECT unnest(generate_series(1, {dim})) AS d) ds
  GROUP BY a.centroid_id, ds.d
),
c{t} AS (
  SELECT p.centroid_id, COALESCE(g.cu, p.cu) AS cu
  FROM {prev} p LEFT JOIN (
    SELECT centroid_id,
      list(CAST((s - ((s % n + n) % n)) // n AS BIGINT) ORDER BY d) AS cu
    FROM m{t} GROUP BY centroid_id
  ) g USING (centroid_id)
)"""
        )
    parts.append(
        f""",
cent AS (SELECT centroid_id, [c / 1000000.0 for c in cu] AS centroid FROM c{iters}),
{_ivf_probe_score_tail(dim=dim, n_probe=n_probe, k=k, query_mod=query_mod)}"""
    )
    return "".join(parts).strip()


_register("sim_ivf_kmeans_topk", _q_sim_ivf_kmeans_topk, _ivf_kmeans_oracle())


# --- parity + predictor (sequential reference kernels; non-SQL-expressible,
# --- rows-only driver check; bit-exactness is pinned in pytest vs the kernel) --

def _parity_settings():
    from tsprofiler_spark.config import Settings

    return Settings(
        buffer_size=4, states=8, history=1, fix_bound=True,
        fixed_min=0.0, fixed_max=128.0, period_size=(4, 6),
        phase_change_likeliness=0.5, phase_change_history=4,
    )


def _q_parity_profiles(spark, sf):
    from tsprofiler_spark.operators.ingest import derive_series
    from tsprofiler_spark.plans.parity import parity_profiles
    from tsprofiler_spark.sources.transcripts import transcripts_from_events

    t = transcripts_from_events(spark, sf)
    return parity_profiles(derive_series(t), _parity_settings())


def _q_parity_profile_doc(spark, sf):
    """Driver row for the ASSEMBLED profile document: the full
    ``profile_json`` string per series, hash-compared against a DuckDB
    oracle that rebuilds the byte-identical JSON from the section replays
    (r4 verdict ask #3 — the glue the piecewise rows couldn't see: key
    ordering, struct field order, the settings block, section nesting)."""
    return _q_parity_profiles(spark, sf).select(
        "conv_id", "tool", "role", "profile_json"
    )


# The parity fold's ROOT TxMatrix is SQL-expressible for this config
# (fix_bound + history=1: chunk states and transition counts are pure
# functions of the data — SURVEY §7 "scale mode validates parity mode"), so
# the sequential applyInPandas kernel gets a HARD value check here: explode
# the profile_json documents back into (ident, next_state, prob_pct,
# step_prob) rows and compare against DuckDB recomputing the same matrix
# relationally. Since r4 the row ALSO carries the per-metric GLOBAL STATS
# block of the document (counter.go:123-156: sentinel min/max expansion +
# the sequential weighted 2-way mean fold + stddev over the accumulated
# cross-term sum) — replayed bit-exactly in DuckDB as a recursive CTE over
# the chronological chunk list (validated: 1492/1492 series-metrics at
# sf0.01 and 149/149 at sf0.001 repr-identical to the kernel). With this,
# every field of the profile document is oracle-checked: roottx
# transitions+stats here, the period tree in parity_tree, phase
# assignments/matrices in parity_phases/parity_phase_tx.
_ROOTTX_JSON_SCHEMA = (
    "array<struct<metric: string, transitions: "
    "map<string, struct<nextProbs: array<int>, probability: int>>, "
    "stats: struct<min: double, max: double, stddev: double, avg: double, "
    "count: int, stddevsum: double>>>"
)


def _q_parity_roottx(spark, sf):
    profiles = _q_parity_profiles(spark, sf)
    rt = profiles.select(
        "conv_id",
        "tool",
        "role",
        F.from_json(
            F.get_json_object("profile_json", "$.roottx"), _ROOTTX_JSON_SCHEMA
        ).alias("roottx"),
    )
    per_metric = rt.select(
        "conv_id", "tool", "role", F.explode("roottx").alias("tx")
    )
    per_ident = per_metric.select(
        "conv_id",
        "tool",
        "role",
        F.col("tx.metric").alias("metric"),
        F.col("tx.stats").alias("st"),
        F.explode("tx.transitions").alias("ident", "step"),
    )
    return per_ident.select(
        "conv_id",
        "tool",
        "role",
        "metric",
        "ident",
        F.posexplode("step.nextProbs").alias("next_state", "prob_pct"),
        F.col("step.probability").alias("step_prob"),
        F.col("st"),
    ).select(
        "conv_id",
        "tool",
        "role",
        "metric",
        "ident",
        F.col("next_state").cast("int").alias("next_state"),
        F.col("prob_pct").cast("int").alias("prob_pct"),
        F.col("step_prob").cast("int").alias("step_prob"),
        F.col("st.min").alias("stat_min"),
        F.col("st.max").alias("stat_max"),
        F.col("st.avg").alias("stat_avg"),
        F.col("st.stddev").alias("stat_stddev"),
        F.col("st.count").alias("stat_count"),
        F.col("st.stddevsum").alias("stat_ssum"),
    )


def _go_round_pct(num: str, den: str) -> str:
    """``int(go_round(float(num)/float(den)*100.0))`` replicated with the
    kernel's exact IEEE op order and go_round's trunc-compare (no +0.5
    addition, which could misround within one ulp of a k-0.5 boundary —
    rounding.py:15-20 / utils/stats.go:38-44). Both args are >= 0 here.

    The op order matters beyond the trunc-compare: ``(cnt/total)*100.0``
    and ``(100.0*cnt)/total`` differ in the final ulp on pairs like
    23/40 (57.4999999999999929 vs 57.5 exactly), flipping the rounded
    percent — every oracle percent MUST go through this helper, never a
    hand-written ``FLOOR(100.0*x/y + 0.5)`` (pinned by
    test_parity_phases::test_go_round_pct_matches_kernel)."""
    from tsprofiler_spark.functions import go_round_pct_sql

    return go_round_pct_sql(num, den)


# parity config: buffer_size=4, states=8, history=1, fixed bounds (0, 128)
_PARITY_CTE = """
transcripts AS (
{ingest}
),
series AS (
  SELECT conv_id, tool, role, turn_idx, ts,
         'len_text' AS metric, CAST(length(text) AS DOUBLE) AS value
  FROM transcripts
),
bucketed AS (
  SELECT *, ROW_NUMBER() OVER (
      PARTITION BY conv_id, tool, role, metric ORDER BY ts, turn_idx) - 1 AS seq
  FROM series
),
chunks AS (
  SELECT conv_id, tool, role, metric,
         CAST(FLOOR(seq / 4) AS BIGINT) AS bucket_idx,
         COUNT(value) AS n, SUM(value) / COUNT(value) AS chunk_avg
  FROM bucketed
  GROUP BY conv_id, tool, role, metric, CAST(FLOOR(seq / 4) AS BIGINT)
),
states AS (
  SELECT conv_id, tool, role, metric, bucket_idx,
         {state_sql} AS state
  FROM chunks WHERE n = 4
),
lag1 AS (
  SELECT conv_id, tool, role, metric, bucket_idx,
    CAST(COALESCE(LAG(state) OVER (
      PARTITION BY conv_id, tool, role, metric ORDER BY bucket_idx), 0) AS STRING) AS ident,
    state AS next_state
  FROM states
),
c1 AS (
  SELECT conv_id, tool, role, metric, ident, next_state, COUNT(*) AS cnt
  FROM lag1 GROUP BY conv_id, tool, role, metric, ident, next_state
),
row_tot AS (
  SELECT conv_id, tool, role, metric, ident, SUM(cnt) AS row_sum
  FROM c1 GROUP BY conv_id, tool, role, metric, ident
),
tot AS (
  SELECT conv_id, tool, role, metric, SUM(cnt) AS n_chunks
  FROM c1 GROUP BY conv_id, tool, role, metric
),
txm AS (
  SELECT g.conv_id, g.tool, g.role, g.metric, g.ident,
    CAST(g.next_state AS INT) AS next_state,
    {prob_pct_expr} AS prob_pct,
    {step_prob_expr} AS step_prob
  FROM (
    SELECT conv_id, tool, role, metric, ident, s.s AS next_state
    FROM row_tot CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS s) s
  ) g
  LEFT JOIN c1 c ON c.conv_id = g.conv_id AND c.tool = g.tool AND c.role = g.role
    AND c.metric = g.metric AND c.ident = g.ident AND c.next_state = g.next_state
  JOIN row_tot r ON r.conv_id = g.conv_id AND r.tool = g.tool AND r.role = g.role
    AND r.metric = g.metric AND r.ident = g.ident
  JOIN tot t ON t.conv_id = g.conv_id AND t.tool = g.tool AND t.role = g.role
    AND t.metric = g.metric
)
""".strip()


def _parity_cte() -> str:
    from tsprofiler_spark.functions import closest_state_sql
    from tsprofiler_spark.sources.transcripts import TRANSCRIPTS_FROM_EVENTS_SQL

    ps = _parity_settings()
    return _PARITY_CTE.format(
        ingest=TRANSCRIPTS_FROM_EVENTS_SQL,
        state_sql=closest_state_sql(
            "chunk_avg", ps.states, ps.fixed_min, ps.fixed_max
        ),
        # kernel op order + trunc-compare (txmatrix.py compute_probabilities:
        # go_round((cnt/total)*100.0)); a hand-written FLOOR(100.0*c/r + 0.5)
        # diverges on pairs like 23/40 — see _go_round_pct's docstring
        prob_pct_expr=_go_round_pct("COALESCE(c.cnt, 0)", "r.row_sum"),
        step_prob_expr=_go_round_pct("r.row_sum", "t.n_chunks"),
    )


# Global-stats fold replay (counter.go:148-156 / stats.py merge_global_stats):
# accumulator (avg, cnt, ssum) folded over the chronological 4-value chunks.
# Every op mirrors the kernel's IEEE sequence: chunk avg = left-assoc 4-term
# sum / 4.0 (numpy's n<8 sequential path), chunk cross-term = left-assoc sum
# of (v - running_avg)*(v - chunk_avg), merged avg = (avg*cnt + ca*4)/(cnt+4)
# (gonum weighted 2-way mean). min/max are the fix_bound constants (sentinel
# expansion never fires past chunk 1). stddev = go_sqrt(ssum/cnt): NaN guard
# spelled out because DuckDB sqrt(<0) errors where Go returns NaN.
#
# The fold is a RECURSIVE CTE, not list_reduce: DuckDB 1.0's chained
# list_reduce lambda evaluation drifts 1 ulp from stepwise scalar
# evaluation on non-integral doubles (isolated empirically: identical
# binary inputs, fold state after k-1 steps identical, step k differs only
# when chained — while plain scalar pipelines and list_transform lambdas
# match numpy bit-for-bit everywhere). The recursive CTE runs the scalar
# path, which test_parity_stats pins against the kernel on random
# non-integral doubles.
_STATS_CHUNK_AVG = "((q.vals[1] + q.vals[2] + q.vals[3] + q.vals[4]) / 4.0)"
_STATS_CROSS_SUM = " + ".join(
    f"(q.vals[{i}] - f.avg) * (q.vals[{i}] - xc.ca)" for i in range(1, 5)
)

# Shared chunk-values grouping for the stats folds (roottx `stats_src`,
# phase fold `seq_vals`) — ONE definition so the two oracles cannot drift
# on what a chunk is. COUNT(value), not COUNT(*): the completeness gate
# must agree with the `chunks` CTE's n, or a hypothetical NULL-valued
# metric would close a chunk in one fold and not the other.
_CHUNK_VALS_CTE = """
{name} AS (
  SELECT conv_id, tool, role, metric,
         CAST(FLOOR(seq / 4) AS BIGINT) AS bucket_idx,
         list(value ORDER BY seq) AS vals, COUNT(value) AS n
  FROM bucketed
  GROUP BY conv_id, tool, role, metric, CAST(FLOOR(seq / 4) AS BIGINT)
)""".strip()

_PARITY_STATS_CTES = f"""
{_CHUNK_VALS_CTE.format(name="stats_src")},
stats_seq AS (
  SELECT conv_id, tool, role, metric,
         ROW_NUMBER() OVER (
             PARTITION BY conv_id, tool, role, metric ORDER BY bucket_idx) - 1 AS k,
         vals
  FROM stats_src WHERE n = 4
),
stats_rec AS (
  SELECT conv_id, tool, role, metric, CAST(0 AS BIGINT) AS k,
         CAST(0 AS DOUBLE) AS avg, CAST(0 AS DOUBLE) AS cnt,
         CAST(0 AS DOUBLE) AS ssum
  FROM stats_seq WHERE k = 0
  UNION ALL
  SELECT f.conv_id, f.tool, f.role, f.metric, f.k + 1,
         (f.avg * f.cnt + xc.ca * 4.0) / (f.cnt + 4.0) AS avg,
         f.cnt + 4.0 AS cnt,
         f.ssum + ({_STATS_CROSS_SUM}) AS ssum
  FROM stats_rec f
  JOIN stats_seq q ON q.conv_id = f.conv_id AND q.tool = f.tool
    AND q.role = f.role AND q.metric = f.metric AND q.k = f.k,
  LATERAL (SELECT {_STATS_CHUNK_AVG} AS ca) xc
),
stats_fold AS (
  SELECT f.conv_id, f.tool, f.role, f.metric, f.avg, f.cnt, f.ssum
  FROM stats_rec f
  JOIN (SELECT conv_id, tool, role, metric, MAX(k) AS mk
        FROM stats_rec GROUP BY conv_id, tool, role, metric) m
    ON m.conv_id = f.conv_id AND m.tool = f.tool AND m.role = f.role
   AND m.metric = f.metric AND m.mk = f.k
  WHERE f.k > 0
),
stats_cols AS (
  SELECT conv_id, tool, role, metric,
         CAST(0.0 AS DOUBLE) AS stat_min, CAST(128.0 AS DOUBLE) AS stat_max,
         avg AS stat_avg,
         CASE WHEN ssum / cnt < 0 THEN CAST('NaN' AS DOUBLE)
              ELSE sqrt(ssum / cnt) END AS stat_stddev,
         CAST(cnt AS INT) AS stat_count, ssum AS stat_ssum
  FROM stats_fold
)
""".strip()

_register(
    "parity_roottx",
    _q_parity_roottx,
    f"""
WITH RECURSIVE {_parity_cte()},
{_PARITY_STATS_CTES}
SELECT t.conv_id, t.tool, t.role, t.metric, t.ident, t.next_state,
       t.prob_pct, t.step_prob, s.stat_min, s.stat_max, s.stat_avg,
       s.stat_stddev, s.stat_count, s.stat_ssum
FROM txm t
JOIN stats_cols s ON s.conv_id = t.conv_id AND s.tool = t.tool
  AND s.role = t.role AND s.metric = t.metric
""".strip(),
)


# The parity fold's PERIOD TREE is also SQL-expressible for this config —
# the r2 verdict's last uncovered kernel section. Derivation (validated
# against kernel.period.Period on 200 random state sequences AND on the full
# sf0.001 corpus, 1192/1192 cells equal):
#   * chunk k lands in depth-1 node (k//6) % 4; the level-0 counter resets
#     at k ≡ 6,12,18 (mod 24) — NOT on the position wrap at 24 (period.py
#     returns before reset on wrap, a reference quirk);
#   * a node's ident set is frozen at its FIRST snapshot (tx_merge only
#     updates idents already present — models/txmatrix.go:46-59), which for
#     history=1 is the single ident prev_state(k0); its `probability` is
#     also frozen at the first snapshot = 100 (1-chunk window);
#   * snapshot percent = go_round(100*cnt/rowsum) = (200*cnt + rowsum) //
#     (2*rowsum), and the merge v' = go_round((v+s)/2) = (v+s+1) // 2 —
#     the whole fold is exact integer arithmetic, expressed in DuckDB as
#     list_reduce over the chronological snapshot list.

def _q_parity_tree(spark, sf):
    profiles = _q_parity_profiles(spark, sf)
    pt_schema = (
        "struct<children: array<struct<txmatrix: array<struct<"
        "metric: string, transitions: map<string, struct<"
        "nextProbs: array<int>, probability: int>>>>>>>"
    )
    tree = profiles.select(
        "conv_id",
        "tool",
        "role",
        F.from_json(
            F.get_json_object("profile_json", "$.periodTree.root"), pt_schema
        ).alias("pt"),
    )
    nodes = tree.select(
        "conv_id", "tool", "role", F.posexplode("pt.children").alias("node_p", "node")
    )
    per_metric = nodes.select(
        "conv_id", "tool", "role", "node_p", F.explode("node.txmatrix").alias("tx")
    )
    per_ident = per_metric.select(
        "conv_id",
        "tool",
        "role",
        F.col("tx.metric").alias("metric"),
        F.col("node_p").cast("int").alias("node_p"),
        F.explode("tx.transitions").alias("ident", "step"),
    )
    return per_ident.select(
        "conv_id",
        "tool",
        "role",
        "metric",
        "node_p",
        "ident",
        F.posexplode("step.nextProbs").alias("next_state", "prob_pct"),
        F.col("step.probability").alias("step_prob"),
    ).select(
        "conv_id",
        "tool",
        "role",
        "metric",
        "node_p",
        "ident",
        F.col("next_state").cast("int").alias("next_state"),
        F.col("prob_pct").cast("int").alias("prob_pct"),
        F.col("step_prob").cast("int").alias("step_prob"),
    )


# CTE block shared by the parity_tree oracle and the full-document oracle
# (_profile_doc_oracle below): snapshot windows, frozen idents, and the
# integer merge fold over the chronological snapshot list.
_PARITY_TREE_CTES = """
pt_prev AS (
  SELECT conv_id, tool, role, metric, bucket_idx AS k, state,
    COALESCE(LAG(state) OVER (PARTITION BY conv_id, tool, role, metric ORDER BY bucket_idx), 0) AS prev_state,
    CAST(((bucket_idx // 6) % 4) AS INT) AS node_p,
    CASE WHEN (bucket_idx // 6) * 6 = 0 THEN 0
         WHEN ((bucket_idx // 6) * 6) % 24 = 0 THEN (bucket_idx // 6) * 6 - 6
         ELSE (bucket_idx // 6) * 6 END AS w_start
  FROM states
),
pt_node0 AS (
  SELECT conv_id, tool, role, metric, node_p, MIN(k) AS k0
  FROM pt_prev GROUP BY conv_id, tool, role, metric, node_p
),
pt_ident AS (
  SELECT n.conv_id, n.tool, n.role, n.metric, n.node_p, n.k0, p.prev_state AS ident_state
  FROM pt_node0 n JOIN pt_prev p
    ON p.conv_id = n.conv_id AND p.tool = n.tool AND p.role = n.role
   AND p.metric = n.metric AND p.k = n.k0
),
pt_counts AS (
  SELECT a.conv_id, a.tool, a.role, a.metric, a.node_p, a.k, i.ident_state,
         b.state AS next_state, COUNT(*) AS cnt
  FROM pt_prev a
  JOIN pt_ident i ON i.conv_id = a.conv_id AND i.tool = a.tool AND i.role = a.role
                 AND i.metric = a.metric AND i.node_p = a.node_p
  JOIN pt_prev b ON b.conv_id = a.conv_id AND b.tool = a.tool AND b.role = a.role
                AND b.metric = a.metric AND b.k BETWEEN a.w_start AND a.k
                AND b.prev_state = i.ident_state
  GROUP BY a.conv_id, a.tool, a.role, a.metric, a.node_p, a.k, i.ident_state, b.state
),
pt_rowsum AS (
  SELECT conv_id, tool, role, metric, node_p, k, ident_state, SUM(cnt) AS rowsum
  FROM pt_counts GROUP BY conv_id, tool, role, metric, node_p, k, ident_state
),
pt_grid AS (
  SELECT r.conv_id, r.tool, r.role, r.metric, r.node_p, r.k, r.ident_state,
         s.s AS next_state,
         (200 * COALESCE(c.cnt, 0) + r.rowsum) // (2 * r.rowsum) AS pct
  FROM pt_rowsum r
  CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS s) s
  LEFT JOIN pt_counts c ON c.conv_id = r.conv_id AND c.tool = r.tool AND c.role = r.role
     AND c.metric = r.metric AND c.node_p = r.node_p AND c.k = r.k AND c.next_state = s.s
),
pt_fold AS (
  SELECT conv_id, tool, role, metric, node_p, ident_state, next_state,
         list_reduce(list(pct ORDER BY k), (acc, x) -> (acc + x + 1) // 2) AS prob_pct
  FROM pt_grid GROUP BY conv_id, tool, role, metric, node_p, ident_state, next_state
)
""".strip()

_PARITY_TREE_TAIL = (
    _PARITY_TREE_CTES
    + """
SELECT conv_id, tool, role, metric, CAST(node_p AS INT) AS node_p,
       CAST(ident_state AS VARCHAR) AS ident, CAST(next_state AS INT) AS next_state,
       CAST(prob_pct AS INT) AS prob_pct, CAST(100 AS INT) AS step_prob
FROM pt_fold
""".rstrip()
)


_register(
    "parity_tree",
    _q_parity_tree,
    f"""
WITH {_parity_cte()},
{_PARITY_TREE_TAIL}
""".strip(),
)


# The parity fold's PHASE DETECTION — the last reference kernel section
# whose only hard signal was pytest goldens (r3 verdict ask #4). The fold
# (phase.go:64-206) is sequential and float32, but for the parity config it
# is EXACTLY replayable in SQL:
#   * fix_bound means chunk stats never expand a phase counter's bounds, so
#     change_dimension never fires — each phase counter is a pure 8x8
#     integer count grid (history=1: idents "0".."7") + its last-counted
#     state;
#   * DuckDB FLOAT arithmetic is IEEE float32 bit-for-bit (verified against
#     numpy.float32 on division/accumulation), so the likeliness window
#     mean and the 0.5 threshold compare reproduce exactly; the fold's
#     list_reduce lambdas are pure additions (float32) or pure integer
#     arithmetic, so the chained-list_reduce mul-add contraction drift that
#     forced the roottx stats fold onto a recursive CTE (see
#     _PARITY_STATS_CTES) cannot arise here — the mul-add stats chains in
#     THIS fold run in scalar laterals / list_transform, both verified
#     ulp-exact on random doubles (test_parity_phases); NaN paths
#     (empty counter -> likeliness 1; empty candidate phases excluded) are
#     expressed as NULL guards because DuckDB orders NaN HIGHEST while Go
#     NaN comparisons are false;
#   * the reference's sequential better-phase scan (pointer replaced when
#     strictly beaten) == argmax with earliest-index tie-break;
#   * the create-new-phase off-by-one (pointer = old last, phase.go:145-148)
#     and the scan's drop-newest-history quirk (phase.go:106-138) are
#     replicated verbatim.
# The recursive CTE below folds all series in lockstep (one row per live
# series per step), carrying the phase counters as a flat BIGINT list.
# Validated on 30 random/phase-structured sequences vs kernel.phase.Phase
# (19 multi-phase, 11 exercising the scan jump-back) before wiring in —
# pinned in tests/test_parity_phases.py.

def _q_parity_phases(spark, sf):
    from tsprofiler_spark.operators.ingest import derive_series
    from tsprofiler_spark.plans.parity import parity_phases
    from tsprofiler_spark.sources.transcripts import transcripts_from_events

    t = transcripts_from_events(spark, sf)
    return parity_phases(derive_series(t), _parity_settings())


def _phase_fold_ctes(states: int = 8, hist: int = 4, thresh: str = "0.5") -> str:
    """DuckDB recursive fold over the `states` CTE (single metric,
    history=1). ``thresh`` must be a float32-exact literal (0.5 is).

    Besides the per-phase count grids (``cnts``), the fold carries the
    phase-TRANSITION counter (phase.go:156-172): ``ptx`` is its flat
    n_phases x n_phases BIGINT grid and ``pw`` its 1-deep state window.
    The counter starts as Counter(1,1,1); every chunk first grows
    ``states`` to the current phase count (counter.go:91-93) and then
    counts — so whenever a phase is created, the incoming chunk's max
    (= new n_phases) exceeds the stored global max (= old n_phases) and
    change_dimension remaps the grid (counter.go:123-145) with the
    issue-#5 quirk: old_step divides by the NEW state count. With
    min=0 / max=n the new grid's bucket step is exactly 1.0, so
    closest_discretize(i*old_max/new_n, new_n, 0, new_n) reduces to the
    exact integer round-half-up ``(2*i*old_max + new_n) // (2*new_n)``
    (float64 i*m/(m+1) can only misround across a .5 boundary if the
    rational sits closer than ~1e-14 to it, and the nearest non-exact
    rational is 1/(2*new_n) away)."""
    C = states * states  # count cells per phase (ident x next_state)
    S = states
    chunk_vals_cte = _CHUNK_VALS_CTE.format(name="seq_vals")
    # better-phase scan cell percent, kernel-exact via _go_round_pct
    # (get_tx -> compute_probabilities: go_round((cnt/total)*100.0); the
    # previous hand-written FLOOR(100.0*cnt/rsum + 0.5) diverges on pairs
    # like 23/40 — wrong op order AND wrong half-boundary compare)
    scan_num = (
        f"f.cnts[i*{C} + x5.h[j]*{S} + "
        "(CASE WHEN j < x6.len_h THEN x5.h[j+1] ELSE q.s END) + 1]"
    )
    scan_den = (
        f"CAST(list_sum(f.cnts[(i*{C} + x5.h[j]*{S} + 1):"
        f"(i*{C} + x5.h[j]*{S} + {S})]) AS BIGINT)"
    )
    scan_pct = _go_round_pct(scan_num, scan_den)
    return f"""
{chunk_vals_cte},
seq AS (
  SELECT st.conv_id, st.tool, st.role,
         ROW_NUMBER() OVER (
             PARTITION BY st.conv_id, st.tool, st.role ORDER BY st.bucket_idx) - 1 AS k,
         CAST(st.state AS BIGINT) AS s,
         v.vals AS vals
  FROM states st
  JOIN seq_vals v ON v.conv_id = st.conv_id AND v.tool = st.tool
    AND v.role = st.role AND v.metric = st.metric AND v.bucket_idx = st.bucket_idx
),
fold AS (
  SELECT conv_id, tool, role, CAST(0 AS BIGINT) AS k,
         CAST([0 for x in range({C})] AS BIGINT[]) AS cnts,
         CAST([-1] AS BIGINT[]) AS cur,
         CAST(0 AS BIGINT) AS ptr,
         CAST([] AS FLOAT[]) AS lkh,
         CAST([] AS BIGINT[]) AS sth,
         CAST(NULL AS BIGINT) AS phase_id,
         CAST(NULL AS BIGINT) AS n_phases,
         CAST([0] AS BIGINT[]) AS ptx,
         CAST(0 AS BIGINT) AS pw,
         CAST(0 AS DOUBLE) AS o_avg,
         CAST(0 AS DOUBLE) AS o_cnt,
         CAST([0] AS DOUBLE[]) AS sp_avg,
         CAST([0] AS DOUBLE[]) AS sp_cnt,
         CAST([0] AS DOUBLE[]) AS sp_ssum
  FROM seq WHERE k = 0
  UNION ALL
  SELECT f.conv_id, f.tool, f.role, f.k + 1,
    list_transform(x9.cnts2, (c, ii) -> CASE WHEN ii = x10.upd_idx THEN c + 1 ELSE c END) AS cnts,
    list_transform(x9.cur2, (c, ii) -> CASE WHEN ii = x8.ptr2 + 1 THEN q.s ELSE c END) AS cur,
    x8.ptr2 AS ptr,
    x4.lkh2 AS lkh,
    CASE WHEN len(f.sth) >= {hist} THEN list_append(f.sth[2:], q.s)
         ELSE list_append(f.sth, q.s) END AS sth,
    x8.ptr2 AS phase_id,
    x9.np2 AS n_phases,
    list_transform(x11.ptxg, (c, ii) -> CASE WHEN ii = x12.pidx THEN c + 1 ELSE c END) AS ptx,
    x8.ptr2 AS pw,
    (f.o_avg * f.o_cnt + xs1.ca * 4.0) / (f.o_cnt + 4.0) AS o_avg,
    f.o_cnt + 4.0 AS o_cnt,
    list_transform(xs3.sp_avg2, (c, ii) -> CASE WHEN ii = x8.ptr2 + 1
        THEN (c * xs3.sp_cnt2[ii] + xs1.ca * 4.0) / (xs3.sp_cnt2[ii] + 4.0)
        ELSE c END) AS sp_avg,
    list_transform(xs3.sp_cnt2, (c, ii) -> CASE WHEN ii = x8.ptr2 + 1 THEN c + 4.0 ELSE c END) AS sp_cnt,
    list_transform(xs3.sp_ssum2, (c, ii) -> CASE WHEN ii = x8.ptr2 + 1 THEN c + xs2.ssc ELSE c END) AS sp_ssum
  FROM fold f
  JOIN seq q ON q.conv_id = f.conv_id AND q.tool = f.tool
            AND q.role = f.role AND q.k = f.k,
  -- chained laterals: each step of the reference fold as one named value
  LATERAL (SELECT len(f.cur) AS np, f.cur[f.ptr + 1] AS cur_p) x1,
  -- current-phase likeliness = RAW count ratio (counter.go:48-79), NaN
  -- (never counted / ident row missing) -> 1 (phase.go:69-72)
  LATERAL (SELECT CASE WHEN x1.cur_p = -1 THEN CAST(0 AS BIGINT)
           ELSE CAST(list_sum(f.cnts[(f.ptr*{C} + x1.cur_p*{S} + 1):(f.ptr*{C} + x1.cur_p*{S} + {S})]) AS BIGINT) END AS rsum) x2,
  LATERAL (SELECT CASE WHEN x1.cur_p = -1 OR x2.rsum = 0 THEN CAST(1 AS FLOAT)
           ELSE CAST(f.cnts[f.ptr*{C} + x1.cur_p*{S} + q.s + 1] AS FLOAT) / CAST(x2.rsum AS FLOAT) END AS cur_lk) x3,
  -- sliding float32 likeliness window (cap {hist}), left-assoc float32 mean
  LATERAL (SELECT CASE WHEN len(f.lkh) >= {hist} THEN list_append(f.lkh[2:], x3.cur_lk)
           ELSE list_append(f.lkh, x3.cur_lk) END AS lkh2) x4,
  LATERAL (SELECT list_reduce(x4.lkh2, (a, b) -> a + b) / CAST(len(x4.lkh2) AS FLOAT) AS hl,
           f.sth[1:len(f.sth) - 1] AS h) x5,
  LATERAL (SELECT len(x5.h) AS len_h) x6,
  -- better-phase scan: per-phase likeliness from the INTEGER-percent
  -- matrices (get_tx -> go_round(100*cnt/rowsum)), history pairs
  -- (h[j] -> h[j+1]) with the incoming state as the final next step
  LATERAL (SELECT
      CASE WHEN x5.hl < {thresh} AND x6.len_h > 0 THEN
        list_filter(
          list_transform(generate_series(0, x1.np - 1), i -> {{'i': i, 'pl':
            CASE WHEN i = f.ptr OR f.cur[i + 1] = -1 THEN NULL ELSE
              list_reduce(
                list_transform(generate_series(1, x6.len_h), j ->
                  CASE WHEN {scan_den} = 0
                       THEN CAST(0 AS FLOAT)
                       ELSE CAST({scan_pct} AS FLOAT)
                            / CAST(100 AS FLOAT) END),
                (a, b) -> a + b) / CAST(x6.len_h AS FLOAT)
            END}}),
          y -> y.pl IS NOT NULL AND y.pl > {thresh} AND y.pl > x5.hl)
      ELSE [] END AS cands) x7,
  LATERAL (SELECT
      CASE WHEN x5.hl >= {thresh} THEN f.ptr
           WHEN len(x7.cands) > 0 THEN
             list_filter(x7.cands, y -> y.pl = list_max(list_transform(x7.cands, z -> z.pl)))[1].i
           ELSE x1.np - 1 END AS ptr2,
      (x5.hl < {thresh} AND len(x7.cands) = 0) AS grew) x8,
  LATERAL (SELECT
      CASE WHEN x8.grew THEN x1.np + 1 ELSE x1.np END AS np2,
      CASE WHEN x8.grew THEN list_concat(f.cnts, CAST([0 for x in range({C})] AS BIGINT[])) ELSE f.cnts END AS cnts2,
      CASE WHEN x8.grew THEN list_append(f.cur, CAST(-1 AS BIGINT)) ELSE f.cur END AS cur2) x9,
  -- count into phase ptr2: ident = its last-counted state (zero-init
  -- history -> ident 0 on first count, counter.go:159-162)
  LATERAL (SELECT x8.ptr2*{C} + (CASE WHEN x9.cur2[x8.ptr2 + 1] = -1 THEN 0 ELSE x9.cur2[x8.ptr2 + 1] END)*{S} + q.s + 1 AS upd_idx) x10,
  -- phase-tx counter: on growth, change_dimension remaps the old grid
  -- (x1.np states) onto the new one (x9.np2 states) via the exact
  -- round-half-up derived above; collisions accumulate additively
  LATERAL (SELECT CASE WHEN x8.grew THEN
      list_transform(generate_series(0, x9.np2*x9.np2 - 1), t ->
        CAST(list_sum(list_transform(generate_series(0, x1.np*x1.np - 1), s ->
          CASE WHEN ((2*(s//x1.np)*x1.np + x9.np2) // (2*x9.np2)) = t // x9.np2
                AND ((2*(s%x1.np)*x1.np + x9.np2) // (2*x9.np2)) = t % x9.np2
          THEN f.ptx[s + 1] ELSE CAST(0 AS BIGINT) END)) AS BIGINT))
    ELSE f.ptx END AS ptxg) x11,
  -- then count: ident = previous phase (window survives the rescale raw)
  LATERAL (SELECT f.pw * x9.np2 + x8.ptr2 + 1 AS pidx) x12,
  -- per-phase global-stats fold (r4): the chunk's stats object is computed
  -- ONCE against the OVERALL running average (discretizer, descretizer.go:
  -- 68-85) and then merged into the assigned phase counter's stats
  -- (counter.go:148-156). ca/ssc mirror the kernel's IEEE op order exactly
  -- (left-assoc 4-term sums, sequential weighted 2-way mean).
  LATERAL (SELECT (q.vals[1] + q.vals[2] + q.vals[3] + q.vals[4]) / 4.0 AS ca) xs1,
  LATERAL (SELECT
      (q.vals[1] - f.o_avg) * (q.vals[1] - xs1.ca)
    + (q.vals[2] - f.o_avg) * (q.vals[2] - xs1.ca)
    + (q.vals[3] - f.o_avg) * (q.vals[3] - xs1.ca)
    + (q.vals[4] - f.o_avg) * (q.vals[4] - xs1.ca) AS ssc) xs2,
  LATERAL (SELECT
      CASE WHEN x8.grew THEN list_append(f.sp_avg, CAST(0 AS DOUBLE)) ELSE f.sp_avg END AS sp_avg2,
      CASE WHEN x8.grew THEN list_append(f.sp_cnt, CAST(0 AS DOUBLE)) ELSE f.sp_cnt END AS sp_cnt2,
      CASE WHEN x8.grew THEN list_append(f.sp_ssum, CAST(0 AS DOUBLE)) ELSE f.sp_ssum END AS sp_ssum2) xs3
)
""".strip()


def _phase_fold_tail(states: int = 8, hist: int = 4, thresh: str = "0.5") -> str:
    """Fold CTEs + the per-chunk phase-assignment trace (parity_phases)."""
    return (
        _phase_fold_ctes(states, hist, thresh)
        + """
SELECT conv_id, tool, role, CAST(k - 1 AS INT) AS chunk_idx,
       CAST(phase_id AS INT) AS phase_id, CAST(n_phases AS INT) AS n_phases
FROM fold WHERE k > 0
""".rstrip()
    )


def _phase_doc_ctes(states: int = 8, hist: int = 4, thresh: str = "0.5") -> str:
    """Fold CTEs + the final-state relations backing BOTH the
    parity_phase_tx cells (tail below) and the full-document oracle:
    ``last`` (final fold row per series), ``pcnt`` (chunks per phase),
    ``pcells`` (flattened per-phase count grids), ``txcells`` (flattened
    phase-tx grid)."""
    C = states * states
    S = states
    return (
        _phase_fold_ctes(states, hist, thresh)
        + f""",
last AS (
  SELECT f.conv_id, f.tool, f.role, f.k AS total_chunks,
         f.cnts, f.ptx, f.n_phases, f.sp_avg, f.sp_cnt, f.sp_ssum
  FROM fold f
  JOIN (SELECT conv_id, tool, role, MAX(k) AS mk
        FROM fold GROUP BY conv_id, tool, role) m
    ON m.conv_id = f.conv_id AND m.tool = f.tool AND m.role = f.role
   AND m.mk = f.k
  WHERE f.k > 0
),
pcnt AS (
  SELECT conv_id, tool, role, phase_id, COUNT(*) AS nc
  FROM fold WHERE k > 0
  GROUP BY conv_id, tool, role, phase_id
),
pcells AS (
  SELECT conv_id, tool, role, sp_avg, sp_cnt, sp_ssum,
    unnest(list_transform(generate_series(0, len(cnts) - 1), s -> {{
      'pid': s // {C},
      'ident': (s % {C}) // {S},
      'nxt': s % {S},
      'cnt': cnts[s + 1],
      'rowsum': CAST(list_sum(cnts[((s // {S}) * {S} + 1):((s // {S}) * {S} + {S})]) AS BIGINT)
    }})) AS c
  FROM last
),
txcells AS (
  SELECT conv_id, tool, role, total_chunks, n_phases,
    unnest(list_transform(generate_series(0, len(ptx) - 1), s -> {{
      'ident': s // n_phases,
      'nxt': s % n_phases,
      'cnt': ptx[s + 1],
      'rowsum': CAST(list_sum(ptx[((s // n_phases) * n_phases + 1):((s // n_phases) * n_phases + n_phases)]) AS BIGINT)
    }})) AS c
  FROM last
)
""".rstrip()
    )


def _phase_tx_tail(states: int = 8, hist: int = 4, thresh: str = "0.5") -> str:
    """Fold + doc CTEs + the FINAL phase matrices (Phases document content,
    phase.go:176-199): per-phase integer-percent grids and the phase-tx
    matrix, as flat (kind, phase_id, ident, next_state, prob_pct,
    step_prob) cells. Probabilities via _go_round_pct (bit-identical
    float replication); step probability denominators: chunks counted
    into the phase (stats.count/buffer_size = 4*nc/4) for phase grids,
    total chunks (count/1) for the phase-tx grid."""
    return (
        _phase_doc_ctes(states, hist, thresh)
        + f"""
SELECT p.conv_id, p.tool, p.role, 'phase' AS kind,
       CAST(p.c['pid'] AS INT) AS phase_id, 'len_text' AS metric,
       CAST(p.c['ident'] AS VARCHAR) AS ident,
       CAST(p.c['nxt'] AS INT) AS next_state,
       {_go_round_pct("p.c['cnt']", "p.c['rowsum']")} AS prob_pct,
       {_go_round_pct("p.c['rowsum']", "n.nc")} AS step_prob,
       CAST(0.0 AS DOUBLE) AS stat_min, CAST(128.0 AS DOUBLE) AS stat_max,
       p.sp_avg[p.c['pid'] + 1] AS stat_avg,
       CASE WHEN p.sp_ssum[p.c['pid'] + 1] / p.sp_cnt[p.c['pid'] + 1] < 0
            THEN CAST('NaN' AS DOUBLE)
            ELSE sqrt(p.sp_ssum[p.c['pid'] + 1] / p.sp_cnt[p.c['pid'] + 1]) END AS stat_stddev,
       CAST(p.sp_cnt[p.c['pid'] + 1] AS INT) AS stat_count,
       p.sp_ssum[p.c['pid'] + 1] AS stat_ssum
FROM pcells p
JOIN pcnt n ON n.conv_id = p.conv_id AND n.tool = p.tool
           AND n.role = p.role AND n.phase_id = p.c['pid']
WHERE p.c['rowsum'] > 0
UNION ALL
-- phasetx stats are structural: every chunk contributes the constant
-- TSStats(min=0, max=n_phases_now, avg=0, count=1, ssum=0) (phase.go:
-- 156-172), so the merged doc stats reduce to (0, final n_phases, 0, 0,
-- total_chunks, 0) exactly.
SELECT conv_id, tool, role, 'phasetx' AS kind,
       CAST(-1 AS INT) AS phase_id, 'phasetx' AS metric,
       CAST(c['ident'] AS VARCHAR) AS ident,
       CAST(c['nxt'] AS INT) AS next_state,
       {_go_round_pct("c['cnt']", "c['rowsum']")} AS prob_pct,
       {_go_round_pct("c['rowsum']", "total_chunks")} AS step_prob,
       CAST(0.0 AS DOUBLE) AS stat_min, CAST(n_phases AS DOUBLE) AS stat_max,
       CAST(0.0 AS DOUBLE) AS stat_avg, CAST(0.0 AS DOUBLE) AS stat_stddev,
       CAST(total_chunks AS INT) AS stat_count, CAST(0.0 AS DOUBLE) AS stat_ssum
FROM txcells
WHERE c['rowsum'] > 0
""".rstrip()
    )


_register(
    "parity_phases",
    _q_parity_phases,
    f"""
WITH RECURSIVE {_parity_cte()},
{_phase_fold_tail()}
""".strip(),
)


def _q_parity_phase_tx(spark, sf):
    from tsprofiler_spark.operators.ingest import derive_series
    from tsprofiler_spark.plans.parity import parity_phase_tx
    from tsprofiler_spark.sources.transcripts import transcripts_from_events

    t = transcripts_from_events(spark, sf)
    return parity_phase_tx(derive_series(t), _parity_settings())


# The FINAL phase matrices (per-phase integer-percent grids + the growing,
# issue-#5-rescaled phase-tx matrix) — with parity_roottx (root matrix),
# parity_tree (period tree) and parity_phases (assignment trace) this
# hash-checks every section of the profile document piecewise.
_register(
    "parity_phase_tx",
    _q_parity_phase_tx,
    f"""
WITH RECURSIVE {_parity_cte()},
{_phase_tx_tail()}
""".strip(),
)


# --- the FULL profile document (r4 verdict ask #3) -------------------------
#
# parity_profiles hashes the assembled ``profile_json`` STRING per series.
# The oracle rebuilds the byte-identical ``json.dumps(doc, sort_keys=True)``
# output in DuckDB from the section replays already validated piecewise:
# roottx cells (txm) + the recursive global-stats fold (stats_cols), the
# period-tree cell fold (pt_fold) + a NEW tree-node stats fold (the
# period.py:84-96 snapshot merge: count++, weighted 2-way mean against the
# level-0 counter's WINDOW stats, cumulative-window ssum accumulation),
# and the phase fold's final matrices (pcells/txcells + sp_* stats).
#
# Byte equality hinges on double FORMATTING: json.dumps renders doubles via
# Python repr (shortest round-trip decimal), and DuckDB's DOUBLE->VARCHAR
# cast is the same shortest-round-trip algorithm — verified identical on
# every corpus value and on a 20k random-double sweep incl. integral,
# negative-zero and subnormal values (tests/test_profile_doc.py pins the
# sweep; a DuckDB upgrade that changes formatting fails THAT test, not the
# driver gate). NaN diverges ('nan' vs json.dumps' 'NaN') and is handled in
# _py_double_sql; json object keys are re-sorted lexicographically by
# string_agg(ORDER BY ident), exactly sort_keys=True's order.


def _py_double_sql(x: str) -> str:
    """Render a DOUBLE expression exactly as Python ``json.dumps`` does:
    repr shortest round-trip (DuckDB's cast), with the json.dumps spellings
    for the non-finite values."""
    return (
        f"CASE WHEN isnan({x}) THEN 'NaN' "
        f"WHEN isinf({x}) AND {x} > 0 THEN 'Infinity' "
        f"WHEN isinf({x}) THEN '-Infinity' "
        f"ELSE CAST(CAST({x} AS DOUBLE) AS VARCHAR) END"
    )


def _profile_doc_settings_json() -> str:
    """The document's settings block — generated from the SAME Settings the
    Spark query folds with, so the two cannot drift."""
    import json as _json

    return _json.dumps(_parity_settings().to_json_dict(), sort_keys=True)


# a series too short for any chunk still emits a full document: empty
# matrices everywhere, ONE (never-counted) phase, tx null
_PROFILE_DOC_EMPTY_TREE = (
    '{"root": {"UUID": 1, "children": ['
    + ", ".join(
        '{"UUID": %d, "children": [], "maxChilds": 0, "maxCounts": 6, '
        '"txmatrix": []}' % (p + 2)
        for p in range(4)
    )
    + '], "maxChilds": 4, "maxCounts": 24, "txmatrix": []}}'
)


def _profile_doc_ctes() -> str:
    FMT = _py_double_sql
    grp = _go_round_pct
    return f"""
-- chronological chunk fold carrying the OVERALL running stats (o_*, the
-- same ops as stats_rec) INTERLEAVED with the level-0 period counter's
-- WINDOW stats (w_*): the window resets before chunk k when k is a
-- multiple of 6 but not of 24 (the reference's no-reset-on-wrap quirk,
-- period.py:46-66) — tree-node snapshots copy/merge these window stats.
-- Row k+1 = state AFTER chunk k. Recursive CTE, not list_reduce: the
-- mul-add double chain drifts 1 ulp under chained list_reduce (see
-- _PARITY_STATS_CTES).
tstat_rec AS (
  SELECT conv_id, tool, role, CAST(0 AS BIGINT) AS k,
         CAST(0 AS DOUBLE) AS o_avg, CAST(0 AS DOUBLE) AS o_cnt,
         CAST(0 AS DOUBLE) AS w_avg, CAST(0 AS DOUBLE) AS w_cnt, CAST(0 AS DOUBLE) AS w_ssum
  FROM seq WHERE k = 0
  UNION ALL
  SELECT f.conv_id, f.tool, f.role, f.k + 1,
         (f.o_avg * f.o_cnt + xc.ca * 4.0) / (f.o_cnt + 4.0),
         f.o_cnt + 4.0,
         (xr.wa * xr.wc + xc.ca * 4.0) / (xr.wc + 4.0),
         xr.wc + 4.0,
         xr.ws + xs.ssc
  FROM tstat_rec f
  JOIN seq q ON q.conv_id = f.conv_id AND q.tool = f.tool AND q.role = f.role AND q.k = f.k,
  LATERAL (SELECT (q.vals[1] + q.vals[2] + q.vals[3] + q.vals[4]) / 4.0 AS ca) xc,
  LATERAL (SELECT
      (q.vals[1] - f.o_avg) * (q.vals[1] - xc.ca)
    + (q.vals[2] - f.o_avg) * (q.vals[2] - xc.ca)
    + (q.vals[3] - f.o_avg) * (q.vals[3] - xc.ca)
    + (q.vals[4] - f.o_avg) * (q.vals[4] - xc.ca) AS ssc) xs,
  LATERAL (SELECT
      CASE WHEN q.k > 0 AND q.k % 6 = 0 AND q.k % 24 <> 0 THEN CAST(0 AS DOUBLE) ELSE f.w_avg END AS wa,
      CASE WHEN q.k > 0 AND q.k % 6 = 0 AND q.k % 24 <> 0 THEN CAST(0 AS DOUBLE) ELSE f.w_cnt END AS wc,
      CASE WHEN q.k > 0 AND q.k % 6 = 0 AND q.k % 24 <> 0 THEN CAST(0 AS DOUBLE) ELSE f.w_ssum END AS ws) xr
),
-- node snapshot sequence: chunk k's post-merge window stats land in node
-- (k//6)%4 (level 0 writes to the depth-1 node, period.py quirk)
snap AS (
  SELECT conv_id, tool, role, CAST((((k - 1) // 6) % 4) AS INT) AS node_p,
         ROW_NUMBER() OVER (PARTITION BY conv_id, tool, role, (((k - 1) // 6) % 4) ORDER BY k) - 1 AS s,
         w_avg, w_cnt, w_ssum
  FROM tstat_rec WHERE k > 0
),
-- node stats merge fold (period.py:84-96): the FIRST snapshot copies the
-- window stats wholesale; every later snapshot does count++ (snapshots,
-- not values), weighted 2-way mean against the window stats, and
-- accumulates the window's CUMULATIVE ssum (overlapping windows re-add —
-- a reference quirk kept for parity)
node_rec AS (
  SELECT conv_id, tool, role, node_p, CAST(0 AS BIGINT) AS s,
         w_avg AS st_avg, w_cnt AS st_cnt, w_ssum AS st_ssum
  FROM snap WHERE s = 0
  UNION ALL
  SELECT f.conv_id, f.tool, f.role, f.node_p, f.s + 1,
         (f.st_avg * (f.st_cnt + 1.0) + q.w_avg * q.w_cnt) / ((f.st_cnt + 1.0) + q.w_cnt),
         f.st_cnt + 1.0,
         f.st_ssum + q.w_ssum
  FROM node_rec f
  JOIN snap q ON q.conv_id = f.conv_id AND q.tool = f.tool AND q.role = f.role
             AND q.node_p = f.node_p AND q.s = f.s + 1
),
node_stats AS (
  SELECT f.conv_id, f.tool, f.role, f.node_p, f.st_avg, f.st_cnt, f.st_ssum
  FROM node_rec f
  JOIN (SELECT conv_id, tool, role, node_p, MAX(s) AS ms
        FROM node_rec GROUP BY conv_id, tool, role, node_p) m
    ON m.conv_id = f.conv_id AND m.tool = f.tool AND m.role = f.role
   AND m.node_p = f.node_p AND m.ms = f.s
),
-- ====== JSON assembly (json.dumps sort_keys=True byte format: keys
-- lexicographic, ', ' item / ': ' kv separators, repr doubles) ======
rt_tx AS (
  SELECT conv_id, tool, role,
    '{{' || string_agg(cell, ', ' ORDER BY ident) || '}}' AS tx_json
  FROM (
    SELECT conv_id, tool, role, ident,
      '"' || ident || '": {{"nextProbs": [' ||
      string_agg(CAST(prob_pct AS VARCHAR), ', ' ORDER BY next_state) ||
      '], "probability": ' || CAST(any_value(step_prob) AS VARCHAR) || '}}' AS cell
    FROM txm GROUP BY conv_id, tool, role, ident
  ) GROUP BY conv_id, tool, role
),
rt_json AS (
  SELECT s.conv_id, s.tool, s.role,
    '[{{"metric": "len_text", "stats": {{"avg": ' || {FMT("s.stat_avg")} ||
    ', "count": ' || CAST(CAST(s.stat_count AS BIGINT) AS VARCHAR) ||
    ', "max": 128.0, "min": 0.0, "stddev": ' || {FMT("s.stat_stddev")} ||
    ', "stddevsum": ' || {FMT("s.stat_ssum")} || '}}, "transitions": ' || t.tx_json || '}}]' AS rt
  FROM stats_cols s
  JOIN rt_tx t ON t.conv_id = s.conv_id AND t.tool = s.tool AND t.role = s.role
),
-- one matrix per touched tree node: frozen single ident (pt_ident), folded
-- integer cells (pt_fold), frozen probability 100, merged node stats
pt_mat AS (
  SELECT c.conv_id, c.tool, c.role, c.node_p,
    '[{{"metric": "len_text", "stats": {{"avg": ' || {FMT("n.st_avg")} ||
    ', "count": ' || CAST(CAST(n.st_cnt AS BIGINT) AS VARCHAR) ||
    ', "max": 128.0, "min": 0.0, "stddev": ' ||
    {FMT("CASE WHEN n.st_ssum / n.st_cnt < 0 THEN CAST('NaN' AS DOUBLE) ELSE sqrt(n.st_ssum / n.st_cnt) END")} ||
    ', "stddevsum": ' || {FMT("n.st_ssum")} ||
    '}}, "transitions": {{"' || CAST(any_value(c.ident_state) AS VARCHAR) ||
    '": {{"nextProbs": [' || string_agg(CAST(c.prob_pct AS VARCHAR), ', ' ORDER BY c.next_state) ||
    '], "probability": 100}}}}}}]' AS mat
  FROM pt_fold c
  JOIN node_stats n ON n.conv_id = c.conv_id AND n.tool = c.tool AND n.role = c.role
                   AND n.node_p = c.node_p
  GROUP BY c.conv_id, c.tool, c.role, c.node_p, n.st_avg, n.st_cnt, n.st_ssum
),
tree_json AS (
  SELECT u.conv_id, u.tool, u.role,
    '{{"root": {{"UUID": 1, "children": [' ||
    string_agg(
      '{{"UUID": ' || CAST(p.p + 2 AS VARCHAR) ||
      ', "children": [], "maxChilds": 0, "maxCounts": 6, "txmatrix": ' ||
      COALESCE(m.mat, '[]') || '}}', ', ' ORDER BY p.p) ||
    '], "maxChilds": 4, "maxCounts": 24, "txmatrix": []}}}}' AS pt
  FROM (SELECT DISTINCT conv_id, tool, role FROM pt_mat) u
  CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS p) p
  LEFT JOIN pt_mat m ON m.conv_id = u.conv_id AND m.tool = u.tool AND m.role = u.role
                    AND m.node_p = p.p
  GROUP BY u.conv_id, u.tool, u.role
),
-- phase matrices: counted phases get one matrix; never-counted phases
-- (created by the off-by-one, pointer left on the old last) serialize []
ph_mat AS (
  SELECT p.conv_id, p.tool, p.role, p.pid,
    '[{{"metric": "len_text", "stats": {{"avg": ' || {FMT("p.sp_avg")} ||
    ', "count": ' || CAST(CAST(p.sp_cnt AS BIGINT) AS VARCHAR) ||
    ', "max": 128.0, "min": 0.0, "stddev": ' ||
    {FMT("CASE WHEN p.sp_ssum / p.sp_cnt < 0 THEN CAST('NaN' AS DOUBLE) ELSE sqrt(p.sp_ssum / p.sp_cnt) END")} ||
    ', "stddevsum": ' || {FMT("p.sp_ssum")} || '}}, "transitions": {{' ||
    string_agg(p.cell, ', ' ORDER BY p.ident_s) || '}}}}]' AS mat
  FROM (
    SELECT c.conv_id, c.tool, c.role, c.c['pid'] AS pid,
      sp_avg[c.c['pid'] + 1] AS sp_avg, sp_cnt[c.c['pid'] + 1] AS sp_cnt,
      sp_ssum[c.c['pid'] + 1] AS sp_ssum,
      CAST(c.c['ident'] AS VARCHAR) AS ident_s,
      '"' || CAST(c.c['ident'] AS VARCHAR) || '": {{"nextProbs": [' ||
      string_agg(CAST({grp("c.c['cnt']", "c.c['rowsum']")} AS VARCHAR), ', ' ORDER BY c.c['nxt']) ||
      '], "probability": ' || CAST({grp("any_value(c.c['rowsum'])", "any_value(n.nc)")} AS VARCHAR) || '}}' AS cell
    FROM pcells c
    JOIN pcnt n ON n.conv_id = c.conv_id AND n.tool = c.tool AND n.role = c.role
               AND n.phase_id = c.c['pid']
    WHERE c.c['rowsum'] > 0
    GROUP BY c.conv_id, c.tool, c.role, c.c['pid'], c.c['ident'],
             sp_avg[c.c['pid'] + 1], sp_cnt[c.c['pid'] + 1], sp_ssum[c.c['pid'] + 1]
  ) p
  GROUP BY p.conv_id, p.tool, p.role, p.pid, p.sp_avg, p.sp_cnt, p.sp_ssum
),
ptx_json AS (
  SELECT t.conv_id, t.tool, t.role,
    '{{"metric": "phasetx", "stats": {{"avg": 0.0, "count": ' ||
    CAST(any_value(t.total_chunks) AS VARCHAR) || ', "max": ' ||
    {FMT("CAST(any_value(t.n_phases) AS DOUBLE)")} ||
    ', "min": 0.0, "stddev": 0.0, "stddevsum": 0.0}}, "transitions": {{' ||
    string_agg(t.cell, ', ' ORDER BY t.ident_s) || '}}}}' AS ptx
  FROM (
    SELECT conv_id, tool, role, total_chunks, n_phases,
      CAST(c['ident'] AS VARCHAR) AS ident_s,
      '"' || CAST(c['ident'] AS VARCHAR) || '": {{"nextProbs": [' ||
      string_agg(CAST({grp("c['cnt']", "c['rowsum']")} AS VARCHAR), ', ' ORDER BY c['nxt']) ||
      '], "probability": ' || CAST({grp("any_value(c['rowsum'])", "any_value(total_chunks)")} AS VARCHAR) || '}}' AS cell
    FROM txcells
    WHERE c['rowsum'] > 0
    GROUP BY conv_id, tool, role, total_chunks, n_phases, c['ident']
  ) t
  GROUP BY t.conv_id, t.tool, t.role
),
phases_json AS (
  SELECT l.conv_id, l.tool, l.role,
    '{{"phases": [' ||
    string_agg(COALESCE(m.mat, '[]'), ', ' ORDER BY p.p) ||
    '], "tx": ' || any_value(x.ptx) || '}}' AS ph
  FROM last l
  CROSS JOIN (SELECT unnest(generate_series(0,
      (SELECT CAST(COALESCE(MAX(n_phases), 1) - 1 AS BIGINT) FROM last))) AS p) p
  LEFT JOIN ph_mat m ON m.conv_id = l.conv_id AND m.tool = l.tool AND m.role = l.role
                    AND m.pid = p.p
  JOIN ptx_json x ON x.conv_id = l.conv_id AND x.tool = l.tool AND x.role = l.role
  WHERE p.p < l.n_phases
  GROUP BY l.conv_id, l.tool, l.role
),
doc_universe AS (SELECT DISTINCT conv_id, tool, role FROM series)
""".strip()


def _profile_doc_oracle() -> str:
    return f"""
WITH RECURSIVE {_parity_cte()},
{_PARITY_STATS_CTES},
{_phase_doc_ctes()},
{_PARITY_TREE_CTES},
{_profile_doc_ctes()}
SELECT u.conv_id, u.tool, u.role,
  '{{"name": "tsprofiler_spark", "periodTree": ' ||
  COALESCE(t.pt, '{_PROFILE_DOC_EMPTY_TREE}') ||
  ', "phases": ' || COALESCE(p.ph, '{{"phases": [[]], "tx": null}}') ||
  ', "roottx": ' || COALESCE(r.rt, '[]') ||
  ', "settings": {_profile_doc_settings_json()}}}' AS profile_json
FROM doc_universe u
LEFT JOIN tree_json t ON t.conv_id = u.conv_id AND t.tool = u.tool AND t.role = u.role
LEFT JOIN phases_json p ON p.conv_id = u.conv_id AND p.tool = u.tool AND p.role = u.role
LEFT JOIN rt_json r ON r.conv_id = u.conv_id AND r.tool = u.tool AND r.role = u.role
""".strip()


_register("parity_profiles", _q_parity_profile_doc, _profile_doc_oracle())


def _q_predictor_likeliness(spark, sf):
    """k-step likeliness distribution per series from the parity profile
    (reference: predictor/likeliness.go) — deterministic, Arrow-batched."""
    import json

    import pandas as pd
    from pyspark.sql.types import (
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    profiles = _q_parity_profiles(spark, sf)

    schema = StructType(
        [
            StructField("conv_id", StringType()),
            StructField("tool", StringType()),
            StructField("role", StringType()),
            StructField("metric", StringType()),
            StructField("state", IntegerType()),
            StructField("prob_pct", IntegerType()),
        ]
    )

    def run(batches):
        from tsprofiler_spark.kernel.predictor import Predictor

        for pdf in batches:
            out = []
            for _, row in pdf.iterrows():
                doc = json.loads(row["profile_json"])
                hist = json.loads(row["history_json"])
                if not doc["roottx"]:
                    continue
                pred = Predictor(doc, mode="roottx", seed=42)
                current = hist["historicStates"][0] if hist["historicStates"] else {}
                dist = pred.likeliness(current, steps=3)
                for metric, probs in dist.items():
                    for s, p in enumerate(probs):
                        out.append(
                            {
                                "conv_id": row["conv_id"],
                                "tool": row["tool"],
                                "role": row["role"],
                                "metric": metric,
                                "state": s,
                                "prob_pct": int(p),
                            }
                        )
            if out:
                yield pd.DataFrame(out)

    return profiles.mapInPandas(run, schema)


# The k-step likeliness recursion is deterministic integer-percent math
# over the root TxMatrix (predictor/likeliness.go:9-56), and for the parity
# config (history=1, fix_bound) that matrix is SQL-expressible (see
# parity_roottx) — so the recursion unrolls into two rounded self-joins:
#   L2(s, x) = SUM_ns>0 round(P(ns→x) · P(s→ns) / 100)
#   L3(x)    = SUM_ns>0 round(L2(ns, x) · P(cur→ns) / 100)
# with cur = the series' last chunk state (history doc) and a missing cur
# ident yielding the all-zero distribution, exactly like the kernel.
_register(
    "predictor_likeliness",
    _q_predictor_likeliness,
    f"""
WITH {_parity_cte()},
cur AS (
  SELECT conv_id, tool, role, metric,
         CAST(arg_max(state, bucket_idx) AS STRING) AS ident
  FROM states GROUP BY conv_id, tool, role, metric
),
l2 AS (
  SELECT a.conv_id, a.tool, a.role, a.metric, a.ident AS s, b.next_state AS x,
    SUM(CAST(FLOOR(b.prob_pct * a.prob_pct / 100.0 + 0.5) AS INT)) AS p
  FROM txm a JOIN txm b
    ON b.conv_id = a.conv_id AND b.tool = a.tool AND b.role = a.role
   AND b.metric = a.metric AND b.ident = CAST(a.next_state AS STRING)
  WHERE a.prob_pct > 0
  GROUP BY a.conv_id, a.tool, a.role, a.metric, a.ident, b.next_state
),
l3 AS (
  SELECT c.conv_id, c.tool, c.role, c.metric, l2.x,
    SUM(CAST(FLOOR(l2.p * a.prob_pct / 100.0 + 0.5) AS INT)) AS p
  FROM cur c
  JOIN txm a ON a.conv_id = c.conv_id AND a.tool = c.tool AND a.role = c.role
    AND a.metric = c.metric AND a.ident = c.ident
  JOIN l2 ON l2.conv_id = c.conv_id AND l2.tool = c.tool AND l2.role = c.role
    AND l2.metric = c.metric AND l2.s = CAST(a.next_state AS STRING)
  WHERE a.prob_pct > 0
  GROUP BY c.conv_id, c.tool, c.role, c.metric, l2.x
)
SELECT t.conv_id, t.tool, t.role, t.metric, CAST(st.s AS INT) AS state,
  CAST(COALESCE(l3.p, 0) AS INT) AS prob_pct
FROM tot t CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS s) st
LEFT JOIN l3 ON l3.conv_id = t.conv_id AND l3.tool = t.tool AND l3.role = t.role
  AND l3.metric = t.metric AND l3.x = st.s
""".strip(),
)


def _q_predictor_simulate(spark, sf):
    """k-step seeded simulation per series from the parity profile
    (reference: predictor/predictor.go:191-220, value reconstruction
    util.go:86-95) — seeded RNG so the run is deterministic; many series
    scored in parallel via mapInPandas (Arrow-batched)."""
    import json

    import pandas as pd
    from pyspark.sql.types import (
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    profiles = _q_parity_profiles(spark, sf)

    schema = StructType(
        [
            StructField("conv_id", StringType()),
            StructField("tool", StringType()),
            StructField("role", StringType()),
            StructField("metric", StringType()),
            StructField("step", IntegerType()),
            StructField("state", IntegerType()),
            StructField("sim_value", IntegerType()),
        ]
    )

    def run(batches):
        from tsprofiler_spark.kernel.predictor import Predictor

        for pdf in batches:
            out = []
            for _, row in pdf.iterrows():
                doc = json.loads(row["profile_json"])
                if not doc["roottx"]:
                    continue
                pred = Predictor(doc, mode="roottx", seed=159)
                for step_no, step_out in enumerate(pred.simulate(steps=5)):
                    for m in step_out:
                        out.append(
                            {
                                "conv_id": row["conv_id"],
                                "tool": row["tool"],
                                "role": row["role"],
                                "metric": m["metric"],
                                "step": step_no,
                                "state": m["state"],
                                "sim_value": m["value"],
                            }
                        )
            if out:
                yield pd.DataFrame(out)

    return profiles.mapInPandas(run, schema)


_register("predictor_simulate", _q_predictor_simulate)


def _q_predictor_simulate_det(spark, sf):
    """Value-checked twin of predictor_simulate: the SAME kernel walk
    (ident lookup with history-cut fallback, highest-StepProb fallback,
    weighted choice, history append, value reconstruction —
    predictor/predictor.go:191-220, util.go:29-95) but driven by the
    SQL-replicable CounterRng instead of math/rand-style draws and with
    the noise term off, so DuckDB can recompute the walk relationally
    and the driver hash-checks it. Transitions are canonicalized to
    ident-sorted order first: the reference's argmax-StepProb fallback
    iterates a Go map (RANDOMIZED order), so tie-breaking is free — we
    pin min-ident-among-maxes, which SQL expresses as
    ORDER BY step_prob DESC, ident ASC."""
    import json

    import pandas as pd
    from pyspark.sql.types import (
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    profiles = _q_parity_profiles(spark, sf)

    schema = StructType(
        [
            StructField("conv_id", StringType()),
            StructField("tool", StringType()),
            StructField("role", StringType()),
            StructField("metric", StringType()),
            StructField("step", IntegerType()),
            StructField("state", IntegerType()),
            StructField("sim_value", IntegerType()),
        ]
    )

    def run(batches):
        from tsprofiler_spark.kernel.predictor import CounterRng, Predictor

        for pdf in batches:
            out = []
            for _, row in pdf.iterrows():
                doc = json.loads(row["profile_json"])
                if not doc["roottx"]:
                    continue
                for tx in doc["roottx"]:
                    tx["transitions"] = {
                        k: tx["transitions"][k]
                        for k in sorted(tx["transitions"])
                    }
                pred = Predictor(
                    doc, mode="roottx", rng=CounterRng(159), noise=False
                )
                for step_no, step_out in enumerate(pred.simulate(steps=5)):
                    for m in step_out:
                        out.append(
                            {
                                "conv_id": row["conv_id"],
                                "tool": row["tool"],
                                "role": row["role"],
                                "metric": m["metric"],
                                "step": step_no,
                                "state": m["state"],
                                "sim_value": m["value"],
                            }
                        )
            if out:
                yield pd.DataFrame(out)

    return profiles.mapInPandas(run, schema)


def _simulate_det_oracle(steps: int = 5, seed: int = 159) -> str:
    """Unroll the CounterRng walk into chained DuckDB CTEs over the txm
    relation (one join + windowed cumulative weighted-choice per step).

    fix_bound parity config ⇒ counter stats min/max are the fixed bounds
    (0, 128), so state_size = round(128/8) = 16 exactly and the no-noise
    sim_value = state*16 in exact integer arithmetic on both engines."""
    keys = "conv_id, tool, role, metric"
    on = " AND ".join(
        f"x.{k} = p.{k}" for k in ("conv_id", "tool", "role", "metric")
    )
    ctes = [
        # per-ident step_prob (constant across the 8 next_state rows)
        f"idents AS (SELECT DISTINCT {keys}, ident, step_prob FROM txm "
        "WHERE step_prob > 0)",
        # argmax-StepProb init state = the kernel's _initialize_state
        f"init AS (SELECT {keys}, ident AS s_str, ident AS init_ident "
        "FROM idents QUALIFY ROW_NUMBER() OVER (PARTITION BY "
        f"{keys} ORDER BY step_prob DESC, ident ASC) = 1)",
        f"prev0 AS (SELECT {keys}, s_str, init_ident FROM init)",
    ]
    outs = []
    for t in range(steps):
        h = (seed * 2654435761 + t * 40503 + 692541) % 2147483647
        rbase = (16807 * h) % 2147483647
        ctes.append(
            f"""cand{t} AS (
  SELECT p.conv_id, p.tool, p.role, p.metric, p.init_ident,
         x.next_state, x.prob_pct,
         SUM(x.prob_pct) OVER (PARTITION BY p.conv_id, p.tool, p.role, p.metric
             ORDER BY x.next_state) AS cum,
         SUM(x.prob_pct) OVER (PARTITION BY p.conv_id, p.tool, p.role, p.metric) AS tot
  FROM prev{t} p
  JOIN txm x ON {on} AND x.prob_pct > 0
   AND x.ident = CASE WHEN EXISTS (
         SELECT 1 FROM txm h WHERE h.conv_id = p.conv_id AND h.tool = p.tool
           AND h.role = p.role AND h.metric = p.metric AND h.ident = p.s_str)
       THEN p.s_str ELSE p.init_ident END
)"""
        )
        ctes.append(
            f"""prev{t + 1} AS (
  SELECT {keys}, init_ident,
         CAST(MIN(CASE WHEN cum > ({rbase} % tot) THEN next_state END) AS VARCHAR) AS s_str
  FROM cand{t}
  GROUP BY {keys}, init_ident
)"""
        )
        outs.append(
            f"SELECT {keys}, {t} AS step, CAST(s_str AS INT) AS state "
            f"FROM prev{t + 1}"
        )
    union = "\nUNION ALL\n".join(outs)
    return (
        "WITH {parity},\n"
        + ",\n".join(ctes)
        + f",\nwalk AS (\n{union}\n)\n"
        + "SELECT conv_id, tool, role, metric, CAST(step AS INT) AS step, "
        "state, CAST(state * 16 AS INT) AS sim_value FROM walk"
    )


_register(
    "predictor_simulate_det",
    _q_predictor_simulate_det,
    _simulate_det_oracle().format(parity=_parity_cte()),
)

# --- multimodal plumbing (decode honestly stubbed: the byte-histogram fake is
# --- deterministic, so BOTH queries are value-checked against DuckDB — the
# --- documents corpus is pure ASCII, so bytes == code points on the SQL side) --

def _q_multimodal_features(spark, sf):
    feats = decode_features(attach_payload(_docs(spark, sf), "image"))
    # project the array<double> column to exploded scalars: list-valued
    # columns are not hashable by the driver's canonicalizer
    return feats.select(
        "doc_id", "modality", "n_bytes", "decoder",
        F.posexplode("features").alias("feature_idx", "fv"),
    ).select(
        "doc_id", "modality", "n_bytes", "decoder",
        F.col("feature_idx").cast("int").alias("feature_idx"),
        F.floor(F.col("fv") * 1000000.0 + F.lit(0.5)).cast("long").alias("value_u"),
    )


def _q_multimodal_frames(spark, sf):
    return sample_frames(attach_payload(_docs(spark, sf), "video")).select(
        "doc_id",
        "frame_idx",
        F.length("frame_bytes").cast("int").alias("frame_len"),
    )


_register(
    "multimodal_features",
    _q_multimodal_features,
    """
WITH b AS (SELECT doc_id, length(text) AS n_bytes FROM documents),
pos AS (
  SELECT doc_id, text, unnest(generate_series(1, length(text))) AS i FROM documents
),
cnt AS (
  SELECT doc_id, CAST(FLOOR(ascii(substr(text, CAST(i AS INT), 1)) / 16) AS INT) AS feature_idx,
         COUNT(*) AS c
  FROM pos GROUP BY 1, 2
),
grid AS (
  SELECT doc_id, n_bytes, unnest(generate_series(0, 15)) AS fi FROM b
)
SELECT g.doc_id, 'image' AS modality, CAST(g.n_bytes AS BIGINT) AS n_bytes,
       'stub-bytehist' AS decoder, CAST(g.fi AS INT) AS feature_idx,
       CAST(FLOOR(COALESCE(c.c, 0) / GREATEST(g.n_bytes, 1) * 1000000 + 0.5) AS BIGINT) AS value_u
FROM grid g LEFT JOIN cnt c ON c.doc_id = g.doc_id AND c.feature_idx = g.fi
""".strip(),
)

# --- REAL decoders over uncompressed formats: payloads are genuine PPM/P6
# --- and PCM16 WAV binaries built deterministically from the corpus, parsed
# --- by actual format parsers (numpy / stdlib wave); the oracle recomputes
# --- the features straight from the construction's modular byte indexing --


def _q_multimodal_decode_image(spark, sf):
    feats = decode_features(synthesize_ppm_payloads(_docs(spark, sf)))
    # features = [w, h, sum_r, sum_g, sum_b] — all integer-exact in float64
    return feats.select(
        "doc_id",
        "decoder",
        F.element_at("features", 1).cast("int").alias("width"),
        F.element_at("features", 2).cast("int").alias("height"),
        F.element_at("features", 3).cast("long").alias("sum_r"),
        F.element_at("features", 4).cast("long").alias("sum_g"),
        F.element_at("features", 5).cast("long").alias("sum_b"),
    )


def _q_multimodal_decode_audio(spark, sf):
    feats = decode_features(synthesize_wav_payloads(_docs(spark, sf)))
    # features = [n_channels, framerate, n_frames, sum_samples, sum_abs]
    return feats.select(
        "doc_id",
        "decoder",
        F.element_at("features", 1).cast("int").alias("n_channels"),
        F.element_at("features", 2).cast("int").alias("framerate"),
        F.element_at("features", 3).cast("long").alias("n_frames"),
        F.element_at("features", 4).cast("long").alias("sum_samples"),
        F.element_at("features", 5).cast("long").alias("sum_abs_samples"),
    )


_register(
    "multimodal_decode_image",
    _q_multimodal_decode_image,
    """
WITH s AS (
  SELECT doc_id, regexp_replace(text, '[^ -~]', '', 'g') AS t FROM documents
),
v AS (SELECT doc_id, t, length(t) AS L FROM s WHERE length(t) > 0),
px AS (
  SELECT doc_id,
         ascii(substr(t, CAST((i % L) + 1 AS INT), 1)) AS b,
         i % 3 AS ch
  FROM v, (SELECT unnest(generate_series(0, 767)) AS i)
)
SELECT doc_id, 'ppm-numpy' AS decoder, 16 AS width, 16 AS height,
       CAST(SUM(CASE WHEN ch = 0 THEN b ELSE 0 END) AS BIGINT) AS sum_r,
       CAST(SUM(CASE WHEN ch = 1 THEN b ELSE 0 END) AS BIGINT) AS sum_g,
       CAST(SUM(CASE WHEN ch = 2 THEN b ELSE 0 END) AS BIGINT) AS sum_b
FROM px GROUP BY doc_id
""".strip(),
)

_register(
    "multimodal_decode_audio",
    _q_multimodal_decode_audio,
    """
WITH s AS (
  SELECT doc_id, regexp_replace(text, '[^ -~]', '', 'g') AS t FROM documents
),
v AS (SELECT doc_id, t, length(t) AS L FROM s WHERE length(t) > 0),
sm AS (
  SELECT doc_id,
         ascii(substr(t, CAST((2 * k % L) + 1 AS INT), 1))
         + 256 * ascii(substr(t, CAST(((2 * k + 1) % L) + 1 AS INT), 1)) AS u
  FROM v, (SELECT unnest(generate_series(0, 511)) AS k)
),
sv AS (SELECT doc_id, CASE WHEN u >= 32768 THEN u - 65536 ELSE u END AS val FROM sm)
SELECT doc_id, 'wav-stdlib' AS decoder, 1 AS n_channels, 8000 AS framerate,
       CAST(512 AS BIGINT) AS n_frames,
       CAST(SUM(val) AS BIGINT) AS sum_samples,
       CAST(SUM(ABS(val)) AS BIGINT) AS sum_abs_samples
FROM sv GROUP BY doc_id
""".strip(),
)

_register(
    "multimodal_frames",
    _q_multimodal_frames,
    """
WITH b AS (SELECT doc_id, length(text) AS n FROM documents),
f AS (
  SELECT doc_id, n,
         unnest(generate_series(0, CAST(LEAST(8, GREATEST(1, FLOOR(n / 64))) AS BIGINT) - 1)) AS fi
  FROM b
)
SELECT doc_id, CAST(fi AS INT) AS frame_idx,
       CAST(LEAST(64, n - fi * 64) AS INT) AS frame_len
FROM f
""".strip(),
)
