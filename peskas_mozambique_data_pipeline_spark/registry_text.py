"""Text, dedup and similarity registry rows over the ``documents`` and
``embeddings`` tables: text quality, language ID and segmentation,
exact/MinHash/SimHash dedup, n-gram Jaccard, fingerprinting, BM25 and
hybrid retrieval, ANN tiers, embedding drift and covariance, the
hashed linear classifier, cross-corpus near-dup probing and
contamination scoring.

Oracle portability notes: all hashing is md5 (hex string) so DuckDB
reproduces signatures exactly; all float folds are sequential
double-precision in index order (bit-identical across engines);
ratios are rounded to 6 decimals on both sides.
"""

from __future__ import annotations

import hashlib
import math
import re
from collections import Counter
from functools import lru_cache

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators import dedup as dedup_ops
from .operators import similarity as sim_ops
from .operators import text as text_ops
from .operators.dedup import MINHASH_A, MINHASH_B, MINHASH_P
from .session import read_table

_L = "long"


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NB (r14): do NOT blanket-repartition here.  Measured: operators
    # that re-scan their input N times (segment_languages reads it 4x)
    # re-execute an injected exchange per consumer — shuffling the full
    # text N times costs more than the column-pruned parquet re-reads
    # it replaces.  Core-spreading lives INSIDE the per-row-heavy
    # operators, behind their tokenize-then-repartition barrier.
    return read_table(spark, sf_dir, "documents")


# ---------------------------------------------------------------------------
# Q: text quality features per document.


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = text_ops.quality_features(_docs(spark, sf_dir))
    return out.select(
        "doc_id", "n_tokens", "mean_token_len", "punct_ratio",
        "stopword_ratio", "quality_score",
    )


SQL_TEXT_QUALITY = """
WITH feat AS (
  SELECT doc_id,
         len(string_split_regex(trim(text), '\\s+')) AS n_tok,
         length(text) AS n_chars,
         length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS n_punct,
         len(list_filter(string_split_regex(trim(text), '\\s+'),
             x -> x IN ('the','a','of','and','to','in','is'))) AS n_stop
  FROM documents
)
SELECT doc_id,
       n_tok AS n_tokens,
       ROUND((n_chars - (n_tok - 1)) / n_tok, 6) AS mean_token_len,
       ROUND(n_punct / n_chars, 6) AS punct_ratio,
       ROUND(n_stop / n_tok, 6) AS stopword_ratio,
       ROUND(LEAST(n_tok / 100.0, 1.0) * 0.5 + (n_stop / n_tok) * 2.0
             - (n_punct / n_chars), 6) AS quality_score
FROM feat
"""


# ---------------------------------------------------------------------------
# Q: stopword-voting language identification.


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = text_ops.language_id(_docs(spark, sf_dir))
    return out.select(
        "doc_id", "lang", "pred_lang",
        "score_de", "score_en", "score_es", "score_fr",
    )


def _marker_sql(lang: str) -> str:
    lst = ", ".join(f"'{w}'" for w in text_ops.LANG_MARKERS[lang])
    return (
        f"len(list_filter(string_split_regex(trim(text), '\\s+'),"
        f" x -> x IN ({lst})))"
    )


SQL_LANG_ID = f"""
WITH scored AS (
  SELECT doc_id, lang,
         {_marker_sql('de')} AS score_de,
         {_marker_sql('en')} AS score_en,
         {_marker_sql('es')} AS score_es,
         {_marker_sql('fr')} AS score_fr
  FROM documents
)
SELECT doc_id, lang,
       CASE WHEN GREATEST(score_de, score_en, score_es, score_fr) = 0 THEN 'und'
            WHEN score_de = GREATEST(score_de, score_en, score_es, score_fr) THEN 'de'
            WHEN score_en = GREATEST(score_de, score_en, score_es, score_fr) THEN 'en'
            WHEN score_es = GREATEST(score_de, score_en, score_es, score_fr) THEN 'es'
            ELSE 'fr' END AS pred_lang,
       score_de, score_en, score_es, score_fr
FROM scored
"""


# ---------------------------------------------------------------------------
# Q: exact dedup by normalized 8-token-prefix fingerprint (truncation
# duplicates) — hash-groupBy, one shuffle on the digest.


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    groups = dedup_ops.exact_dup_groups(
        _docs(spark, sf_dir), normalize=True, prefix_tokens=8
    )
    return groups.select(
        "digest",
        "group_size",
        F.array_join(F.transform(F.col("doc_ids"), lambda x: x.cast("string")), ",").alias(
            "members"
        ),
    )


SQL_DEDUP_EXACT = """
WITH fp AS (
  SELECT doc_id,
         md5(array_to_string(
           (string_split_regex(trim(lower(trim(text))), '\\s+'))[1:8], ' ')) AS digest
  FROM documents
)
SELECT digest, COUNT(*) AS group_size,
       string_agg(doc_id, ',' ORDER BY doc_id) AS members
FROM fp GROUP BY digest HAVING COUNT(*) > 1
"""


# ---------------------------------------------------------------------------
# Q: MinHash + LSH near-duplicate candidates, verified with exact
# 5-shingle Jaccard (only candidates pay the verification cost).

_MH_N = 8
_MH_BANDS = 4


def q_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ONE materialized shingle-hash frame feeds candidate generation AND
    # Jaccard verification — the corpus is tokenized, shingled and md5'd
    # exactly once; drop_short subsumes the <5-token filter
    hashed = dedup_ops.shingle_hash_frame(
        _docs(spark, sf_dir), shingle_k=5, materialize=True
    )
    pairs = dedup_ops.minhash_candidates_from_hashes(
        hashed, n_hashes=_MH_N, bands=_MH_BANDS
    )
    verified = dedup_ops.jaccard_verify_hashed(hashed, pairs)
    return verified.select("id_a", "id_b", "jaccard")


def _hashed_sql() -> str:
    # mirrors operators/dedup.shingle_hash_frame: the distinct 32-bit
    # md5-prefix hash SET of each doc's 5-token shingles
    return """
tok AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents
  WHERE len(string_split_regex(trim(text), '\\s+')) >= 5
),
shingled AS (
  SELECT doc_id,
         list_transform(generate_series(1, len(t) - 4),
                        i -> array_to_string(t[i:i+4], ' ')) AS sh
  FROM tok
),
hashed AS (
  SELECT doc_id,
         list_distinct(list_transform(sh, s -> ('0x' || substr(md5(s), 1, 8))::BIGINT)) AS h32
  FROM shingled
)"""


def _sig_sql() -> str:
    # mirrors operators/dedup.py: one md5 per shingle -> 32-bit int,
    # then affine universal-hash permutations mod 2^31-1 (MINHASH_A/B)
    from .operators.dedup import MINHASH_A, MINHASH_B, MINHASH_P

    mins = ",\n         ".join(
        f"list_min(list_transform(h32, h -> ({MINHASH_A[i]} * (h % {MINHASH_P}) "
        f"+ {MINHASH_B[i]}) % {MINHASH_P})) AS mh_{i}"
        for i in range(_MH_N)
    )
    return f"""{_hashed_sql()},
sig AS (
  SELECT doc_id,
         {mins}
  FROM hashed
)"""


SQL_MINHASH_DEDUP = f"""
WITH {_sig_sql()},
banded AS (
  SELECT doc_id, 0 AS band, md5(mh_0::VARCHAR || '|' || mh_1::VARCHAR) AS bucket FROM sig
  UNION ALL
  SELECT doc_id, 1 AS band, md5(mh_2::VARCHAR || '|' || mh_3::VARCHAR) AS bucket FROM sig
  UNION ALL
  SELECT doc_id, 2 AS band, md5(mh_4::VARCHAR || '|' || mh_5::VARCHAR) AS bucket FROM sig
  UNION ALL
  SELECT doc_id, 3 AS band, md5(mh_6::VARCHAR || '|' || mh_7::VARCHAR) AS bucket FROM sig
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
)
-- jaccard over the SAME distinct 32-bit shingle hashes the Spark side
-- intersects (identical md5 prefix on both engines => bit-identical)
SELECT c.id_a, c.id_b,
       ROUND(CAST(len(list_intersect(sa.h32, sb.h32)) AS DOUBLE)
             / (len(sa.h32) + len(sb.h32) - len(list_intersect(sa.h32, sb.h32))), 6)
         AS jaccard
FROM cand c
JOIN hashed sa ON c.id_a = sa.doc_id
JOIN hashed sb ON c.id_b = sb.doc_id
"""


# ---------------------------------------------------------------------------
# Q: duplicate clusters — connected components over the Jaccard-verified
# MinHash pair graph (min-label propagation, unique fixpoint => engine-
# deterministic); oracle replays it as a recursive transitive-closure
# CTE.  This is the step that makes dedup actionable: keep the minimum
# member of each cluster, drop the rest.


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    hashed = dedup_ops.shingle_hash_frame(
        _docs(spark, sf_dir), shingle_k=5, materialize=True
    )
    pairs = dedup_ops.minhash_candidates_from_hashes(
        hashed, n_hashes=_MH_N, bands=_MH_BANDS
    )
    verified = dedup_ops.jaccard_verify_hashed(hashed, pairs).filter(
        F.col("jaccard") >= 0.5
    )
    return dedup_ops.duplicate_clusters(verified)


SQL_DEDUP_CLUSTERS = f"""
WITH RECURSIVE {_sig_sql()},
banded AS (
  SELECT doc_id, 0 AS band, md5(mh_0::VARCHAR || '|' || mh_1::VARCHAR) AS bucket FROM sig
  UNION ALL
  SELECT doc_id, 1 AS band, md5(mh_2::VARCHAR || '|' || mh_3::VARCHAR) AS bucket FROM sig
  UNION ALL
  SELECT doc_id, 2 AS band, md5(mh_4::VARCHAR || '|' || mh_5::VARCHAR) AS bucket FROM sig
  UNION ALL
  SELECT doc_id, 3 AS band, md5(mh_6::VARCHAR || '|' || mh_7::VARCHAR) AS bucket FROM sig
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
),
pairs AS (
  SELECT c.id_a, c.id_b
  FROM cand c
  JOIN hashed sa ON c.id_a = sa.doc_id
  JOIN hashed sb ON c.id_b = sb.doc_id
  WHERE ROUND(CAST(len(list_intersect(sa.h32, sb.h32)) AS DOUBLE)
        / (len(sa.h32) + len(sb.h32) - len(list_intersect(sa.h32, sb.h32))), 6) >= 0.5
),
sym AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION
  SELECT id_b AS a, id_a AS b FROM pairs
),
reach AS (
  SELECT a AS n, a AS r FROM sym
  UNION
  SELECT s.a AS n, reach.r FROM sym s JOIN reach ON s.b = reach.n
),
comp AS (
  SELECT n, MIN(r) AS component_id FROM reach GROUP BY n
)
SELECT component_id, COUNT(*) AS n_members,
       string_agg(CAST(n AS VARCHAR), ',' ORDER BY n) AS members
FROM comp GROUP BY component_id
"""


# ---------------------------------------------------------------------------
# Q: SimHash signatures + bucketed near-dup pairs with Hamming verify.


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = dedup_ops.simhash_near_pairs(_docs(spark, sf_dir), max_hamming=8)
    return pairs.select("id_a", "id_b", F.col("hamming").cast("long").alias("hamming"))


SQL_SIMHASH_PAIRS = """
WITH tok AS (
  SELECT doc_id, unnest(list_distinct(string_split_regex(trim(text), '\\s+'))) AS token
  FROM documents
),
hashed AS (
  SELECT doc_id, ('0x' || substr(md5(token), 1, 8))::BIGINT AS h FROM tok
),
bit_sums AS (
  SELECT doc_id, b.bit,
         SUM(CASE WHEN (h >> b.bit) & 1 = 1 THEN 1 ELSE -1 END) AS s
  FROM hashed, (SELECT unnest(generate_series(0, 31)) AS bit) b
  GROUP BY doc_id, b.bit
),
sigs AS (
  SELECT doc_id,
         SUM(CASE WHEN s > 0 THEN (1::BIGINT << bit) ELSE 0 END) AS sig
  FROM bit_sums GROUP BY doc_id
),
banded AS (
  SELECT doc_id, sig, band.band,
         (sig >> (band.band * 8)) & 255 AS bucket
  FROM sigs, (SELECT unnest(generate_series(0, 3)) AS band) band
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, hamming FROM cand WHERE hamming <= 8
"""


# ---------------------------------------------------------------------------
# Q: k-min-sketch document fingerprint.


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = text_ops.fingerprint(_docs(spark, sf_dir), k=4)
    return out.select("doc_id", "fingerprint")


SQL_DOC_FINGERPRINT = """
SELECT doc_id,
       array_to_string(
         (list_sort(list_transform(
            list_distinct(string_split_regex(trim(text), '\\s+')),
            t -> md5(t))))[1:4], '') AS fingerprint
FROM documents
"""


# ---------------------------------------------------------------------------
# Q: winnowing (rolling-hash) fingerprint — MOSS-style per-window minima
# of token 3-gram hashes.


def q_doc_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = text_ops.winnow_fingerprint(_docs(spark, sf_dir), gram_k=3, window=8)
    return out.select("doc_id", "winnow_fp")


SQL_DOC_WINNOW = """
WITH tok AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents
),
grams AS (
  SELECT doc_id,
         CASE WHEN len(t) >= 3
              THEN list_transform(generate_series(1, len(t) - 2),
                                  i -> array_to_string(t[i:i+2], ' '))
              ELSE [] END AS g
  FROM tok
),
hashes AS (
  SELECT doc_id,
         list_transform(g, x -> ('0x' || substr(md5(x), 1, 8))::BIGINT) AS h
  FROM grams
),
mins AS (
  SELECT doc_id,
         CASE WHEN len(h) >= 8
              THEN list_transform(generate_series(1, len(h) - 7),
                                  i -> list_min(h[i:i+7]))
              WHEN len(h) > 0 THEN [list_min(h)]
              ELSE CAST([] AS BIGINT[]) END AS m
  FROM hashes
)
SELECT doc_id,
       array_to_string(list_transform(list_sort(list_distinct(m)),
                                      x -> CAST(x AS VARCHAR)), ',') AS winnow_fp
FROM mins
"""


# ---------------------------------------------------------------------------
# Q: token rollup per (lang, source) — integer-exact aggregates.


def q_token_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    with_tok = docs.select(
        "lang", "source", text_ops.token_count("text").alias("n_tok"), "n_chars"
    )
    return (
        with_tok.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("n_tok").cast("long")).alias("total_tokens"),
            F.sum(F.col("n_chars")).cast("long").alias("total_chars"),
            F.round(
                F.sum(F.col("n_tok").cast("long"))
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("avg_tokens"),
        )
        .select("lang", "source", "n_docs", "total_tokens", "total_chars", "avg_tokens")
    )


SQL_TOKEN_ROLLUP = """
SELECT lang, source, COUNT(*) AS n_docs,
       CAST(SUM(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT) AS total_tokens,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       ROUND(CAST(SUM(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT)
             / CAST(COUNT(*) AS DOUBLE), 6) AS avg_tokens
FROM documents GROUP BY lang, source
"""


# ---------------------------------------------------------------------------
# Q: brute-force cosine ANN top-5 (queries = every 50th vector).


def q_ann_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return sim_ops.cosine_topk(queries, emb, k=5)


SQL_ANN_COSINE = """
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id % 50 = 0
),
scored AS (
  SELECT q.query_id, c.vec_id,
         list_reduce(list_transform(generate_series(1, 64),
             i -> CAST(q.qv[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)),
             (a, b) -> a + b)
         / (sqrt(list_reduce(list_transform(generate_series(1, 64),
                i -> CAST(q.qv[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)),
                (a, b) -> a + b))
            * sqrt(list_reduce(list_transform(generate_series(1, 64),
                i -> CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)),
                (a, b) -> a + b))) AS cos
  FROM embeddings c CROSS JOIN q
  WHERE c.vec_id <> q.query_id
),
ranked AS (
  SELECT query_id, vec_id AS neighbor_id,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank,
         cos
  FROM scored
)
SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank,
       ROUND(cos, 6) AS cosine_sim
FROM ranked WHERE rank <= 5
"""


# ---------------------------------------------------------------------------
# Q: embedding-cosine near-duplicate pairs, blocked by label.
#
# The scale pattern for near-dup detection over embeddings: a cheap
# blocking key (here the label column; LSH buckets in
# operators/similarity.py::lsh_topk for unlabeled corpora) turns the
# O(N²) all-pairs compare into an equi-join, and the exact cosine only
# runs on within-block candidates.


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the JVM backend of the shared dispatcher: norms precomputed per
    # row (N sqrt-folds, not N²) and a triangle-decomposed self-join so
    # a dominant label is n_parts(n_parts+1)/2 distributable cells,
    # never one O(n²) join key (operators/skew.py).  The Arrow/BLAS
    # backend of the same function is the production path in
    # plans/corpus.py — kept out of the oracle because BLAS fold order
    # is not bit-reproducible in DuckDB.
    from .operators.similarity import cosine_block_pairs

    emb = read_table(spark, sf_dir, "embeddings")
    return cosine_block_pairs(
        emb, block_col="label", id_col="vec_id", threshold=0.35,
        backend="jvm", n_parts=4,
    )


_COS_FOLD = """
         list_reduce(list_transform(generate_series(1, 64),
             i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)),
             (x, y) -> x + y)
         / (sqrt(list_reduce(list_transform(generate_series(1, 64),
                i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE)),
                (x, y) -> x + y))
            * sqrt(list_reduce(list_transform(generate_series(1, 64),
                i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)),
                (x, y) -> x + y)))
"""

SQL_EMBEDDING_NEAR_DUP = f"""
WITH scored AS (
  SELECT a.label, a.vec_id AS id_a, b.vec_id AS id_b,
         {_COS_FOLD} AS cos
  FROM embeddings a JOIN embeddings b
    ON a.label = b.label AND a.vec_id < b.vec_id
)
SELECT label, id_a, id_b, ROUND(cos, 6) AS cosine_sim
FROM scored WHERE cos >= 0.35
"""


# ---------------------------------------------------------------------------
# Q: embedding duplicate clusters — the same connected-components step
# that turns MinHash pairs into clusters, applied to the embedding
# near-dup graph: semantic dedup keeps one representative per cluster
# of mutually-similar vectors.  Reuses the verified near-dup pipeline
# (label-blocked triangle self-join) and duplicate_clusters (min-label
# propagation, unique fixpoint).


def q_embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = q_embedding_near_dup(spark, sf_dir).select("id_a", "id_b")
    return dedup_ops.duplicate_clusters(pairs)


SQL_EMBEDDING_CLUSTERS = f"""
WITH RECURSIVE scored AS (
  SELECT a.label, a.vec_id AS id_a, b.vec_id AS id_b,
         {_COS_FOLD} AS cos
  FROM embeddings a JOIN embeddings b
    ON a.label = b.label AND a.vec_id < b.vec_id
),
pairs AS (
  SELECT id_a, id_b FROM scored WHERE cos >= 0.35
),
sym AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION
  SELECT id_b AS a, id_a AS b FROM pairs
),
reach AS (
  SELECT a AS n, a AS r FROM sym
  UNION
  SELECT s.a AS n, reach.r FROM sym s JOIN reach ON s.b = reach.n
),
comp AS (
  SELECT n, MIN(r) AS component_id FROM reach GROUP BY n
)
SELECT component_id, COUNT(*) AS n_members,
       string_agg(CAST(n AS VARCHAR), ',' ORDER BY n) AS members
FROM comp GROUP BY component_id
"""


# ---------------------------------------------------------------------------
# Q: scalable ANN tiers as first-class queries — both oracle-checked.
# The entire pipeline on both tiers is deterministic arithmetic
# (md5-derived hyperplanes / md5-ordered k-means seeds, micro-unit
# centroid means, sequential folds), so DuckDB can replay it exactly:
# the LSH oracle mirrors the bucket function; the IVF oracle unrolls
# the 2-iteration Lloyd's as a CTE chain.  Recall/parity coverage also
# lives in tests/test_dedup_similarity_text.py.


def _sql_lsh_bucket(col: str, n_planes: int = 6, dim: int = 64, table: int = 0) -> str:
    """DuckDB twin of operators.similarity.lsh_bucket: per plane p the
    weight for index i is md5(f"{seed}_{i}")[:8] as uint32 scaled to
    [-0.5, 0.5); the bit is sign(sum(vec[i] * w_i))."""
    bits = []
    for p in range(n_planes):
        seed = table * 1000 + p
        w = (
            f"(('0x' || substr(md5('{seed}_' || CAST(i AS VARCHAR)), 1, 8))::BIGINT"
            f" / 4294967296.0 - 0.5)"
        )
        proj = (
            f"list_reduce(list_transform(generate_series(1, {dim}),"
            f" i -> CAST({col}[i] AS DOUBLE) * {w}), (x, y) -> x + y)"
        )
        bits.append(f"(CASE WHEN {proj} >= 0 THEN '1' ELSE '0' END)")
    return " || ".join(bits)


def _sql_norm(col: str, dim: int = 64) -> str:
    return (
        f"sqrt(list_reduce(list_transform(generate_series(1, {dim}),"
        f" i -> CAST({col}[i] AS DOUBLE) * CAST({col}[i] AS DOUBLE)),"
        f" (x, y) -> x + y))"
    )


def _sql_flip(b: str, p: int) -> str:
    """DuckDB twin of operators.similarity._flip_bit: the bucket string
    with bit ``p`` (0-indexed) flipped."""
    return (
        f"substr({b}, 1, {p}) || (CASE WHEN substr({b}, {p + 1}, 1) = '1'"
        f" THEN '0' ELSE '1' END) || substr({b}, {p + 2})"
    )


SQL_ANN_LSH = f"""
WITH cb AS (
  SELECT vec_id, embedding,
         {_sql_lsh_bucket('embedding', table=0)} AS bucket0,
         {_sql_lsh_bucket('embedding', table=1)} AS bucket1,
         {_sql_norm('embedding')} AS nrm
  FROM embeddings
),
q AS (
  SELECT vec_id AS query_id, bucket0, bucket1,
         {_sql_flip('bucket0', 0)} AS probe0,
         {_sql_flip('bucket1', 0)} AS probe1
  FROM cb WHERE vec_id % 50 = 0
),
-- a neighbor qualifies if it collides in ANY table with the query's
-- own bucket OR its Hamming-1 probe (n_probe=2); DISTINCT mirrors the
-- Spark side's pre-scoring pair dedup so multi-way collisions score
-- once
cand AS (
  SELECT DISTINCT q.query_id, c.vec_id
  FROM cb c JOIN q
    ON (c.bucket0 = q.bucket0 OR c.bucket0 = q.probe0
        OR c.bucket1 = q.bucket1 OR c.bucket1 = q.probe1)
  WHERE c.vec_id <> q.query_id
),
scored AS (
  SELECT p.query_id, p.vec_id,
         list_reduce(list_transform(generate_series(1, 64),
             i -> CAST(qe.embedding[i] AS DOUBLE) * CAST(ce.embedding[i] AS DOUBLE)),
             (x, y) -> x + y) / (qe.nrm * ce.nrm) AS cos
  FROM cand p
  JOIN cb qe ON qe.vec_id = p.query_id
  JOIN cb ce ON ce.vec_id = p.vec_id
),
ranked AS (
  SELECT query_id, vec_id AS neighbor_id,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank,
         cos
  FROM scored
)
SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank,
       ROUND(cos, 6) AS cosine_sim
FROM ranked WHERE rank <= 5
"""


def _sql_dot(a: str, b: str, dim: int = 64) -> str:
    return (
        f"list_reduce(list_transform(generate_series(1, {dim}),"
        f" i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)),"
        f" (x, y) -> x + y)"
    )


def _sql_ivf_assign(cents: str, out: str) -> str:
    """One Lloyd assignment pass: nearest centroid by cosine,
    tie-broken on centroid_id — the DuckDB twin of
    operators.similarity.build_ivf_index.assign."""
    return f"""{out} AS (
  SELECT vec_id, embedding, centroid_id FROM (
    SELECT e.vec_id, e.embedding, c.centroid_id,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY ({_sql_dot('e.embedding', 'c.centroid')}
                       / ({_sql_norm('e.embedding')} * {_sql_norm('c.centroid')})) DESC,
                      c.centroid_id
           ) AS rk
    FROM embeddings e CROSS JOIN {cents} c
  ) WHERE rk = 1
)"""


# Unrolled 2-iteration Lloyd's (seeds -> assign0 -> micro-unit means ->
# cents1 -> assign1) followed by the n_probe=2 routed search — every
# step is deterministic arithmetic, so this replays the Spark index
# build exactly.
SQL_ANN_IVF = f"""
WITH seeds AS (
  SELECT md5(CAST(vec_id AS VARCHAR)) AS h, embedding AS centroid
  FROM embeddings ORDER BY h LIMIT 8
),
cents0 AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY h) - 1 AS INTEGER) AS centroid_id, centroid
  FROM seeds
),
{_sql_ivf_assign('cents0', 'assign0')},
exploded AS (
  SELECT a.centroid_id, i AS pos,
         CAST(round(CAST(a.embedding[i] AS DOUBLE) * 1e8) AS BIGINT) AS valq
  FROM assign0 a CROSS JOIN generate_series(1, 64) AS t(i)
),
means AS (
  SELECT centroid_id, pos,
         CAST(SUM(valq) AS DOUBLE) / COUNT(*) / 1e8 AS m
  FROM exploded GROUP BY centroid_id, pos
),
cents1 AS (
  SELECT centroid_id,
         list_transform(list(m ORDER BY pos), x -> CAST(x AS FLOAT)) AS centroid
  FROM means GROUP BY centroid_id
),
{_sql_ivf_assign('cents1', 'assign1')},
q AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id % 50 = 0
),
probes AS (
  SELECT query_id, qv, centroid_id FROM (
    SELECT q.query_id, q.qv, c.centroid_id,
           ROW_NUMBER() OVER (
             PARTITION BY q.query_id
             ORDER BY ({_sql_dot('q.qv', 'c.centroid')}
                       / ({_sql_norm('q.qv')} * {_sql_norm('c.centroid')})) DESC,
                      c.centroid_id
           ) AS rk
    FROM q CROSS JOIN cents1 c
  ) WHERE rk <= 2
),
scored AS (
  SELECT p.query_id, a.vec_id,
         {_sql_dot('p.qv', 'a.embedding')}
         / ({_sql_norm('p.qv')} * {_sql_norm('a.embedding')}) AS cos
  FROM assign1 a JOIN probes p ON a.centroid_id = p.centroid_id
  WHERE p.query_id <> a.vec_id
),
ranked AS (
  SELECT query_id, vec_id AS neighbor_id,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank,
         cos
  FROM scored
)
SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank,
       ROUND(cos, 6) AS cosine_sim
FROM ranked WHERE rank <= 5
"""


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import similarity as sim

    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    assignments, centroids = sim.build_ivf_index(emb, n_centroids=8, n_iters=2)
    return sim.ivf_topk(queries, assignments, centroids, k=5, n_probe=2)


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import similarity as sim

    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    # n_tables=2 + n_probe=2 exercises BOTH recall dials (multi-table
    # OR-collision and Hamming-1 multi-probe) under the hash oracle,
    # not just the recall pytest
    return sim.lsh_topk(
        queries, emb, k=5, n_planes=6, dim=64, n_tables=2, n_probe=2
    )


# ---------------------------------------------------------------------------
# Q: Gopher-style repetition quality filter (Rae et al. 2021 App. A1.1)
# — per-doc modal/duplicated n-gram fractions for n=1,2,3 plus the keep
# decision.  operators/text.py::repetition_features: explode + two-key
# aggregation, no per-row O(len²) HOFs — a 1M-token doc costs per-token.


_REP_KEEP = (0.12, 0.10, 0.05)  # top1gram, dup2gram, dup3gram ceilings


def q_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.text import repetition_features

    docs = _docs(spark, sf_dir)
    feats = repetition_features(docs, ns=(1, 2, 3))
    # a doc shorter than n tokens has NULL fracs for that n — it cannot
    # be repetitive at that n, so the missing test PASSES (coalesce),
    # keeping `keep` a real boolean decision for every doc
    keep = (
        F.coalesce(F.col("top1gram_frac") <= _REP_KEEP[0], F.lit(True))
        & F.coalesce(F.col("dup2gram_frac") <= _REP_KEEP[1], F.lit(True))
        & F.coalesce(F.col("dup3gram_frac") <= _REP_KEEP[2], F.lit(True))
    )
    return feats.withColumn("keep", keep)


SQL_REPETITION_FILTER = f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents
),
grams AS (
  SELECT doc_id, 1 AS n, unnest(t) AS gram FROM toks
  UNION ALL
  SELECT doc_id, 2 AS n,
         unnest(list_transform(generate_series(1, len(t) - 1),
                i -> t[i] || ' ' || t[i + 1])) AS gram
  FROM toks WHERE len(t) >= 2
  UNION ALL
  SELECT doc_id, 3 AS n,
         unnest(list_transform(generate_series(1, len(t) - 2),
                i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS gram
  FROM toks WHERE len(t) >= 3
),
counts AS (
  SELECT doc_id, n, gram, COUNT(*) AS cnt FROM grams GROUP BY ALL
),
per_n AS (
  SELECT doc_id, n, CAST(SUM(cnt) AS BIGINT) AS total, MAX(cnt) AS top,
         CAST(COALESCE(SUM(cnt) FILTER (WHERE cnt > 1), 0) AS BIGINT) AS dup
  FROM counts GROUP BY ALL
),
wide AS (
  SELECT doc_id,
    ROUND(MAX(CASE WHEN n = 1 THEN CAST(top AS DOUBLE) / total END), 6) AS top1gram_frac,
    ROUND(MAX(CASE WHEN n = 1 THEN CAST(dup AS DOUBLE) / total END), 6) AS dup1gram_frac,
    ROUND(MAX(CASE WHEN n = 2 THEN CAST(top AS DOUBLE) / total END), 6) AS top2gram_frac,
    ROUND(MAX(CASE WHEN n = 2 THEN CAST(dup AS DOUBLE) / total END), 6) AS dup2gram_frac,
    ROUND(MAX(CASE WHEN n = 3 THEN CAST(top AS DOUBLE) / total END), 6) AS top3gram_frac,
    ROUND(MAX(CASE WHEN n = 3 THEN CAST(dup AS DOUBLE) / total END), 6) AS dup3gram_frac
  FROM per_n GROUP BY doc_id
)
SELECT *,
       COALESCE(top1gram_frac <= {_REP_KEEP[0]}, TRUE)
       AND COALESCE(dup2gram_frac <= {_REP_KEEP[1]}, TRUE)
       AND COALESCE(dup3gram_frac <= {_REP_KEEP[2]}, TRUE) AS keep
FROM wide
"""


# ---------------------------------------------------------------------------
# Q: benchmark decontamination (GPT-3 App. C 13-gram check, n=3 here so
# the synthetic corpus actually overlaps) — every training doc with its
# count of distinct n-grams shared with the held-out "benchmark" slice.


def q_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.text import ngram_contamination

    docs = _docs(spark, sf_dir)
    benchmark = docs.filter(F.col("doc_id") % 97 == 0)
    train = docs.filter(F.col("doc_id") % 97 != 0)
    return ngram_contamination(train, benchmark, n=3).select(
        "doc_id", "lang", "n_overlap", "contaminated"
    )


SQL_DECONTAMINATION = """
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents
),
tg AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(generate_series(1, len(t) - 2),
                i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS gram
  FROM toks WHERE len(t) >= 3
),
bg AS (SELECT DISTINCT gram FROM tg WHERE doc_id % 97 = 0),
hits AS (
  SELECT t.doc_id, COUNT(*) AS n_overlap
  FROM (SELECT * FROM tg WHERE doc_id % 97 <> 0) t
  JOIN bg USING (gram) GROUP BY t.doc_id
)
SELECT d.doc_id, d.lang,
       CAST(COALESCE(h.n_overlap, 0) AS BIGINT) AS n_overlap,
       COALESCE(h.n_overlap, 0) > 0 AS contaminated
FROM documents d LEFT JOIN hits h USING (doc_id)
WHERE d.doc_id % 97 <> 0
"""


# ---------------------------------------------------------------------------
# Q: deterministic stratified sampling (training-mix construction) —
# per-language Bernoulli rates via md5-uniforms, importance weights,
# and a per-stratum rollup proving the realized rates.


# these rates make every importance weight exactly dyadic (2.0, 1.25,
# 4.0, 10.0), so SUM(weight) is exact under ANY aggregation tree shape
# — engine- and partitioning-independent without quantization
_MIX = {"en": 0.5, "de": 0.8, "es": 0.25, "fr": 0.1}


def q_sample_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.text import stratified_sample

    docs = _docs(spark, sf_dir)
    sampled = stratified_sample(docs, _MIX, strata_col="lang")
    return sampled.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_sampled"),
        F.round(F.sum("sample_weight"), 6).alias("est_total"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


def _mix_case_sql() -> str:
    whens = " ".join(
        f"WHEN lang = '{k}' THEN {float(v)}" for k, v in sorted(_MIX.items())
    )
    return f"CASE {whens} END"


SQL_SAMPLE_MIX = f"""
WITH drawn AS (
  SELECT doc_id, lang, {_mix_case_sql()} AS frac,
         ('0x' || substr(md5('sample_' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
           / 4294967296.0 AS u
  FROM documents
)
SELECT lang, COUNT(*) AS n_sampled,
       ROUND(SUM(1.0 / frac), 6) AS est_total,
       MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
FROM drawn WHERE frac IS NOT NULL AND u < frac
GROUP BY lang
"""


# ---------------------------------------------------------------------------
# Q: document chunking (training-sequence prep): 32-token windows with
# 8-token overlap; digest instead of full chunk text keeps the result
# row narrow.


def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.text import chunk_documents

    chunks = chunk_documents(
        _docs(spark, sf_dir), chunk_tokens=32, overlap=8
    )
    return chunks.select(
        "doc_id",
        "chunk_id",
        "n_chunk_tokens",
        F.md5("chunk_text").alias("chunk_digest"),
    )


SQL_DOC_CHUNKS = """
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents
),
chunked AS (
  SELECT doc_id,
         unnest(list_transform(
           generate_series(0, CAST(ceil(GREATEST(len(t) - 8, 1) / 24.0) AS INT) - 1),
           i -> {'cid': i, 'ctext': array_to_string(t[i*24 + 1 : i*24 + 32], ' ')}
         )) AS c
  FROM toks
)
SELECT doc_id,
       CAST(c.cid AS INT) AS chunk_id,
       CAST(len(string_split_regex(c.ctext, '\\s+')) AS INT) AS n_chunk_tokens,
       md5(c.ctext) AS chunk_digest
FROM chunked
"""


# ---------------------------------------------------------------------------
# Q: deterministic contiguous sequence packing (GPT-style pre-training
# batch layout) — per-language token cumsum, pack = tokens-before //
# budget, rolled up per pack.


def q_doc_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = text_ops.pack_documents(_docs(spark, sf_dir), budget=1024)
    return out.select(
        "lang", "pack_id", "n_docs", "pack_tokens", "first_doc", "last_doc"
    )


SQL_DOC_PACK = """
WITH counted AS (
  SELECT doc_id, lang,
         len(string_split_regex(trim(text), '\\s+')) AS n_tok
  FROM documents
),
packed AS (
  SELECT doc_id, lang, n_tok,
         CAST(FLOOR(COALESCE(SUM(n_tok) OVER (
             PARTITION BY lang ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           / 1024.0) AS BIGINT) AS pack_id
  FROM counted
)
SELECT lang, pack_id,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS pack_tokens,
       MIN(doc_id) AS first_doc,
       MAX(doc_id) AS last_doc
FROM packed GROUP BY lang, pack_id
"""


# ---------------------------------------------------------------------------
# Q: phrase-level boilerplate mining — 6-token phrases appearing in
# >= 3 distinct documents (the filter-list construction step; the
# sentence-grain sibling boilerplate_sentences is unit-tested on
# punctuated fixtures — this corpus has no sentence punctuation).


def q_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = text_ops.common_phrases(_docs(spark, sf_dir), k=6, min_docs=3)
    return out.select("phrase_digest", "n_docs", "exemplar")


SQL_BOILERPLATE = """
WITH phrases AS (
  SELECT DISTINCT doc_id, p.phrase
  FROM (
    SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
    FROM documents
    WHERE len(string_split_regex(trim(text), '\\s+')) >= 6
  ),
  unnest(list_transform(generate_series(1, len(t) - 5),
                        i -> array_to_string(t[i:i+5], ' '))) AS p(phrase)
)
SELECT md5(phrase) AS phrase_digest,
       COUNT(DISTINCT doc_id) AS n_docs,
       MIN(phrase) AS exemplar
FROM phrases
GROUP BY md5(phrase)
HAVING COUNT(DISTINCT doc_id) >= 3
"""


# ---------------------------------------------------------------------------
# Q: C4/Gopher heuristic quality gate — per-rule flags + keep verdict,
# exact arithmetic only (bit-identical across engines), scan-speed.


def q_c4_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = text_ops.c4_quality_filter(_docs(spark, sf_dir))
    return out.select(
        "doc_id", "flag_too_short", "flag_too_long", "flag_bad_mean_token_len",
        "flag_low_stopword", "flag_high_punct", "keep",
    )


SQL_C4_FILTER = """
WITH feat AS (
  SELECT doc_id,
         len(string_split_regex(trim(text), '\\s+')) AS n_tok,
         length(text) AS n_chars,
         length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS n_punct,
         len(list_filter(string_split_regex(trim(text), '\\s+'),
             x -> x IN ('the','a','of','and','to','in','is'))) AS n_stop
  FROM documents
),
flags AS (
  SELECT doc_id,
         n_tok < 20 AS flag_too_short,
         n_tok > 10000 AS flag_too_long,
         ((n_chars - (n_tok - 1)) / n_tok < 3.0
          OR (n_chars - (n_tok - 1)) / n_tok > 10.0) AS flag_bad_mean_token_len,
         (n_stop / n_tok) < 0.0125 AS flag_low_stopword,
         CASE WHEN n_chars > 0 THEN (n_punct / n_chars) > 0.2
              ELSE FALSE END AS flag_high_punct
  FROM feat
)
SELECT doc_id, flag_too_short, flag_too_long, flag_bad_mean_token_len,
       flag_low_stopword, flag_high_punct,
       (NOT flag_too_short AND NOT flag_too_long
        AND NOT flag_bad_mean_token_len AND NOT flag_low_stopword
        AND NOT flag_high_punct) AS keep
FROM flags
"""


# ---------------------------------------------------------------------------
# Q: unigram cross-entropy — CCNet-style perplexity-filtering signal
# (self-trained unigram model broadcast against the exploded corpus;
# ln rounded to 6 on both engines per the transcendental rule).


def q_unigram_logloss(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_ops.unigram_logloss(_docs(spark, sf_dir)).select(
        "doc_id", "n_tokens", "cross_entropy"
    )


SQL_UNIGRAM_LOGLOSS = """
WITH tok AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS token
  FROM documents
),
model AS (
  SELECT token, COUNT(*) AS cnt FROM tok GROUP BY token
),
total AS (
  SELECT CAST(SUM(cnt) AS DOUBLE) AS t FROM model
),
probs AS (
  SELECT token, cnt / t AS p FROM model, total
)
SELECT s.doc_id,
       COUNT(*) AS n_tokens,
       ROUND(-SUM(ln(p)) / COUNT(*), 6) AS cross_entropy
FROM tok s JOIN probs USING (token)
GROUP BY s.doc_id
"""


# ---------------------------------------------------------------------------
# Q: vocabulary coverage curve — the vocab-size-selection statistic
# (what share of token instances the top-k tokens cover).  Top-k is
# TakeOrderedAndProject (distributed), ties broken (cnt DESC, token
# ASC) on both engines.


def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_ops.vocab_coverage(_docs(spark, sf_dir), ks=(10, 25, 50))


SQL_VOCAB_COVERAGE = """
WITH tok AS (
  SELECT unnest(string_split_regex(trim(text), '\\s+')) AS token FROM documents
),
counts AS (
  SELECT token, COUNT(*) AS cnt FROM tok GROUP BY token
),
total AS (
  SELECT CAST(SUM(cnt) AS BIGINT) AS total_tokens FROM counts
),
per_k AS (
  SELECT CAST(10 AS BIGINT) AS k, CAST(SUM(cnt) AS BIGINT) AS covered_tokens
  FROM (SELECT cnt FROM counts ORDER BY cnt DESC, token ASC LIMIT 10)
  UNION ALL
  SELECT 25, CAST(SUM(cnt) AS BIGINT)
  FROM (SELECT cnt FROM counts ORDER BY cnt DESC, token ASC LIMIT 25)
  UNION ALL
  SELECT 50, CAST(SUM(cnt) AS BIGINT)
  FROM (SELECT cnt FROM counts ORDER BY cnt DESC, token ASC LIMIT 50)
)
SELECT k, covered_tokens, total_tokens,
       ROUND(CAST(covered_tokens AS DOUBLE) / total_tokens, 6) AS coverage
FROM per_k, total
"""


# ---------------------------------------------------------------------------
# Q: semantic dedup survivors — the end-to-end output of the corpus
# DAG's SemDeDup stage (plans/corpus.semantic_survivors) on the JVM
# backend: cosine edges >= 0.35 over the embedding blocks → connected
# components → drop every non-minimum cluster member from documents.


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .plans.corpus import semantic_survivors

    docs = _docs(spark, sf_dir).select("doc_id", "lang", "source")
    emb = read_table(spark, sf_dir, "embeddings")
    return semantic_survivors(docs, emb, threshold=0.35, backend="jvm")


SQL_SEMANTIC_DEDUP = f"""
WITH RECURSIVE scored AS (
  SELECT a.label, a.vec_id AS id_a, b.vec_id AS id_b,
         {_COS_FOLD} AS cos
  FROM embeddings a JOIN embeddings b
    ON a.label = b.label AND a.vec_id < b.vec_id
),
pairs AS (
  SELECT id_a, id_b FROM scored WHERE cos >= 0.35
),
sym AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION
  SELECT id_b AS a, id_a AS b FROM pairs
),
reach AS (
  SELECT a AS n, a AS r FROM sym
  UNION
  SELECT s.a AS n, reach.r FROM sym s JOIN reach ON s.b = reach.n
),
comp AS (
  SELECT n, MIN(r) AS component_id FROM reach GROUP BY n
),
losers AS (
  SELECT n FROM comp WHERE n != component_id
)
SELECT d.doc_id, d.lang, d.source
FROM documents d
WHERE d.doc_id NOT IN (SELECT n FROM losers)
"""


# ---------------------------------------------------------------------------
# Adjacent-bigram PMI — collocation mining (phrase-vocab induction
# signal), one leg of term_stats.  Counts exact; one ln rounded to 6 on
# both engines.
SQL_BIGRAM_PMI = """
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents
),
bg AS (
  SELECT t[i] AS w1, t[i + 1] AS w2
  FROM toks, UNNEST(generate_series(1, len(t) - 1)) AS g(i)
),
bg_counts AS (
  SELECT w1, w2, COUNT(*) AS n_ab FROM bg GROUP BY w1, w2
),
uni AS (
  SELECT unnest(t) AS token FROM toks
),
uni_counts AS (
  SELECT token, COUNT(*) AS n_tok FROM uni GROUP BY token
),
tot AS (
  SELECT CAST(SUM(n_tok) AS DOUBLE) AS t FROM uni_counts
),
totb AS (
  SELECT CAST(SUM(n_ab) AS DOUBLE) AS b FROM bg_counts
)
SELECT c.w1, c.w2, c.n_ab,
       ROUND(ln((c.n_ab / b) / ((ua.n_tok / t) * (ub.n_tok / t))), 6) AS pmi
FROM bg_counts c
JOIN uni_counts ua ON c.w1 = ua.token
JOIN uni_counts ub ON c.w2 = ub.token, tot, totb
WHERE c.n_ab >= 5
"""


# ---------------------------------------------------------------------------
# Q: term statistics — the round-7 consolidation of the former
# ``bigram_pmi`` and ``tfidf_terms`` registry rows (VERDICT r6 Next #1):
# both operators run over ONE materialized corpus scan and their
# results union under a normalized (stat, key1, key2, cnt, score)
# schema, so each keeps full hash-exact oracle coverage while costing a
# single registry slot.  PMI rows carry (w1, w2, n_ab, pmi); tfidf rows
# carry (doc_id, term, tf, tfidf) with the per-doc top-3 filter already
# applied (rank is derivable from the ordering and dropped to keep the
# union schema tight).


def q_term_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # one corpus materialization feeds both operators — without it each
    # operator's tokenize re-scans the parquet (the bigram_logloss
    # materialization rule, NOTES r4).  Round-robin spread BEFORE the
    # checkpoint (r14): a one-file corpus checkpoints as one partition,
    # so both consumers' tokenize-heavy projections ran in ONE task
    docs = (
        _docs(spark, sf_dir)
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism)
        .localCheckpoint()
    )
    pmi = text_ops.bigram_pmi(docs, min_count=5).select(
        F.lit("pmi").alias("stat"),
        F.col("w1").alias("key1"),
        F.col("w2").alias("key2"),
        F.col("n_ab").alias("cnt"),
        F.col("pmi").alias("score"),
    )
    tfidf = text_ops.tfidf_top_terms(docs, k=3).select(
        F.lit("tfidf").alias("stat"),
        F.col("doc_id").cast("string").alias("key1"),
        F.col("term").alias("key2"),
        F.col("tf").alias("cnt"),
        F.col("tfidf").alias("score"),
    )
    return pmi.unionByName(tfidf)


# Per-doc top-k tf·idf terms — keyword extraction (Salton idf, no
# smoothing; ties break on the term string for cross-engine ranks), the
# other leg of term_stats.
SQL_TFIDF_TERMS = """
WITH tok AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS term
  FROM documents
),
tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term
),
dfreq AS (
  SELECT term, COUNT(*) AS df_t FROM tf GROUP BY term
),
n AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents
),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf,
         ROUND(tf.tf * ln(n_docs / dfreq.df_t), 6) AS tfidf
  FROM tf JOIN dfreq USING (term), n
),
ranked AS (
  SELECT doc_id, term, tf, tfidf,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rank
  FROM scored
)
SELECT doc_id, term, tf, tfidf, rank FROM ranked WHERE rank <= 3
"""

SQL_TERM_STATS = f"""
SELECT 'pmi' AS stat, w1 AS key1, w2 AS key2,
       CAST(n_ab AS BIGINT) AS cnt, pmi AS score
FROM ({SQL_BIGRAM_PMI})
UNION ALL
SELECT 'tfidf' AS stat, CAST(doc_id AS VARCHAR) AS key1, term AS key2,
       CAST(tf AS BIGINT) AS cnt, tfidf AS score
FROM ({SQL_TFIDF_TERMS})
"""


# ---------------------------------------------------------------------------
# Q: EXACT Jaccard dedup join via prefix filtering (AllPairs/PPJoin) —
# the lossless complement to the MinHash tier.  The oracle is brute
# force over all pairs: prefix filtering is a complete candidate
# generator, so the result sets must agree EXACTLY (no recall knob).


def q_jaccard_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    hashed = dedup_ops.shingle_hash_frame(
        _docs(spark, sf_dir), shingle_k=5, materialize=True
    )
    return dedup_ops.jaccard_prefix_pairs(hashed, threshold=0.5)


SQL_JACCARD_EXACT = f"""
WITH {_hashed_sql()}
SELECT id_a, id_b, jaccard FROM (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         ROUND(CAST(len(list_intersect(a.h32, b.h32)) AS DOUBLE)
               / (len(a.h32) + len(b.h32) - len(list_intersect(a.h32, b.h32))), 6)
           AS jaccard
  FROM hashed a JOIN hashed b ON a.doc_id < b.doc_id
) WHERE jaccard >= 0.5
"""


# ---------------------------------------------------------------------------
# n-gram length of the duplicated-substring spans (the distributed
# stand-in for suffix-array exact-substring dedup, Lee et al. 2022).

_SPAN_N = 8


# ---------------------------------------------------------------------------
# Q: dup-span audit — the r7 consolidation of ``dup_spans`` +
# ``span_scrub`` into ONE registry row (the term_stats precedent):
# both operators stay hash-verified, but the shared scaffolding (the
# duplicated-n-gram island CTE chain, identical in both oracles) is
# materialized once instead of twice.  Normalized union schema
# (stat, doc_id, a, b, txt): span rows carry (span_start, span_end,
# NULL); scrub rows carry (n_removed, NULL, text_clean).  span_tokens
# is derivable (b − a + 1) and dropped to keep the union tight.


def q_dup_span_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread before the checkpoint (r14): the scrub leg's per-row regex
    # work otherwise runs in the single partition a one-file corpus
    # checkpoints as (the aug_audit finding)
    docs = (
        _docs(spark, sf_dir)
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism)
        .localCheckpoint()
    )
    spans = dedup_ops.duplicated_ngram_spans(docs, n=_SPAN_N).localCheckpoint()
    span_rows = spans.select(
        F.lit("span").alias("stat"),
        "doc_id",
        F.col("span_start").cast("long").alias("a"),
        F.col("span_end").cast("long").alias("b"),
        F.lit(None).cast("string").alias("txt"),
    )
    scrub_rows = text_ops.remove_spans(docs, spans).select(
        F.lit("scrub").alias("stat"),
        "doc_id",
        F.col("n_removed").cast("long").alias("a"),
        F.lit(None).cast("long").alias("b"),
        F.col("text_clean").alias("txt"),
    )
    return span_rows.unionByName(scrub_rows)


_SPAN_CTES = f"""toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents
),
grams AS (
  SELECT doc_id, i AS pos,
         ('0x' || substr(md5(array_to_string(t[i:i+{_SPAN_N - 1}], ' ')), 1, 8))::BIGINT AS gh
  FROM toks, UNNEST(generate_series(1, len(t) - {_SPAN_N - 1})) AS g(i)
  WHERE len(t) >= {_SPAN_N}
),
dup AS (
  SELECT gh FROM grams GROUP BY gh HAVING COUNT(*) >= 2
),
hits AS (
  SELECT doc_id, pos FROM grams WHERE gh IN (SELECT gh FROM dup)
),
isl AS (
  SELECT doc_id, pos,
         CASE WHEN lag(pos) OVER w IS NULL OR pos - lag(pos) OVER w > 1
              THEN 1 ELSE 0 END AS newf
  FROM hits WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
isl2 AS (
  SELECT doc_id, pos,
         SUM(newf) OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM isl
),
spans AS (
  SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + {_SPAN_N - 1} AS span_end
  FROM isl2 GROUP BY doc_id, island
)"""

SQL_DUP_SPAN_AUDIT = f"""
WITH {_SPAN_CTES},
tokpos AS (
  SELECT doc_id, t[i] AS token, i AS pos, len(t) AS n_tok
  FROM toks, UNNEST(generate_series(1, len(t))) AS g(i)
),
kept AS (
  SELECT tp.doc_id, tp.token, tp.pos, tp.n_tok
  FROM tokpos tp
  WHERE NOT EXISTS (
    SELECT 1 FROM spans s
    WHERE s.doc_id = tp.doc_id AND tp.pos BETWEEN s.span_start AND s.span_end
  )
),
rebuilt AS (
  SELECT doc_id, string_agg(token, ' ' ORDER BY pos) AS text_clean,
         MAX(n_tok) - COUNT(*) AS n_removed
  FROM kept GROUP BY doc_id
)
SELECT 'span' AS stat, doc_id,
       CAST(span_start AS BIGINT) AS a,
       CAST(span_end AS BIGINT) AS b,
       CAST(NULL AS VARCHAR) AS txt
FROM spans
UNION ALL
SELECT 'scrub' AS stat, d.doc_id,
       CAST(COALESCE(r.n_removed,
                     len(string_split_regex(trim(d.text), '\\s+'))) AS BIGINT) AS a,
       CAST(NULL AS BIGINT) AS b,
       COALESCE(r.text_clean, '') AS txt
FROM documents d LEFT JOIN rebuilt r ON d.doc_id = r.doc_id
"""


# ---------------------------------------------------------------------------
# Q: per-stratum quality top-k — "keep the best N per language", the
# greedy counterpart of sample_mix's rate-based mixing.


def q_quality_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_ops.stratified_topk(_docs(spark, sf_dir), k=5, strata_col="lang")


SQL_QUALITY_TOPK = """
WITH feat AS (
  SELECT doc_id, lang,
         len(string_split_regex(trim(text), '\\s+')) AS n_tok,
         length(text) AS n_chars,
         length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS n_punct,
         len(list_filter(string_split_regex(trim(text), '\\s+'),
             x -> x IN ('the','a','of','and','to','in','is'))) AS n_stop
  FROM documents
),
scored AS (
  SELECT doc_id, lang,
         ROUND(LEAST(n_tok / 100.0, 1.0) * 0.5 + (n_stop / n_tok) * 2.0
               - (n_punct / n_chars), 6) AS quality_score
  FROM feat
),
ranked AS (
  SELECT lang, doc_id, quality_score,
         ROW_NUMBER() OVER (PARTITION BY lang
                            ORDER BY quality_score DESC, doc_id ASC) AS rank
  FROM scored
)
SELECT lang, doc_id, quality_score, rank FROM ranked WHERE rank <= 5
"""


# ---------------------------------------------------------------------------
# Q: temperature-scaled domain mixture weights (α-smoothed sampling).
# Sum of pow values is over DOMAIN cardinality (tiny), so float-order
# effects sit ~10 decimal digits below the 1e-6 quantization.


def q_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_ops.domain_mixture_weights(
        _docs(spark, sf_dir), strata_col="source", alpha=0.7
    )


SQL_DOMAIN_MIX = """
WITH tc AS (
  SELECT source,
         CAST(SUM(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
),
tot AS (
  SELECT CAST(SUM(n_tokens) AS DOUBLE) AS t FROM tc
),
sc AS (
  SELECT source, n_tokens, n_tokens / t AS share,
         pow(n_tokens / t, 0.7) AS sw
  FROM tc, tot
),
ws AS (
  SELECT SUM(sw) AS s FROM sc
)
SELECT source, n_tokens,
       ROUND(share, 6) AS share,
       ROUND(sw / s, 6) AS weight,
       ROUND((sw / s) / share, 6) AS boost
FROM sc, ws
"""


# ---------------------------------------------------------------------------
# Q: bigram cross-entropy — the conditional-model upgrade of
# unigram_logloss (same ln-round-6 convention).


def q_bigram_logloss(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_ops.bigram_logloss(_docs(spark, sf_dir))


SQL_BIGRAM_LOGLOSS = """
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents
),
bg AS (
  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
  FROM toks, UNNEST(generate_series(1, len(t) - 1)) AS g(i)
),
m AS (
  SELECT w1, w2, COUNT(*) AS c_ab FROM bg GROUP BY w1, w2
),
lc AS (
  SELECT w1, COUNT(*) AS c_a FROM bg GROUP BY w1
)
SELECT s.doc_id, COUNT(*) AS n_bigrams,
       ROUND(-SUM(ln(m.c_ab / lc.c_a)) / COUNT(*), 6) AS cross_entropy
FROM bg s JOIN m USING (w1, w2) JOIN lc USING (w1)
GROUP BY s.doc_id
"""


# ---------------------------------------------------------------------------
# Q: EXACT set-containment join (ordered pairs, |A∩B|/|A| ≥ t) — the
# asymmetric near-dup tier that catches short-doc-inside-long-doc
# inclusion, which Jaccard's union denominator hides.  The oracle is
# brute force over ALL ordered pairs (the probe-side prefix filter is
# a complete candidate generator — no recall knob).


def q_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    hashed = dedup_ops.shingle_hash_frame(
        _docs(spark, sf_dir), shingle_k=5, materialize=True
    )
    return dedup_ops.containment_prefix_pairs(hashed, threshold=0.5)


SQL_CONTAINMENT = f"""
WITH {_hashed_sql()}
SELECT id_a, id_b, containment FROM (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         ROUND(CAST(len(list_intersect(a.h32, b.h32)) AS DOUBLE) / len(a.h32), 6)
           AS containment
  FROM hashed a JOIN hashed b ON a.doc_id <> b.doc_id
) WHERE containment >= 0.5
"""


# ---------------------------------------------------------------------------
# Q: per-document character entropy — the repetitiveness/garbage
# signal; nano-quantized -p*log2(p) terms make the per-doc sum
# order-free and engine-exact.


def q_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_ops.char_entropy(_docs(spark, sf_dir), max_chars=512)


# the log2 nano LUT is the SAME Python-evaluated literal as the Spark
# plan's (text_ops.log2_nano_table) — H = log2(n) − (1/n)·Σ c·log2(c)
# becomes pure BIGINT arithmetic on both engines; no query-time
# transcendental, no libm-ulp rounding boundary (r7 session-3 fix: the
# old per-term round(−p·log2(p)·1e9) diverged on 3/5000 docs at sf0.1)
_LOG2_LUT = ", ".join(str(v) for v in text_ops.log2_nano_table(512))

SQL_CHAR_ENTROPY = f"""
WITH lut AS (SELECT [{_LOG2_LUT}] AS a),
pfx AS (
  SELECT doc_id, substr(text, 1, 512) AS p FROM documents
  WHERE len(substr(text, 1, 512)) > 0
),
chars AS (
  SELECT doc_id, len(p) AS n, substr(p, i, 1) AS ch
  FROM pfx, UNNEST(generate_series(1, len(p))) AS g(i)
),
counts AS (
  SELECT doc_id, n, ch, COUNT(*) AS c FROM chars GROUP BY doc_id, n, ch
),
agg AS (
  SELECT doc_id, n, COUNT(*) AS n_distinct,
         CAST(SUM(c * a[CAST(c AS INTEGER)]) AS BIGINT) AS s
  FROM counts, lut
  GROUP BY doc_id, n
)
SELECT doc_id, CAST(n AS BIGINT) AS n_scored,
       CAST(n_distinct AS BIGINT) AS n_distinct,
       ROUND(CAST(a[CAST(n AS INTEGER)] * n - s AS DOUBLE)
             / (CAST(n AS DOUBLE) * 1000000000.0), 6) AS entropy_bits
FROM agg, lut
"""


# ---------------------------------------------------------------------------
# Q: BM25 keyword retrieval (Robertson & Zaragoza 2009; Lucene +1 idf)
# — the lexical complement to the ANN tiers: hybrid search unions BM25
# and embedding candidates.  Per-term contributions quantize to
# nano-unit BIGINTs before the per-doc sum (order-free, engine-exact).

_BM25_TERMS = ("spark", "window", "merge")


def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_ops.bm25_topk(
        _docs(spark, sf_dir), query_terms=_BM25_TERMS, k=25
    )


_BM25_TOK = r"string_split_regex(trim(text), '\s+')"


def _bm25_sql(terms, k, k1=1.2, b=0.75):
    """Mirror bm25_topk's scan-local shape: per-term tf via
    list_filter, 1-row stats CTE, fixed-order nano-unit contribution
    sum — generated from the same term list AND the same (k1, b)
    saturation constants as the Spark query (r6 ADVICE: the constants
    were literals here, so changing them in q_bm25_search would have
    silently desynced the oracle)."""
    tf_defs = ",\n         ".join(
        f"len(list_filter({_BM25_TOK}, x -> x = '{t}')) AS tf{i}"
        for i, t in enumerate(terms)
    )
    df_defs = ",\n         ".join(
        f"CAST(SUM(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS df{i}"
        for i in range(len(terms))
    )
    hit_sum = " + ".join(
        f"(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END)" for i in range(len(terms))
    )
    contrib_sum = "\n       + ".join(
        f"(CASE WHEN tf{i} > 0 THEN CAST(FLOOR("
        f"ln(1.0 + (n - df{i} + 0.5) / (df{i} + 0.5))"
        f" * (tf{i} * {k1 + 1.0!r} / (tf{i} + {k1!r} * ({1.0 - b!r}"
        f" + {b!r} * dl / avgdl)))"
        f" * 1000000000.0) AS BIGINT) ELSE 0 END)"
        for i in range(len(terms))
    )
    return f"""
WITH base AS (
  SELECT doc_id,
         len({_BM25_TOK}) AS dl,
         {tf_defs}
  FROM documents
),
stats AS (
  SELECT SUM(dl) / COUNT(*) AS avgdl,
         CAST(COUNT(*) AS DOUBLE) AS n,
         {df_defs}
  FROM base
),
scored AS (
  SELECT doc_id,
         {hit_sum} AS n_terms_hit,
         {contrib_sum} AS sq
  FROM base, stats
)
SELECT doc_id, CAST(n_terms_hit AS BIGINT) AS n_terms_hit,
       ROUND(CAST(sq AS DOUBLE) / 1000000000.0, 6) AS score
FROM scored WHERE n_terms_hit > 0
ORDER BY score DESC, doc_id ASC
LIMIT {k}
"""


SQL_BM25_SEARCH = _bm25_sql(_BM25_TERMS, k=25)


# r7 session-2 consolidation: the bm25_search registry row is dropped —
# bm25_indexed carries the SAME oracle (cross-tier parity), and the
# scan-local tier stays covered by the multiplicity-parity pytest
# (tests/test_text_ops.py) plus its role inside q_hybrid_rrf below.


def q_bm25_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The inverted-index BM25 tier (text.bm25_topk_indexed: postings
    explode + broadcast vocab filter — query-size-independent corpus
    cost) against the SAME oracle as ``bm25_search``: identical
    nano-unit contributions sum order-free, so the hash-exact match IS
    the cross-tier parity proof (the bpe fast/slow pattern)."""
    return text_ops.bm25_topk_indexed(
        _docs(spark, sf_dir), query_terms=_BM25_TERMS, k=25
    )


# ---------------------------------------------------------------------------
# Q: hybrid retrieval — BM25 lexical top-k and brute-cosine semantic
# top-k fused by reciprocal-rank fusion (Cormack et al. 2009).  The
# end-to-end retrieval-stack query: the two candidate lists come from
# the ALREADY hash-verified tiers (bm25_topk and cosine_topk share
# their oracle shapes with bm25_search / ann_cosine), and the fusion
# sums integer nano-unit contributions 10^9 div (60 + rank) so the
# fused score is order-free and engine-exact.  doc_id and vec_id share
# the id space in the corpus (TESTDATA), so the fused key is doc_id.
#
# Scale shape: each retriever's cost is its own (verified) tier; the
# fusion itself is a union of two k-row lists + one groupBy — driver-
# trivial here, map-side-combinable at any k.  The rank windows run
# over k-row candidate lists (bounded), never corpus-wide sorts.

_HYBRID_K = 25
_HYBRID_RRF_K = 60
_HYBRID_QVEC = 100


def q_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir)
    emb = read_table(spark, sf_dir, "embeddings")
    lex = text_ops.bm25_topk(docs, query_terms=_BM25_TERMS, k=_HYBRID_K)
    lexr = lex.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("score").desc(), F.col("doc_id").asc()))
        .alias("rank"),
    )
    q = emb.filter(F.col("vec_id") == _HYBRID_QVEC).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    sem = sim_ops.cosine_topk(q, emb, k=_HYBRID_K).select(
        F.col("neighbor_id").alias("doc_id"), "rank"
    )
    return sim_ops.reciprocal_rank_fusion(
        [lexr, sem], id_col="doc_id", k=_HYBRID_RRF_K, nano_units=True
    )


def _hybrid_rrf_sql(terms, k, k1=1.2, b=0.75, rrf_k=60, qvec=100):
    """Replay both retrievers exactly: the bm25 CTE chain is generated
    from the SAME term list and (k1, b) as ``_bm25_sql`` (so the two
    oracles can never drift), the cosine fold is the ann_cosine
    sequential double fold, and the fusion is pure BIGINT division."""
    bm25 = _bm25_sql(terms, k=k, k1=k1, b=b)
    # lift the bm25 statement's WITH-body back out as CTEs and rank its
    # top-k SELECT
    body = bm25.strip()
    assert body.startswith("WITH ")
    with_part, select_part = body.split("\nSELECT ", 1)
    return f"""
{with_part},
lex AS (
  SELECT doc_id,
         ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS rank
  FROM (SELECT {select_part})
),
qv AS (
  SELECT vec_id AS query_id, embedding AS qvec
  FROM embeddings WHERE vec_id = {qvec}
),
sem_scored AS (
  SELECT c.vec_id,
         list_reduce(list_transform(generate_series(1, 64),
             i -> CAST(qv.qvec[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)),
             (a, b) -> a + b)
         / (sqrt(list_reduce(list_transform(generate_series(1, 64),
                i -> CAST(qv.qvec[i] AS DOUBLE) * CAST(qv.qvec[i] AS DOUBLE)),
                (a, b) -> a + b))
            * sqrt(list_reduce(list_transform(generate_series(1, 64),
                i -> CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)),
                (a, b) -> a + b))) AS cos
  FROM embeddings c CROSS JOIN qv
  WHERE c.vec_id <> qv.query_id
),
sem AS (
  SELECT vec_id AS doc_id, rank FROM (
    SELECT vec_id,
           ROW_NUMBER() OVER (ORDER BY cos DESC, vec_id ASC) AS rank
    FROM sem_scored
  ) WHERE rank <= {k}
),
unioned AS (
  SELECT doc_id, 1000000000 // ({rrf_k} + rank) AS c FROM lex
  UNION ALL
  SELECT doc_id, 1000000000 // ({rrf_k} + rank) AS c FROM sem
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_lists,
       CAST(SUM(c) AS BIGINT) AS rrf_nano,
       ROUND(CAST(SUM(c) AS BIGINT) / 1000000000.0, 9) AS rrf_score
FROM unioned GROUP BY doc_id
"""


SQL_HYBRID_RRF = _hybrid_rrf_sql(
    _BM25_TERMS, k=_HYBRID_K, rrf_k=_HYBRID_RRF_K, qvec=_HYBRID_QVEC
)


# ---------------------------------------------------------------------------
# classifier_score — hashed linear classifier inference under the hard
# oracle.  The Naive-Bayes fit runs ONCE, driver-side, in pure Python,
# over the fixed labeled training set below: exact integer token
# counts → nano-quantized log-odds weights.  Both engines receive the
# SAME integer weight literals, so the only arithmetic compared
# cross-engine is tokenize → md5-hash → exact BIGINT weight sums →
# one division (all deterministic); `ln` never enters the comparison.
# The in-engine fit (classifier.fit_hashed_nb) is pinned to this
# Python twin by tests/test_classifier.py within 1 nano-ulp.

_CLF_DIM = 4096
_CLF_ALPHA = 1.0
# balanced classes => class prior ratio is 1 => bias_nano = 0 exactly,
# independent of rounding mode.  Vocabulary deliberately overlaps the
# harness documents' query-engine wordlist so scores spread.
_CLF_TRAIN: tuple[tuple[int, str], ...] = (
    (1, "the query plan joins the sorted table and streams each row"),
    (1, "a merge join reads the sorted key column and the filter prunes"),
    (1, "the scan reads the column data and the window sorts each group"),
    (1, "a hash join builds a table and probes each key in the stream"),
    (1, "the agg groups the data by key and sums the value column"),
    (1, "a sort merge join shuffles the row data on the join key"),
    (1, "the filter drops each row and the query reads the small table"),
    (1, "a batch stream writes the part data to the big sorted table"),
    (0, "buy cheap deals now click here free offer win big prize today"),
    (0, "best price sale free shipping click now limited offer deal"),
    (0, "win cash now free spins click the banner claim your prize"),
    (0, "cheap pills best deals order now free bonus click to win"),
    (0, "exclusive offer buy now sale ends today free gift click here"),
    (0, "hot singles near you click now free trial best value deal"),
    (0, "earn money fast work from home free signup click the link"),
    (0, "lowest price guaranteed buy cheap now free coupon win daily"),
)


def _bpe_ish_py(text: str) -> list[str]:
    """Python twin of operators.text.bpe_ish_tokens (letter runs, digit
    runs, single punctuation) — used only inside the driver-side fit,
    where both engines inherit its output as shared literals."""
    spaced = re.sub(r"([a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s])", r" \1 ", text)
    return [t for t in re.split(r"\s+", spaced.strip()) if t]


def _md5_feature_py(token: str, dim: int = _CLF_DIM) -> int:
    return int(hashlib.md5(token.encode("utf-8")).hexdigest()[:8], 16) % dim


def _round_half_away(x: float) -> int:
    return int(math.floor(abs(x) + 0.5)) * (1 if x >= 0 else -1)


@lru_cache(maxsize=1)
def clf_model() -> tuple[tuple[tuple[int, int], ...], int]:
    """((feature, w_nano), ...) sorted by feature, plus bias_nano —
    the pure-Python Naive-Bayes fit over _CLF_TRAIN (exact integer
    counts; ln runs here once, never in either engine)."""
    c1: Counter[int] = Counter()
    c0: Counter[int] = Counter()
    t1 = t0 = d1 = 0
    for y, text in _CLF_TRAIN:
        feats = [_md5_feature_py(t) for t in _bpe_ish_py(text)]
        if y == 1:
            d1 += 1
            t1 += len(feats)
            c1.update(feats)
        else:
            t0 += len(feats)
            c0.update(feats)
    d = len(_CLF_TRAIN)
    bias = _round_half_away(
        math.log((d1 + _CLF_ALPHA) / (d - d1 + _CLF_ALPHA)) * 1e9
    )
    weights = {}
    for f in set(c1) | set(c0):
        w = math.log((c1[f] + _CLF_ALPHA) / (t1 + _CLF_ALPHA * _CLF_DIM)) - math.log(
            (c0[f] + _CLF_ALPHA) / (t0 + _CLF_ALPHA * _CLF_DIM)
        )
        weights[f] = _round_half_away(w * 1e9)
    return tuple(sorted(weights.items())), bias


def q_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import classifier as clf

    weights, bias = clf_model()
    wdf = spark.createDataFrame(list(weights), "feature long, w_nano long")
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    scored = clf.score_hashed_linear(
        docs, wdf, dim=_CLF_DIM, bias_nano=bias, feature_hash="md5"
    )
    return scored.select(
        "doc_id", "score", (F.col("score") > 0).alias("is_positive")
    )


def _sql_classifier_score() -> str:
    weights, bias = clf_model()
    values = ", ".join(f"({f}, {w})" for f, w in weights)
    return f"""
WITH w (feature, w_nano) AS (VALUES {values}),
tok AS (
  SELECT doc_id,
         unnest(string_split_regex(trim(regexp_replace(text,
             '([a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s])', ' \\1 ', 'g')), '\\s+')) AS tok
  FROM documents
),
tf AS (
  SELECT doc_id,
         ('0x' || substr(md5(tok), 1, 8))::BIGINT % {_CLF_DIM} AS feature,
         COUNT(*) AS n
  FROM tok WHERE tok <> '' GROUP BY doc_id, feature
),
s AS (
  SELECT t.doc_id, CAST(SUM(t.n * w.w_nano) AS BIGINT) AS sn
  FROM tf t JOIN w ON t.feature = w.feature GROUP BY t.doc_id
)
SELECT d.doc_id,
       (COALESCE(s.sn, 0) + {bias}) / 1000000000.0 AS score,
       ((COALESCE(s.sn, 0) + {bias}) > 0) AS is_positive
FROM documents d LEFT JOIN s ON d.doc_id = s.doc_id
"""


# ---------------------------------------------------------------------------
# cross_corpus — NEW×REF near-dup probe: the incoming shard
# (doc_id % 10 = 0) probed against the rest of the corpus as the
# reference.  The oracle replays shingle hashing, MinHash banding, the
# NEW×REF band-bucket join, exact Jaccard over the shared 32-bit
# shingle-hash sets, the >= threshold filter on the ROUNDED jaccard
# (mirroring the operator), and the (jaccard desc, ref_id asc)
# best-match pick.  Completeness of the LSH probe vs brute force is
# audited separately in tests/test_cross_corpus.py — the oracle
# verifies the probe's exact semantics, bucket-for-bucket.

_CC_N, _CC_BANDS, _CC_K, _CC_THRESH = 8, 4, 5, 0.5


def q_cross_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import dedup as dedup_ops

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    new = docs.filter(F.col("doc_id") % 10 == 0)
    ref = docs.filter(F.col("doc_id") % 10 != 0)
    out = dedup_ops.cross_corpus_near_dups(
        new,
        ref,
        shingle_k=_CC_K,
        n_hashes=_CC_N,
        bands=_CC_BANDS,
        threshold=_CC_THRESH,
    )
    return out.select(
        "new_id", "ref_id", "jaccard", F.col("n_ref_matches").cast(_L).alias("n_ref_matches")
    )


def _sql_cross_corpus() -> str:
    mins = ",\n         ".join(
        f"list_min(list_transform(h32, h -> ({MINHASH_A[i]} * (h % {MINHASH_P}) "
        f"+ {MINHASH_B[i]}) % {MINHASH_P})) AS mh_{i}"
        for i in range(_CC_N)
    )
    rows_per_band = _CC_N // _CC_BANDS
    bands = "\n  UNION ALL\n".join(
        "  SELECT doc_id, {b} AS band, md5({expr}) AS bucket FROM sig".format(
            b=b,
            expr=" || '|' || ".join(
                f"mh_{b * rows_per_band + r}::VARCHAR" for r in range(rows_per_band)
            ),
        )
        for b in range(_CC_BANDS)
    )
    return f"""
WITH tok AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents
  WHERE len(string_split_regex(trim(text), '\\s+')) >= {_CC_K}
),
shingled AS (
  SELECT doc_id,
         list_transform(generate_series(1, len(t) - {_CC_K - 1}),
                        i -> array_to_string(t[i:i+{_CC_K - 1}], ' ')) AS sh
  FROM tok
),
hashed AS (
  SELECT doc_id,
         list_distinct(list_transform(sh, s -> ('0x' || substr(md5(s), 1, 8))::BIGINT)) AS h32
  FROM shingled
),
sig AS (
  SELECT doc_id,
         {mins}
  FROM hashed
),
banded AS (
{bands}
),
cand AS (
  SELECT DISTINCT n.doc_id AS nid, r.doc_id AS rid
  FROM banded n JOIN banded r ON n.band = r.band AND n.bucket = r.bucket
  WHERE n.doc_id % 10 = 0 AND r.doc_id % 10 <> 0
),
scored AS (
  SELECT c.nid, c.rid,
         ROUND(CAST(len(list_intersect(sa.h32, sb.h32)) AS DOUBLE)
               / (len(sa.h32) + len(sb.h32) - len(list_intersect(sa.h32, sb.h32))), 6)
           AS jaccard
  FROM cand c
  JOIN hashed sa ON c.nid = sa.doc_id
  JOIN hashed sb ON c.rid = sb.doc_id
),
filt AS (SELECT * FROM scored WHERE jaccard >= {_CC_THRESH}),
best AS (
  SELECT nid, rid, jaccard,
         ROW_NUMBER() OVER (PARTITION BY nid ORDER BY jaccard DESC, rid) AS rk,
         COUNT(*) OVER (PARTITION BY nid) AS nm
  FROM filt
)
SELECT nid AS new_id, rid AS ref_id, jaccard,
       CAST(nm AS BIGINT) AS n_ref_matches
FROM best WHERE rk = 1
"""


# ---------------------------------------------------------------------------
# contam_score — graded contamination, exact-integer surface: counts
# are BIGINTs and the fraction is nano units via exact integer div, so
# the comparison never touches a rounded float.


def q_contam_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.text import contamination_score

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    benchmark = docs.filter(F.col("doc_id") % 97 == 0)
    train = docs.filter(F.col("doc_id") % 97 != 0)
    out = contamination_score(train, benchmark, n=3)
    return out.select(
        "doc_id",
        "n_grams",
        "n_overlap",
        F.expr("CASE WHEN n_grams > 0 THEN (n_overlap * 1000000000L) div n_grams ELSE 0L END")
        .cast(_L)
        .alias("overlap_nano"),
    )


SQL_CONTAM_SCORE = """
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents
),
tg AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(generate_series(1, len(t) - 2),
                i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS gram
  FROM toks WHERE len(t) >= 3
),
bg AS (SELECT DISTINCT gram FROM tg WHERE doc_id % 97 = 0),
per AS (
  SELECT t.doc_id,
         COUNT(*) AS n_grams,
         COUNT(b.gram) AS n_overlap
  FROM (SELECT * FROM tg WHERE doc_id % 97 <> 0) t
  LEFT JOIN bg b USING (gram)
  GROUP BY t.doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(p.n_grams, 0) AS BIGINT) AS n_grams,
       CAST(COALESCE(p.n_overlap, 0) AS BIGINT) AS n_overlap,
       CAST(CASE WHEN COALESCE(p.n_grams, 0) > 0
                 THEN (p.n_overlap * 1000000000) // p.n_grams
                 ELSE 0 END AS BIGINT) AS overlap_nano
FROM documents d LEFT JOIN per p USING (doc_id)
WHERE d.doc_id % 97 <> 0
"""


# ---------------------------------------------------------------------------
# lang_segment — per-line language segmentation with scrub.  The
# documents text is single-line, so each doc gets one French-marker OR
# English-marker line (mod 3) plus one German-marker OR blank line
# (mod 4): voting, the lexicographic tie-breaks (smallest lang wins the
# per-line argmax, greatest wins the per-doc majority), und-neutral
# blank lines and the ordered scrub rebuild are all exercised.


def _lang_segment_input(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    line2 = F.when(
        F.col("doc_id") % 3 == 0, F.lit("le et les des un")
    ).otherwise(F.lit("the of and to is"))
    line3 = F.when(
        F.col("doc_id") % 4 == 0, F.lit("der die das und ist")
    ).otherwise(F.lit(""))
    return docs.select(
        "doc_id",
        F.concat_ws("\n", F.col("text"), line2, line3).alias("text"),
    )


def q_lang_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.text import segment_languages

    out = segment_languages(
        _lang_segment_input(spark, sf_dir), scrub=True
    )
    return out.select(
        "doc_id", "doc_lang", "lang_line_share", "scrubbed_text"
    )


def _marker_line_sql(lang: str, line: str) -> str:
    from .operators.text import LANG_MARKERS

    lst = ", ".join(f"'{w}'" for w in LANG_MARKERS[lang])
    return (
        f"len(list_filter(string_split_regex(trim({line}), '\\s+'),"
        f" x -> x IN ({lst})))"
    )


def _sql_lang_segment() -> str:
    g = "GREATEST(s_de, s_en, s_es, s_fr)"
    return f"""
WITH base AS (
  SELECT doc_id,
         text || chr(10)
         || CASE WHEN doc_id % 3 = 0 THEN 'le et les des un'
                 ELSE 'the of and to is' END
         || chr(10)
         || CASE WHEN doc_id % 4 = 0 THEN 'der die das und ist'
                 ELSE '' END AS text
  FROM documents
),
lines AS (
  -- multiple unnests in a SELECT list zip element-wise in DuckDB
  SELECT doc_id,
         unnest(generate_series(1, len(parts))) AS pos,
         unnest(parts) AS line
  FROM (SELECT doc_id, string_split(text, chr(10)) AS parts FROM base)
),
scored AS (
  SELECT doc_id, pos, line,
         {_marker_line_sql('de', 'line')} AS s_de,
         {_marker_line_sql('en', 'line')} AS s_en,
         {_marker_line_sql('es', 'line')} AS s_es,
         {_marker_line_sql('fr', 'line')} AS s_fr
  FROM lines
),
pred AS (
  SELECT doc_id, pos, line,
         CASE WHEN {g} = 0 THEN 'und'
              WHEN s_de = {g} THEN 'de'
              WHEN s_en = {g} THEN 'en'
              WHEN s_es = {g} THEN 'es'
              ELSE 'fr' END AS lang
  FROM scored
),
votes AS (
  SELECT doc_id, lang, CAST(COUNT(*) AS BIGINT) AS n
  FROM pred WHERE lang <> 'und' GROUP BY doc_id, lang
),
winner AS (
  SELECT doc_id, lang AS doc_lang,
         ROUND(CAST(n AS DOUBLE) / voted, 6) AS share
  FROM (
    SELECT doc_id, lang, n,
           SUM(n) OVER (PARTITION BY doc_id) AS voted,
           ROW_NUMBER() OVER (
             PARTITION BY doc_id ORDER BY n DESC, lang DESC) AS rk
    FROM votes
  ) WHERE rk = 1
),
scrub AS (
  SELECT p.doc_id,
         array_to_string(list(p.line ORDER BY p.pos), chr(10)) AS scrubbed_text
  FROM pred p JOIN winner w ON p.doc_id = w.doc_id
  WHERE p.lang = w.doc_lang OR p.lang = 'und'
  GROUP BY p.doc_id
)
SELECT b.doc_id,
       COALESCE(w.doc_lang, 'und') AS doc_lang,
       COALESCE(w.share, 1.0) AS lang_line_share,
       COALESCE(s.scrubbed_text, b.text) AS scrubbed_text
FROM base b
LEFT JOIN winner w ON b.doc_id = w.doc_id
LEFT JOIN scrub s ON b.doc_id = s.doc_id
"""


# ---------------------------------------------------------------------------
# drift_audit — embedding-distribution drift between the even and odd
# vec_id halves against a FIXED shared centroid set (vec_id < 8), so
# the oracle replays a single nearest-centroid pass (no k-means): exact
# occupancy counts and BIGINT-div nano shares.


def q_drift_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.similarity import embedding_drift

    emb = read_table(spark, sf_dir, "embeddings")
    cents = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").cast("int").alias("centroid_id"),
        F.col("embedding").alias("centroid"),
    )
    old = emb.filter(F.col("vec_id") % 2 == 0)
    new = emb.filter(F.col("vec_id") % 2 == 1)
    return embedding_drift(old, new, cents)


def _sql_drift_audit() -> str:
    cos = (
        f"({_sql_dot('e.embedding', 'c.centroid')}"
        f" / ({_sql_norm('e.embedding')} * {_sql_norm('c.centroid')}))"
    )
    return f"""
WITH cents AS (
  SELECT CAST(vec_id AS INTEGER) AS centroid_id, embedding AS centroid
  FROM embeddings WHERE vec_id < 8
),
assign AS (
  SELECT vec_id, centroid_id, side FROM (
    SELECT e.vec_id, c.centroid_id, e.vec_id % 2 AS side,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY {cos} DESC, c.centroid_id) AS rk
    FROM embeddings e CROSS JOIN cents c
  ) WHERE rk = 1
),
occ AS (
  SELECT centroid_id,
         CAST(SUM(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_old,
         CAST(SUM(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_new
  FROM assign GROUP BY centroid_id
),
filled AS (
  SELECT c.centroid_id,
         COALESCE(o.n_old, 0) AS n_old, COALESCE(o.n_new, 0) AS n_new
  FROM cents c LEFT JOIN occ o ON c.centroid_id = o.centroid_id
),
tot AS (
  SELECT CAST(SUM(n_old) AS BIGINT) AS t_old,
         CAST(SUM(n_new) AS BIGINT) AS t_new
  FROM filled
)
SELECT centroid_id, n_old, n_new,
       CAST(CASE WHEN t_old > 0 THEN (n_old * 1000000000) // t_old
                 ELSE 0 END AS BIGINT) AS share_old_nano,
       CAST(CASE WHEN t_new > 0 THEN (n_new * 1000000000) // t_new
                 ELSE 0 END AS BIGINT) AS share_new_nano,
       CAST(CASE WHEN t_new > 0 THEN (n_new * 1000000000) // t_new
                 ELSE 0 END
            - CASE WHEN t_old > 0 THEN (n_old * 1000000000) // t_old
                   ELSE 0 END AS BIGINT) AS delta_nano
FROM filled, tot
"""


# ---------------------------------------------------------------------------
# pca_cov — exact covariance cells (``operators.similarity.
# covariance_cells``, the distributed half of ``embedding_pca``):
# integer-quantized component products summed as DECIMAL(38,0) over the
# upper triangle; the oracle replays the same arithmetic with HUGEINT
# sums.  The sums are exact integers in BOTH engines, so this row is
# immune to float reduction order.


def q_pca_cov(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.similarity import covariance_cells
    from .session import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    cells = covariance_cells(emb, vec_col="embedding", quant=10**6)
    # exact integers travel as DIGIT STRINGS on both sides: DECIMAL vs
    # HUGEINT never enters the cross-engine type comparison
    return cells.select(
        F.col("i").cast("int").alias("i"),
        F.col("j").cast("int").alias("j"),
        F.col("s").cast("decimal(38,0)").cast("string").alias("s"),
    )


SQL_PCA_COV = """
WITH q AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
  FROM embeddings
),
cells AS (
  SELECT i.i AS i, j.j AS j,
         CAST(q.qv[i.i + 1] AS HUGEINT) * q.qv[j.j + 1] AS p
  FROM q,
       UNNEST(generate_series(0, len(qv) - 1)) AS i(i),
       UNNEST(generate_series(0, len(qv) - 1)) AS j(j)
  WHERE j.j >= i.i
)
SELECT CAST(i AS INTEGER) AS i, CAST(j AS INTEGER) AS j,
       CAST(SUM(p) AS VARCHAR) AS s
FROM cells GROUP BY i, j
"""


# ---------------------------------------------------------------------------
# exports

QUERIES = {
    "semantic_dedup": q_semantic_dedup,
    "jaccard_exact": q_jaccard_exact,
    "dup_span_audit": q_dup_span_audit,
    "quality_topk": q_quality_topk,
    "domain_mix": q_domain_mix,
    "bigram_logloss": q_bigram_logloss,
    "term_stats": q_term_stats,
    "unigram_logloss": q_unigram_logloss,
    "vocab_coverage": q_vocab_coverage,
    "doc_pack": q_doc_pack,
    "boilerplate": q_boilerplate,
    "c4_filter": q_c4_filter,
    "text_quality": q_text_quality,
    "lang_id": q_lang_id,
    "dedup_exact": q_dedup_exact,
    "minhash_dedup": q_minhash_dedup,
    "simhash_pairs": q_simhash_pairs,
    "doc_fingerprint": q_doc_fingerprint,
    "doc_winnow": q_doc_winnow,
    "token_rollup": q_token_rollup,
    "ann_cosine": q_ann_cosine,
    "embedding_near_dup": q_embedding_near_dup,
    "embedding_clusters": q_embedding_clusters,
    "ann_ivf": q_ann_ivf,
    "ann_lsh": q_ann_lsh,
    "repetition_filter": q_repetition_filter,
    "decontamination": q_decontamination,
    "sample_mix": q_sample_mix,
    "dedup_clusters": q_dedup_clusters,
    "doc_chunks": q_doc_chunks,
    "containment": q_containment,
    "char_entropy": q_char_entropy,
    "bm25_indexed": q_bm25_indexed,
    "hybrid_rrf": q_hybrid_rrf,
    "classifier_score": q_classifier_score,
    "cross_corpus": q_cross_corpus,
    "contam_score": q_contam_score,
    "lang_segment": q_lang_segment,
    "drift_audit": q_drift_audit,
    "pca_cov": q_pca_cov,
}


def oracle_sql() -> dict[str, str]:
    return {
        "semantic_dedup": SQL_SEMANTIC_DEDUP,
        "jaccard_exact": SQL_JACCARD_EXACT,
        "dup_span_audit": SQL_DUP_SPAN_AUDIT,
        "quality_topk": SQL_QUALITY_TOPK,
        "domain_mix": SQL_DOMAIN_MIX,
        "bigram_logloss": SQL_BIGRAM_LOGLOSS,
        "term_stats": SQL_TERM_STATS,
        "unigram_logloss": SQL_UNIGRAM_LOGLOSS,
        "vocab_coverage": SQL_VOCAB_COVERAGE,
        "doc_pack": SQL_DOC_PACK,
        "boilerplate": SQL_BOILERPLATE,
        "c4_filter": SQL_C4_FILTER,
        "text_quality": SQL_TEXT_QUALITY,
        "lang_id": SQL_LANG_ID,
        "dedup_exact": SQL_DEDUP_EXACT,
        "minhash_dedup": SQL_MINHASH_DEDUP,
        "simhash_pairs": SQL_SIMHASH_PAIRS,
        "doc_fingerprint": SQL_DOC_FINGERPRINT,
        "doc_winnow": SQL_DOC_WINNOW,
        "token_rollup": SQL_TOKEN_ROLLUP,
        "ann_cosine": SQL_ANN_COSINE,
        "embedding_near_dup": SQL_EMBEDDING_NEAR_DUP,
        "embedding_clusters": SQL_EMBEDDING_CLUSTERS,
        "ann_ivf": SQL_ANN_IVF,
        "ann_lsh": SQL_ANN_LSH,
        "repetition_filter": SQL_REPETITION_FILTER,
        "decontamination": SQL_DECONTAMINATION,
        "sample_mix": SQL_SAMPLE_MIX,
        "dedup_clusters": SQL_DEDUP_CLUSTERS,
        "doc_chunks": SQL_DOC_CHUNKS,
        "containment": SQL_CONTAINMENT,
        "char_entropy": SQL_CHAR_ENTROPY,
        "bm25_indexed": SQL_BM25_SEARCH,
        "hybrid_rrf": SQL_HYBRID_RRF,
        "classifier_score": _sql_classifier_score(),
        "cross_corpus": _sql_cross_corpus(),
        "contam_score": SQL_CONTAM_SCORE,
        "lang_segment": _sql_lang_segment(),
        "drift_audit": _sql_drift_audit(),
        "pca_cov": SQL_PCA_COV,
    }


UNIONS: dict[str, tuple[str, str]] = {}
