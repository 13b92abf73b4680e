"""Union rows: each runs two rows verbatim as its legs.

A union leg is the ORIGINAL query function called verbatim, its output
normalized onto a shared schema with a ``stat`` discriminator (or
joined 1:1 on the shared key), and the oracle wraps the ORIGINAL oracle
SQL in a CTE the same way.  Any edit to a leg flows into the union
automatically, so the two can never drift, and both operators stay
hash-verified while only the union row holds a registry slot.  A few
unions fuse their legs' shared scan instead of calling them (see each
row's comment); tests/test_registry.py checks every union against its
legs.  ``UNIONS`` below names each union's legs; registry.py retires
them from ``SPARK_QUERIES``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators import text as text_ops
from .operators.windows import funnel_stages, retention_matrix
from .registry_text import (
    SQL_DOC_FINGERPRINT,
    SQL_DOC_WINNOW,
    SQL_LANG_ID,
    SQL_TEXT_QUALITY,
)
from .session import read_table

_S = "string"
_L = "long"
_D = "double"
_T = "timestamp"


def _null(t: str):
    return F.lit(None).cast(t)


# ---------------------------------------------------------------------------
# set_ops_audit = semi_anti (U1/J6/J7) + except_keys (U2): both are
# order-key set-membership cohort counts over orders×customer.


def q_set_ops_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .registry_relational import q_semi_anti
    from .registry_misc import q_except_keys

    a = q_semi_anti(spark, sf_dir).select(
        F.lit("semi_anti").alias("stat"),
        "c_mktsegment",
        "cohort",
        F.col("n_customers").cast(_L).alias("n"),
    )
    b = q_except_keys(spark, sf_dir).select(
        F.lit("except").alias("stat"),
        "c_mktsegment",
        _null(_S).alias("cohort"),
        F.col("n_lapsed").cast(_L).alias("n"),
    )
    return a.unionByName(b)


def _sql_set_ops_audit() -> str:
    from .registry_relational import SQL_SEMI_ANTI
    from .registry_misc import SQL_EXCEPT_KEYS

    return f"""
WITH a AS ({SQL_SEMI_ANTI}),
b AS ({SQL_EXCEPT_KEYS})
SELECT 'semi_anti' AS stat, c_mktsegment, cohort, CAST(n_customers AS BIGINT) AS n FROM a
UNION ALL
SELECT 'except', c_mktsegment, CAST(NULL AS VARCHAR), CAST(n_lapsed AS BIGINT) FROM b
"""


# ---------------------------------------------------------------------------
# format_audit = string_ops (P10/P11) + iso_format (D6): both are pure
# formatting/parsing expression batteries.


def q_format_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .registry_misc import q_iso_format, q_string_ops

    a = q_string_ops(spark, sf_dir).select(
        F.lit("string").alias("stat"),
        F.col("c_custkey").cast(_S).alias("key"),
        F.col("name_prefix").alias("s1"),
        F.col("digits").alias("s2"),
        F.col("segment_label").alias("s3"),
        F.col("segment_key").alias("s4"),
        F.col("name_number").cast(_L).alias("n1"),
        F.col("name_len").cast(_L).alias("n2"),
    )
    b = q_iso_format(spark, sf_dir).select(
        F.lit("iso").alias("stat"),
        F.col("o_orderpriority").alias("key"),
        F.col("first_order").alias("s1"),
        F.col("last_order").alias("s2"),
        _null(_S).alias("s3"),
        _null(_S).alias("s4"),
        F.col("n_orders").cast(_L).alias("n1"),
        _null(_L).alias("n2"),
    )
    return a.unionByName(b)


def _sql_format_audit() -> str:
    from .registry_misc import SQL_ISO_FORMAT, SQL_STRING_OPS

    return f"""
WITH a AS ({SQL_STRING_OPS}),
b AS ({SQL_ISO_FORMAT})
SELECT 'string' AS stat, CAST(c_custkey AS VARCHAR) AS key,
       name_prefix AS s1, digits AS s2, segment_label AS s3, segment_key AS s4,
       CAST(name_number AS BIGINT) AS n1, CAST(name_len AS BIGINT) AS n2
FROM a
UNION ALL
SELECT 'iso', o_orderpriority, first_order, last_order,
       CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
       CAST(n_orders AS BIGINT), CAST(NULL AS BIGINT)
FROM b
"""


# ---------------------------------------------------------------------------
# window_audit = running_total (cumulative/lag frames) + pct_of_group
# (W6 partition-total share): the two window-function families over the
# orders/lineitem star.


def q_window_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .registry_misc import q_pct_of_group, q_running_total

    a = q_running_total(spark, sf_dir).select(
        F.lit("running").alias("stat"),
        "n_name",
        F.date_format("month", "yyyy-MM-dd").alias("k"),
        F.col("monthly_revenue").alias("v1"),
        F.col("running_revenue").alias("v2"),
        F.col("mom_delta").alias("v3"),
    )
    b = q_pct_of_group(spark, sf_dir).select(
        F.lit("pct").alias("stat"),
        "n_name",
        F.col("p_brand").alias("k"),
        F.col("brand_revenue").alias("v1"),
        F.col("pct_of_nation").alias("v2"),
        _null(_D).alias("v3"),
    )
    return a.unionByName(b)


def _sql_window_audit() -> str:
    from .registry_misc import SQL_PCT_OF_GROUP, SQL_RUNNING_TOTAL

    return f"""
WITH a AS ({SQL_RUNNING_TOTAL}),
b AS ({SQL_PCT_OF_GROUP})
SELECT 'running' AS stat, n_name, strftime(month, '%Y-%m-%d') AS k,
       monthly_revenue AS v1, running_revenue AS v2, mom_delta AS v3
FROM a
UNION ALL
SELECT 'pct', n_name, p_brand, brand_revenue, pct_of_nation, CAST(NULL AS DOUBLE)
FROM b
"""


# ---------------------------------------------------------------------------
# split_mix_audit = data_split (md5-bucketed train/val/test) +
# sample_mix (deterministic stratified sampling): the two md5-keyed
# corpus selection gates over documents.


def q_split_mix_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .registry_curation import q_data_split
    from .registry_text import q_sample_mix

    a = q_data_split(spark, sf_dir).select(
        F.lit("split").alias("stat"),
        "lang",
        F.col("split").alias("k"),
        F.col("n_docs").cast(_L).alias("n"),
        _null(_D).alias("est_total"),
        _null(_L).alias("first_doc"),
        _null(_L).alias("last_doc"),
    )
    b = q_sample_mix(spark, sf_dir).select(
        F.lit("sample").alias("stat"),
        "lang",
        _null(_S).alias("k"),
        F.col("n_sampled").cast(_L).alias("n"),
        "est_total",
        F.col("first_doc").cast(_L).alias("first_doc"),
        F.col("last_doc").cast(_L).alias("last_doc"),
    )
    return a.unionByName(b)


def _sql_split_mix_audit() -> str:
    from .registry_curation import SQL_DATA_SPLIT
    from .registry_text import SQL_SAMPLE_MIX

    return f"""
WITH a AS ({SQL_DATA_SPLIT}),
b AS ({SQL_SAMPLE_MIX})
SELECT 'split' AS stat, lang, split AS k, CAST(n_docs AS BIGINT) AS n,
       CAST(NULL AS DOUBLE) AS est_total,
       CAST(NULL AS BIGINT) AS first_doc, CAST(NULL AS BIGINT) AS last_doc
FROM a
UNION ALL
SELECT 'sample', lang, CAST(NULL AS VARCHAR), CAST(n_sampled AS BIGINT),
       est_total, CAST(first_doc AS BIGINT), CAST(last_doc AS BIGINT)
FROM b
"""


# ---------------------------------------------------------------------------
# rank_audit = rank_inference (M3 regex rank classes) + rank_lookup
# (J9 rank-dependent lookup routing): the two halves of the
# reference's taxa rank machinery, both over part.


def q_rank_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .registry_misc import q_rank_inference, q_rank_lookup

    a = q_rank_inference(spark, sf_dir).select(
        F.lit("infer").alias("stat"),
        F.col("rank").alias("k1"),
        F.col("p_brand").alias("k2"),
        _null(_L).alias("part_key"),
        F.col("n_parts").cast(_L).alias("n"),
    )
    b = q_rank_lookup(spark, sf_dir).select(
        F.lit("lookup").alias("stat"),
        F.col("route").alias("k1"),
        F.col("lookup_label").alias("k2"),
        F.col("p_partkey").cast(_L).alias("part_key"),
        _null(_L).alias("n"),
    )
    return a.unionByName(b)


def _sql_rank_audit() -> str:
    from .registry_misc import SQL_RANK_INFERENCE, SQL_RANK_LOOKUP

    return f"""
WITH a AS ({SQL_RANK_INFERENCE}),
b AS ({SQL_RANK_LOOKUP})
SELECT 'infer' AS stat, rank AS k1, p_brand AS k2,
       CAST(NULL AS BIGINT) AS part_key, CAST(n_parts AS BIGINT) AS n
FROM a
UNION ALL
SELECT 'lookup', route, lookup_label, CAST(p_partkey AS BIGINT),
       CAST(NULL AS BIGINT)
FROM b
"""


# ---------------------------------------------------------------------------
# ann_audit = ann_cosine (brute-force exact tier) + ann_pq (PQ/ADC
# compressed tier): the two ends of the ANN accuracy/memory ladder on
# one row; the middle tiers keep their own rows (ann_ivf, ann_ivfpq,
# ann_lsh, ann_int8).


def q_ann_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .registry_curation import q_ann_pq
    from .registry_text import q_ann_cosine

    a = q_ann_cosine(spark, sf_dir).select(
        F.lit("cosine").alias("stat"),
        "query_id",
        "neighbor_id",
        F.col("rank").cast("int").alias("rank"),
        F.col("cosine_sim").alias("score"),
    )
    b = q_ann_pq(spark, sf_dir).select(
        F.lit("pq").alias("stat"),
        "query_id",
        "neighbor_id",
        F.col("rank").cast("int").alias("rank"),
        F.col("approx_dist").alias("score"),
    )
    return a.unionByName(b)


def _sql_ann_audit() -> str:
    from .registry_curation import SQL_ANN_PQ
    from .registry_text import SQL_ANN_COSINE

    return f"""
WITH a AS ({SQL_ANN_COSINE}),
b AS ({SQL_ANN_PQ})
SELECT 'cosine' AS stat, query_id, neighbor_id,
       CAST(rank AS INTEGER) AS rank, cosine_sim AS score
FROM a
UNION ALL
SELECT 'pq', query_id, neighbor_id, CAST(rank AS INTEGER), approx_dist
FROM b
"""


# ---------------------------------------------------------------------------
# reshape_audit = unpivot_metrics (R1/R8 wide→long) + pivot_status
# (R2 long→wide): the two reshape directions on one row.


def q_reshape_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .registry_relational import q_pivot_status, q_unpivot_metrics

    a = q_unpivot_metrics(spark, sf_dir).select(
        F.lit("unpivot").alias("stat"),
        F.date_format("month", "yyyy-MM-dd").alias("k1"),
        F.col("metric_type").alias("k2"),
        F.col("metric_total").alias("v"),
        F.col("n_values").cast(_L).alias("n1"),
        _null(_L).alias("n2"),
        _null(_L).alias("n3"),
    )
    b = q_pivot_status(spark, sf_dir).select(
        F.lit("pivot").alias("stat"),
        F.col("n_name").alias("k1"),
        _null(_S).alias("k2"),
        _null(_D).alias("v"),
        F.col("status_F").cast(_L).alias("n1"),
        F.col("status_O").cast(_L).alias("n2"),
        F.col("status_P").cast(_L).alias("n3"),
    )
    return a.unionByName(b)


def _sql_reshape_audit() -> str:
    from .registry_relational import SQL_PIVOT_STATUS, SQL_UNPIVOT_METRICS

    return f"""
WITH a AS ({SQL_UNPIVOT_METRICS}),
b AS ({SQL_PIVOT_STATUS})
SELECT 'unpivot' AS stat, strftime(month, '%Y-%m-%d') AS k1, metric_type AS k2,
       metric_total AS v, CAST(n_values AS BIGINT) AS n1,
       CAST(NULL AS BIGINT) AS n2, CAST(NULL AS BIGINT) AS n3
FROM a
UNION ALL
SELECT 'pivot', n_name, CAST(NULL AS VARCHAR), CAST(NULL AS DOUBLE),
       CAST(status_F AS BIGINT), CAST(status_O AS BIGINT), CAST(status_P AS BIGINT)
FROM b
"""


# ---------------------------------------------------------------------------
# aug_audit = fim_audit + span_audit: the two augmentation transforms
# over one documents scan.


def q_aug_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import augment as aug_ops

    # round-robin spread BEFORE the checkpoint (r14, the audio_fp/
    # main_content placement rule): a one-file corpus checkpoints as a
    # single partition, so both legs' per-row token-slice work ran in
    # ONE task each; spread blocks let fim + span run across every
    # core.  Measured ckpt 1.26s -> spread_ckpt 0.84s warm total.
    docs = (
        read_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism)
        .localCheckpoint()
    )
    fim = aug_ops.fim_transform(
        docs, rate=_FIM_RATE, salt=_FIM_SALT, out_col="aug_text"
    ).select(
        F.lit("fim").alias("stat"),
        "doc_id",
        F.col("fim_applied").alias("applied"),
        F.col("aug_text").alias("s1"),
        _null(_S).alias("s2"),
    )
    span = aug_ops.span_corrupt(
        docs, n_spans=_SPAN_N, span_len=_SPAN_LEN, salt=_SPAN_SALT
    ).select(
        F.lit("span").alias("stat"),
        "doc_id",
        F.col("corrupt_applied").alias("applied"),
        F.col("inputs").alias("s1"),
        F.col("targets").alias("s2"),
    )
    return fim.unionByName(span)


def _sql_aug_audit() -> str:
    return f"""
WITH fim AS ({SQL_FIM_AUDIT}),
span AS ({SQL_SPAN_AUDIT})
SELECT 'fim' AS stat, doc_id, fim_applied AS applied, aug_text AS s1,
       CAST(NULL AS VARCHAR) AS s2
FROM fim
UNION ALL
SELECT 'span', doc_id, corrupt_applied, inputs, targets
FROM span
"""


# ---------------------------------------------------------------------------
# doc_profile = text_quality + lang_id, one scan.


def q_doc_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    out = text_ops.language_id(text_ops.quality_features(docs))
    return out.select(
        "doc_id",
        "n_tokens",
        "mean_token_len",
        "punct_ratio",
        "stopword_ratio",
        "quality_score",
        "lang",
        "pred_lang",
        "score_de",
        "score_en",
        "score_es",
        "score_fr",
    )


# The oracle replays the two leg oracles verbatim and joins on the
# document key (1:1 by construction): any future edit to a leg's SQL
# flows into this union row automatically.
SQL_DOC_PROFILE = f"""
WITH quality AS ({SQL_TEXT_QUALITY}),
langid AS ({SQL_LANG_ID})
SELECT q.doc_id, q.n_tokens, q.mean_token_len, q.punct_ratio,
       q.stopword_ratio, q.quality_score,
       l.lang, l.pred_lang, l.score_de, l.score_en, l.score_es, l.score_fr
FROM quality q JOIN langid l ON q.doc_id = l.doc_id
"""


# ---------------------------------------------------------------------------
# doc_signature = doc_fingerprint + doc_winnow, one scan.


def q_doc_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    out = text_ops.winnow_fingerprint(
        text_ops.fingerprint(docs, k=4), gram_k=3, window=8
    )
    return out.select("doc_id", "fingerprint", "winnow_fp")


SQL_DOC_SIGNATURE = f"""
WITH kmin AS ({SQL_DOC_FINGERPRINT}),
winnow AS ({SQL_DOC_WINNOW})
SELECT k.doc_id, k.fingerprint, w.winnow_fp
FROM kmin k JOIN winnow w ON k.doc_id = w.doc_id
"""


# ---------------------------------------------------------------------------
# funnel_cohorts = conversion_funnel + retention_cohorts, one events
# projection materialized once.

_FUNNEL_STAGES = ("signup", "click", "purchase")


def q_funnel_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        read_table(spark, sf_dir, "events")
        .select("user_id", "ts", "event_type")
        .localCheckpoint()
    )
    funnel = funnel_stages(ev, list(_FUNNEL_STAGES)).select(
        F.lit("funnel").alias("stat"),
        F.col("stage"),
        F.col("stage_idx").cast("long").alias("k1"),
        F.lit(None).cast("long").alias("k2"),
        F.col("n_users").cast("long").alias("n"),
        F.col("pct_of_first").alias("ratio"),
    )
    cohorts = retention_matrix(ev, period_days=7).select(
        F.lit("cohort").alias("stat"),
        F.lit(None).cast("string").alias("stage"),
        F.col("cohort_period").cast("long").alias("k1"),
        F.col("periods_since").cast("long").alias("k2"),
        F.col("n_active").cast("long").alias("n"),
        F.lit(None).cast("double").alias("ratio"),
    )
    return funnel.unionByName(cohorts)


SQL_FUNNEL_COHORTS = """
WITH u AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'signup' THEN ts END) AS t0,
         MIN(CASE WHEN event_type = 'click' THEN ts END) AS t1,
         MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t2
  FROM events
  WHERE event_type IN ('signup', 'click', 'purchase')
  GROUP BY user_id
),
g1 AS (
  SELECT t0 AS g0,
         CASE WHEN t0 IS NOT NULL AND t1 > t0 THEN t1 END AS g1, t2
  FROM u
),
g2 AS (
  SELECT g0, g1,
         CASE WHEN g1 IS NOT NULL AND t2 > g1 THEN t2 END AS g2
  FROM g1
),
c AS (
  SELECT COUNT(g0) AS n0, COUNT(g1) AS n1, COUNT(g2) AS n2 FROM g2
),
funnel AS (
  SELECT 'funnel' AS stat, 'signup' AS stage, CAST(0 AS BIGINT) AS k1,
         CAST(NULL AS BIGINT) AS k2, CAST(n0 AS BIGINT) AS n,
         ROUND(n0 / CAST(n0 AS DOUBLE), 6) AS ratio FROM c
  UNION ALL
  SELECT 'funnel', 'click', 1, NULL, CAST(n1 AS BIGINT),
         ROUND(n1 / CAST(n0 AS DOUBLE), 6) FROM c
  UNION ALL
  SELECT 'funnel', 'purchase', 2, NULL, CAST(n2 AS BIGINT),
         ROUND(n2 / CAST(n0 AS DOUBLE), 6) FROM c
),
d AS (
  SELECT user_id, CAST(floor(epoch(ts) / 86400) AS BIGINT) AS dd FROM events
),
first AS (
  SELECT user_id, MIN(dd) AS d0 FROM d GROUP BY user_id
),
cell AS (
  SELECT DISTINCT d.user_id,
         CAST(floor(f.d0 / 7) AS BIGINT) AS cohort_period,
         CAST(floor((d.dd - f.d0) / 7) AS BIGINT) AS periods_since
  FROM d JOIN first f ON d.user_id = f.user_id
)
SELECT stat, stage, k1, k2, n, ratio FROM funnel
UNION ALL
SELECT 'cohort', CAST(NULL AS VARCHAR), cohort_period, periods_since,
       CAST(COUNT(*) AS BIGINT), CAST(NULL AS DOUBLE)
FROM cell GROUP BY cohort_period, periods_since
"""


# ---------------------------------------------------------------------------
# fim_audit — operators/augment.py: the fill-in-the-middle rewrite is fully oracle-replayable because every
# random choice is md5 modular arithmetic and every string operation is
# a token-array slice.  A hash match proves selection, both cut points,
# and the byte-exact sentinel layout cross-engine.

_FIM_SALT = "fim0"
_FIM_RATE = 0.5


def q_fim_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import augment as aug_ops

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    out = aug_ops.fim_transform(
        docs, rate=_FIM_RATE, salt=_FIM_SALT, out_col="aug_text"
    )
    return out.select("doc_id", "fim_applied", "aug_text")


SQL_FIM_AUDIT = f"""
WITH t AS (
  SELECT doc_id, text,
         string_split_regex(trim(text), '\\s+') AS toks,
         len(string_split_regex(trim(text), '\\s+')) AS n
  FROM documents
),
u AS (
  SELECT doc_id, text, toks, n,
         ('0x' || substr(md5('{_FIM_SALT}_pick_' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
             % 1000000000 AS pick,
         ('0x' || substr(md5('{_FIM_SALT}_a_' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS ua,
         ('0x' || substr(md5('{_FIM_SALT}_b_' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS ub
  FROM t
),
v AS (
  SELECT doc_id, text, toks, n, ub,
         (pick < {int(round(_FIM_RATE * 1_000_000_000))} AND n >= 8) AS sel,
         ua % (n - 1) + 1 AS a
  FROM u
),
w AS (
  SELECT doc_id, text, toks, n, sel, a, a + (ub % (n - a)) + 1 AS b FROM v
)
SELECT doc_id, sel AS fim_applied,
       CASE WHEN sel THEN
         '<|fim_prefix|>' || array_to_string(list_slice(toks, 1, a), ' ')
         || ' <|fim_suffix|> '
         -- b can equal n (empty suffix): duckdb's out-of-range slice is
         -- NULL, spark's is an empty array — coalesce to ''
         || COALESCE(array_to_string(list_slice(toks, b + 1, n), ' '), '')
         || ' <|fim_middle|> ' || array_to_string(list_slice(toks, a + 1, b), ' ')
       ELSE text END AS aug_text
FROM w
"""


# ---------------------------------------------------------------------------
# span_audit — T5-style span corruption
# (operators/augment.py::span_corrupt).  Same replayability argument as
# fim_audit: md5 modular span placement + list slicing; the oracle
# reproduces inputs AND targets byte-exactly, covering the second
# augmentation transform's selection, both span starts, and the
# sentinel assembly.

_SPAN_SALT = "t5_0"
_SPAN_N = 2
_SPAN_LEN = 3


def q_span_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import augment as aug_ops

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    out = aug_ops.span_corrupt(
        docs, n_spans=_SPAN_N, span_len=_SPAN_LEN, salt=_SPAN_SALT
    )
    return out.select("doc_id", "corrupt_applied", "inputs", "targets")


def _sql_span_audit() -> str:
    # starts: s_i = i*seg + (u_i % (seg - span_len)); same closed-form
    # disjoint-segment placement as the Spark expression chain
    u = (
        "('0x' || substr(md5('{salt}_s{i}_' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT"
    )
    starts = [
        f"(({i} * seg) + ({u.format(salt=_SPAN_SALT, i=i)} % (seg - {_SPAN_LEN}))) AS s{i}"
        for i in range(_SPAN_N)
    ]
    sent = ["<|extra_id_0|>", "<|extra_id_1|>"]
    inputs = (
        f"COALESCE(array_to_string(list_slice(toks, 1, s0), ' '), '')"
        f" || ' {sent[0]} ' ||"
        f" COALESCE(array_to_string(list_slice(toks, s0 + {_SPAN_LEN} + 1, s1), ' '), '')"
        f" || ' {sent[1]} ' ||"
        f" COALESCE(array_to_string(list_slice(toks, s1 + {_SPAN_LEN} + 1, n), ' '), '')"
    )
    targets = (
        f"'{sent[0]} ' || array_to_string(list_slice(toks, s0 + 1, s0 + {_SPAN_LEN}), ' ')"
        f" || ' {sent[1]} ' || array_to_string(list_slice(toks, s1 + 1, s1 + {_SPAN_LEN}), ' ')"
    )
    min_ok = max(16, _SPAN_N * (_SPAN_LEN + 1))
    return f"""
WITH t AS (
  SELECT doc_id, text,
         string_split_regex(trim(text), '\\s+') AS toks,
         len(string_split_regex(trim(text), '\\s+')) AS n
  FROM documents
),
g AS (
  SELECT doc_id, text, toks, n,
         CAST(floor(n / {_SPAN_N}) AS INT) AS seg
  FROM t
),
p AS (
  SELECT doc_id, text, toks, n, seg,
         (n >= {min_ok} AND seg > {_SPAN_LEN}) AS ok,
         {', '.join(starts)}
  FROM g
)
SELECT doc_id, ok AS corrupt_applied,
       CASE WHEN ok THEN {inputs} ELSE text END AS inputs,
       CASE WHEN ok THEN {targets} END AS targets
FROM p
"""


SQL_SPAN_AUDIT = _sql_span_audit()


# ---------------------------------------------------------------------------
# quant_audit = ann_int8 + pooled_ann


def q_quant_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .registry_curation import q_ann_int8, q_pooled_ann

    a = q_ann_int8(spark, sf_dir).select(
        F.lit("int8").alias("stat"),
        "query_id",
        "neighbor_id",
        F.col("rank").cast(_L).alias("rank"),
        F.col("cosine_q8").alias("score"),
    )
    b = q_pooled_ann(spark, sf_dir).select(
        F.lit("pooled").alias("stat"),
        "query_id",
        "neighbor_id",
        F.col("rank").cast(_L).alias("rank"),
        F.col("cosine_sim").alias("score"),
    )
    return a.unionByName(b)


def _sql_quant_audit() -> str:
    from .registry_curation import SQL_ANN_INT8, SQL_POOLED_ANN

    return f"""
WITH a AS ({SQL_ANN_INT8}),
b AS ({SQL_POOLED_ANN})
SELECT 'int8' AS stat, query_id, neighbor_id, CAST(rank AS BIGINT) AS rank,
       cosine_q8 AS score FROM a
UNION ALL
SELECT 'pooled', query_id, neighbor_id, CAST(rank AS BIGINT),
       cosine_sim FROM b
"""


# ---------------------------------------------------------------------------
# lexical_audit = unigram_logloss + vocab_coverage: corpus token
# statistics over the shared whitespace tokenization.


def q_lexical_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .registry_text import q_unigram_logloss, q_vocab_coverage

    a = q_unigram_logloss(spark, sf_dir).select(
        F.lit("logloss").alias("stat"),
        F.col("doc_id").cast(_L).alias("k"),
        F.col("n_tokens").cast(_L).alias("n1"),
        _null(_L).alias("n2"),
        F.col("cross_entropy").cast(_D).alias("v"),
    )
    b = q_vocab_coverage(spark, sf_dir).select(
        F.lit("vocab").alias("stat"),
        F.col("k").cast(_L).alias("k"),
        F.col("covered_tokens").cast(_L).alias("n1"),
        F.col("total_tokens").cast(_L).alias("n2"),
        F.col("coverage").cast(_D).alias("v"),
    )
    return a.unionByName(b)


def _sql_lexical_audit() -> str:
    from .registry_text import SQL_UNIGRAM_LOGLOSS, SQL_VOCAB_COVERAGE

    return f"""
WITH a AS ({SQL_UNIGRAM_LOGLOSS}),
b AS ({SQL_VOCAB_COVERAGE})
SELECT 'logloss' AS stat, CAST(doc_id AS BIGINT) AS k,
       CAST(n_tokens AS BIGINT) AS n1, CAST(NULL AS BIGINT) AS n2,
       CAST(cross_entropy AS DOUBLE) AS v
FROM a
UNION ALL
SELECT 'vocab', CAST(k AS BIGINT), CAST(covered_tokens AS BIGINT),
       CAST(total_tokens AS BIGINT), CAST(coverage AS DOUBLE)
FROM b
"""


# ---------------------------------------------------------------------------
# filter_audit = c4_filter + boilerplate: document quality gates.


def q_filter_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .registry_text import q_boilerplate, q_c4_filter

    a = q_c4_filter(spark, sf_dir).select(
        F.lit("c4").alias("stat"),
        F.col("doc_id").cast(_S).alias("key"),
        F.col("flag_too_short").alias("b1"),
        F.col("flag_too_long").alias("b2"),
        F.col("flag_bad_mean_token_len").alias("b3"),
        F.col("flag_low_stopword").alias("b4"),
        F.col("flag_high_punct").alias("b5"),
        F.col("keep").alias("keep"),
        _null(_L).alias("n"),
        _null(_S).alias("s"),
    )
    b = q_boilerplate(spark, sf_dir).select(
        F.lit("boiler").alias("stat"),
        F.col("phrase_digest").alias("key"),
        _null("boolean").alias("b1"),
        _null("boolean").alias("b2"),
        _null("boolean").alias("b3"),
        _null("boolean").alias("b4"),
        _null("boolean").alias("b5"),
        _null("boolean").alias("keep"),
        F.col("n_docs").cast(_L).alias("n"),
        F.col("exemplar").alias("s"),
    )
    return a.unionByName(b)


def _sql_filter_audit() -> str:
    from .registry_text import SQL_BOILERPLATE, SQL_C4_FILTER

    return f"""
WITH a AS ({SQL_C4_FILTER}),
b AS ({SQL_BOILERPLATE})
SELECT 'c4' AS stat, CAST(doc_id AS VARCHAR) AS key,
       flag_too_short AS b1, flag_too_long AS b2,
       flag_bad_mean_token_len AS b3, flag_low_stopword AS b4,
       flag_high_punct AS b5, keep,
       CAST(NULL AS BIGINT) AS n, CAST(NULL AS VARCHAR) AS s
FROM a
UNION ALL
SELECT 'boiler', key, NULL, NULL, NULL, NULL, NULL, NULL, n, s
FROM (SELECT phrase_digest AS key, CAST(n_docs AS BIGINT) AS n, exemplar AS s FROM b)
"""


# ---------------------------------------------------------------------------
# activity_audit = events_hourly + user_activity: event-time rollups.


def q_activity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .registry_relational import q_events_hourly, q_user_activity

    a = q_events_hourly(spark, sf_dir).select(
        F.lit("hourly").alias("stat"),
        F.col("hour").cast(_T).alias("t"),
        F.col("event_type").cast(_S).alias("key"),
        F.col("n_events").cast(_L).alias("n1"),
        F.col("n_users").cast(_L).alias("n2"),
        F.col("total_value").cast(_D).alias("v1"),
        _null(_D).alias("v2"),
    )
    b = q_user_activity(spark, sf_dir).select(
        F.lit("user").alias("stat"),
        _null(_T).alias("t"),
        F.col("user_id").cast(_S).alias("key"),
        F.col("n_events").cast(_L).alias("n1"),
        _null(_L).alias("n2"),
        F.col("span_hours").cast(_D).alias("v1"),
        F.col("events_per_hour").cast(_D).alias("v2"),
    )
    return a.unionByName(b)


def _sql_activity_audit() -> str:
    from .registry_relational import SQL_EVENTS_HOURLY, SQL_USER_ACTIVITY

    return f"""
WITH a AS ({SQL_EVENTS_HOURLY}),
b AS ({SQL_USER_ACTIVITY})
SELECT 'hourly' AS stat, CAST(hour AS TIMESTAMP) AS t,
       CAST(event_type AS VARCHAR) AS key,
       CAST(n_events AS BIGINT) AS n1, CAST(n_users AS BIGINT) AS n2,
       CAST(total_value AS DOUBLE) AS v1, CAST(NULL AS DOUBLE) AS v2
FROM a
UNION ALL
SELECT 'user', CAST(NULL AS TIMESTAMP), CAST(user_id AS VARCHAR),
       CAST(n_events AS BIGINT), CAST(NULL AS BIGINT),
       CAST(span_hours AS DOUBLE), CAST(events_per_hour AS DOUBLE)
FROM b
"""


# ---------------------------------------------------------------------------
# governance_audit = corpus_diff + token_drift


def q_governance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .registry_curation import q_corpus_diff, q_token_drift
    from .session import overlap_builds

    # independent legs — overlap their eager builds (guide §2.6)
    a_raw, b_raw = overlap_builds(
        lambda: q_corpus_diff(spark, sf_dir),
        lambda: q_token_drift(spark, sf_dir),
    )
    a = a_raw.select(
        F.lit("diff").alias("stat"),
        F.col("source").cast(_S).alias("key1"),
        F.col("status").cast(_S).alias("key2"),
        F.col("n_docs").cast(_L).alias("n1"),
        _null(_L).alias("n2"),
        _null(_D).alias("v"),
    )
    b = b_raw.select(
        F.lit("drift").alias("stat"),
        F.col("lang").cast(_S).alias("key1"),
        _null(_S).alias("key2"),
        F.col("n_tokens").cast(_L).alias("n1"),
        F.col("vocab").cast(_L).alias("n2"),
        F.col("kl_to_corpus").cast(_D).alias("v"),
    )
    return a.unionByName(b)


def _sql_governance_audit() -> str:
    from .registry_curation import SQL_CORPUS_DIFF, SQL_TOKEN_DRIFT

    return f"""
WITH a AS ({SQL_CORPUS_DIFF}),
b AS ({SQL_TOKEN_DRIFT})
SELECT 'diff' AS stat, CAST(source AS VARCHAR) AS key1,
       CAST(status AS VARCHAR) AS key2, CAST(n_docs AS BIGINT) AS n1,
       CAST(NULL AS BIGINT) AS n2, CAST(NULL AS DOUBLE) AS v
FROM a
UNION ALL
SELECT 'drift', CAST(lang AS VARCHAR), CAST(NULL AS VARCHAR),
       CAST(n_tokens AS BIGINT), CAST(vocab AS BIGINT),
       CAST(kl_to_corpus AS DOUBLE)
FROM b
"""


# ---------------------------------------------------------------------------
# neardup_audit = jaccard_exact + embedding_near_dup


def q_neardup_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .registry_text import q_embedding_near_dup, q_jaccard_exact
    from .session import overlap_builds

    # independent legs on different tables (documents shingles vs
    # embeddings cosine), each with its own eager checkpoints — build
    # them concurrently (guide §2.6)
    a_raw, b_raw = overlap_builds(
        lambda: q_jaccard_exact(spark, sf_dir),
        lambda: q_embedding_near_dup(spark, sf_dir),
    )
    a = a_raw.select(
        F.lit("jaccard").alias("stat"),
        _null(_L).alias("lbl"),
        F.col("id_a").cast(_L).alias("id_a"),
        F.col("id_b").cast(_L).alias("id_b"),
        F.col("jaccard").cast(_D).alias("v"),
    )
    b = b_raw.select(
        F.lit("cosine").alias("stat"),
        F.col("label").cast(_L).alias("lbl"),
        F.col("id_a").cast(_L).alias("id_a"),
        F.col("id_b").cast(_L).alias("id_b"),
        F.col("cosine_sim").cast(_D).alias("v"),
    )
    return a.unionByName(b)


def _sql_neardup_audit() -> str:
    from .registry_text import SQL_EMBEDDING_NEAR_DUP, SQL_JACCARD_EXACT

    return f"""
WITH a AS ({SQL_JACCARD_EXACT}),
b AS ({SQL_EMBEDDING_NEAR_DUP})
SELECT 'jaccard' AS stat, CAST(NULL AS BIGINT) AS lbl,
       CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
       CAST(jaccard AS DOUBLE) AS v
FROM a
UNION ALL
SELECT 'cosine', CAST(label AS BIGINT), CAST(id_a AS BIGINT),
       CAST(id_b AS BIGINT), CAST(cosine_sim AS DOUBLE)
FROM b
"""


# ---------------------------------------------------------------------------
# lexstats_audit = term_stats + bigram_logloss: both are corpus-level
# lexical statistics (PMI/tf-idf tables and the bigram-LM cross
# entropy) — same family.


def q_lexstats_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r15 fused pipeline (guide §2.4): the legs re-derived overlapping
    # corpus explosions — term_stats exploded tokens (tfidf) + bigrams
    # + tokens again (pmi's unigram counts) over its checkpointed docs,
    # and bigram_logloss re-scanned the parquet and exploded bigrams a
    # second time.  Now ONE docs checkpoint feeds ONE bigram explode
    # (shared by pmi's counts and the whole logloss leg via the
    # operators' r15 ``bg=``/``uni=``/``tf=`` hooks) and ONE token
    # explode whose (doc, term) tf frame serves tfidf AND derives pmi's
    # unigram counts (sum of tf over docs == the token count — exact
    # integers either way).  Operator scoring logic stays in ONE place
    # (text.py); rows are bit-identical (counts are exact BIGINTs, the
    # ln inputs are the same integers).  The retired legs still run
    # verbatim standalone in the local gate.
    from .operators import text as text_ops
    from .operators.text import tokens
    from .registry_text import _docs

    docs = (
        _docs(spark, sf_dir)
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism)
        .localCheckpoint()
    )
    t = tokens("text")
    n = F.size(t)
    bg_pairs = F.zip_with(
        F.slice(t, 1, n - 1),
        F.slice(t, 2, n - 1),
        lambda x, y: F.struct(x.alias("w1"), y.alias("w2")),
    )
    # bg feeds pmi's bigram counts AND all three logloss consumers
    bg = (
        docs.select(F.col("doc_id"), F.explode(bg_pairs).alias("bg"))
        .select("doc_id", "bg.w1", "bg.w2")
        .localCheckpoint()
    )
    # tf feeds tfidf's scoring + df counts AND pmi's unigram table
    tf = (
        docs.select(F.col("doc_id"), F.explode(t).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint()
    )
    uni = tf.groupBy("term").agg(
        F.sum("tf").alias("n_tok")
    ).select(F.col("term").alias("token"), "n_tok")

    pmi = text_ops.bigram_pmi(docs, min_count=5, bg=bg, uni=uni).select(
        F.lit("pmi").alias("stat"),
        F.col("w1").alias("key1"),
        F.col("w2").alias("key2"),
        F.col("n_ab").alias("cnt"),
        F.col("pmi").alias("score"),
    )
    tfidf = text_ops.tfidf_top_terms(docs, k=3, tf=tf).select(
        F.lit("tfidf").alias("stat"),
        F.col("doc_id").cast(_S).alias("key1"),
        F.col("term").alias("key2"),
        F.col("tf").alias("cnt"),
        F.col("tfidf").alias("score"),
    )
    a = pmi.unionByName(tfidf).select(
        "stat", "key1", "key2",
        F.col("cnt").cast(_L).alias("cnt"),
        F.col("score").cast(_D).alias("score"),
    )
    b = text_ops.bigram_logloss(docs, bg=bg).select(
        F.lit("bigram_ll").alias("stat"),
        F.col("doc_id").cast(_S).alias("key1"),
        _null(_S).alias("key2"),
        F.col("n_bigrams").cast(_L).alias("cnt"),
        F.col("cross_entropy").cast(_D).alias("score"),
    )
    return a.unionByName(b)


def _sql_lexstats_audit() -> str:
    from .registry_text import SQL_BIGRAM_LOGLOSS, SQL_TERM_STATS

    return f"""
WITH a AS ({SQL_TERM_STATS}),
b AS ({SQL_BIGRAM_LOGLOSS})
SELECT stat, key1, key2, CAST(cnt AS BIGINT) AS cnt,
       CAST(score AS DOUBLE) AS score
FROM a
UNION ALL
SELECT 'bigram_ll', CAST(doc_id AS VARCHAR), CAST(NULL AS VARCHAR),
       CAST(n_bigrams AS BIGINT), CAST(cross_entropy AS DOUBLE)
FROM b
"""


# ---------------------------------------------------------------------------
# ivf_audit = ann_ivf + ann_ivfpq: the two IVF-routed ANN tiers (plain
# and PQ-compressed) — same index family.


def q_ivf_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r15 (guide §2.4): the two legs each called their registered
    # function, and each function ran sim.build_ivf_index(emb, 8, 2) —
    # TWO textually-separate copies of the coarse-quantizer Lloyd
    # subtree in one unioned plan, deduped only as far as ReuseExchange
    # reaches.  Build the IVF index ONCE and hand the SAME
    # (assignments, centroids) frames to both legs: identical
    # operators, identical parameters, bit-identical rows (parity
    # collect-hashed against the two-build form at sf0.1), one Lloyd
    # chain in the plan.  NO checkpoint on either frame — measured
    # slower in every combination (cp assign 4.31 s, cp cents 5.09 s
    # vs 3.54 s shared / 3.89 s two-build at sf0.1): eager
    # materialization breaks the ReuseExchange sharing and adds jobs
    # (the r14 finding, re-confirmed).  A LAZY repartition barrier on
    # assignments (so both probe pipelines reuse one exchange) was also
    # A/B'd (r15, 4 alternating rounds): min totals 3.31 vs 3.26 s —
    # inside noise, and at scale it is a corpus-width shuffle bought to
    # skip re-running a scan + broadcast join; stays out.
    from .operators import similarity as sim
    from .registry_curation import _PQ_K, _PQ_M
    from .session import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    assignments, centroids = sim.build_ivf_index(emb, n_centroids=8, n_iters=2)
    a = sim.ivf_topk(queries, assignments, centroids, k=5, n_probe=2).select(
        F.lit("ivf").alias("stat"),
        F.col("query_id").cast(_L).alias("query_id"),
        F.col("neighbor_id").cast(_L).alias("neighbor_id"),
        F.col("rank").cast("int").alias("rank"),
        F.col("cosine_sim").cast(_D).alias("v"),
    )
    pq_codes, pq_books = sim.build_pq_index(
        emb, m=_PQ_M, k=_PQ_K, n_iters=2, dim=64
    )
    b = sim.ivfpq_topk(
        queries, assignments, centroids, pq_codes, pq_books,
        k_nn=5, n_probe=2, m=_PQ_M, k=_PQ_K, dim=64,
    ).select(
        F.lit("ivfpq").alias("stat"),
        F.col("query_id").cast(_L).alias("query_id"),
        F.col("neighbor_id").cast(_L).alias("neighbor_id"),
        F.col("rank").cast("int").alias("rank"),
        F.col("approx_dist").cast(_D).alias("v"),
    )
    return a.unionByName(b)


def _sql_ivf_audit() -> str:
    from .registry_curation import SQL_ANN_IVFPQ
    from .registry_text import SQL_ANN_IVF

    return f"""
WITH a AS ({SQL_ANN_IVF}),
b AS ({SQL_ANN_IVFPQ})
SELECT 'ivf' AS stat, CAST(query_id AS BIGINT) AS query_id,
       CAST(neighbor_id AS BIGINT) AS neighbor_id,
       CAST(rank AS INTEGER) AS rank, CAST(cosine_sim AS DOUBLE) AS v
FROM a
UNION ALL
SELECT 'ivfpq', CAST(query_id AS BIGINT), CAST(neighbor_id AS BIGINT),
       CAST(rank AS INTEGER), CAST(approx_dist AS DOUBLE)
FROM b
"""


# ---------------------------------------------------------------------------
# summary_audit = pricing_summary + rollup_summary


def q_summary_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .registry_relational import q_pricing_summary
    from .registry_misc import q_rollup_summary

    a = q_pricing_summary(spark, sf_dir).select(
        F.lit("pricing").alias("stat"),
        F.col("l_returnflag").cast(_S).alias("k1"),
        F.col("l_linestatus").cast(_S).alias("k2"),
        F.col("count_order").cast(_L).alias("n"),
        F.col("sum_qty").cast(_D).alias("v1"),
        F.col("sum_base_price").cast(_D).alias("v2"),
        F.col("sum_disc_price").cast(_D).alias("v3"),
        F.col("sum_charge").cast(_D).alias("v4"),
        F.col("avg_qty").cast(_D).alias("v5"),
        F.col("avg_price").cast(_D).alias("v6"),
    )
    b = q_rollup_summary(spark, sf_dir).select(
        F.lit("rollup").alias("stat"),
        F.col("l_returnflag").cast(_S).alias("k1"),
        F.col("l_linestatus").cast(_S).alias("k2"),
        F.col("n_rows").cast(_L).alias("n"),
        F.col("total_qty").cast(_D).alias("v1"),
        _null(_D).alias("v2"),
        _null(_D).alias("v3"),
        _null(_D).alias("v4"),
        _null(_D).alias("v5"),
        _null(_D).alias("v6"),
    )
    return a.unionByName(b)


def _sql_summary_audit() -> str:
    from .registry_relational import SQL_PRICING_SUMMARY
    from .registry_misc import SQL_ROLLUP_SUMMARY

    return f"""
WITH a AS ({SQL_PRICING_SUMMARY}),
b AS ({SQL_ROLLUP_SUMMARY})
SELECT 'pricing' AS stat, CAST(l_returnflag AS VARCHAR) AS k1,
       CAST(l_linestatus AS VARCHAR) AS k2,
       CAST(count_order AS BIGINT) AS n,
       CAST(sum_qty AS DOUBLE) AS v1, CAST(sum_base_price AS DOUBLE) AS v2,
       CAST(sum_disc_price AS DOUBLE) AS v3, CAST(sum_charge AS DOUBLE) AS v4,
       CAST(avg_qty AS DOUBLE) AS v5, CAST(avg_price AS DOUBLE) AS v6
FROM a
UNION ALL
SELECT 'rollup', CAST(l_returnflag AS VARCHAR), CAST(l_linestatus AS VARCHAR),
       CAST(n_rows AS BIGINT), CAST(total_qty AS DOUBLE),
       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
FROM b
"""


# ---------------------------------------------------------------------------
# sketchfam_audit = sketch_audit + hist_quantiles: both are
# register-sized-sketch rows (HLL/CMS estimates vs exact counts; the
# binned-histogram quantile estimator) — same family.


def q_sketchfam_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .registry_curation import q_hist_quantiles, q_sketch_audit
    from .session import overlap_builds

    # independent legs (documents token sketches vs lineitem histogram)
    # — overlap their eager builds (guide §2.6)
    a_raw, b_raw = overlap_builds(
        lambda: q_sketch_audit(spark, sf_dir),
        lambda: q_hist_quantiles(spark, sf_dir),
    )
    a = a_raw.select(
        F.col("sketch").alias("stat"),
        F.col("key").alias("key1"),
        F.lit(None).cast("double").alias("q"),
        F.col("n_exact").cast("long").alias("n_exact"),
        F.col("estimate").cast("double").alias("estimate"),
    )
    b = b_raw.select(
        F.lit("hist").alias("stat"),
        F.col("o_orderpriority").alias("key1"),
        F.col("quantile").cast("double").alias("q"),
        F.lit(None).cast("long").alias("n_exact"),
        F.col("estimate").cast("double").alias("estimate"),
    )
    return a.unionByName(b)


def _sql_sketchfam_audit() -> str:
    from .registry_curation import SQL_HIST_QUANTILES, SQL_SKETCH_AUDIT

    return f"""
WITH a AS ({SQL_SKETCH_AUDIT}),
b AS ({SQL_HIST_QUANTILES})
SELECT sketch AS stat, key AS key1, CAST(NULL AS DOUBLE) AS q,
       CAST(n_exact AS BIGINT) AS n_exact, CAST(estimate AS DOUBLE) AS estimate
FROM a
UNION ALL
SELECT 'hist', o_orderpriority, CAST(quantile AS DOUBLE),
       CAST(NULL AS BIGINT), CAST(estimate AS DOUBLE)
FROM b
"""


# ---------------------------------------------------------------------------
# weights_audit = dsir_weights + temperature_resample


def q_weights_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .registry_curation import q_dsir_weights, q_temperature_resample
    from .session import overlap_builds

    # independent legs — overlap their eager builds (guide §2.6)
    a_raw, b_raw = overlap_builds(
        lambda: q_dsir_weights(spark, sf_dir),
        lambda: q_temperature_resample(spark, sf_dir),
    )
    a = a_raw.select(
        F.lit("dsir").alias("stat"),
        F.col("doc_id").cast(_S).alias("k1"),
        F.col("n_tokens").cast(_L).alias("n"),
        F.lit(None).cast(_L).alias("n2"),
        F.col("dsir_weight").cast(_D).alias("v"),
    )
    b = b_raw.select(
        F.lit("resample").alias("stat"),
        F.col("source").cast(_S).alias("k1"),
        F.col("n_docs").cast(_L).alias("n"),
        F.col("n_kept").cast(_L).alias("n2"),
        F.col("frac_kept").cast(_D).alias("v"),
    )
    return a.unionByName(b)


def _sql_weights_audit() -> str:
    from .registry_curation import SQL_DSIR_WEIGHTS, SQL_TEMPERATURE_RESAMPLE

    return f"""
WITH a AS ({SQL_DSIR_WEIGHTS}),
b AS ({SQL_TEMPERATURE_RESAMPLE})
SELECT 'dsir' AS stat, CAST(doc_id AS VARCHAR) AS k1,
       CAST(n_tokens AS BIGINT) AS n, CAST(NULL AS BIGINT) AS n2,
       CAST(dsir_weight AS DOUBLE) AS v
FROM a
UNION ALL
SELECT 'resample', CAST(source AS VARCHAR), CAST(n_docs AS BIGINT),
       CAST(n_kept AS BIGINT), CAST(frac_kept AS DOUBLE)
FROM b
"""


# ---------------------------------------------------------------------------
# * ``docmeta_audit`` = ``doc_profile`` ⋈ ``doc_signature``: both are
#   per-document 1:1 metadata rows over the same key (quality/lang
#   profile; k-min + winnow fingerprints) — one join, zero row-count
#   change, every leg column preserved under the hash.
# * ``retrieval_audit`` = ``bm25_indexed`` + ``hybrid_rrf``: the two
#   retrieval-stack rows (inverted-index BM25 tier; RRF fusion of the
#   lexical + semantic tiers) — same family, stat-tagged union.
# * ``capsel_audit`` = ``source_cap`` + ``quality_topk``: the two
#   budget-selection rows (per-source hash cap; per-stratum quality
#   top-k) — same family, stat-tagged union.


def q_docmeta_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .session import overlap_builds

    # independent legs — overlap their eager builds (guide §2.6)
    prof, sig = overlap_builds(
        lambda: q_doc_profile(spark, sf_dir),
        lambda: q_doc_signature(spark, sf_dir),
    )
    return prof.join(sig, "doc_id")


def _sql_docmeta_audit() -> str:
    return f"""
WITH a AS ({SQL_DOC_PROFILE}),
b AS ({SQL_DOC_SIGNATURE})
SELECT a.doc_id, a.n_tokens, a.mean_token_len, a.punct_ratio,
       a.stopword_ratio, a.quality_score, a.lang, a.pred_lang,
       a.score_de, a.score_en, a.score_es, a.score_fr,
       b.fingerprint, b.winnow_fp
FROM a JOIN b ON a.doc_id = b.doc_id
"""


def q_retrieval_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .registry_text import q_bm25_indexed, q_hybrid_rrf
    from .session import overlap_builds

    # the two legs are deliberately DIFFERENT retrieval tiers (index
    # bm25 vs scan bm25 + cosine) with no shared frame, and each pays
    # its own eager checkpoints during build — overlap them (guide
    # §2.6) so leg b's jobs back-fill the cores leg a's tails free
    a_raw, b_raw = overlap_builds(
        lambda: q_bm25_indexed(spark, sf_dir),
        lambda: q_hybrid_rrf(spark, sf_dir),
    )
    a = a_raw.select(
        F.lit("bm25").alias("stat"),
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_terms_hit").cast("long").alias("n"),
        F.lit(None).cast("long").alias("n2"),
        F.col("score").cast("double").alias("v"),
    )
    b = b_raw.select(
        F.lit("rrf").alias("stat"),
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_lists").cast("long").alias("n"),
        F.col("rrf_nano").cast("long").alias("n2"),
        F.col("rrf_score").cast("double").alias("v"),
    )
    return a.unionByName(b)


def _sql_retrieval_audit() -> str:
    from .registry_text import SQL_BM25_SEARCH, SQL_HYBRID_RRF

    return f"""
WITH a AS ({SQL_BM25_SEARCH}),
b AS ({SQL_HYBRID_RRF})
SELECT 'bm25' AS stat, CAST(doc_id AS BIGINT) AS doc_id,
       CAST(n_terms_hit AS BIGINT) AS n, CAST(NULL AS BIGINT) AS n2,
       CAST(score AS DOUBLE) AS v
FROM a
UNION ALL
SELECT 'rrf', CAST(doc_id AS BIGINT), CAST(n_lists AS BIGINT),
       CAST(rrf_nano AS BIGINT), CAST(rrf_score AS DOUBLE)
FROM b
"""


def q_capsel_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .registry_curation import q_source_cap
    from .registry_text import q_quality_topk

    a = q_source_cap(spark, sf_dir).select(
        F.lit("cap").alias("stat"),
        F.col("source").cast("string").alias("k1"),
        F.lit(None).cast("long").alias("id"),
        F.col("n_kept").cast("long").alias("n"),
        F.col("n_dropped").cast("long").alias("n2"),
        F.col("frac_kept").cast("double").alias("v"),
    )
    b = q_quality_topk(spark, sf_dir).select(
        F.lit("topk").alias("stat"),
        F.col("lang").cast("string").alias("k1"),
        F.col("doc_id").cast("long").alias("id"),
        F.col("rank").cast("long").alias("n"),
        F.lit(None).cast("long").alias("n2"),
        F.col("quality_score").cast("double").alias("v"),
    )
    return a.unionByName(b)


def _sql_capsel_audit() -> str:
    from .registry_curation import SQL_SOURCE_CAP
    from .registry_text import SQL_QUALITY_TOPK

    return f"""
WITH a AS ({SQL_SOURCE_CAP}),
b AS ({SQL_QUALITY_TOPK})
SELECT 'cap' AS stat, CAST(source AS VARCHAR) AS k1,
       CAST(NULL AS BIGINT) AS id, CAST(n_kept AS BIGINT) AS n,
       CAST(n_dropped AS BIGINT) AS n2, CAST(frac_kept AS DOUBLE) AS v
FROM a
UNION ALL
SELECT 'topk', CAST(lang AS VARCHAR), CAST(doc_id AS BIGINT),
       CAST(rank AS BIGINT), CAST(NULL AS BIGINT),
       CAST(quality_score AS DOUBLE)
FROM b
"""


# ---------------------------------------------------------------------------
# crawlfam_audit = fetch_audit + crawl_audit


def q_crawlfam_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .registry_web import q_crawl_audit, q_fetch_audit
    from .session import overlap_builds

    # independent legs — overlap their eager builds (guide §2.6)
    a_raw, b_raw = overlap_builds(
        lambda: q_fetch_audit(spark, sf_dir),
        lambda: q_crawl_audit(spark, sf_dir),
    )
    a = a_raw.select(
        F.lit("fetch").alias("stat"),
        F.col("doc_id").cast(_S).alias("k1"),
        F.col("url").cast(_S).alias("k2"),
        F.lit(None).cast(_S).alias("k3"),
        F.col("fetch_offset_ms").cast(_L).alias("n"),
        F.lit(None).cast(_D).alias("p"),
    )
    b = b_raw.select(
        F.col("stat").cast(_S).alias("stat"),
        F.col("k1").cast(_S).alias("k1"),
        F.col("k2").cast(_S).alias("k2"),
        F.col("k3").cast(_S).alias("k3"),
        F.lit(None).cast(_L).alias("n"),
        F.col("p").cast(_D).alias("p"),
    )
    return a.unionByName(b)


def _sql_crawlfam_audit() -> str:
    from .registry_web import SQL_CRAWL_AUDIT, SQL_FETCH_AUDIT

    return f"""
WITH a AS ({SQL_FETCH_AUDIT}),
b AS ({SQL_CRAWL_AUDIT})
SELECT 'fetch' AS stat, CAST(doc_id AS VARCHAR) AS k1,
       CAST(url AS VARCHAR) AS k2, CAST(NULL AS VARCHAR) AS k3,
       CAST(fetch_offset_ms AS BIGINT) AS n, CAST(NULL AS DOUBLE) AS p
FROM a
UNION ALL
SELECT stat, CAST(k1 AS VARCHAR), CAST(k2 AS VARCHAR),
       CAST(k3 AS VARCHAR), CAST(NULL AS BIGINT), CAST(p AS DOUBLE)
FROM b
"""


# ---------------------------------------------------------------------------
# geofam_audit = geo_assign + geo_rollup_join


def q_geofam_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .registry_misc import q_geo_rollup_join
    from .registry_misc import q_geo_assign
    from .session import overlap_builds

    # independent legs — overlap their eager builds (guide §2.6)
    a_raw, b_raw = overlap_builds(
        lambda: q_geo_assign(spark, sf_dir),
        lambda: q_geo_rollup_join(spark, sf_dir),
    )
    a = a_raw.select(
        F.lit("assign").alias("stat"),
        F.col("pid").cast(_L).alias("id"),
        F.col("region").cast(_S).alias("k1"),
        F.lit(None).cast(_S).alias("k2"),
        F.lit(None).cast(_L).alias("n"),
        F.col("lon").cast(_D).alias("x"),
        F.col("lat").cast(_D).alias("y"),
    )
    b = b_raw.select(
        F.lit("rollup").alias("stat"),
        F.lit(None).cast(_L).alias("id"),
        F.col("region").cast(_S).alias("k1"),
        F.col("r_name").cast(_S).alias("k2"),
        F.col("n_submissions").cast(_L).alias("n"),
        F.col("mean_acctbal").cast(_D).alias("x"),
        F.lit(None).cast(_D).alias("y"),
    )
    return a.unionByName(b)


def _sql_geofam_audit() -> str:
    from .registry_misc import SQL_GEO_ROLLUP_JOIN
    from .registry_misc import _sql_geo_assign

    return f"""
WITH a AS ({_sql_geo_assign()}),
b AS ({SQL_GEO_ROLLUP_JOIN})
SELECT 'assign' AS stat, CAST(pid AS BIGINT) AS id,
       CAST(region AS VARCHAR) AS k1, CAST(NULL AS VARCHAR) AS k2,
       CAST(NULL AS BIGINT) AS n, CAST(lon AS DOUBLE) AS x,
       CAST(lat AS DOUBLE) AS y
FROM a
UNION ALL
SELECT 'rollup', CAST(NULL AS BIGINT), CAST(region AS VARCHAR),
       CAST(r_name AS VARCHAR), CAST(n_submissions AS BIGINT),
       CAST(mean_acctbal AS DOUBLE), CAST(NULL AS DOUBLE)
FROM b
"""


# ---------------------------------------------------------------------------
# * ``bandpairs_audit`` = ``minhash_dedup`` + ``simhash_pairs``: the
#   two banded near-dup PAIR generators over documents (MinHash-LSH
#   jaccard legs; SimHash hamming legs of one family).
# * ``dedupfam_audit`` = ``dedup_exact`` + ``dedup_clusters``: the
#   exact-digest groups and the connected-component rollup — the two
#   halves of the exact-dedup surface.


def q_bandpairs_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r15 fused pipeline (guide §2.4): the two legs each tokenized the
    # corpus and each paid their own checkpoint (minhash_dedup's
    # shingle frame + simhash_pairs' signature frame — 2 scans, 2
    # materialization jobs).  ONE tokenize pass now feeds ONE combo
    # checkpoint carrying BOTH per-doc values (the minhash shingle-hash
    # set and the simhash signature); the minhash candidate/verify
    # branches and the simhash band self-join all read projections of
    # that single materialization.  Expressions are the operators'
    # own (dedup.shingle_h32 / token_hashes32 / simhash32_from_hashes /
    # minhash_candidates_from_hashes / jaccard_verify_hashed /
    # simhash_pairs_from_sigs), so rows are bit-identical to the
    # two-leg form (parity collect-hashed at sf0.1; measured 2.36 →
    # 1.82 s min).  The retired legs still run verbatim standalone in
    # the local gate.
    from .operators import dedup as dedup_ops
    from .operators.text import tokens
    from .session import read_table

    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokens(F.col("text")).alias("_t")).repartition(
        spark.sparkContext.defaultParallelism
    )
    combo = toks.select(
        F.col("doc_id"),
        dedup_ops.shingle_h32(F.col("_t"), 5).alias("_h32"),
        dedup_ops.simhash32_from_hashes(
            dedup_ops.token_hashes32(F.col("_t"))
        ).alias("sig"),
    ).localCheckpoint()
    hashed = combo.select("doc_id", "_h32").filter(F.size("_h32") > 0)
    pairs = dedup_ops.minhash_candidates_from_hashes(hashed, n_hashes=8, bands=4)
    verified = dedup_ops.jaccard_verify_hashed(hashed, pairs)
    a = verified.select(
        F.lit("jaccard").alias("stat"),
        F.col("id_a").cast(_L).alias("id_a"),
        F.col("id_b").cast(_L).alias("id_b"),
        F.lit(None).cast(_L).alias("n"),
        F.col("jaccard").cast("double").alias("v"),
    )
    sp = dedup_ops.simhash_pairs_from_sigs(
        combo.select("doc_id", "sig"), max_hamming=8
    )
    b = sp.select(
        F.lit("hamming").alias("stat"),
        F.col("id_a").cast(_L).alias("id_a"),
        F.col("id_b").cast(_L).alias("id_b"),
        F.col("hamming").cast(_L).alias("n"),
        F.lit(None).cast("double").alias("v"),
    )
    return a.unionByName(b)


def _sql_bandpairs_audit() -> str:
    from .registry_text import SQL_MINHASH_DEDUP, SQL_SIMHASH_PAIRS

    return f"""
WITH a AS ({SQL_MINHASH_DEDUP}),
b AS ({SQL_SIMHASH_PAIRS})
SELECT 'jaccard' AS stat, CAST(id_a AS BIGINT) AS id_a,
       CAST(id_b AS BIGINT) AS id_b, CAST(NULL AS BIGINT) AS n,
       CAST(jaccard AS DOUBLE) AS v
FROM a
UNION ALL
SELECT 'hamming', CAST(id_a AS BIGINT), CAST(id_b AS BIGINT),
       CAST(hamming AS BIGINT), CAST(NULL AS DOUBLE)
FROM b
"""


def q_dedupfam_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r15 fused pipeline (guide §2.4, the bandpairs_audit pattern): the
    # exact leg re-scanned the corpus just to md5 an 8-token prefix
    # while the clusters leg built its own shingle checkpoint.  ONE
    # scan now computes the exact digest (cheap, one md5 per row —
    # runs below the spread exchange with the tokenize) AND the
    # shingle-hash set; one combo checkpoint feeds the exact groupBy
    # and the whole minhash+CC chain.  Expressions are the operators'
    # own (dedup.exact_digest / shingle_h32 / exact_dup_groups via
    # digest_col) — rows bit-identical to the two-leg form; the
    # retired legs still run verbatim standalone in the local gate.
    from .operators import dedup as dedup_ops
    from .operators.text import tokens
    from .session import read_table

    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        dedup_ops.exact_digest("text", normalize=True, prefix_tokens=8).alias(
            "digest"
        ),
        tokens(F.col("text")).alias("_t"),
    ).repartition(spark.sparkContext.defaultParallelism)
    combo = toks.select(
        F.col("doc_id"),
        F.col("digest"),
        dedup_ops.shingle_h32(F.col("_t"), 5).alias("_h32"),
    ).localCheckpoint()

    groups = dedup_ops.exact_dup_groups(
        combo, digest_col="digest"
    ).select(
        "digest",
        "group_size",
        F.array_join(
            F.transform(F.col("doc_ids"), lambda x: x.cast("string")), ","
        ).alias("members"),
    )
    a = groups.select(
        F.lit("exact").alias("stat"),
        F.col("digest").cast(_S).alias("k1"),
        F.col("group_size").cast(_L).alias("n"),
        F.col("members").cast(_S).alias("members"),
    )

    hashed = combo.select("doc_id", "_h32").filter(F.size("_h32") > 0)
    pairs = dedup_ops.minhash_candidates_from_hashes(hashed, n_hashes=8, bands=4)
    verified = dedup_ops.jaccard_verify_hashed(hashed, pairs).filter(
        F.col("jaccard") >= 0.5
    )
    clusters = dedup_ops.duplicate_clusters(verified)
    b = clusters.select(
        F.lit("cluster").alias("stat"),
        F.col("component_id").cast(_S).alias("k1"),
        F.col("n_members").cast(_L).alias("n"),
        F.col("members").cast(_S).alias("members"),
    )
    return a.unionByName(b)


def _sql_dedupfam_audit() -> str:
    from .registry_text import SQL_DEDUP_CLUSTERS, SQL_DEDUP_EXACT

    return f"""
WITH a AS ({SQL_DEDUP_EXACT}),
b AS ({SQL_DEDUP_CLUSTERS})
SELECT 'exact' AS stat, CAST(digest AS VARCHAR) AS k1,
       CAST(group_size AS BIGINT) AS n, CAST(members AS VARCHAR) AS members
FROM a
UNION ALL
SELECT 'cluster', CAST(component_id AS VARCHAR),
       CAST(n_members AS BIGINT), CAST(members AS VARCHAR)
FROM b
"""


# ---------------------------------------------------------------------------
# exports

QUERIES = {
    "set_ops_audit": q_set_ops_audit,
    "format_audit": q_format_audit,
    "window_audit": q_window_audit,
    "split_mix_audit": q_split_mix_audit,
    "rank_audit": q_rank_audit,
    "ann_audit": q_ann_audit,
    "reshape_audit": q_reshape_audit,
    "aug_audit": q_aug_audit,
    "doc_profile": q_doc_profile,
    "doc_signature": q_doc_signature,
    "funnel_cohorts": q_funnel_cohorts,
    "fim_audit": q_fim_audit,
    "span_audit": q_span_audit,
    "quant_audit": q_quant_audit,
    "lexical_audit": q_lexical_audit,
    "filter_audit": q_filter_audit,
    "activity_audit": q_activity_audit,
    "governance_audit": q_governance_audit,
    "neardup_audit": q_neardup_audit,
    "lexstats_audit": q_lexstats_audit,
    "ivf_audit": q_ivf_audit,
    "summary_audit": q_summary_audit,
    "sketchfam_audit": q_sketchfam_audit,
    "weights_audit": q_weights_audit,
    "docmeta_audit": q_docmeta_audit,
    "retrieval_audit": q_retrieval_audit,
    "capsel_audit": q_capsel_audit,
    "crawlfam_audit": q_crawlfam_audit,
    "geofam_audit": q_geofam_audit,
    "bandpairs_audit": q_bandpairs_audit,
    "dedupfam_audit": q_dedupfam_audit,
}


def oracle_sql() -> dict[str, str]:
    return {
        "set_ops_audit": _sql_set_ops_audit(),
        "format_audit": _sql_format_audit(),
        "window_audit": _sql_window_audit(),
        "split_mix_audit": _sql_split_mix_audit(),
        "rank_audit": _sql_rank_audit(),
        "ann_audit": _sql_ann_audit(),
        "reshape_audit": _sql_reshape_audit(),
        "aug_audit": _sql_aug_audit(),
        "doc_profile": SQL_DOC_PROFILE,
        "doc_signature": SQL_DOC_SIGNATURE,
        "funnel_cohorts": SQL_FUNNEL_COHORTS,
        "fim_audit": SQL_FIM_AUDIT,
        "span_audit": SQL_SPAN_AUDIT,
        "quant_audit": _sql_quant_audit(),
        "lexical_audit": _sql_lexical_audit(),
        "filter_audit": _sql_filter_audit(),
        "activity_audit": _sql_activity_audit(),
        "governance_audit": _sql_governance_audit(),
        "neardup_audit": _sql_neardup_audit(),
        "lexstats_audit": _sql_lexstats_audit(),
        "ivf_audit": _sql_ivf_audit(),
        "summary_audit": _sql_summary_audit(),
        "sketchfam_audit": _sql_sketchfam_audit(),
        "weights_audit": _sql_weights_audit(),
        "docmeta_audit": _sql_docmeta_audit(),
        "retrieval_audit": _sql_retrieval_audit(),
        "capsel_audit": _sql_capsel_audit(),
        "crawlfam_audit": _sql_crawlfam_audit(),
        "geofam_audit": _sql_geofam_audit(),
        "bandpairs_audit": _sql_bandpairs_audit(),
        "dedupfam_audit": _sql_dedupfam_audit(),
    }


UNIONS: dict[str, tuple[str, str]] = {
    "set_ops_audit": ("semi_anti", "except_keys"),
    "format_audit": ("string_ops", "iso_format"),
    "window_audit": ("running_total", "pct_of_group"),
    "split_mix_audit": ("data_split", "sample_mix"),
    "rank_audit": ("rank_lookup", "rank_inference"),
    "ann_audit": ("ann_cosine", "ann_pq"),
    "reshape_audit": ("unpivot_metrics", "pivot_status"),
    "doc_profile": ("text_quality", "lang_id"),
    "doc_signature": ("doc_fingerprint", "doc_winnow"),
    "funnel_cohorts": ("conversion_funnel", "retention_cohorts"),
    "quant_audit": ("ann_int8", "pooled_ann"),
    "lexical_audit": ("unigram_logloss", "vocab_coverage"),
    "filter_audit": ("c4_filter", "boilerplate"),
    "activity_audit": ("events_hourly", "user_activity"),
    "governance_audit": ("corpus_diff", "token_drift"),
    "neardup_audit": ("jaccard_exact", "embedding_near_dup"),
    "lexstats_audit": ("term_stats", "bigram_logloss"),
    "ivf_audit": ("ann_ivf", "ann_ivfpq"),
    "summary_audit": ("pricing_summary", "rollup_summary"),
    "sketchfam_audit": ("sketch_audit", "hist_quantiles"),
    "weights_audit": ("dsir_weights", "temperature_resample"),
    "docmeta_audit": ("doc_profile", "doc_signature"),
    "retrieval_audit": ("bm25_indexed", "hybrid_rrf"),
    "capsel_audit": ("source_cap", "quality_topk"),
    "crawlfam_audit": ("fetch_audit", "crawl_audit"),
    "geofam_audit": ("geo_assign", "geo_rollup_join"),
    "bandpairs_audit": ("minhash_dedup", "simhash_pairs"),
    "dedupfam_audit": ("dedup_exact", "dedup_clusters"),
    "aug_audit": ("fim_audit", "span_audit"),
}
