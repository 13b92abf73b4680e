"""Data-curation registry rows: per-source contribution caps, snapshot
and release diffing, token-distribution drift, the PQ/ADC ANN tier,
sampling weights and budgets, sketches, shuffles and shards, sequence
layout, threshold calibration, diversity sampling and data cards.

Same oracle-portability rules as registry_text: md5 for all hashing,
integer micro-unit quantization before any float SUM, ROUND(..., 6)
on every emitted ratio.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators import curation as cur_ops
from .operators import sketches as sk_ops
from .operators.text import tokens as _tokens
from .plans.report import ZONE_ORDER
from .session import read_table

_S = "string"
_L = "long"
_D = "double"


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_table(spark, sf_dir, "documents")


# ---------------------------------------------------------------------------
# Q: C4-style per-source contribution cap (R has no per-host cap; this
# is a training-data governance op — Raffel et al. 2020 §2.2 cap the
# pages any one host contributes).  The operator tags rows; the query
# audits kept/dropped per source.

_CAP = 15


def q_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    capped = cur_ops.per_group_cap(
        _docs(spark, sf_dir), group_col="source", cap=_CAP, id_col="doc_id"
    )
    return capped.groupBy("source").agg(
        F.sum(F.when(F.col("_keep"), 1).otherwise(0)).alias("n_kept"),
        F.sum(F.when(F.col("_keep"), 0).otherwise(1)).alias("n_dropped"),
        F.round(
            F.sum(F.when(F.col("_keep"), 1).otherwise(0)) / F.count(F.lit(1)), 6
        ).alias("frac_kept"),
    )


SQL_SOURCE_CAP = f"""
WITH r AS (
  SELECT source, doc_id,
         ROW_NUMBER() OVER (
           PARTITION BY source
           ORDER BY md5('cap_' || CAST(doc_id AS VARCHAR)), doc_id
         ) AS rn
  FROM documents
)
SELECT source,
       CAST(SUM(CASE WHEN rn <= {_CAP} THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN rn > {_CAP} THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
       ROUND(SUM(CASE WHEN rn <= {_CAP} THEN 1 ELSE 0 END) / COUNT(*), 6)
         AS frac_kept
FROM r GROUP BY source
"""


# ---------------------------------------------------------------------------
# Q: corpus snapshot diff (release-over-release accounting, the Dolma
# changelog shape).  Two deterministic "releases" are derived from the
# documents table: the old snapshot drops doc_id % 17 = 3, the new one
# drops doc_id % 19 = 5 and edits every doc_id % 7 = 0 text — so all
# four statuses occur.  The diff compares digests, never text.


def _snapshots(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    docs = _docs(spark, sf_dir)
    old = docs.filter(F.col("doc_id") % 17 != 3)
    new = docs.filter(F.col("doc_id") % 19 != 5).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" [rev2]"))
        ).otherwise(F.col("text")),
    )
    return old, new


def q_corpus_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    old, new = _snapshots(spark, sf_dir)
    diff = cur_ops.corpus_diff(old, new, attrs=("source",))
    return diff.groupBy("source", "status").agg(
        F.count(F.lit(1)).alias("n_docs")
    )


SQL_CORPUS_DIFF = """
WITH old AS (
  -- COALESCE to the \\x00 sentinel mirrors corpus_diff's NULL-text
  -- handling: a NULL-text row is PRESENT (digest sentinel), not a
  -- missing row, so NULL->NULL reads as 'unchanged' on both engines
  SELECT doc_id, COALESCE(md5(text), chr(0)) AS d, source
  FROM documents WHERE doc_id % 17 <> 3
),
new AS (
  SELECT doc_id,
         COALESCE(md5(CASE WHEN doc_id % 7 = 0 THEN text || ' [rev2]'
                           ELSE text END), chr(0)) AS d,
         source
  FROM documents WHERE doc_id % 19 <> 5
),
j AS (
  SELECT COALESCE(n.doc_id, o.doc_id) AS doc_id,
         CASE WHEN o.d IS NULL THEN 'added'
              WHEN n.d IS NULL THEN 'removed'
              WHEN o.d = n.d THEN 'unchanged'
              ELSE 'changed' END AS status,
         COALESCE(n.source, o.source) AS source
  FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id
)
SELECT source, status, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM j GROUP BY source, status
"""


# ---------------------------------------------------------------------------
# Q: per-language token-distribution drift vs the corpus (KL
# divergence) — the monitoring signal for "did this slice shift".
# Per-token KL terms quantize to nano-units before the SUM so the
# accumulation is order-independent (bit-exact on both engines).


def q_token_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cur_ops.token_distribution_drift(
        _docs(spark, sf_dir), group_col="lang"
    )


SQL_TOKEN_DRIFT = """
WITH tok AS (
  SELECT lang AS grp, unnest(string_split_regex(trim(text), '\\s+')) AS token
  FROM documents
),
gc AS (
  SELECT grp, token, COUNT(*) AS c_g FROM tok GROUP BY grp, token
),
gt AS (
  SELECT grp, CAST(SUM(c_g) AS BIGINT) AS t_g FROM gc GROUP BY grp
),
ac AS (
  SELECT token, CAST(SUM(c_g) AS BIGINT) AS c_all FROM gc GROUP BY token
),
at AS (
  SELECT CAST(SUM(c_all) AS BIGINT) AS t_all FROM ac
),
terms AS (
  SELECT gc.grp, gc.c_g,
         CAST(ROUND(
           (gc.c_g / gt.t_g)
           * ln((gc.c_g / gt.t_g) / (ac.c_all / at.t_all)) * 1e9
         ) AS BIGINT) AS tq
  FROM gc JOIN ac USING (token) JOIN gt USING (grp) CROSS JOIN at
)
SELECT grp AS lang,
       CAST(SUM(c_g) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) AS BIGINT) AS vocab,
       ROUND(SUM(tq) / 1e9, 6) AS kl_to_corpus
FROM terms GROUP BY grp
"""


# ---------------------------------------------------------------------------
# Q: PQ/ADC approximate nearest neighbors (Jégou et al. 2011) — the
# memory-compression ANN tier alongside brute/LSH/IVF.  m=2 subspaces
# of 32 dims, k=4 centroids each, 2 Lloyd iterations.  Every step is
# deterministic arithmetic (md5-ordered seeds, micro-unit means,
# sequential L2 folds, fixed-order ADC sum), so DuckDB replays the
# whole index build + search exactly.  The oracle keeps m=2 so the ADC
# sum is a single commutative-safe addition of two doubles, mirrored
# as an explicit two-term pivot.

_PQ_M, _PQ_K, _PQ_DSUB = 2, 4, 32


def q_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import similarity as sim

    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    codes, codebooks = sim.build_pq_index(
        emb, m=_PQ_M, k=_PQ_K, n_iters=2, dim=64
    )
    return sim.pq_topk(
        queries, codes, codebooks, k_nn=5, m=_PQ_M, k=_PQ_K, dim=64
    )


def _sql_l2sq(a: str, b: str, dim: int = _PQ_DSUB) -> str:
    """DuckDB twin of similarity._l2sq: sequential index-order fold of
    squared differences in double precision."""
    d = f"(CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))"
    return (
        f"list_reduce(list_transform(generate_series(1, {dim}),"
        f" i -> {d} * {d}), (x, y) -> x + y)"
    )


def _sql_pq_assign(cb: str, out: str) -> str:
    """One PQ assignment pass over the subspace-exploded corpus:
    nearest codebook centroid by L2², tie-broken on centroid_id."""
    return f"""{out} AS (
  SELECT vec_id, subspace, subvec, code FROM (
    SELECT s.vec_id, s.subspace, s.subvec, c.centroid_id AS code,
           ROW_NUMBER() OVER (
             PARTITION BY s.vec_id, s.subspace
             ORDER BY {_sql_l2sq('s.subvec', 'c.centroid')}, c.centroid_id
           ) AS rk
    FROM subs s JOIN {cb} c ON c.subspace = s.subspace
  ) WHERE rk = 1
)"""


SQL_ANN_PQ = f"""
WITH seeds AS (
  SELECT md5(CAST(vec_id AS VARCHAR)) AS h, embedding
  FROM embeddings ORDER BY h LIMIT {_PQ_K}
),
srows AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY h) - 1 AS INTEGER) AS centroid_id,
         embedding
  FROM seeds
),
sp AS (SELECT unnest(generate_series(0, {_PQ_M - 1})) AS subspace),
cents0 AS (
  SELECT sp.subspace, srows.centroid_id,
         list_slice(embedding, sp.subspace * {_PQ_DSUB} + 1,
                    sp.subspace * {_PQ_DSUB} + {_PQ_DSUB}) AS centroid
  FROM srows CROSS JOIN sp
),
subs AS (
  SELECT vec_id, sp.subspace,
         list_slice(embedding, sp.subspace * {_PQ_DSUB} + 1,
                    sp.subspace * {_PQ_DSUB} + {_PQ_DSUB}) AS subvec
  FROM embeddings CROSS JOIN sp
),
{_sql_pq_assign('cents0', 'assign0')},
exploded AS (
  SELECT subspace, code, i AS pos,
         CAST(round(CAST(subvec[i] AS DOUBLE) * 1e8) AS BIGINT) AS valq
  FROM assign0 CROSS JOIN generate_series(1, {_PQ_DSUB}) AS t(i)
),
means AS (
  SELECT subspace, code, pos,
         CAST(SUM(valq) AS DOUBLE) / COUNT(*) / 1e8 AS mu
  FROM exploded GROUP BY subspace, code, pos
),
cents1u AS (
  SELECT subspace, code AS centroid_id,
         list_transform(list(mu ORDER BY pos), x -> CAST(x AS FLOAT)) AS centroid
  FROM means GROUP BY subspace, code
),
-- mirror build_pq_index: a centroid with zero assignments keeps its
-- previous value, so the codebook stays dense (m*k rows) and the
-- engine's positional ADC lookup and this oracle agree
cents1 AS (
  SELECT c0.subspace, c0.centroid_id,
         COALESCE(u.centroid, c0.centroid) AS centroid
  FROM cents0 c0
  LEFT JOIN cents1u u
    ON u.subspace = c0.subspace AND u.centroid_id = c0.centroid_id
),
{_sql_pq_assign('cents1', 'assign1')},
q AS (
  SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id % 50 = 0
),
dt AS (
  SELECT q.query_id, c.subspace, c.centroid_id,
         {_sql_l2sq(
             f'list_slice(q.embedding, c.subspace * {_PQ_DSUB} + 1,'
             f' c.subspace * {_PQ_DSUB} + {_PQ_DSUB})',
             'c.centroid')} AS d2
  FROM q CROSS JOIN cents1 c
),
scored AS (
  SELECT d.query_id, a.vec_id,
         MAX(CASE WHEN a.subspace = 0 THEN d.d2 END)
         + MAX(CASE WHEN a.subspace = 1 THEN d.d2 END) AS ad
  FROM assign1 a
  JOIN dt d ON d.subspace = a.subspace AND d.centroid_id = a.code
  WHERE a.vec_id <> d.query_id
  GROUP BY d.query_id, a.vec_id
),
ranked AS (
  SELECT query_id, vec_id AS neighbor_id,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY ad, vec_id) AS rank,
         ad
  FROM scored
)
SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank,
       ROUND(ad, 6) AS approx_dist
FROM ranked WHERE rank <= 5
"""


# ---------------------------------------------------------------------------
# Q: IVF+PQ composed ANN (the FAISS ``IVFx,PQy`` shape) — round-7
# closes the last un-oracled ANN tier (VERDICT r6 Next #5).  IVF
# routing prunes WHO is scored (n_probe=2 of 8 cells); PQ/ADC
# compresses WHAT is scored (m=2 codes per row, corpus vectors never
# read at query time).  The oracle replays BOTH index builds exactly as
# ``ann_ivf`` and ``ann_pq`` already do (md5 seeds, micro-unit Lloyd
# means, empty-cluster carry-over) and intersects the probed candidate
# set with the two-term fixed-order ADC sum.


def q_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import similarity as sim

    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    ivf_assign, ivf_cents = sim.build_ivf_index(emb, n_centroids=8, n_iters=2)
    pq_codes, pq_books = sim.build_pq_index(
        emb, m=_PQ_M, k=_PQ_K, n_iters=2, dim=64
    )
    return sim.ivfpq_topk(
        queries, ivf_assign, ivf_cents, pq_codes, pq_books,
        k_nn=5, n_probe=2, m=_PQ_M, k=_PQ_K, dim=64,
    )


def _sql_ann_ivfpq() -> str:
    from .registry_text import _sql_dot, _sql_ivf_assign, _sql_norm

    ivf_assign0 = _sql_ivf_assign("icents0", "iassign0")
    ivf_assign1 = _sql_ivf_assign("icents1", "iassign1")
    return f"""
WITH iseeds AS (
  SELECT md5(CAST(vec_id AS VARCHAR)) AS h, embedding AS centroid
  FROM embeddings ORDER BY h LIMIT 8
),
icents0 AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY h) - 1 AS INTEGER) AS centroid_id, centroid
  FROM iseeds
),
{ivf_assign0},
iexploded AS (
  SELECT a.centroid_id, i AS pos,
         CAST(round(CAST(a.embedding[i] AS DOUBLE) * 1e8) AS BIGINT) AS valq
  FROM iassign0 a CROSS JOIN generate_series(1, 64) AS t(i)
),
imeans AS (
  SELECT centroid_id, pos,
         CAST(SUM(valq) AS DOUBLE) / COUNT(*) / 1e8 AS m
  FROM iexploded GROUP BY centroid_id, pos
),
icents1 AS (
  SELECT centroid_id,
         list_transform(list(m ORDER BY pos), x -> CAST(x AS FLOAT)) AS centroid
  FROM imeans GROUP BY centroid_id
),
{ivf_assign1},
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
    FROM q CROSS JOIN icents1 c
  ) WHERE rk <= 2
),
cands AS (
  SELECT p.query_id, a.vec_id
  FROM iassign1 a JOIN probes p ON a.centroid_id = p.centroid_id
  WHERE p.query_id <> a.vec_id
),
seeds AS (
  SELECT md5(CAST(vec_id AS VARCHAR)) AS h, embedding
  FROM embeddings ORDER BY h LIMIT {_PQ_K}
),
srows AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY h) - 1 AS INTEGER) AS centroid_id,
         embedding
  FROM seeds
),
sp AS (SELECT unnest(generate_series(0, {_PQ_M - 1})) AS subspace),
cents0 AS (
  SELECT sp.subspace, srows.centroid_id,
         list_slice(embedding, sp.subspace * {_PQ_DSUB} + 1,
                    sp.subspace * {_PQ_DSUB} + {_PQ_DSUB}) AS centroid
  FROM srows CROSS JOIN sp
),
subs AS (
  SELECT vec_id, sp.subspace,
         list_slice(embedding, sp.subspace * {_PQ_DSUB} + 1,
                    sp.subspace * {_PQ_DSUB} + {_PQ_DSUB}) AS subvec
  FROM embeddings CROSS JOIN sp
),
{_sql_pq_assign('cents0', 'assign0')},
exploded AS (
  SELECT subspace, code, i AS pos,
         CAST(round(CAST(subvec[i] AS DOUBLE) * 1e8) AS BIGINT) AS valq
  FROM assign0 CROSS JOIN generate_series(1, {_PQ_DSUB}) AS t(i)
),
means AS (
  SELECT subspace, code, pos,
         CAST(SUM(valq) AS DOUBLE) / COUNT(*) / 1e8 AS mu
  FROM exploded GROUP BY subspace, code, pos
),
cents1u AS (
  SELECT subspace, code AS centroid_id,
         list_transform(list(mu ORDER BY pos), x -> CAST(x AS FLOAT)) AS centroid
  FROM means GROUP BY subspace, code
),
cents1 AS (
  SELECT c0.subspace, c0.centroid_id,
         COALESCE(u.centroid, c0.centroid) AS centroid
  FROM cents0 c0
  LEFT JOIN cents1u u
    ON u.subspace = c0.subspace AND u.centroid_id = c0.centroid_id
),
{_sql_pq_assign('cents1', 'assign1')},
dt AS (
  SELECT q.query_id, c.subspace, c.centroid_id,
         {_sql_l2sq(
             f'list_slice(q.qv, c.subspace * {_PQ_DSUB} + 1,'
             f' c.subspace * {_PQ_DSUB} + {_PQ_DSUB})',
             'c.centroid')} AS d2
  FROM q CROSS JOIN cents1 c
),
scored AS (
  SELECT cd.query_id, cd.vec_id,
         MAX(CASE WHEN a.subspace = 0 THEN d.d2 END)
         + MAX(CASE WHEN a.subspace = 1 THEN d.d2 END) AS ad
  FROM cands cd
  JOIN assign1 a ON a.vec_id = cd.vec_id
  JOIN dt d ON d.subspace = a.subspace AND d.centroid_id = a.code
            AND d.query_id = cd.query_id
  GROUP BY cd.query_id, cd.vec_id
),
ranked AS (
  SELECT query_id, vec_id AS neighbor_id,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY ad, vec_id) AS rank,
         ad
  FROM scored
)
SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank,
       ROUND(ad, 6) AS approx_dist
FROM ranked WHERE rank <= 5
"""


SQL_ANN_IVFPQ = _sql_ann_ivfpq()


# ---------------------------------------------------------------------------
# Q: W3 per-group mode under the oracle — plans/metrics.predominant_gear
# (R/preprocessing-surveys.R:806-811) driven by lineitem mapped to the
# trip shape (district=l_linestatus, landing_date=l_shipdate,
# gear_type=l_returnflag), so the exact plan function users run on trips
# is what the driver verifies.


def q_predominant_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .plans.metrics import predominant_gear

    li = read_table(spark, sf_dir, "lineitem").select(
        F.col("l_linestatus").alias("district"),
        F.col("l_shipdate").alias("landing_date"),
        F.col("l_returnflag").alias("gear_type"),
    )
    return predominant_gear(li)


SQL_PREDOMINANT_MODE = """
WITH counts AS (
  SELECT l_linestatus AS district,
         CAST(date_trunc('month', l_shipdate) AS DATE) AS year_month,
         l_returnflag AS gear_type,
         COUNT(*) AS gear_count
  FROM lineitem GROUP BY 1, 2, 3
),
ranked AS (
  SELECT *,
         ROW_NUMBER() OVER (
           PARTITION BY district, year_month
           ORDER BY gear_count DESC, gear_type
         ) AS rk
  FROM counts
)
SELECT district, year_month, gear_type AS predominant_gear,
       CAST(gear_count AS BIGINT) AS gear_count
FROM ranked WHERE rk = 1
"""


# ---------------------------------------------------------------------------
# Q: the M6 combined long metrics table END-TO-END under the oracle —
# plans/metrics.fishery_metrics (R/preprocessing-surveys.R:751-919):
# monthly unpivoted site metrics + predominant gear + top-k species
# shares, unioned by name with ragged columns.  catch_kg is fed as
# whole units (integer-valued doubles) so every SUM is exact integer
# arithmetic in doubles — order-independent, engine-exact; medians and
# percents are single interpolations/divisions on those exact sums,
# rounded to 6 at the edge.


def _metric_inputs(spark: SparkSession, sf_dir: str, materialize: bool = True):
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    customer = read_table(spark, sf_dir, "customer")
    nation = read_table(spark, sf_dir, "nation")
    base = (
        li.select(
            "l_orderkey", "l_shipdate", "l_extendedprice", "l_discount",
            "l_returnflag",
        )
        .join(
            orders.select("o_orderkey", "o_custkey", "o_totalprice",
                          "o_orderpriority"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            customer.select("c_custkey", "c_acctbal", "c_nationkey"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select(
            "n_name", "l_shipdate", "l_extendedprice", "l_discount",
            "l_returnflag", "c_acctbal", "o_totalprice", "o_orderpriority",
        )
        # year_month computed ONCE at the trip grain so the frame can
        # be hash-partitioned on the exact grouping attributes every
        # metric branch uses (identical expression to the branches'
        # former local date_trunc — values unchanged)
        .withColumn(
            "year_month", F.date_trunc("month", "l_shipdate").cast("date")
        )
    )
    # three metric branches (site medians, gear mode, species shares)
    # consume this trip-grain frame; materializing the join ONCE
    # replaces three full fact scans + joins (the SCALE.md
    # multi-consumer checkpoint rule — at cluster scale this is the
    # zone-write of the trip grain every downstream plan reads).
    # Hash-partition on (district, month) BEFORE the checkpoint, with
    # the partitioning PRESERVED in the checkpointed frame (r15,
    # session.partitioned_checkpoint): all three branches' groupBys —
    # (d, ym), (d, ym, gear), (d, ym, taxon): clustering on a SUPERSET
    # of the partition keys is satisfied by the subset — and every
    # (d, ym) window run exchange-free on it.  ~2.1k distinct (d, ym)
    # keys spread fine over any realistic partition count;
    # scale-adaptive via defaultParallelism.
    # materialize=False exposes the un-checkpointed producer so plan
    # tests can audit the broadcast dim chain inside it.
    if materialize:
        from .session import partitioned_checkpoint

        base = partitioned_checkpoint(base, "n_name", "year_month")
    trips = base.select(
        F.col("n_name").alias("district"),
        "year_month",
        F.col("l_shipdate").alias("landing_date"),
        F.round("l_extendedprice").alias("catch_kg"),
        F.col("l_discount").alias("cpue"),
        F.col("c_acctbal").alias("rpue"),
        F.col("o_totalprice").alias("price_per_kg"),
        F.col("o_orderpriority").alias("gear_type"),
    )
    catch = base.select(
        F.col("n_name").alias("district"),
        "year_month",
        F.col("l_shipdate").alias("landing_date"),
        F.col("l_returnflag").alias("catch_taxon"),
        F.round("l_extendedprice").alias("catch_kg"),
    )
    return trips, catch


def q_metrics_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .plans.metrics import fishery_metrics

    trips, catch = _metric_inputs(spark, sf_dir)
    out = fishery_metrics(trips, catch)
    return out.select(
        "district",
        "year_month",
        "metric_type",
        F.round("metric_value", 6).alias("metric_value"),
        "gear_type",
        "species",
        "rank",
    )


SQL_METRICS_TABLE = """
WITH base AS (
  SELECT n.n_name AS district, l.l_shipdate AS landing_date,
         CAST(round(l.l_extendedprice) AS DOUBLE) AS catch_kg,
         l.l_discount AS cpue, c.c_acctbal AS rpue,
         o.o_totalprice AS price_per_kg, o.o_orderpriority AS gear_type,
         l.l_returnflag AS catch_taxon
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
),
monthly AS (
  SELECT district,
         CAST(date_trunc('month', landing_date) AS DATE) AS year_month,
         SUM(catch_kg) AS total_catch_kg,
         quantile_cont(cpue, 0.5) AS median_cpue,
         quantile_cont(rpue, 0.5) AS median_rpue,
         quantile_cont(price_per_kg, 0.5) AS median_price_kg,
         CAST(COUNT(*) AS DOUBLE) AS n_submissions
  FROM base GROUP BY 1, 2
),
site AS (
  SELECT district, year_month, metric_type, metric_value
  FROM monthly
  UNPIVOT (metric_value FOR metric_type IN
           (total_catch_kg, median_cpue, median_rpue,
            median_price_kg, n_submissions))
),
gearc AS (
  SELECT district,
         CAST(date_trunc('month', landing_date) AS DATE) AS year_month,
         gear_type, COUNT(*) AS gear_count
  FROM base GROUP BY 1, 2, 3
),
gear AS (
  SELECT district, year_month, 'predominant_gear' AS metric_type,
         CAST(gear_count AS DOUBLE) AS metric_value, gear_type
  FROM (SELECT *, ROW_NUMBER() OVER (
          PARTITION BY district, year_month
          ORDER BY gear_count DESC, gear_type) AS rk
        FROM gearc)
  WHERE rk = 1
),
spec_sum AS (
  SELECT district,
         CAST(date_trunc('month', landing_date) AS DATE) AS year_month,
         catch_taxon, SUM(catch_kg) AS species_catch_kg
  FROM base GROUP BY 1, 2, 3
),
spec_pct AS (
  SELECT *, species_catch_kg
            / SUM(species_catch_kg) OVER (PARTITION BY district, year_month)
            * 100.0 AS species_pct
  FROM spec_sum
),
species AS (
  SELECT district, year_month, 'species_pct' AS metric_type,
         species_pct AS metric_value, catch_taxon AS species,
         CAST(rk AS INTEGER) AS rank
  FROM (SELECT *, ROW_NUMBER() OVER (
          PARTITION BY district, year_month
          ORDER BY species_pct DESC, catch_taxon) AS rk
        FROM spec_pct)
  WHERE rk <= 2
)
SELECT district, year_month, metric_type,
       ROUND(metric_value, 6) AS metric_value,
       CAST(NULL AS VARCHAR) AS gear_type,
       CAST(NULL AS VARCHAR) AS species,
       CAST(NULL AS INTEGER) AS rank
FROM site
UNION ALL
SELECT district, year_month, metric_type, ROUND(metric_value, 6),
       gear_type, CAST(NULL AS VARCHAR), CAST(NULL AS INTEGER)
FROM gear
UNION ALL
SELECT district, year_month, metric_type, ROUND(metric_value, 6),
       CAST(NULL AS VARCHAR), species, rank
FROM species
"""


# ---------------------------------------------------------------------------
# Q: BPE merge training (Sennrich et al. 2016) unrolled — the third
# iterative algorithm under the oracle (after Lloyd's and connected
# components).  Integer counts + literal left-to-right replace on
# separator-framed symbol strings: no floats anywhere, so DuckDB
# replays every iteration bit-exactly via scalar-subquery merge
# application.

_BPE_N = 6


def _bpe_oracle_sql(n_merges: int) -> str:
    s = "\x1f"
    ss = s * 2
    parts = [
        f"""wtab AS (
  SELECT word, COUNT(*) AS weight FROM (
    SELECT unnest(string_split_regex(trim(text), '\\s+')) AS word
    FROM documents)
  WHERE word <> '' GROUP BY word
),
w0 AS MATERIALIZED (
  SELECT '{ss}' || array_to_string(
           list_transform(generate_series(1, length(word)),
                          i -> substr(word, i, 1)), '{ss}') || '{ss}' AS enc,
         weight
  FROM wtab
)"""
    ]
    for k in range(1, n_merges + 1):
        parts.append(
            f"""p{k} AS MATERIALIZED (
  SELECT syms[i] AS l, syms[i + 1] AS r,
         CAST(SUM(weight) AS BIGINT) AS pair_count
  FROM (
    SELECT syms, weight,
           unnest(generate_series(1, len(syms) - 1)) AS i
    FROM (SELECT list_filter(string_split(enc, '{ss}'), x -> x <> '') AS syms,
                 weight
          FROM w{k - 1})
  ) GROUP BY 1, 2
),
m{k} AS MATERIALIZED (
  SELECT l, r, pair_count FROM p{k}
  ORDER BY pair_count DESC, l, r LIMIT 1
),
w{k} AS MATERIALIZED (
  SELECT replace(enc,
                 '{s}' || (SELECT l FROM m{k}) || '{ss}'
                       || (SELECT r FROM m{k}) || '{s}',
                 '{s}' || (SELECT l FROM m{k})
                       || (SELECT r FROM m{k}) || '{s}') AS enc,
         weight
  FROM w{k - 1}
)"""
        )
    selects = "\nUNION ALL\n".join(
        f"SELECT CAST({k} AS INTEGER) AS step, l AS \"left\", r AS \"right\","
        f" pair_count FROM m{k}"
        for k in range(1, n_merges + 1)
    )
    return "WITH " + ",\n".join(parts) + "\n" + selects


SQL_BPE_MERGES = _bpe_oracle_sql(_BPE_N)


# The slow unrolled tier (text.bpe_merge_table) has no row of its own:
# bpe_merges_fast is checked against the unrolled oracle, and the
# cross-tier pytest (test_dedup_similarity_text.py: fast-vs-slow
# 6-merge parity) keeps the slow operator covered.


def q_bpe_merges_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The incremental-trainer tier (text.bpe_merge_table_fast: one
    distributed histogram pass + driver-side pair-delta learning — the
    path that reaches realistic 32k-merge counts) against the SAME
    unrolled-CTE oracle as ``bpe_merges``: the hash-exact match IS the
    cross-tier parity proof, under the driver's gate."""
    from .operators.text import bpe_merge_table_fast

    return bpe_merge_table_fast(_docs(spark, sf_dir), n_merges=_BPE_N).select(
        "step", "left", "right", "pair_count"
    )


# ---------------------------------------------------------------------------
# Q: deterministic stratified train/val/test split — md5-bucketed
# assignment (engine-replayable, reshuffle-proof: a doc's split never
# changes when the corpus grows), audited per (lang, split).  The
# split column is a scan-local expression — zero-shuffle gating, same
# posture as c4_filter.

_SPLIT_SALT = "split"


def q_data_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    bucket = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "_", F.lit(_SPLIT_SALT), F.col("doc_id").cast("string")
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 100
    )
    split = (
        F.when(bucket < 90, F.lit("train"))
        .when(bucket < 95, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return (
        docs.select("lang", split.alias("split"))
        .groupBy("lang", "split")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


SQL_DATA_SPLIT = f"""
WITH assigned AS (
  SELECT lang,
         CASE
           WHEN ('0x' || substr(md5('{_SPLIT_SALT}_' || CAST(doc_id AS VARCHAR)),
                                1, 8))::BIGINT % 100 < 90 THEN 'train'
           WHEN ('0x' || substr(md5('{_SPLIT_SALT}_' || CAST(doc_id AS VARCHAR)),
                                1, 8))::BIGINT % 100 < 95 THEN 'val'
           ELSE 'test'
         END AS split
  FROM documents
)
SELECT lang, split, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM assigned GROUP BY lang, split
"""


# ---------------------------------------------------------------------------
# Q: fertility of the LEARNED tokenizer — closes the tokenizer loop:
# bpe_merges trains the merge table on the corpus; this query applies
# those merges back to every word (expression-only segmentation, zero
# extra shuffle) and audits tokens-per-word per language.  The oracle
# re-learns the merges in its CTE chain and applies them as nested
# literal replaces via scalar subqueries — integers end-to-end.


def q_bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.text import bpe_fertility, bpe_merge_table_fast

    docs = _docs(spark, sf_dir)
    # r14: learn the merges on the FAST tier (one distributed word-
    # histogram pass + driver-side pair-delta learning) instead of the
    # 6-iteration Spark loop (13 eager checkpoint jobs, 5.7 s of build
    # at sf0.1).  Identical merge table by construction: the fast tier
    # is hash-verified against the SAME unrolled-iteration oracle as
    # the slow tier (bpe_merges_fast row) and the 6-merge fast≡slow
    # parity is pytest-pinned; this query's oracle replays the same
    # derivation and stays bit-green.
    merges = [
        (r.left, r.right)
        for r in sorted(
            bpe_merge_table_fast(docs, n_merges=_BPE_N).collect(),
            key=lambda r: r.step,
        )
    ]
    return bpe_fertility(docs, merges)


def _bpe_fertility_sql(n_merges: int) -> str:
    s = "\x1f"
    ss = s * 2
    base = _bpe_oracle_sql(n_merges)
    ctes = base[len("WITH ") : base.rindex("\nSELECT CAST(1")]
    enc = (
        f"'{ss}' || array_to_string(list_transform("
        f"generate_series(1, length(word)), i -> substr(word, i, 1)),"
        f" '{ss}') || '{ss}'"
    )
    for k in range(1, n_merges + 1):
        enc = (
            f"replace({enc}, '{s}' || (SELECT l FROM m{k}) || '{ss}'"
            f" || (SELECT r FROM m{k}) || '{s}',"
            f" '{s}' || (SELECT l FROM m{k})"
            f" || (SELECT r FROM m{k}) || '{s}')"
        )
    return f"""WITH {ctes},
wl AS (
  SELECT lang, unnest(string_split_regex(trim(text), '\\s+')) AS word
  FROM documents
),
segd AS (
  SELECT lang,
         len(list_filter(string_split({enc}, '{ss}'), x -> x <> '')) AS n_sub
  FROM wl WHERE word <> ''
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(n_sub) AS BIGINT) AS n_subwords,
       ROUND(SUM(n_sub) / COUNT(*), 6) AS fertility
FROM segd GROUP BY lang
"""


SQL_BPE_FERTILITY = _bpe_fertility_sql(_BPE_N)


# ---------------------------------------------------------------------------
# Q: DSIR importance weights (Xie et al. 2023) — log-likelihood ratio
# of the English-slice unigram LM vs the whole-corpus LM, per doc.
# Both LMs come from ONE groupBy over the exploded corpus (the target
# counts ride a conditional sum); the vocab-bounded score table is
# force-broadcast into the instance-grain scoring join (the
# unigram_logloss posture).  Per-token terms are nano-quantized
# BIGINTs, so the per-doc sums are order-free and engine-exact.


def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.text import dsir_weights

    docs = _docs(spark, sf_dir)
    return dsir_weights(docs, target_pred=F.col("lang") == "en")


SQL_DSIR_WEIGHTS = r"""
WITH tok AS (
  SELECT doc_id, (lang = 'en') AS tgt,
         unnest(string_split_regex(trim(text), '\s+')) AS token
  FROM documents
),
tok2 AS (SELECT * FROM tok WHERE token <> ''),
counts AS (
  SELECT token, COUNT(*) AS c_all,
         SUM(CASE WHEN tgt THEN 1 ELSE 0 END) AS c_tgt
  FROM tok2 GROUP BY token
),
tot AS (
  SELECT SUM(c_all) AS t_all, SUM(c_tgt) AS t_tgt, COUNT(*) AS vocab
  FROM counts
),
scores AS (
  SELECT token,
         CAST(round((ln((c_tgt + 1) / CAST(t_tgt + vocab AS DOUBLE))
                     - ln(c_all / CAST(t_all AS DOUBLE))) * 1e9) AS BIGINT)
           AS rq
  FROM counts CROSS JOIN tot
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       ROUND(SUM(rq) / 1e9, 6) AS dsir_weight
FROM tok2 JOIN scores USING (token)
GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# Q: α-temperature resampling APPLIED — domain_mix computes the target
# mixture weights; this materializes it by deterministic md5-bucket
# downsampling (largest-boost domain keeps all rows; every other
# domain keeps boost_d/max_boost of its docs).  share^α quantizes to
# nano-units before the normalization sum so the thresholds are
# order-free; membership is an integer bucket-vs-threshold compare
# (the data_split reshuffle-proof rule).


def q_temperature_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    capped = cur_ops.temperature_resample(
        _docs(spark, sf_dir), strata_col="source", alpha=0.7
    )
    return capped.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("_keep"), 1).otherwise(0)).alias("n_kept"),
        F.round(
            F.sum(F.when(F.col("_keep"), 1).otherwise(0)) / F.count(F.lit(1)), 6
        ).alias("frac_kept"),
    )


SQL_TEMPERATURE_RESAMPLE = r"""
WITH tc AS (
  SELECT source,
         SUM(len(string_split_regex(trim(text), '\s+'))) AS nt
  FROM documents GROUP BY source
),
tot AS (SELECT CAST(SUM(nt) AS DOUBLE) AS t FROM tc),
sh AS (SELECT source, nt / t AS share FROM tc CROSS JOIN tot),
sq AS (
  SELECT source, share,
         CAST(round(power(share, 0.7) * 1e9) AS BIGINT) AS swq
  FROM sh
),
ws AS (SELECT SUM(swq) AS wsq FROM sq),
boost AS (
  SELECT source,
         (CAST(swq AS DOUBLE) / CAST(wsq AS DOUBLE)) / share AS b
  FROM sq CROSS JOIN ws
),
mb AS (SELECT MAX(b) AS m FROM boost),
thr AS (
  SELECT source, CAST(round((b / m) * 4294967296.0) AS BIGINT) AS thr
  FROM boost CROSS JOIN mb
),
k AS (
  SELECT d.source,
         (('0x' || substr(md5('mix_' || CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
          < t.thr) AS keep
  FROM documents d JOIN thr t ON d.source = t.source
)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       ROUND(SUM(CASE WHEN keep THEN 1 ELSE 0 END) / CAST(COUNT(*) AS DOUBLE), 6)
         AS frac_kept
FROM k GROUP BY source
"""


def _doc_tokens(
    spark: SparkSession, sf_dir: str, spread: bool = False
) -> DataFrame:
    """(source, token) exploded corpus.  ``spread`` round-robins the
    docs across every core BEFORE the explode (the aug_audit one-file
    scan finding, r14) — a hook here so callers never re-inline the
    tokenization chain just to insert the repartition (ADVICE r14)."""
    docs = _docs(spark, sf_dir)
    if spread:
        docs = docs.repartition(spark.sparkContext.defaultParallelism)
    return (
        docs
        .select("source", F.explode(_tokens("text")).alias("token"))
        .filter(F.col("token") != "")
    )


# r8 consolidation (VERDICT r7 Next #4): hll_distinct + cms_topk merge
# into ONE sketch-audit union row — the shared exploded-token corpus
# materializes once (localCheckpoint, the dup_span_audit precedent)
# and feeds both sketches; both operators stay hash-verified inside
# the normalized (sketch, key, n_exact, estimate) schema.


def q_sketch_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread the DOCS before the exploding checkpoint (r14): the
    # explode and both sketch consumers otherwise ride the single
    # partition a one-file corpus scan produces (the aug_audit finding)
    tok = _doc_tokens(spark, sf_dir, spread=True).localCheckpoint()
    regs = sk_ops.hll_registers(tok, "token", group_cols=["source"])
    est = sk_ops.hll_estimate(regs, group_cols=["source"])
    exact = tok.groupBy("source").agg(
        F.countDistinct("token").alias("n_exact")
    )
    hll = exact.join(est, "source").select(
        F.lit("hll").alias("sketch"),
        F.col("source").alias("key"),
        F.col("n_exact").cast("long").alias("n_exact"),
        F.col("hll_distinct").cast("double").alias("estimate"),
    )
    sketch = sk_ops.cms_sketch(tok, "token")
    top = (
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_exact"))
        .orderBy(F.col("n_exact").desc(), F.col("token").asc())
        .limit(10)
    )
    cms_est = sk_ops.cms_lookup(sketch, top.select("token"), "token")
    cms = top.join(cms_est, "token").select(
        F.lit("cms").alias("sketch"),
        F.col("token").alias("key"),
        F.col("n_exact").cast("long").alias("n_exact"),
        F.col("cms_count").cast("double").alias("estimate"),
    )
    return hll.unionByName(cms)


SQL_SKETCH_AUDIT = r"""
WITH tok AS (
  SELECT source, unnest(string_split_regex(trim(text), '\s+')) AS token
  FROM documents
),
t2 AS (SELECT * FROM tok WHERE token <> ''),
jr AS (
  SELECT source,
         ('0x' || substr(md5('hll_' || token), 1, 2))::INTEGER AS j,
         ('0x' || substr(md5('hll_' || token), 3, 12))::BIGINT AS w
  FROM t2
),
rr AS (
  SELECT source, j,
         MAX(CASE WHEN w = 0 THEN 49 ELSE 49 - length(bin(w)) END) AS r
  FROM jr GROUP BY source, j
),
agg AS (
  SELECT source,
         SUM((1::BIGINT) << (49 - r)) AS sp,
         COUNT(*) AS np
  FROM rr GROUP BY source
),
est AS (
  SELECT source,
         2.6499581405668102e+19 / CAST(sp + (256 - np) * ((1::BIGINT) << 49) AS DOUBLE)
           AS raw,
         256 - np AS v
  FROM agg
),
fin AS (
  SELECT source,
         CASE WHEN raw <= 640.0 AND v > 0
              THEN 256.0 * ln(256.0 / v) ELSE raw END AS e
  FROM est
),
ex AS (
  SELECT source, COUNT(DISTINCT token) AS n_exact FROM t2 GROUP BY source
),
cells AS (
  SELECT t.i,
         ('0x' || substr(md5('cms' || CAST(t.i AS VARCHAR) || '_' || token),
                         1, 2))::INTEGER AS cell
  FROM t2 CROSS JOIN unnest(generate_series(0, 3)) AS t(i)
),
sketch AS (
  SELECT i, cell, CAST(COUNT(*) AS BIGINT) AS n FROM cells GROUP BY i, cell
),
top AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS n_exact
  FROM t2 GROUP BY token
  ORDER BY n_exact DESC, token ASC LIMIT 10
),
probe AS (
  SELECT top.token, top.n_exact, t.i,
         ('0x' || substr(md5('cms' || CAST(t.i AS VARCHAR) || '_' || token),
                         1, 2))::INTEGER AS cell
  FROM top CROSS JOIN unnest(generate_series(0, 3)) AS t(i)
)
SELECT 'hll' AS sketch, ex.source AS key, CAST(n_exact AS BIGINT) AS n_exact,
       ROUND(e, 6) AS estimate
FROM ex JOIN fin USING (source)
UNION ALL
SELECT 'cms', p.token, p.n_exact,
       CAST(MIN(COALESCE(s.n, 0)) AS DOUBLE)
FROM probe p LEFT JOIN sketch s ON p.i = s.i AND p.cell = s.cell
GROUP BY p.token, p.n_exact
"""


# ---------------------------------------------------------------------------
# Q: histogram-sketch quantiles — the single-pass-class approximate
# percentile (two aggregate passes, no per-group sort), estimate error
# ≤ one bin width.  Deterministic IEEE arithmetic end-to-end, so the
# oracle replays the sketch and the hash gate covers it.


def q_hist_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import sketches as _sk

    orders = read_table(spark, sf_dir, "orders")
    return _sk.histogram_quantiles(
        orders, "o_totalprice", group_cols=["o_orderpriority"],
        n_bins=64, quantiles=(0.5, 0.95),
    )


SQL_HIST_QUANTILES = """
WITH rng AS (
  SELECT o_orderpriority AS g, MIN(CAST(o_totalprice AS DOUBLE)) AS lo,
         MAX(CAST(o_totalprice AS DOUBLE)) AS hi,
         COUNT(o_totalprice) AS n
  FROM orders GROUP BY o_orderpriority
),
b AS (
  SELECT o.o_orderpriority AS g, r.lo, r.hi, r.n,
         CASE WHEN r.hi = r.lo THEN 0
              ELSE LEAST(63, CAST(floor(
                (CAST(o.o_totalprice AS DOUBLE) - r.lo) / (r.hi - r.lo) * 64
              ) AS INTEGER))
         END AS bb
  FROM orders o JOIN rng r ON o.o_orderpriority = r.g
),
c AS (
  SELECT g, lo, hi, n, bb, COUNT(*) AS cc FROM b GROUP BY g, lo, hi, n, bb
),
cum AS (
  SELECT *, SUM(cc) OVER (PARTITION BY g ORDER BY bb) AS cm FROM c
),
probe AS (
  SELECT cum.*, qq.q,
         GREATEST(1::BIGINT, CAST(ceil(qq.q * n) AS BIGINT)) AS tgt
  FROM cum CROSS JOIN (SELECT CAST(unnest([0.5, 0.95]) AS DOUBLE) AS q) qq
)
SELECT g AS o_orderpriority, q AS quantile,
       ROUND(lo + (CAST(bb AS DOUBLE)
                   + CAST(tgt - (cm - cc) AS DOUBLE) / CAST(cc AS DOUBLE))
                  * ((hi - lo) / 64), 6) AS estimate
FROM probe WHERE cm >= tgt AND cm - cc < tgt
"""


# ---------------------------------------------------------------------------
# Q: deterministic weighted sampling without replacement (Efraimidis–
# Spirakis A-ES) — 10 docs per source, inclusion odds proportional to
# n_chars; md5-seeded priorities quantized to BIGINT so the sample is
# reshuffle-proof and engine-exact.


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.curation import weighted_sample_topk

    docs = _docs(spark, sf_dir)
    out = weighted_sample_topk(
        docs, k=10, weight_col="n_chars", group_col="source"
    )
    return out.select("source", "doc_id", "n_chars", "priority_q")


SQL_WEIGHTED_SAMPLE = """
WITH s AS (
  SELECT source, doc_id, n_chars,
         CAST(FLOOR(
           ln((('0x' || substr(md5('wsample_' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
               + 0.5) / 4294967296.0)
           * 1000000000.0 / n_chars) AS BIGINT) AS priority_q
  FROM documents
  WHERE n_chars > 0
),
r AS (
  SELECT source, doc_id, n_chars, priority_q,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY priority_q DESC, doc_id ASC) AS rn
  FROM s
)
SELECT source, doc_id, n_chars, priority_q FROM r WHERE rn <= 10
"""


# ---------------------------------------------------------------------------
# Q: ordering/shuffle-quality audit — per-source lag-1 clumping of the
# corpus layout order vs the well-shuffled expectation (the source's
# share).  Sequentially-sharded trainers turn clumped order into
# correlated batches; this measures it.  Adjacency via a pos+1
# self-equi-join, never a global-orderBy window.


def q_mix_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = cur_ops.ordering_mix_audit(
        _docs(spark, sf_dir), group_col="source", pos_col="doc_id"
    )
    return out


SQL_MIX_QUALITY = """
WITH b AS (SELECT doc_id AS pos, source AS g FROM documents),
nx AS (SELECT pos - 1 AS pos, g AS g_next FROM b),
adj AS (
  SELECT b.g, COUNT(*) AS n_pairs_from,
         CAST(SUM(CASE WHEN nx.g_next = b.g THEN 1 ELSE 0 END)
              AS BIGINT) AS n_same
  FROM b JOIN nx USING (pos) GROUP BY b.g
),
tot AS (SELECT g, COUNT(*) AS n_docs FROM b GROUP BY g),
n AS (SELECT COUNT(*) AS n_all FROM b)
SELECT adj.g AS source, n_docs,
       ROUND(CAST(n_docs AS DOUBLE) / n_all, 6) AS share,
       n_pairs_from, n_same,
       ROUND(CAST(n_same AS DOUBLE) / n_pairs_from, 6) AS same_rate,
       ROUND(CAST(n_same * n_all AS DOUBLE)
             / (n_pairs_from * n_docs), 6) AS clump_ratio
FROM adj JOIN tot USING (g), n
"""


# ---------------------------------------------------------------------------
# Q: deterministic corpus shuffle — the training-order permutation.
# The Spark side computes the dense global rank WITHOUT a global sort
# window (range exchange + per-partition row_number + partition-offset
# add-back); the oracle IS the single-node global window.  The
# hash-exact match proves the distributed two-phase ordinal equals the
# global rank bit-for-bit — the strongest possible check on the
# construction.

_SHUFFLE_SALT = "epoch0"


def q_corpus_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = cur_ops.deterministic_shuffle(
        _docs(spark, sf_dir).select("doc_id", "source"),
        "doc_id",
        salt=_SHUFFLE_SALT,
    )
    return out.select("doc_id", F.col("shuffle_pos").cast("long").alias("shuffle_pos"))


SQL_CORPUS_SHUFFLE = f"""
SELECT doc_id,
       CAST(ROW_NUMBER() OVER (
           ORDER BY md5('{_SHUFFLE_SALT}_' || CAST(doc_id AS VARCHAR)), doc_id
       ) - 1 AS BIGINT) AS shuffle_pos
FROM documents
"""


# ---------------------------------------------------------------------------
# Q: int8-quantized retrieval (operators/similarity.py::
# quantize_embeddings_int8 + cosine_topk_int8) — the 4×-cheaper
# embedding-zone tier.  This is the one operator family that CHANGES
# STORED BITS (float32 → tinyint codes + one float scale), so the
# oracle replays the symmetric quantization exactly: max-abs fold →
# float32 scale → half-up rounded codes; ranking then needs only
# integer dot/norm folds (exact BIGINT, order-free) plus two IEEE
# sqrts and one division — bit-reproducible across engines.


def q_ann_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import similarity as sim

    emb = read_table(spark, sf_dir, "embeddings")
    quantized = sim.quantize_embeddings_int8(emb)
    queries = quantized.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding_q"
    )
    return sim.cosine_topk_int8(queries, quantized, k=5)


def _sql_int8_dot(a: str, b: str, dim: int = 64) -> str:
    return (
        f"list_reduce(list_transform(generate_series(1, {dim}),"
        f" i -> CAST({a}[i] AS BIGINT) * CAST({b}[i] AS BIGINT)),"
        f" (x, y) -> x + y)"
    )


SQL_ANN_INT8 = f"""
WITH base AS (
  SELECT vec_id, embedding,
         CAST(list_reduce(list_transform(embedding,
                  x -> abs(CAST(x AS DOUBLE))), (a, b) -> greatest(a, b))
              / 127.0 AS REAL) AS scale
  FROM embeddings
),
codes AS (
  SELECT vec_id,
         CASE WHEN scale > 0 THEN
           list_transform(embedding,
             x -> CAST(round(CAST(x AS DOUBLE) / CAST(scale AS DOUBLE))
                       AS TINYINT))
         ELSE list_transform(embedding, x -> CAST(0 AS TINYINT))
         END AS qc
  FROM base
),
n2 AS (
  SELECT vec_id, qc,
         list_reduce(list_transform(qc, x -> CAST(x AS BIGINT) * CAST(x AS BIGINT)),
                     (a, b) -> a + b) AS nrm2
  FROM codes
),
q AS (
  SELECT vec_id AS query_id, qc AS qqc, nrm2 AS qn2
  FROM n2 WHERE vec_id % 50 = 0 AND nrm2 > 0
),
scored AS (
  SELECT q.query_id, c.vec_id,
         CAST({_sql_int8_dot('q.qqc', 'c.qc')} AS DOUBLE)
         / (sqrt(CAST(q.qn2 AS DOUBLE)) * sqrt(CAST(c.nrm2 AS DOUBLE))) AS cos
  FROM n2 c CROSS JOIN q
  WHERE c.vec_id <> q.query_id AND c.nrm2 > 0
),
ranked AS (
  SELECT query_id, vec_id AS neighbor_id,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank,
         cos
  FROM scored
)
SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank,
       ROUND(cos, 6) AS cosine_q8
FROM ranked WHERE rank <= 5
"""


# ---------------------------------------------------------------------------
# Q: pooled-document retrieval (operators/similarity.py::
# mean_pool_embeddings nano tier + cosine_topk) — chunk embeddings
# mean-pooled back to one vector per document (vec_id div 5 as the
# synthetic chunk→doc map), then brute-cosine top-5 over the POOLED
# corpus.  Pooling accumulates round(val·1e9) BIGINTs (exact for
# float32·1e9 in double: 24 + 30 bits < 53), so the per-position mean
# is the correctly-rounded double of an exact rational and the pooled
# float32 vector is bit-identical on both engines; the cosine is the
# established sequential index-order fold.


def q_pooled_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import similarity as sim

    emb = read_table(spark, sf_dir, "embeddings")
    chunks = emb.select(
        F.expr("vec_id div 5").alias("doc_id"), "embedding"
    )
    pooled = sim.mean_pool_embeddings(chunks, group_col="doc_id", nano_units=True)
    queries = pooled.filter(F.col("doc_id") % 10 == 0).select(
        F.col("doc_id").alias("query_id"), "embedding"
    )
    return sim.cosine_topk(queries, pooled, k=5, corpus_id="doc_id")


def _sql_pool_ann() -> str:
    from .registry_text import _sql_dot, _sql_norm

    return f"""
WITH ex AS (
  SELECT vec_id // 5 AS doc_id, t.i AS pos,
         CAST(round(CAST(embedding[t.i] AS DOUBLE) * 1e9) AS BIGINT) AS nano
  FROM embeddings CROSS JOIN generate_series(1, 64) AS t(i)
),
pool AS (
  SELECT doc_id, pos,
         CAST(CAST(SUM(nano) AS BIGINT) / (COUNT(*) * 1e9) AS REAL) AS m
  FROM ex GROUP BY doc_id, pos
),
vecs AS (
  SELECT doc_id, list(m ORDER BY pos) AS embedding FROM pool GROUP BY doc_id
),
q AS (SELECT doc_id AS query_id, embedding AS qv FROM vecs WHERE doc_id % 10 = 0),
scored AS (
  SELECT q.query_id, c.doc_id,
         {_sql_dot('q.qv', 'c.embedding')}
         / ({_sql_norm('q.qv')} * {_sql_norm('c.embedding')}) AS cos
  FROM vecs c CROSS JOIN q
  WHERE c.doc_id <> q.query_id
),
ranked AS (
  SELECT query_id, doc_id AS neighbor_id,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, doc_id) AS rank,
         cos
  FROM scored
)
SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank,
       ROUND(cos, 6) AS cosine_sim
FROM ranked WHERE rank <= 5
"""


SQL_POOLED_ANN = _sql_pool_ann()


# ---------------------------------------------------------------------------
# Q: token-budget mixture solve (operators/curation.py::
# mixture_budget_closed) — the closed-form water-fill that turns
# per-source token counts + integer target weights + a total budget
# into per-source draw counts with epoch caps (the recipe computation
# behind published LLM data mixes).  r8: closes the last r7
# "pytest-only" operator — the capped/uncapped branch decisions are
# exact BIGINT cross-multiplications and the only float is one λ
# division + one multiply per source, so DuckDB replays the whole
# solve hash-exactly.  Weights derive from the source name
# ((N % 5) + 1) and the budget is 2× the corpus's total tokens with
# max_epochs=3, which caps the high-weight sources and water-fills the
# rest at every SF.

_MIX_EPOCHS = 3


def q_mixture_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.curation import mixture_budget_closed
    from .operators.text import tokens as _tok

    docs = _docs(spark, sf_dir)
    counts = docs.groupBy("source").agg(
        F.sum(F.size(_tok("text"))).cast("long").alias("n_tokens")
    )
    rows = counts.collect()  # source-cardinality: dims-sized collect
    total = sum(int(r.n_tokens) for r in rows)
    weights = {
        r.source: (int(r.source[3:]) % 5) + 1 for r in rows
    }
    return mixture_budget_closed(
        counts, weights, total_budget_tokens=2 * total,
        max_epochs=_MIX_EPOCHS,
    )


SQL_MIXTURE_BUDGET = rf"""
WITH counts AS (
  SELECT source,
         CAST(SUM(len(string_split_regex(trim(text), '\s+'))) AS BIGINT)
           AS n_tokens
  FROM documents GROUP BY source
),
tot AS (SELECT 2 * CAST(SUM(n_tokens) AS BIGINT) AS B FROM counts),
base AS (
  SELECT source, n_tokens,
         CAST((CAST(substr(source, 4) AS INTEGER) % 5) + 1 AS BIGINT) AS weight,
         {_MIX_EPOCHS} * n_tokens AS cap_tokens
  FROM counts
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (
    ORDER BY CAST(cap_tokens AS DOUBLE) / weight ASC, source ASC) AS k
  FROM base
),
ann AS (
  SELECT r.*, tot.B,
         CAST(SUM(cap_tokens) OVER (ORDER BY k) AS BIGINT) AS cap_cum,
         CAST(SUM(weight) OVER (ORDER BY k) AS BIGINT) AS w_cum,
         CAST(SUM(weight) OVER () AS BIGINT) AS w_tot
  FROM ranked r, tot
),
flag AS (
  SELECT *,
         (cap_tokens * (w_tot - w_cum)) <= (B - cap_cum) * weight AS capped
  FROM ann
),
lvl AS (
  SELECT *,
     CAST(COALESCE(SUM(CASE WHEN capped THEN cap_tokens END) OVER (), 0)
          AS BIGINT) AS cap_sum,
     CAST(COALESCE(SUM(CASE WHEN NOT capped THEN weight END) OVER (), 0)
          AS BIGINT) AS w_rest
  FROM flag
),
solved AS (
  SELECT source, n_tokens, weight, cap_tokens, capped,
         CASE WHEN capped THEN cap_tokens
              ELSE CAST(round(
                (CAST(GREATEST(B - cap_sum, 0) AS DOUBLE)
                 / CAST(w_rest AS DOUBLE)) * CAST(weight AS DOUBLE)
              ) AS BIGINT)
         END AS draw_tokens
  FROM lvl
)
SELECT source, n_tokens, weight, cap_tokens, draw_tokens,
       ROUND(CAST(draw_tokens AS DOUBLE) / n_tokens, 6) AS epochs, capped
FROM solved
"""


# ---------------------------------------------------------------------------
# train_shards — token-budget shard assignment over the deterministic
# training order: the Spark side composes deterministic_shuffle (dense
# rank, no global window) with token_shard_ids (distributed prefix sum
# of token counts, no global window); the oracle IS the single-node
# global running-sum window — a hash match proves the two-phase prefix
# sum equals the global cumulative sum bit-for-bit, the corpus_shuffle
# proof extended from ranks to weighted prefix sums.

_SHARD_SALT = "r9shards"
_SHARD_TOKENS = 5_000


def q_train_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import curation as cur_ops
    from .operators.text import token_count

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", token_count("text").cast("long").alias("n_tok")
    )
    # fused shuffle + prefix sum (r14): one range exchange, one
    # checkpoint and one bounded collect produce both shuffle_pos and
    # tok_before — bit-identical to the former deterministic_shuffle →
    # token_shard_ids two-stage pipeline (parity pytest in
    # tests/test_curation.py); the shard id is the same exact BIGINT
    # division token_shard_ids applied
    cum = cur_ops.shuffled_token_cum(
        docs, "doc_id", salt=_SHARD_SALT, tokens_col="n_tok"
    )
    return cum.select(
        "doc_id",
        F.col("shuffle_pos").cast("long").alias("shuffle_pos"),
        "n_tok",
        F.expr(f"tok_before div {int(_SHARD_TOKENS)}").cast("long").alias("shard_id"),
    )


SQL_TRAIN_SHARDS = f"""
WITH t AS (
  SELECT doc_id,
         CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tok,
         md5('{_SHARD_SALT}_' || CAST(doc_id AS VARCHAR)) AS sk
  FROM documents
)
SELECT doc_id,
       CAST(ROW_NUMBER() OVER (ORDER BY sk, doc_id) - 1 AS BIGINT) AS shuffle_pos,
       n_tok,
       CAST(COALESCE(SUM(n_tok) OVER (
           ORDER BY sk, doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
       ), 0) // {_SHARD_TOKENS} AS BIGINT) AS shard_id
FROM t
"""


# ---------------------------------------------------------------------------
# seq_layout — concat-and-split placement over the deterministic
# corpus order.  seq_len is prime so sequence boundaries land inside
# documents of every size (the interesting split cases).

_SEQ_SALT = "seq0"
_SEQ_LEN = 257


def q_seq_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import curation as cur_ops
    from .operators.text import token_count

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", token_count("text").cast("long").alias("n_tok")
    )
    # fused shuffle + prefix sum (r14): one range exchange / checkpoint
    # / bounded collect instead of two — the placement arithmetic below
    # is exactly concat_split_layout's, on the identical tok_before
    # integers (parity pytest in tests/test_curation.py)
    cum = cur_ops.shuffled_token_cum(
        docs, "doc_id", salt=_SEQ_SALT, tokens_col="n_tok"
    )
    L = int(_SEQ_LEN)
    tok = F.col("n_tok").cast("long")
    out = (
        cum.withColumn("seq_id", F.expr(f"tok_before div {L}"))
        .withColumn("seq_offset", F.pmod(F.col("tok_before"), F.lit(L)).cast("long"))
        .withColumn(
            "end_seq",
            F.when(tok > 0, F.expr(f"(tok_before + n_tok - 1) div {L}"))
            .otherwise(F.col("seq_id"))
            .cast("long"),
        )
        .withColumn("n_seqs", (F.col("end_seq") - F.col("seq_id") + 1).cast("long"))
    )
    return out.select(
        "doc_id",
        F.col("shuffle_pos").cast(_L).alias("shuffle_pos"),
        "n_tok",
        "tok_before",
        "seq_id",
        "seq_offset",
        "end_seq",
        "n_seqs",
    )


SQL_SEQ_LAYOUT = f"""
WITH t AS (
  SELECT doc_id,
         CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tok,
         md5('{_SEQ_SALT}_' || CAST(doc_id AS VARCHAR)) AS sk
  FROM documents
),
o AS (
  SELECT doc_id, n_tok,
         CAST(ROW_NUMBER() OVER (ORDER BY sk, doc_id) - 1 AS BIGINT) AS shuffle_pos,
         CAST(COALESCE(SUM(n_tok) OVER (
             ORDER BY sk, doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS BIGINT) AS tok_before
  FROM t
),
s AS (
  SELECT *,
         tok_before // {_SEQ_LEN} AS seq_id,
         tok_before % {_SEQ_LEN} AS seq_offset,
         CASE WHEN n_tok > 0 THEN (tok_before + n_tok - 1) // {_SEQ_LEN}
              ELSE tok_before // {_SEQ_LEN} END AS end_seq
  FROM o
)
SELECT doc_id, shuffle_pos, n_tok, tok_before,
       CAST(seq_id AS BIGINT) AS seq_id,
       CAST(seq_offset AS BIGINT) AS seq_offset,
       CAST(end_seq AS BIGINT) AS end_seq,
       CAST(end_seq - seq_id + 1 AS BIGINT) AS n_seqs
FROM s
"""


# ---------------------------------------------------------------------------
# card_audit — Luhn-validated card redaction under the hard oracle.
# Host text embeds one 16-digit run per doc (4100…+doc_id); consecutive
# integers are Luhn-valid exactly one-in-ten, so validity coverage is
# structural, not hand-picked.  The oracle replays the mod-10 checksum
# digit-by-digit (reverse → alternate doubling → sum) and the literal
# replacement — all exact integer/string work.


def q_card_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.text import luhn_valid, redact_cards

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit("ref "),
            (F.lit(4100000000000000) + F.col("doc_id")).cast("string"),
            F.lit(" end"),
        ).alias("text"),
    )
    out = redact_cards(docs)
    return out.select(
        "doc_id",
        F.col("n_cards").cast(_L).alias("n_cards"),
        "redacted",
        luhn_valid(
            (F.lit(4100000000000000) + F.col("doc_id")).cast("string")
        ).alias("is_valid"),
    )


SQL_CARD_AUDIT = """
WITH t AS (
  SELECT doc_id,
         CAST(4100000000000000 + doc_id AS VARCHAR) AS num,
         'ref ' || CAST(4100000000000000 + doc_id AS VARCHAR) || ' end' AS text
  FROM documents
),
v AS (
  SELECT *,
         (list_reduce(list_transform(generate_series(1, len(num)),
            i -> CASE WHEN i % 2 = 0 THEN
                   CASE WHEN 2 * CAST(substr(reverse(num), i, 1) AS INT) > 9
                        THEN 2 * CAST(substr(reverse(num), i, 1) AS INT) - 9
                        ELSE 2 * CAST(substr(reverse(num), i, 1) AS INT) END
                 ELSE CAST(substr(reverse(num), i, 1) AS INT) END),
            (a, b) -> a + b) % 10 = 0) AS is_valid
  FROM t
)
SELECT doc_id,
       CAST(CASE WHEN is_valid THEN 1 ELSE 0 END AS BIGINT) AS n_cards,
       CASE WHEN is_valid THEN replace(text, num, '[CARD]') ELSE text END
         AS redacted,
       is_valid
FROM v
"""


# ---------------------------------------------------------------------------
# threshold_audit — calibrate_threshold under the hard oracle.  Score =
# (doc_id*37) % 101 (exact small integers as double: one representable
# value per residue), label = score-plus-mod-7-noise rule so every
# confusion cell is populated.  The operator's window runs over ≤101
# DISTINCT scores — the bounded-validation-set shape it documents.


def q_threshold_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.classifier import calibrate_threshold

    scored = read_table(spark, sf_dir, "documents").select(
        ((F.col("doc_id") * 37) % 101).cast(_D).alias("score"),
        F.when(
            ((F.col("doc_id") * 37) % 101) + (F.col("doc_id") % 7) > 55, 1
        )
        .otherwise(0)
        .alias("label"),
    )
    return calibrate_threshold(scored)


SQL_THRESHOLD_AUDIT = """
WITH scored AS (
  SELECT CAST((doc_id * 37) % 101 AS DOUBLE) AS score,
         CASE WHEN ((doc_id * 37) % 101) + (doc_id % 7) > 55
              THEN 1 ELSE 0 END AS label
  FROM documents
),
per AS (
  SELECT score,
         CAST(SUM(CASE WHEN label = 1 THEN 1 ELSE 0 END) AS BIGINT) AS pos,
         CAST(SUM(CASE WHEN label = 1 THEN 0 ELSE 1 END) AS BIGINT) AS neg
  FROM scored GROUP BY score
),
cum AS (
  SELECT score,
         CAST(SUM(pos) OVER w AS BIGINT) AS tp,
         CAST(SUM(neg) OVER w AS BIGINT) AS fp,
         CAST(SUM(pos) OVER () - SUM(pos) OVER w AS BIGINT) AS fn
  FROM per
  WINDOW w AS (ORDER BY score DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT score AS threshold, tp, fp, fn,
       CAST(CASE WHEN tp + fp > 0 THEN (tp * 1000000000) // (tp + fp)
                 ELSE 1000000000 END AS BIGINT) AS precision_nano,
       CAST(CASE WHEN tp + fn > 0 THEN (tp * 1000000000) // (tp + fn)
                 ELSE 1000000000 END AS BIGINT) AS recall_nano,
       CAST(CASE WHEN 2 * tp + fp + fn > 0
                 THEN (2 * tp * 1000000000) // (2 * tp + fp + fn)
                 ELSE 0 END AS BIGINT) AS f1_nano
FROM cum
"""


# ---------------------------------------------------------------------------
# diversity_sample — cluster-balanced diversity sampling
# (``operators.curation.cluster_balanced_sample``, the DataComp-style
# keep-the-topic-mix budget sampler).  Strata are nearest-centroid
# assignments against the FIXED ``vec_id < 8`` shared-centroid table (no
# k-means replay, one assignment pass), quality is analytic
# (``(vec_id·37+11) mod 997``), and the budget is a literal 120, a real
# constraint at every SF.  The oracle replays the assignment, the
# largest-remainder (Hamilton) apportionment in BIGINT arithmetic, and
# the per-cluster quality top-k; any drift in apportionment rounding,
# leftover-seat ranking or tie-breaks hash-mismatches.


_DIVERSITY_BUDGET = 120


def q_diversity_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.curation import cluster_balanced_sample
    from .session import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    docs = emb.select(
        "vec_id",
        "embedding",
        ((F.col("vec_id") * 37 + 11) % 997).cast("long").alias("quality"),
    )
    cents = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").cast("int").alias("centroid_id"),
        F.col("embedding").alias("centroid"),
    )
    out = cluster_balanced_sample(
        docs, cents, budget=_DIVERSITY_BUDGET, quality_col="quality",
        id_col="vec_id",
    )
    return out.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("centroid_id").cast("int").alias("centroid_id"),
        F.col("quality").cast("long").alias("quality"),
    )


def _sql_diversity_sample() -> str:
    from .registry_text import _sql_dot, _sql_norm

    cos = (
        f"({_sql_dot('e.embedding', 'c.centroid')}"
        f" / ({_sql_norm('e.embedding')} * {_sql_norm('c.centroid')}))"
    )
    b = _DIVERSITY_BUDGET
    return f"""
WITH cents AS (
  SELECT CAST(vec_id AS INTEGER) AS centroid_id, embedding AS centroid
  FROM embeddings WHERE vec_id < 8
),
assign AS (
  SELECT vec_id, quality, centroid_id FROM (
    SELECT e.vec_id, CAST((e.vec_id * 37 + 11) % 997 AS BIGINT) AS quality,
           c.centroid_id,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY {cos} DESC, c.centroid_id) AS rk
    FROM embeddings e CROSS JOIN cents c
  ) WHERE rk = 1
),
counts AS (SELECT centroid_id, COUNT(*) AS n FROM assign GROUP BY 1),
tot AS (SELECT CAST(SUM(n) AS BIGINT) AS t FROM counts),
q AS (
  SELECT centroid_id, n,
         CAST({b} AS BIGINT) * n // t AS quota,
         CAST({b} AS BIGINT) * n % t AS rem
  FROM counts, tot
),
qs AS (SELECT CAST(SUM(quota) AS BIGINT) AS qsum FROM q),
alloc AS (
  SELECT centroid_id,
         quota + CASE WHEN ROW_NUMBER() OVER (ORDER BY rem DESC, centroid_id)
                           <= CAST({b} AS BIGINT) - qsum
                      THEN 1 ELSE 0 END AS alloc
  FROM q, qs
),
ranked AS (
  SELECT a.vec_id, a.centroid_id, a.quality, al.alloc,
         ROW_NUMBER() OVER (
           PARTITION BY a.centroid_id
           ORDER BY a.quality DESC, a.vec_id) AS rn
  FROM assign a JOIN alloc al ON a.centroid_id = al.centroid_id
)
SELECT CAST(vec_id AS BIGINT) AS vec_id,
       CAST(centroid_id AS INTEGER) AS centroid_id,
       CAST(quality AS BIGINT) AS quality
FROM ranked WHERE rn <= alloc
"""


# ---------------------------------------------------------------------------
# kmv_audit — the KMV bottom-k sketch (``operators/sketches.py::
# kmv_sketch`` / ``kmv_estimate``).  Two legs cover BOTH estimator
# branches: documents grouped by source (the exact ``n < k`` branch,
# where the sketch IS the distinct hash set) and lineitem grouped by
# return flag (the unbiased ``(k−1)·2^60 / h_k`` branch).  Every sketch
# hash lands under the value hash via posexplode (60-bit md5 integers,
# exact BIGINT on both engines); the estimate's float division rounds
# to 6dp on both sides.


_KMV_K = 64


# ---------------------------------------------------------------------------
# kmv_audit — bottom-k distinct sketches under the hard oracle.


def q_kmv_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sketches import kmv_estimate, kmv_sketch
    from .session import read_table

    docs = read_table(spark, sf_dir, "documents").select(
        F.col("source").alias("grp"), F.col("text").alias("v")
    )
    line = read_table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("grp"),
        F.col("l_orderkey").cast(_S).alias("v"),
    )
    # ONE sketch job over the union of both tables, keyed (tbl, grp)
    # (r14, guide §2.4/§2.6): the former per-table loop ran the full
    # distinct + bottom-k pipeline once per (table × leg) — four
    # computations, then (after the materialization fix) two SERIAL
    # checkpoint jobs, each too small to fill the cluster.  The md5
    # hash depends only on the value, so per-(tbl, grp) bottom-k over
    # the union is bit-identical to per-table bottom-k per grp; one
    # checkpoint materializes every sketch row (k-bounded per group),
    # and both output legs project from it.
    vals = docs.select(F.lit("docs").alias("tbl"), "grp", "v").unionByName(
        line.select(F.lit("line").alias("tbl"), "grp", "v")
    )
    sk = kmv_sketch(
        vals, "v", group_cols=["tbl", "grp"], k=_KMV_K
    ).localCheckpoint()
    h = (
        sk.select("tbl", F.col("grp").cast(_S).alias("grp"), F.posexplode("kmv"))
        .select(
            "tbl",
            F.lit("kmv").alias("stat"),
            "grp",
            (F.col("pos") + 1).cast(_L).alias("pos"),
            F.col("col").cast(_L).alias("hv"),
            F.lit(None).cast(_D).alias("est"),
        )
    )
    e = kmv_estimate(sk).select(
        "tbl",
        F.lit("est").alias("stat"),
        F.col("grp").cast(_S).alias("grp"),
        F.lit(None).cast(_L).alias("pos"),
        F.lit(None).cast(_L).alias("hv"),
        F.col("kmv_distinct").cast(_D).alias("est"),
    )
    return h.unionByName(e)


SQL_KMV_AUDIT = f"""
WITH vals AS (
  SELECT 'docs' AS tbl, source AS grp, CAST(text AS VARCHAR) AS v
  FROM documents
  UNION ALL
  SELECT 'line', l_returnflag, CAST(l_orderkey AS VARCHAR)
  FROM lineitem
),
h AS (
  SELECT DISTINCT tbl, grp,
         ('0x' || substr(md5('kmv_' || v), 1, 15))::BIGINT AS hh
  FROM vals
),
rk AS (
  SELECT tbl, grp, hh,
         ROW_NUMBER() OVER (PARTITION BY tbl, grp ORDER BY hh) AS rn
  FROM h
),
bot AS (SELECT * FROM rk WHERE rn <= {_KMV_K}),
est AS (
  SELECT tbl, grp, COUNT(*) AS n, MAX(hh) AS hk
  FROM bot GROUP BY tbl, grp
)
SELECT tbl, 'kmv' AS stat, CAST(grp AS VARCHAR) AS grp,
       CAST(rn AS BIGINT) AS pos, CAST(hh AS BIGINT) AS hv,
       CAST(NULL AS DOUBLE) AS est
FROM bot
UNION ALL
SELECT tbl, 'est', CAST(grp AS VARCHAR), CAST(NULL AS BIGINT),
       CAST(NULL AS BIGINT),
       round(CASE WHEN n < {_KMV_K} THEN CAST(n AS DOUBLE)
                  ELSE {_KMV_K - 1}.0 * 1152921504606846976.0 / hk END, 6)
FROM est
"""


# ---------------------------------------------------------------------------
# corpus_card — the data-sheet card arithmetic (``plans.report.
# corpus_card_frames``: per-zone count/token/char aggregates plus the
# exact-integer permille retention window).  Zone frames are ANALYTIC
# views of ``documents`` (ingest → length filter → mod-key scrub → pack
# rollup), so the oracle replays every zone's defining predicate, the
# whitespace token count and the ``(a − a % b)/b`` floor-division
# permille in plain SQL.  The ``pos`` ordering literals come from
# ``ZONE_ORDER`` on BOTH sides, so the card's DAG order cannot drift.


def q_corpus_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .plans.report import corpus_card_frames
    from .session import read_table

    # the four zone frames all derive from this one projection —
    # materialize it once (localCheckpoint, the retrieval_audit scan-
    # sharing discipline) so the card pays ONE parquet scan, not four
    docs = (
        read_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .localCheckpoint()
    )
    # analytic zone chain: each zone is a deterministic view of the one
    # before it, so retention permilles are exactly replayable.  The
    # upstream operators these stand in for (quality filter, scrub,
    # packing) each carry their OWN registry rows — this row verifies
    # the CARD arithmetic over the zone frames.
    filtered = docs.filter(F.length("text") >= 50)
    deduped = filtered.filter(F.col("doc_id") % 7 != 0)
    packs = deduped.groupBy((F.col("doc_id") % 8).alias("pack_id")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    card = corpus_card_frames(
        {
            "corpus_ingested": docs,
            "corpus_filtered": filtered,
            "corpus_deduped": deduped,
            "corpus_packs": packs,
        }
    )
    return card.select(
        "pos", "zone", "n_rows", "n_tokens", "n_chars",
        "retained_rows_permille",
    )


def _sql_corpus_card() -> str:
    pos = {z: ZONE_ORDER.index(z) for z in (
        "corpus_ingested", "corpus_filtered", "corpus_deduped", "corpus_packs"
    )}
    ntok = r"SUM(len(string_split_regex(trim(text), '\s+')))"
    return f"""
WITH ingested AS (SELECT doc_id, text FROM documents),
filtered AS (SELECT * FROM ingested WHERE length(text) >= 50),
deduped AS (SELECT * FROM filtered WHERE doc_id % 7 <> 0),
packs AS (SELECT doc_id % 8 AS pack_id, COUNT(*) AS n_docs
          FROM deduped GROUP BY 1),
zones AS (
  SELECT {pos['corpus_ingested']} AS pos, 'corpus_ingested' AS zone,
         COUNT(*) AS n_rows, {ntok} AS n_tokens,
         SUM(length(text)) AS n_chars
  FROM ingested
  UNION ALL
  SELECT {pos['corpus_filtered']}, 'corpus_filtered',
         COUNT(*), {ntok}, SUM(length(text))
  FROM filtered
  UNION ALL
  SELECT {pos['corpus_deduped']}, 'corpus_deduped',
         COUNT(*), {ntok}, SUM(length(text))
  FROM deduped
  UNION ALL
  SELECT {pos['corpus_packs']}, 'corpus_packs',
         COUNT(*), NULL, NULL
  FROM packs
)
SELECT CAST(pos AS INTEGER) AS pos, zone,
       CAST(n_rows AS BIGINT) AS n_rows,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(n_chars AS BIGINT) AS n_chars,
       CAST(CASE WHEN prev IS NOT NULL AND prev > 0 THEN
              (n_rows * 1000 - (n_rows * 1000) % prev) / prev
            END AS BIGINT) AS retained_rows_permille
FROM (SELECT *, LAG(n_rows) OVER (ORDER BY pos) AS prev FROM zones)
"""


# ---------------------------------------------------------------------------
# release_fold — the release-integrity manifest fold under the hard
# oracle.  ``io/parquet_io.py::release_fold``
# groups documents by source and folds the engine-portable md5 row
# fingerprint (15 hex digits → exact integer, summed as DECIMAL(38,0)
# vs HUGEINT — digit-string compared, so no float ever enters).  The
# same arithmetic already has a digit-for-digit DuckDB parity pytest
# (tests/test_io.py::test_md5_fingerprint_fold_duckdb_parity); this row
# carries it to the driver signal.


def q_release_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .io.parquet_io import release_fold
    from .session import read_table

    docs = read_table(spark, sf_dir, "documents")
    return release_fold(docs, ["source"]).select(
        F.col("source").cast("string").alias("source"),
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("content_fp").cast("string").alias("content_fp"),
    )


def _sql_release_fold() -> str:
    # ALL document columns sorted by name, the release_fold contract
    cols = ["doc_id", "lang", "n_chars", "source", "text"]
    key = "concat_ws(chr(31), " + ", ".join(
        f"CAST({c} AS VARCHAR)" for c in sorted(cols)
    ) + ")"
    return f"""
SELECT CAST(source AS VARCHAR) AS source,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(('0x' || substr(md5({key}), 1, 15))
                     AS BIGINT)::HUGEINT) AS VARCHAR) AS content_fp
FROM documents GROUP BY source
"""


# ---------------------------------------------------------------------------
# diff_audit — the row-level release diff (io/parquet_io.py::row_diff)
# under the hard oracle.  "New release" is an ANALYTIC view of
# documents: ids ≡0 mod 11 dropped (→ removed), ids ≡0 mod 7 among the
# survivors get their text rewritten (→ changed), and 25 synthetic
# rows append above the id space (→ added); everything else must be
# ABSENT from the diff.  Statuses are therefore fully determined by id
# arithmetic, so the oracle states them with CASE/UNION — it never
# recomputes a fingerprint, which is exactly the point: the operator's
# md5-multiset machinery must REDISCOVER the analytic truth.


def q_diff_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .io.parquet_io import row_diff
    from .session import read_table

    old = read_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source"
    )
    survivors = old.filter(F.col("doc_id") % 11 != 0)
    modified = survivors.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(F.lit("REVISED "), F.col("text")),
        ).otherwise(F.col("text")),
    )
    added = old.filter(F.col("doc_id") < 25).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.lit("new doc "), F.col("doc_id").cast(_S)).alias("text"),
        F.lit("src_new").alias("source"),
    )
    new = modified.unionByName(added)
    out = row_diff(old, new, ["doc_id"])
    return out.select(
        F.col("doc_id").cast(_L).alias("doc_id"),
        F.col("status").cast(_S).alias("status"),
    )


SQL_DIFF_AUDIT = """
SELECT CAST(doc_id AS BIGINT) AS doc_id, 'removed' AS status
FROM documents WHERE doc_id % 11 = 0
UNION ALL
SELECT CAST(doc_id AS BIGINT), 'changed'
FROM documents WHERE doc_id % 11 <> 0 AND doc_id % 7 = 0
UNION ALL
SELECT CAST(doc_id + 1000000 AS BIGINT), 'added'
FROM documents WHERE doc_id < 25
"""


# ---------------------------------------------------------------------------
# exports

QUERIES = {
    "source_cap": q_source_cap,
    "corpus_diff": q_corpus_diff,
    "token_drift": q_token_drift,
    "ann_pq": q_ann_pq,
    "ann_ivfpq": q_ann_ivfpq,
    "predominant_mode": q_predominant_mode,
    "metrics_table": q_metrics_table,
    "bpe_merges_fast": q_bpe_merges_fast,
    "data_split": q_data_split,
    "bpe_fertility": q_bpe_fertility,
    "dsir_weights": q_dsir_weights,
    "temperature_resample": q_temperature_resample,
    "sketch_audit": q_sketch_audit,
    "hist_quantiles": q_hist_quantiles,
    "weighted_sample": q_weighted_sample,
    "mix_quality": q_mix_quality,
    "corpus_shuffle": q_corpus_shuffle,
    "ann_int8": q_ann_int8,
    "pooled_ann": q_pooled_ann,
    "mixture_budget": q_mixture_budget,
    "train_shards": q_train_shards,
    "seq_layout": q_seq_layout,
    "card_audit": q_card_audit,
    "threshold_audit": q_threshold_audit,
    "diversity_sample": q_diversity_sample,
    "kmv_audit": q_kmv_audit,
    "corpus_card": q_corpus_card,
    "release_fold": q_release_fold,
    "diff_audit": q_diff_audit,
}


def oracle_sql() -> dict[str, str]:
    return {
        "source_cap": SQL_SOURCE_CAP,
        "corpus_diff": SQL_CORPUS_DIFF,
        "token_drift": SQL_TOKEN_DRIFT,
        "ann_pq": SQL_ANN_PQ,
        "ann_ivfpq": SQL_ANN_IVFPQ,
        "predominant_mode": SQL_PREDOMINANT_MODE,
        "metrics_table": SQL_METRICS_TABLE,
        "bpe_merges_fast": SQL_BPE_MERGES,
        "data_split": SQL_DATA_SPLIT,
        "bpe_fertility": SQL_BPE_FERTILITY,
        "dsir_weights": SQL_DSIR_WEIGHTS,
        "temperature_resample": SQL_TEMPERATURE_RESAMPLE,
        "sketch_audit": SQL_SKETCH_AUDIT,
        "hist_quantiles": SQL_HIST_QUANTILES,
        "weighted_sample": SQL_WEIGHTED_SAMPLE,
        "mix_quality": SQL_MIX_QUALITY,
        "corpus_shuffle": SQL_CORPUS_SHUFFLE,
        "ann_int8": SQL_ANN_INT8,
        "pooled_ann": SQL_POOLED_ANN,
        "mixture_budget": SQL_MIXTURE_BUDGET,
        "train_shards": SQL_TRAIN_SHARDS,
        "seq_layout": SQL_SEQ_LAYOUT,
        "card_audit": SQL_CARD_AUDIT,
        "threshold_audit": SQL_THRESHOLD_AUDIT,
        "diversity_sample": _sql_diversity_sample(),
        "kmv_audit": SQL_KMV_AUDIT,
        "corpus_card": _sql_corpus_card(),
        "release_fold": _sql_release_fold(),
        "diff_audit": SQL_DIFF_AUDIT,
    }


UNIONS: dict[str, tuple[str, str]] = {}
