"""Similarity-search queries (SURVEY.md §2.11 X2/X3, §2.8 F5).

Brute-force cosine top-k is the oracle-checked baseline; the scale paths
(LSH-bucketed near-dedup and IVF-style ANN) live in
``bcdp_spark.operators.similarity`` / ``operators.dedup`` and are declared
rows-only (no-oracle) where estimates are not hash-stable.

All vector math stays JVM-side via higher-order functions
(transform / zip_with / aggregate) — no Python UDF in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from bcdp_spark.operators.similarity import flat_dot, flat_sqnorm
from bcdp_spark.queries import register
from bcdp_spark.queries._helpers import davg, davg_sql, utc
from bcdp_spark.tables import table


def _to_double(arr: Column) -> Column:
    return F.transform(arr, lambda x: x.cast("double"))


def sqnorm(a: Column) -> Column:
    return F.aggregate(
        F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
    )


# ---------------------------------------------------------------------------
# X3 — brute-force cosine top-k: broadcast the query vector, JVM-side fold,
# TakeOrderedAndProject for the global top-10. Scale path: IVF/LSH bucketing
# in operators/similarity.py prunes candidates before this exact rerank.
# ---------------------------------------------------------------------------
@register(
    "q_sim_knn",
    oracle="""
SELECT vec_id, ROUND(sim_raw, 6) AS sim
FROM (
  SELECT e.vec_id,
         list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                CAST(q.qe AS DOUBLE[])) AS sim_raw
  FROM embeddings e
  CROSS JOIN (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0) q
)
ORDER BY sim_raw DESC, vec_id
LIMIT 10
""",
)
def q_sim_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    utc(spark)
    emb = table(spark, sf_dir, "embeddings")
    dim = 64  # fixture embedding width (FIXTURES.md); generic path:
    # operators/similarity.py derives it from the data.
    # Precompute the query-vector norm on the broadcast side (1 row).
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qe"),
        F.sqrt(flat_sqnorm("embedding", dim)).alias("q_norm"),
    )
    joined = emb.crossJoin(F.broadcast(q))
    sim_raw = flat_dot("embedding", "qe", dim) / (
        F.sqrt(flat_sqnorm("embedding", dim)) * F.col("q_norm")
    )
    return (
        joined.select("vec_id", sim_raw.alias("sim_raw"))
        .orderBy(F.col("sim_raw").desc(), F.col("vec_id"))
        .limit(10)
        .select("vec_id", F.round("sim_raw", 6).alias("sim"))
    )


# ---------------------------------------------------------------------------
# F5 — array/vector column stats: element access + norms per label class.
# ---------------------------------------------------------------------------
@register(
    "q_embed_stats",
    oracle=f"""
SELECT label,
       COUNT(*) AS n,
       {davg_sql('CAST(embedding[1] AS DOUBLE)', 'avg_c0')},
       ROUND(AVG(sqrt(list_inner_product(CAST(embedding AS DOUBLE[]),
                                         CAST(embedding AS DOUBLE[])))), 6) AS avg_norm
FROM embeddings
GROUP BY label
""",
)
def q_embed_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    utc(spark)
    emb = table(spark, sf_dir, "embeddings")
    a = _to_double(F.col("embedding"))
    norm = F.sqrt(sqnorm(a))
    c0 = F.element_at("embedding", 1).cast("double")
    return (
        emb.select("label", c0.alias("c0"), norm.alias("norm"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            davg(F.col("c0"), "avg_c0"),
            F.round(F.avg("norm"), 6).alias("avg_norm"),
        )
    )


# ---------------------------------------------------------------------------
# X3-adjacent — per-label centroids: element-wise mean of embeddings via
# posexplode → (label, dim) decimal-routed averages. The distributed way
# to compute k centroids over a 100 TB corpus: one generate (map-side),
# one shuffle of (label, dim) partials — never a collect of vectors.
# IVF training (operators/similarity.py) uses exactly this shape.
# ---------------------------------------------------------------------------
@register(
    "q_centroids",
    oracle=f"""
SELECT label, u.i AS i, COUNT(*) AS n,
       ROUND(CAST(CAST(SUM(CAST(CAST(embedding[u.i + 1] AS DOUBLE)
                                AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE)
             / COUNT(*), 6) AS c
FROM embeddings, UNNEST(range(len(embedding))) AS u(i)
GROUP BY label, u.i
""",
)
def q_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    utc(spark)
    emb = table(spark, sf_dir, "embeddings")
    return (
        emb.select(
            "label", F.posexplode(F.col("embedding")).alias("i", "x")
        )
        .select("label", F.col("i").cast("bigint").alias("i"), "x")
        .groupBy("label", "i")
        .agg(
            F.count(F.lit(1)).alias("n"),
            # arbitrary float32 inputs sit ON decimal quantization
            # boundaries (unlike the grid-aligned fixture doubles), so one
            # final round(6) absorbs the engines' tie-breaking drift
            F.round(davg(F.col("x").cast("double"), "c"), 6).alias("c"),
        )
    )


# ---------------------------------------------------------------------------
# X3+ (r4) — join-based Lloyd k-means (operators/similarity.py
# lloyd_kmeans): the clustering step SemDeDup / IVF training runs over
# embeddings, iterated fully in-plan and verified BIT-EXACTLY against a
# DuckDB oracle that unrolls the same two iterations (the
# q_token_pagerank discipline): first-k seeding, argmin over
# bit-identical unrolled squared-L2 doubles, DECIMAL-exact mean updates.
# ---------------------------------------------------------------------------
def _kmeans_oracle(k: int = 4, n_iter: int = 2, dim: int = 64) -> str:
    def sqd(va: str, cb: str) -> str:
        return (
            f"list_sum(list_transform(range(1, {dim + 1}), "
            f"i -> ({va}[i] - {cb}[i]) * ({va}[i] - {cb}[i])))"
        )

    parts = [
        "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v"
        " FROM embeddings),",
        f"c0 AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1"
        f" AS INT) AS cell, v AS c FROM"
        f" (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT {k}))",
    ]
    for t in range(1, n_iter + 1):
        parts.append(
            f", p{t} AS (SELECT e.vec_id, e.v, c.cell, {sqd('e.v', 'c.c')} AS d"
            f" FROM e, c{t - 1} AS c)"
            f", a{t} AS (SELECT vec_id, v, cell FROM"
            f" (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id"
            f" ORDER BY d, cell) AS rn FROM p{t}) WHERE rn = 1)"
            f", m{t} AS (SELECT cell, u.i AS i,"
            f" CAST(CAST(SUM(CAST(v[u.i] AS DECIMAL(28,10))) AS VARCHAR)"
            f" AS DOUBLE) / COUNT(*) AS comp"
            f" FROM a{t}, UNNEST(range(1, {dim + 1})) AS u(i)"
            f" GROUP BY cell, u.i)"
            f", c{t} AS (SELECT cell, list(comp ORDER BY i) AS c"
            f" FROM m{t} GROUP BY cell)"
        )
    n = n_iter
    parts.append(
        f", fin AS (SELECT a.vec_id, a.cell, {sqd('a.v', 'c.c')} AS d2"
        f" FROM a{n} AS a JOIN c{n} AS c USING (cell))"
        " SELECT cell, COUNT(*) AS n_vecs, MIN(vec_id) AS min_vec_id,"
        " ROUND(CAST(CAST(SUM(CAST(d2 AS DECIMAL(28,10))) AS VARCHAR)"
        " AS DOUBLE), 4) AS inertia"
        " FROM fin GROUP BY cell"
    )
    return "".join(parts)


@register("q_kmeans", oracle=_kmeans_oracle())
def q_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bcdp_spark.operators.similarity import lloyd_kmeans
    from bcdp_spark.queries._helpers import DEC

    utc(spark)
    emb = table(spark, sf_dir, "embeddings")
    assigned, _cents = lloyd_kmeans(
        emb, "embedding", "vec_id", k=4, n_iter=2, dim=64
    )
    return assigned.groupBy("cell").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.min("vec_id").alias("min_vec_id"),
        F.round(F.sum(F.col("d2").cast(DEC)).cast("double"), 4).alias(
            "inertia"
        ),
    )


# ---------------------------------------------------------------------------
# X3+ (r4) — product quantization ADC search (operators/similarity.py
# pq_train_encode / pq_adc_topk): the memory-bounded vector-search path
# for 100 TB corpora (codes are m·log2(ksub) bits per vector; the ADC
# scan never touches stored vectors). Verified bit-exactly against a
# DuckDB oracle that unrolls the same train→encode→table-lookup pipeline
# (the q_kmeans discipline: first-k seeding, argmin over bit-identical
# unrolled squared-L2, DECIMAL-exact means and sums).
# ---------------------------------------------------------------------------
def _pq_oracle(m: int = 8, ksub: int = 8, dsub: int = 8) -> str:
    def sqd(va: str, cb: str) -> str:
        return (
            f"list_sum(list_transform(range(1, {dsub + 1}), "
            f"i -> ({va}[i] - {cb}[i]) * ({va}[i] - {cb}[i])))"
        )

    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
sv AS (SELECT vec_id, s.sub AS sub,
              list_transform(range(1, {dsub + 1}),
                             i -> v[s.sub * {dsub} + i]) AS subv
       FROM e, UNNEST(range(0, {m})) AS s(sub)),
seed AS (SELECT vec_id FROM e ORDER BY vec_id LIMIT {ksub}),
c0 AS (SELECT sv.sub,
              CAST(ROW_NUMBER() OVER (PARTITION BY sv.sub
                                      ORDER BY sv.vec_id) - 1 AS INT)
                AS code,
              sv.subv AS c
       FROM sv JOIN seed USING (vec_id)),
p1 AS (SELECT sv.vec_id, sv.sub, sv.subv, c.code,
              {sqd('sv.subv', 'c.c')} AS d
       FROM sv JOIN c0 AS c ON sv.sub = c.sub),
a1 AS (SELECT vec_id, sub, subv, code FROM
       (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                     ORDER BY d, code) AS rn FROM p1)
       WHERE rn = 1),
m1 AS (SELECT sub, code, u.i AS i,
              CAST(CAST(SUM(CAST(subv[u.i] AS DECIMAL(28,10)))
                        AS VARCHAR) AS DOUBLE) / COUNT(*) AS comp
       FROM a1, UNNEST(range(1, {dsub + 1})) AS u(i)
       GROUP BY sub, code, u.i),
c1 AS (SELECT sub, code, list(comp ORDER BY i) AS c
       FROM m1 GROUP BY sub, code),
enc AS (SELECT vec_id, sub, code FROM
        (SELECT sv.vec_id, sv.sub, c.code, {sqd('sv.subv', 'c.c')} AS d,
                ROW_NUMBER() OVER (PARTITION BY sv.vec_id, sv.sub
                                   ORDER BY {sqd('sv.subv', 'c.c')}, c.code)
                  AS rn
         FROM sv JOIN c1 AS c ON sv.sub = c.sub)
        WHERE rn = 1),
q AS (SELECT sub, subv AS qsub FROM sv
      WHERE vec_id = (SELECT MIN(vec_id) FROM e)),
dt AS (SELECT c1.sub, c1.code, {sqd('c1.c', 'q.qsub')} AS d
       FROM c1 JOIN q ON c1.sub = q.sub),
adc AS (SELECT enc.vec_id,
               CAST(CAST(SUM(CAST(dt.d AS DECIMAL(28,10))) AS VARCHAR)
                    AS DOUBLE) AS ad2
        FROM enc JOIN dt ON enc.sub = dt.sub AND enc.code = dt.code
        GROUP BY enc.vec_id)
SELECT vec_id, ROUND(ad2, 4) AS approx_d2
FROM adc ORDER BY ad2, vec_id LIMIT 10
"""


@register("q_pq_adc_knn", oracle=_pq_oracle())
def q_pq_adc_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-ADC 10-NN of the lowest-id vector: train m=8 × ksub=8
    codebooks (one Lloyd iteration), encode the 64-dim corpus to 8
    codes/vector, answer the query from the broadcast distance table
    alone. The exact-rerank composition stays available via
    cosine_topk on the returned candidate ids."""
    from bcdp_spark.operators.similarity import (
        pq_adc_topk,
        pq_train_encode,
        subvectors,
    )

    utc(spark)
    emb = table(spark, sf_dir, "embeddings")
    codes, codebook = pq_train_encode(
        emb, "embedding", "vec_id", dim=64, m=8, ksub=8, n_iter=1
    )
    qsubs = subvectors(
        emb.orderBy("vec_id").limit(1), "embedding", "vec_id", 64, 8
    ).select("sub", F.col("__sv").alias("qsub"))
    res = pq_adc_topk(codes, codebook, qsubs, k=10, dsub=8)
    return res.select(
        "vec_id", F.round("approx_d2", 4).alias("approx_d2")
    )


# ---------------------------------------------------------------------------
# X3++ (r4) — batch kNN join (operators/similarity.py knn_join): top-3
# corpus neighbors for EVERY query vector — the retrieval/contamination
# lookup shape. Exact oracle: full pairwise cosine + window rank in SQL.
# ---------------------------------------------------------------------------
@register(
    "q_knn_join",
    oracle="""
WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
           FROM embeddings WHERE vec_id % 50 <> 0),
c AS (SELECT vec_id AS c_id, CAST(embedding AS DOUBLE[]) AS cv
      FROM embeddings WHERE vec_id % 50 = 0),
p AS (
  -- term-by-term cosine twin of flat_dot/flat_sqnorm (list_sum's
  -- sequential fold == the unrolled left-assoc sum, verified at dim
  -- 64) — list_cosine_similarity's internal formulation is not
  -- guaranteed bit-identical and rank ties break on exact equality
  SELECT q.q_id, c.c_id,
         list_sum(list_transform(range(1, 65), i -> q.qv[i] * c.cv[i]))
         / (sqrt(list_sum(list_transform(range(1, 65),
                                         i -> q.qv[i] * q.qv[i])))
          * sqrt(list_sum(list_transform(range(1, 65),
                                         i -> c.cv[i] * c.cv[i]))))
           AS sim_raw
  FROM q CROSS JOIN c
),
r AS (
  SELECT q_id, c_id, sim_raw,
         ROW_NUMBER() OVER (PARTITION BY q_id
                            ORDER BY sim_raw DESC, c_id) AS rank
  FROM p
)
SELECT q_id, c_id, ROUND(sim_raw, 6) AS sim, rank
FROM r WHERE rank <= 3
""",
)
def q_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch retrieval with the broadcast side being the INDEX (the 2%
    vec_id % 50 == 0 slice — e.g. an eval set for contamination
    lookup), per knn_join's scale contract: the query stream is the
    big side and is never collected or broadcast."""
    from bcdp_spark.operators.similarity import knn_join

    utc(spark)
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 != 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    index = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec")
    )
    res = knn_join(queries, index, k=3, dim=64)
    return res.select(
        "q_id", "c_id", F.round("sim", 6).alias("sim"), "rank"
    )


@register(
    "q_knn_join_ivf",
    oracle="""
WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
           FROM embeddings WHERE vec_id % 50 = 0),
c AS (SELECT vec_id AS c_id, CAST(embedding AS DOUBLE[]) AS cv
      FROM embeddings WHERE vec_id % 50 <> 0),
p AS (
  -- term-by-term cosine twin of flat_cosine_guarded's unrolled
  -- left-assoc fold (the q_knn_join oracle discipline)
  SELECT q.q_id, c.c_id,
         list_sum(list_transform(range(1, 65), i -> q.qv[i] * c.cv[i]))
         / (sqrt(list_sum(list_transform(range(1, 65),
                                         i -> q.qv[i] * q.qv[i])))
          * sqrt(list_sum(list_transform(range(1, 65),
                                         i -> c.cv[i] * c.cv[i]))))
           AS sim_raw
  FROM q CROSS JOIN c
),
r AS (
  SELECT q_id, c_id, sim_raw,
         ROW_NUMBER() OVER (PARTITION BY q_id
                            ORDER BY sim_raw DESC, c_id) AS rank
  FROM p
)
SELECT q_id, c_id, ROUND(sim_raw, 6) AS sim, rank
FROM r WHERE rank <= 3
""",
)
def q_knn_join_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3++ scale path — IVF-probed batch kNN join, graded at
    nprobe = n_cells (r10 upgrade from rows-only): probing every cell
    is structurally exact, so the hash match against the brute-force
    window oracle certifies the whole train → assign → probe-explode →
    cell equi-join → rerank pipeline (the q_ivf_persisted pattern);
    nprobe<n_cells recall stays pytest-proven on separated clusters.
    No cross join on the Spark side: centroid broadcast + cell
    equi-join only (plan-gated)."""
    from bcdp_spark.operators.similarity import knn_join_ivf

    utc(spark)
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    corpus = emb.filter(F.col("vec_id") % 50 != 0).select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec")
    )
    res = knn_join_ivf(
        queries, corpus, k=3, dim=64, n_cells=4, nprobe=4
    )
    return res.select(
        "q_id", "c_id", F.round("sim", 6).alias("sim"), "rank"
    )


# ---------------------------------------------------------------------------
# X3+ (r8) — PERSISTED IVF index: build once (deterministic Lloyd),
# materialize centroids + cell-partitioned vectors as parquet, probe
# across sessions. Graded with nprobe = n_cells so the result equals
# exact brute-force cosine — the oracle is plain SQL — while the
# unit/plan tests pin the nprobe<k partition-pruning behavior the
# index exists for (unprobed cell directories skipped at planning
# time).
# ---------------------------------------------------------------------------
_IVF_DIR = "/tmp/bcdp_spark_ivf_index_fixture_v1"


def _ensure_ivf_index(spark, sf_dir: str) -> str:
    import os

    from bcdp_spark.operators.similarity import ivf_index_build

    tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    path = os.path.join(_IVF_DIR, tag)
    done = os.path.join(path, ".complete")
    if os.path.exists(done):
        return path
    emb = table(spark, sf_dir, "embeddings")
    ivf_index_build(emb, path, k=4, n_iter=2)
    with open(done, "w") as fh:
        fh.write("ok")
    return path


@register(
    "q_ivf_persisted",
    oracle="""
SELECT vec_id, ROUND(sim_raw, 6) AS sim
FROM (
  SELECT e.vec_id,
         list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                CAST(q.qe AS DOUBLE[])) AS sim_raw
  FROM embeddings e
  CROSS JOIN (SELECT embedding AS qe FROM embeddings WHERE vec_id = 7) q
)
ORDER BY ROUND(sim_raw, 6) DESC, vec_id
LIMIT 8
""",
)
def q_ivf_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3+ (r8): the build-once/probe-forever ANN workflow — index
    materialized under /tmp per scale factor, probed with nprobe =
    n_cells (≡ exact cosine, SQL-twinnable); nprobe<k pruning is
    plan-pinned in tests."""
    from bcdp_spark.operators.similarity import ivf_index_probe

    utc(spark)
    path = _ensure_ivf_index(spark, sf_dir)
    q = (
        table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") == 7)
        .select("embedding")
        .collect()[0]["embedding"]
    )  # bounded: the 1-row query vector (the q_sim_knn convention is a
    # broadcast join; a PERSISTED-index probe takes the vector as a
    # plain argument — the caller has it by definition)
    return ivf_index_probe(spark, path, q, topk=8, nprobe=4)


# ---------------------------------------------------------------------------
# X3+ (r9) — INCREMENTAL IVF append: the persisted index grows in
# place as the corpus does (the kerchunk append_refs story for
# vectors). New embeddings assign to the FROZEN centroids in one
# broadcast argmin pass and land as new part files inside their cell
# directories — pre-append files never rewritten, planning-time cell
# pruning unchanged. Graded with nprobe = n_cells (= exact cosine over
# the UNION), so a hash match certifies that build+append together
# hold exactly the full corpus with no loss or duplication.
# ---------------------------------------------------------------------------
_IVFA_DIR = "/tmp/bcdp_spark_ivf_append_fixture_v2"  # v2: median split
# point now computed by percentile_approx (may differ by one id from
# the v1 sorted-collect split — fixture bytes change, so bump)


def _ensure_ivf_appended_index(spark, sf_dir: str) -> str:
    import os

    from bcdp_spark.operators.similarity import (
        ivf_index_append,
        ivf_index_build,
    )

    tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    path = os.path.join(_IVFA_DIR, tag)
    done = os.path.join(path, ".complete")
    if os.path.exists(done):
        return path
    emb = table(spark, sf_dir, "embeddings")
    # median split via a 1-row aggregate — the scale-correct idiom
    # (VERDICT r10: never collect a full id column to find a split
    # point; exact-accuracy percentile_approx is a single distributed
    # pass returning one scalar)
    split = emb.agg(
        F.expr("percentile_approx(vec_id, 0.5, 2147483647)")
    ).collect()[0][0]
    ivf_index_build(emb.filter(F.col("vec_id") < split), path, k=4,
                    n_iter=2)
    ivf_index_append(spark, path,
                     emb.filter(F.col("vec_id") >= split))
    with open(done, "w") as fh:
        fh.write("ok")
    return path


@register(
    "q_ivf_append",
    oracle="""
SELECT vec_id, ROUND(sim_raw, 6) AS sim
FROM (
  SELECT e.vec_id,
         list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                CAST(q.qe AS DOUBLE[])) AS sim_raw
  FROM embeddings e
  CROSS JOIN (SELECT embedding AS qe FROM embeddings WHERE vec_id = 11) q
)
ORDER BY ROUND(sim_raw, 6) DESC, vec_id
LIMIT 8
""",
)
def q_ivf_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3+ (r9): incremental IVF append — index built on the first
    half of the corpus, the second half appended against the frozen
    centroids, probed with nprobe = n_cells (≡ exact cosine over the
    union, SQL-twinnable). Unit tests pin the in-place file behavior
    (pre-append part files untouched) and post-append nprobe<k
    planning-time pruning."""
    from bcdp_spark.operators.similarity import ivf_index_probe

    utc(spark)
    path = _ensure_ivf_appended_index(spark, sf_dir)
    q = (
        table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") == 11)
        .select("embedding")
        .collect()[0]["embedding"]
    )  # bounded: the 1-row query vector
    return ivf_index_probe(spark, path, q, topk=8, nprobe=4)
