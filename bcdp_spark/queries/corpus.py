"""Corpus-curation extensions (SURVEY.md §2.11 X4 family, round 2):
blocklist redaction, boilerplate n-gram detection, vocabulary growth,
inverted-index construction, co-occurrence PMI, bloom-filter semi join,
and embedding scalar quantization.

These extend the mandated LLM-data-pipeline surface with the ops a
production corpus pipeline runs between "raw crawl" and "training
shards": safety scrubbing, template/boilerplate removal, index building,
association mining, and vector compression. All hot paths are JVM
built-ins (split / higher-order functions / hash aggregates); the only
driver materialization is the bloom bitmap (bounded at m/64 longs, see
``operators/bloom.py``).

Scale notes (100 TB): every key here aggregates on a token / n-gram /
(word-index) key — shuffles carry short strings or longs, never document
payloads. The PMI pair join is per-doc-bounded (distinct tokens per doc
is capped by doc length, so the self-join fan-out is O(docs * k²) with
small k, not O(docs²)). The vocabulary-growth cumulative sum windows
over the |buckets|-row aggregate, not the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bcdp_spark.operators.bloom import bloom_semi_join
from bcdp_spark.queries import register
from bcdp_spark.queries._helpers import DEC, davg, davg_sql, dsum, dsum_sql, utc
from bcdp_spark.tables import table

# Redaction blocklist — terms present in the fixture's vocabulary so the
# scrub actually fires (word-soup fixture has no real PII; the operator
# is the same regexp/token gate a PII pass would run with better regexes).
_BLOCK = ("customer", "spark", "vector")
_BLOCK_SQL = "('customer', 'spark', 'vector')"


def _toks(col: str = "text") -> F.Column:
    return F.split(F.col(col), " ")


# ---------------------------------------------------------------------------
# X4e — blocklist redaction with per-source accounting. The rewrite is a
# pure map (no shuffle); only the per-source counters aggregate.
# ---------------------------------------------------------------------------
@register(
    "q_redact_terms",
    oracle=f"""
WITH r AS (
    SELECT source,
           text,
           len(list_filter(string_split(text, ' '),
                           t -> t IN {_BLOCK_SQL})) AS hits,
           array_to_string(
               list_transform(string_split(text, ' '),
                              t -> CASE WHEN t IN {_BLOCK_SQL}
                                        THEN '[X]' ELSE t END),
               ' ') AS red
    FROM documents)
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(hits) AS BIGINT) AS n_redactions,
       CAST(SUM(CASE WHEN hits > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_affected,
       CAST(SUM(LENGTH(text) - LENGTH(red)) AS BIGINT) AS chars_removed
FROM r
GROUP BY source
""",
)
def q_redact_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    utc(spark)
    docs = table(spark, sf_dir, "documents")
    toks = _toks()
    hits = F.size(F.filter(toks, lambda t: t.isin(*_BLOCK)))
    red = F.concat_ws(
        " ",
        F.transform(
            toks, lambda t: F.when(t.isin(*_BLOCK), F.lit("[X]")).otherwise(t)
        ),
    )
    return (
        docs.select(
            "source",
            hits.alias("hits"),
            (F.length("text") - F.length(red)).alias("removed"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("hits").cast("long").alias("n_redactions"),
            F.sum((F.col("hits") > 0).cast("int")).cast("long").alias("docs_affected"),
            F.sum("removed").cast("long").alias("chars_removed"),
        )
    )


# ---------------------------------------------------------------------------
# X4f — boilerplate detection: trigrams shared by many distinct documents
# (doc frequency, not term frequency — a template phrase counts once per
# doc no matter how often it repeats inside). Shuffle key = the trigram.
# ---------------------------------------------------------------------------
@register(
    "q_boilerplate",
    oracle="""
WITH g AS (
    SELECT DISTINCT doc_id, source, gram
    FROM (SELECT doc_id, source,
                 toks[i + 1] || ' ' || toks[i + 2] || ' ' || toks[i + 3] AS gram
          FROM (SELECT doc_id, source, string_split(text, ' ') AS toks
                FROM documents),
               UNNEST(range(len(toks) - 2)) AS u(i)))
SELECT gram,
       COUNT(DISTINCT doc_id) AS n_docs,
       COUNT(DISTINCT source) AS n_sources
FROM g
GROUP BY gram
HAVING COUNT(DISTINCT doc_id) >= 2
ORDER BY n_docs DESC, n_sources DESC, gram
LIMIT 20
""",
)
def q_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    utc(spark)
    docs = table(spark, sf_dir, "documents")
    toks = _toks()
    n = F.size(toks)
    w = F.greatest(n - 2, F.lit(0))
    grams = F.zip_with(
        F.slice(toks, 1, w),
        F.zip_with(
            F.slice(toks, 2, w),
            F.slice(toks, 3, w),
            lambda b, c: F.concat_ws(" ", b, c),
        ),
        lambda a, bc: F.concat_ws(" ", a, bc),
    )
    return (
        docs.select("doc_id", "source", F.explode(grams).alias("gram"))
        .distinct()
        .groupBy("gram")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.countDistinct("source").alias("n_sources"),
        )
        .filter(F.col("n_docs") >= 2)
        .orderBy(F.col("n_docs").desc(), F.col("n_sources").desc(), "gram")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# X4g — vocabulary growth (Heaps-law curve) WITHOUT a quadratic
# cumulative-distinct: each token contributes only its FIRST-seen doc_id
# (one min-agg), buckets count first-occurrences, and the cumulative sum
# windows over the |buckets|-row aggregate.
# ---------------------------------------------------------------------------
@register(
    "q_vocab_growth",
    oracle="""
WITH f AS (
    SELECT token, MIN(doc_id) AS first_doc
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
          FROM documents)
    GROUP BY token),
b AS (
    SELECT CAST(first_doc // 100 AS BIGINT) AS bucket, COUNT(*) AS new_tokens
    FROM f GROUP BY bucket)
SELECT bucket,
       CAST(new_tokens AS BIGINT) AS new_tokens,
       CAST(SUM(new_tokens) OVER (ORDER BY bucket
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                           AND CURRENT ROW) AS BIGINT) AS cum_vocab
FROM b
""",
)
def q_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    utc(spark)
    docs = table(spark, sf_dir, "documents")
    first = (
        docs.select("doc_id", F.explode(_toks()).alias("token"))
        .groupBy("token")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    buckets = (
        first.select(F.floor(F.col("first_doc") / 100).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("new_tokens"))
    )
    # cumulative sum over the tiny bucket aggregate (|buckets| rows),
    # not the corpus — a global window here is O(buckets), safe at scale.
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    return buckets.select(
        "bucket",
        F.col("new_tokens").cast("long").alias("new_tokens"),
        F.sum("new_tokens").over(w).cast("long").alias("cum_vocab"),
    )


# ---------------------------------------------------------------------------
# X4h — inverted index: token → document-frequency + first-10 posting
# list. collect_list is bounded per token by df; the emitted posting
# string is capped at 10 ids. Shuffle key = token.
# ---------------------------------------------------------------------------
@register(
    "q_inverted_index",
    oracle="""
WITH p AS (
    SELECT DISTINCT doc_id, token
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
          FROM documents)),
a AS (
    SELECT token, COUNT(*) AS df, list(doc_id ORDER BY doc_id) AS ids
    FROM p GROUP BY token)
SELECT token,
       CAST(df AS BIGINT) AS df,
       array_to_string(list_transform(ids[1:10], x -> CAST(x AS VARCHAR)),
                       ',') AS postings
FROM a
ORDER BY df DESC, token
LIMIT 20
""",
)
def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    utc(spark)
    docs = table(spark, sf_dir, "documents")
    pairs = docs.select("doc_id", F.explode(_toks()).alias("token")).distinct()
    postings = F.concat_ws(
        ",",
        F.transform(
            F.slice(F.sort_array(F.collect_list("doc_id")), 1, 10),
            lambda x: x.cast("string"),
        ),
    )
    return (
        pairs.groupBy("token")
        .agg(F.count(F.lit(1)).alias("df"), postings.alias("postings"))
        .select("token", F.col("df").cast("long").alias("df"), "postings")
        .orderBy(F.col("df").desc(), "token")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# X4i — token co-occurrence PMI. The pair generator self-joins the
# DISTINCT (doc, token) set on doc_id with tok_a < tok_b: fan-out is
# O(docs × k²) where k = distinct tokens per doc (bounded by doc length),
# never O(docs²). df lookups broadcast (|vocab| rows).
# ---------------------------------------------------------------------------
@register(
    "q_cooccurrence",
    oracle="""
WITH p AS (
    SELECT DISTINCT doc_id, token
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
          FROM documents)),
d AS (SELECT token, COUNT(*) AS df FROM p GROUP BY token),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
pairs AS (
    SELECT a.token AS tok_a, b.token AS tok_b, COUNT(*) AS pair_docs
    FROM p a JOIN p b ON a.doc_id = b.doc_id AND a.token < b.token
    GROUP BY tok_a, tok_b)
SELECT tok_a, tok_b,
       CAST(pair_docs AS BIGINT) AS pair_docs,
       ROUND(LN(CAST(pair_docs AS DOUBLE) * n_docs / (da.df * db.df)), 6) AS pmi
FROM pairs
JOIN d da ON tok_a = da.token
JOIN d db ON tok_b = db.token
CROSS JOIN n
ORDER BY pair_docs DESC, tok_a, tok_b
LIMIT 20
""",
)
def q_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    utc(spark)
    docs = table(spark, sf_dir, "documents")
    p = docs.select("doc_id", F.explode(_toks()).alias("token")).distinct()
    d = p.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    a = p.select("doc_id", F.col("token").alias("tok_a"))
    b = p.select("doc_id", F.col("token").alias("tok_b"))
    pairs = (
        a.join(b, "doc_id")
        .filter(F.col("tok_a") < F.col("tok_b"))
        .groupBy("tok_a", "tok_b")
        .agg(F.count(F.lit(1)).alias("pair_docs"))
    )
    return (
        pairs.join(F.broadcast(d.withColumnRenamed("df", "df_a")),
                   pairs.tok_a == F.col("token")).drop("token")
        .join(F.broadcast(d.withColumnRenamed("df", "df_b")),
              F.col("tok_b") == F.col("token")).drop("token")
        .crossJoin(F.broadcast(n))
        .select(
            "tok_a",
            "tok_b",
            F.col("pair_docs").cast("long").alias("pair_docs"),
            F.round(
                F.log(
                    F.col("pair_docs").cast("double")
                    * F.col("n_docs")
                    / (F.col("df_a") * F.col("df_b"))
                ),
                6,
            ).alias("pmi"),
        )
        .orderBy(F.col("pair_docs").desc(), "tok_a", "tok_b")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# J9 — bloom-filter semi join: orders kept only if their customer clears
# a selective balance gate. The bloom bitmap kills non-matching orders
# map-side BEFORE the join exchange; the exact semi join then guarantees
# the answer (oracle = plain IN-subquery semi join).
# ---------------------------------------------------------------------------
@register(
    "q_bloom_semi_join",
    oracle=f"""
SELECT o_orderstatus,
       COUNT(*) AS n_orders,
       {dsum_sql('o_totalprice', 'revenue')}
FROM orders
WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 9000)
GROUP BY o_orderstatus
""",
)
def q_bloom_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    utc(spark)
    orders = table(spark, sf_dir, "orders")
    rich = table(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 9000)
    kept = bloom_semi_join(orders, rich, "o_custkey", "c_custkey")
    return kept.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum(F.col("o_totalprice"), "revenue"),
    )


# ---------------------------------------------------------------------------
# X3b — scalar quantization (PQ-lite): per-dimension symmetric int8
# codes with max-abs scaling. Per-dim stats are a 64-row aggregate,
# broadcast back; the code assignment is a pure map. code_mass is an
# exact integer invariant; avg_err routes through DECIMAL so partial-agg
# order cannot move it.
# ---------------------------------------------------------------------------
@register(
    "q_vec_quantize",
    oracle="""
WITH ex AS (
    SELECT label, u.i AS pos, CAST(embedding[u.i + 1] AS DOUBLE) AS val
    FROM embeddings, UNNEST(range(len(embedding))) AS u(i)),
s AS (SELECT pos, MAX(ABS(val)) AS max_abs FROM ex GROUP BY pos),
q AS (
    SELECT label, val, max_abs,
           CAST(ROUND(val * 127.0 / max_abs) AS INTEGER) AS code
    FROM ex JOIN s USING (pos))
SELECT label,
       COUNT(*) AS n_values,
       CAST(SUM(ABS(code)) AS BIGINT) AS code_mass,
       ROUND(CAST(CAST(SUM(CAST(ABS(val - code * max_abs / 127.0)
                                AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE)
             / COUNT(*), 9) AS avg_err
FROM q
GROUP BY label
""",
)
def q_vec_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    utc(spark)
    emb = table(spark, sf_dir, "embeddings")
    ex = emb.select(
        "label", F.posexplode("embedding").alias("pos", "v")
    ).select("label", "pos", F.col("v").cast("double").alias("val"))
    stats = ex.groupBy("pos").agg(F.max(F.abs(F.col("val"))).alias("max_abs"))
    code = F.round(F.col("val") * 127.0 / F.col("max_abs")).cast("int")
    q = ex.join(F.broadcast(stats), "pos").select(
        "label",
        "val",
        "max_abs",
        code.alias("code"),
    )
    err = F.abs(F.col("val") - F.col("code") * F.col("max_abs") / 127.0)
    return q.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_values"),
        F.sum(F.abs(F.col("code"))).cast("long").alias("code_mass"),
        F.round(
            (F.sum(err.cast(DEC)).cast("double") / F.count(F.lit(1))), 9
        ).alias("avg_err"),
    )


# ---------------------------------------------------------------------------
# X2f — semantic dedup (SemDeDup-shape): block vectors into sign-bit
# cells, compute exact pairwise cosine ONLY within a cell, drop every
# vector that has a smaller-id neighbor above the similarity threshold.
# The public SemDeDup recipe (Abbas et al. 2023) clusters with k-means
# and deduplicates within clusters; the cell here is the cheapest
# deterministic stand-in (sign bits of the leading dimensions — a
# random-hyperplane LSH with axis-aligned planes), which keeps the
# oracle SQL exact. operators/similarity.py holds the trained-centroid
# (IVF) assignment for the k-means-faithful variant.
#
# Scale (100 TB): the self-join key is the cell id — with b sign bits
# there are 2^b cells, so the pair count per cell is (n/2^b)^2/2, not
# n^2/2. At fixture scale b=4; at corpus scale you raise b (16-24 bits)
# so cells stay ~1k vectors, and AQE skew-split handles hot cells.
# Shuffle payload is (vec_id, 64 floats) — no document text moves.
# Cosine stays in whole-stage codegen via the unrolled flat_dot
# (queries/similarity.py); threshold 0.42 sits >2.7e-3 from every
# fixture pair's cosine, so the float boundary cannot flip a decision.
# ---------------------------------------------------------------------------
_CELL_SQL = """
    (CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END)
  + (CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END)
  + (CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END)
  + (CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END)
"""


@register(
    "q_semantic_dedup",
    oracle=f"""
WITH e AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
           {_CELL_SQL} AS cell
    FROM embeddings),
cells AS (SELECT cell, COUNT(*) AS n_vectors FROM e GROUP BY cell),
dups AS (
    SELECT a.cell, a.vec_id AS keep_id, b.vec_id AS drop_id
    FROM e a JOIN e b ON a.cell = b.cell AND a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.emb, b.emb) >= 0.42),
d AS (
    SELECT cell, COUNT(*) AS n_dup_pairs,
           COUNT(DISTINCT drop_id) AS n_dropped
    FROM dups GROUP BY cell)
SELECT c.cell, c.n_vectors,
       COALESCE(d.n_dup_pairs, 0) AS n_dup_pairs,
       COALESCE(d.n_dropped, 0) AS n_dropped,
       c.n_vectors - COALESCE(d.n_dropped, 0) AS n_kept
FROM cells c LEFT JOIN d ON c.cell = d.cell
""",
)
def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bcdp_spark.operators.similarity import flat_dot, flat_sqnorm

    utc(spark)
    dim = 64  # fixture embedding width (FIXTURES.md)
    cell = (
        F.when(F.element_at("embedding", 1) > 0, 1).otherwise(0)
        + F.when(F.element_at("embedding", 2) > 0, 2).otherwise(0)
        + F.when(F.element_at("embedding", 3) > 0, 4).otherwise(0)
        + F.when(F.element_at("embedding", 4) > 0, 8).otherwise(0)
    )
    # r12: the norm is a per-VECTOR quantity — hoist it out of the
    # per-pair expression (n·m sqnorm evals → n; bit-identical doubles,
    # same unrolled left-assoc sum on the same rows), and run the cell
    # self-join as a shuffle join: scale-true (the corpus side never
    # broadcasts at 100 TB) and the two sides are the identical
    # exchange subtree, so the cell/norm lineage materializes once
    # (the dedup.py self-join discipline).
    e = (
        table(spark, sf_dir, "embeddings")
        .select(
            "vec_id",
            "embedding",
            cell.alias("cell"),
            F.sqrt(flat_sqnorm("embedding", dim)).alias("__nrm"),
        )
    )
    cells = e.groupBy("cell").agg(F.count(F.lit(1)).alias("n_vectors"))
    a = e.select(
        "cell", F.col("vec_id").alias("ida"),
        F.col("embedding").alias("ea"), F.col("__nrm").alias("na"),
    )
    b = e.select(
        "cell", F.col("vec_id").alias("idb"),
        F.col("embedding").alias("eb"), F.col("__nrm").alias("nb"),
    )
    cos = flat_dot("ea", "eb", dim) / (F.col("na") * F.col("nb"))
    dups = (
        a.join(b.hint("shuffle_hash"), "cell")
        .filter(F.col("ida") < F.col("idb"))
        .filter(cos >= 0.42)
    )
    d = dups.groupBy("cell").agg(
        F.count(F.lit(1)).alias("n_dup_pairs"),
        F.countDistinct("idb").alias("n_dropped"),
    )
    return (
        cells.join(d, "cell", "left")
        .select(
            "cell",
            "n_vectors",
            F.coalesce("n_dup_pairs", F.lit(0)).alias("n_dup_pairs"),
            F.coalesce("n_dropped", F.lit(0)).alias("n_dropped"),
            (F.col("n_vectors") - F.coalesce("n_dropped", F.lit(0))).alias(
                "n_kept"
            ),
        )
    )


# ---------------------------------------------------------------------------
# X4f — quality classifier: an in-plan linear model over cheap text
# features, squashed with the algebraic "fast sigmoid" x/(1+|x|)
# (pure +,*,/,| | arithmetic — bit-identical across engines, unlike
# exp(), whose libm ulp drift could flip a decile at the boundary).
# Weights are illustrative constants; a trained model would broadcast
# its coefficient row and compute the same expression. The whole
# classifier is a narrow map — zero shuffles before the decile rollup.
# ---------------------------------------------------------------------------
_QC_Z = (
    "(-1.5 + 2.5 * stop_ratio + 0.02 * avg_tok_len + 0.001 * n_tok)"
)


@register(
    "q_quality_classifier",
    oracle=f"""
WITH f AS (
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_tok,
           len(list_filter(string_split(text, ' '),
                           t -> t IN ('the', 'a', 'of', 'and'))) AS n_stop,
           length(replace(text, ' ', '')) AS n_alpha
    FROM documents),
z AS (
    SELECT doc_id,
           CAST(n_stop AS DOUBLE) / n_tok AS stop_ratio,
           CAST(n_alpha AS DOUBLE) / n_tok AS avg_tok_len,
           n_tok
    FROM f WHERE n_tok > 0),
s AS (
    SELECT doc_id,
           0.5 * (1 + {_QC_Z} / (1 + abs({_QC_Z}))) AS score
    FROM z)
SELECT CAST(least(floor(score * 10), 9) AS INTEGER) AS bucket,
       COUNT(*) AS n_docs,
       {davg_sql('score', 'avg_score')}
FROM s
GROUP BY bucket
""",
)
def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    utc(spark)
    docs = table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    f = docs.select(
        "doc_id",
        F.size(toks).alias("n_tok"),
        F.size(
            F.filter(toks, lambda t: t.isin("the", "a", "of", "and"))
        ).alias("n_stop"),
        F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).alias(
            "n_alpha"
        ),
    ).filter(F.col("n_tok") > 0)
    z = (
        F.lit(-1.5)
        + F.lit(2.5) * (F.col("n_stop").cast("double") / F.col("n_tok"))
        + F.lit(0.02) * (F.col("n_alpha").cast("double") / F.col("n_tok"))
        + F.lit(0.001) * F.col("n_tok")
    )
    score = F.lit(0.5) * (F.lit(1) + z / (F.lit(1) + F.abs(z)))
    return (
        f.select(
            F.least(F.floor(score * 10), F.lit(9)).cast("int").alias("bucket"),
            score.alias("score"),
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_docs"), davg(F.col("score"), "avg_score"))
    )


# ---------------------------------------------------------------------------
# X4g — training-data mixture planning: per-source token accounting, then
# a budgeted allocation (here: half the corpus tokens, split uniformly
# across sources, capped at what each source actually has) and the
# per-source sampling rate that realizes it. This is the planning half of
# data mixing (the sampling half is q_hash_sample / q_stratified_sample:
# apply rate r to source s by keeping docs with hash(doc_id) mod M < r*M).
#
# Determinism: token counts are BIGINT; the budget and per-source target
# use integer division only (total div 2 div n_sources), so the sole
# float ops are two BIGINT/BIGINT divisions — single correctly-rounded
# IEEE ops, bit-identical across engines. No decimal routing needed.
#
# Scale (100 TB): the fact-table work is one narrow map (regexp count)
# with map-side partial aggregation into |sources| groups — documents is
# scanned exactly ONCE (plan-gated). The corpus totals come from an
# unpartitioned window over the |sources|-row AGGREGATE, never the fact
# table (the q_ratio_to_report pattern); a broadcast-cross of a separate
# totals aggregate would recompute the scan. The plan survives 1000
# executors unchanged.
# ---------------------------------------------------------------------------
@register(
    "q_data_mixture",
    oracle="""
WITH tok AS (
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(len(regexp_extract_all(text, '[a-z]+|[0-9]+'))) AS BIGINT)
               AS n_tokens
    FROM documents GROUP BY source),
tot AS (
    SELECT CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           COUNT(*) AS n_sources
    FROM tok)
SELECT source, n_docs, n_tokens,
       CAST(n_tokens AS DOUBLE) / total_tokens AS token_share,
       least(CAST(1 AS DOUBLE),
             CAST((total_tokens // 2) // n_sources AS DOUBLE) / n_tokens)
           AS sample_rate,
       least(n_tokens, (total_tokens // 2) // n_sources) AS alloc_tokens
FROM tok, tot
""",
)
def q_data_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    utc(spark)
    docs = table(spark, sf_dir, "documents")
    n_tok = F.regexp_count(F.col("text"), F.lit("[a-z]+|[0-9]+"))
    tok = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(n_tok).cast("long").alias("n_tokens"),
    )
    w = Window.partitionBy()  # over the |sources|-row aggregate only
    tot = F.sum("n_tokens").over(w).cast("long")
    target = F.expr(
        "(CAST(sum(n_tokens) OVER () AS BIGINT) div 2) div count(1) OVER ()"
    )
    return tok.select(
        "source",
        "n_docs",
        "n_tokens",
        (F.col("n_tokens").cast("double") / tot.cast("double")).alias(
            "token_share"
        ),
        F.least(
            F.lit(1.0), target.cast("double") / F.col("n_tokens")
        ).alias("sample_rate"),
        F.least(F.col("n_tokens"), target).alias("alloc_tokens"),
    )


# ---------------------------------------------------------------------------
# X4h2 — fixed-size per-stratum sampling (reservoir semantics, made
# deterministic): exactly k documents per language, selected by md5 rank
# with doc_id tiebreak. Unlike the rate-based q_hash_sample this
# guarantees the sample SIZE — the shape used to fill a fixed token
# budget per language/domain in a training mix.
#
# Scale (100 TB): one shuffle on the stratum key, per-stratum window
# over md5 order (strata are language buckets — thousands at most, each
# internally parallel after AQE skew-split; for pathological single-hot
# strata the two-phase top-k in operators/totalorder.py is the escape
# hatch). The md5 rank makes the sample invariant to partitioning,
# file order, and cluster size — re-runs on different layouts pick the
# SAME documents, which is what makes holdout reproducible.
# ---------------------------------------------------------------------------
@register(
    "q_reservoir_sample",
    oracle="""
WITH ranked AS (
    SELECT lang, doc_id, n_chars,
           ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
    FROM documents)
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sample_chars,
       CAST(MIN(doc_id) AS BIGINT) AS min_doc_id
FROM ranked WHERE rn <= 40
GROUP BY lang
""",
)
def q_reservoir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    utc(spark)
    docs = table(spark, sf_dir, "documents")
    rank_key = F.md5(F.col("doc_id").cast("string").cast("binary"))
    w = Window.partitionBy("lang").orderBy(rank_key, F.col("doc_id"))
    return (
        docs.select("lang", "doc_id", "n_chars")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 40)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sample_chars"),
            F.min("doc_id").alias("min_doc_id"),
        )
    )


# ---------------------------------------------------------------------------
# X2+ — substring-level duplication signal (exact-substring-dedup family,
# Lee et al. 2022 suffix-array spans; Spark-first: word 5-grams + one
# windowed corpus count). Operator: operators/dedup.py
# repeated_ngram_doc_stats. rep_frac = fraction of a doc's 5-gram
# positions repeated >=2 times corpus-wide.
# ---------------------------------------------------------------------------
@register(
    "q_repeated_ngrams",
    oracle="""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
g AS (
  SELECT doc_id, array_to_string(list_slice(toks, i, i + 4), ' ') AS gram
  FROM t, UNNEST(range(1, GREATEST(len(toks) - 5 + 2, 1))) AS u(i)
),
c AS (
  SELECT doc_id, COUNT(*) OVER (PARTITION BY gram) AS cnt FROM g
)
SELECT doc_id,
       COUNT(*) AS n_grams,
       COUNT(CASE WHEN cnt >= 2 THEN 1 END) AS n_rep,
       ROUND(COUNT(CASE WHEN cnt >= 2 THEN 1 END) / COUNT(*), 6) AS rep_frac
FROM c GROUP BY doc_id
""",
)
def q_repeated_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bcdp_spark.operators.dedup import repeated_ngram_doc_stats

    utc(spark)
    docs = table(spark, sf_dir, "documents")
    return repeated_ngram_doc_stats(
        docs, "text", "doc_id", k=5, min_count=2
    )


# ---------------------------------------------------------------------------
# X2+ (r4) — span-REMOVAL half of exact-substring dedup (Lee et al.
# 2022, remove-all-copies variant): token positions covered by a word
# 5-gram present in >= 2 distinct docs are stripped and the text
# re-assembled. Operator: operators/dedup.py strip_duplicated_spans.
# ---------------------------------------------------------------------------
@register(
    "q_span_dedup",
    oracle="""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
g AS (
  SELECT doc_id, i, array_to_string(list_slice(toks, i, i + 4), ' ') AS gram
  FROM t, UNNEST(range(1, GREATEST(len(toks) - 5 + 2, 1))) AS u(i)
),
dup AS (
  SELECT gram FROM g GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2
),
cov AS (
  SELECT DISTINCT g.doc_id, g.i + v.d AS pos
  FROM g JOIN dup USING (gram), UNNEST(range(0, 5)) AS v(d)
),
tok AS (
  SELECT t.doc_id, len(t.toks) AS n_tokens, r.i AS pos, t.toks[r.i] AS tok
  FROM t, UNNEST(range(1, len(t.toks) + 1)) AS r(i)
),
kept AS (
  SELECT tok.* FROM tok
  LEFT JOIN cov ON tok.doc_id = cov.doc_id AND tok.pos = cov.pos
  WHERE cov.pos IS NULL
),
rebuilt AS (
  SELECT doc_id, n_tokens, COUNT(*) AS n_kept,
         array_to_string(list(tok ORDER BY pos), ' ') AS cleaned_text
  FROM kept GROUP BY doc_id, n_tokens
)
SELECT b.doc_id,
       b.n_tokens,
       CAST(b.n_tokens - COALESCE(r.n_kept, 0) AS BIGINT) AS n_removed,
       COALESCE(r.cleaned_text, '') AS cleaned_text
FROM (SELECT doc_id, len(toks) AS n_tokens FROM t) b
LEFT JOIN rebuilt r USING (doc_id)
""",
)
def q_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bcdp_spark.operators.dedup import strip_duplicated_spans

    utc(spark)
    docs = table(spark, sf_dir, "documents")
    return strip_duplicated_spans(docs, "text", "doc_id", k=5, min_docs=2)


# ---------------------------------------------------------------------------
# EXT sampling — deterministic train/val/test hash split (operators/
# split.py): label is a pure expression of md5(doc_id), so assignment is
# partition-invariant, engine-identical, and stable under corpus growth
# (no train/test leakage across dataset versions). No shuffle, no join.
# ---------------------------------------------------------------------------
def _hash_split_oracle() -> str:
    from bcdp_spark.operators.split import split_sql

    return f"""
SELECT {split_sql('doc_id')} AS split, lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       MIN(doc_id) AS min_doc_id
FROM documents
GROUP BY 1, 2
"""


@register("q_hash_split", oracle=_hash_split_oracle())
def q_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bcdp_spark.operators.split import hash_split

    utc(spark)
    docs = table(spark, sf_dir, "documents")
    return (
        hash_split(docs, "doc_id")
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.min("doc_id").alias("min_doc_id"),
        )
    )


# ---------------------------------------------------------------------------
# EXT sampling — token-budget corpus selection: per source, take docs in
# (quality-proxy, tiebreak) order until a cumulative size budget is hit.
# One window over the source partition (running sum), no joins; at scale
# the cumsum shuffles once on source — the standard "data selection
# under a token budget" step of a training-data pipeline.
# ---------------------------------------------------------------------------
@register(
    "q_token_budget_select",
    oracle="""
WITH scored AS (
  SELECT doc_id, source, n_chars,
         SUM(n_chars) OVER (
           PARTITION BY source
           ORDER BY n_chars DESC, doc_id
           ROWS UNBOUNDED PRECEDING) AS cum_chars
  FROM documents
)
SELECT source,
       COUNT(*) AS n_sel,
       CAST(SUM(n_chars) AS BIGINT) AS chars_sel,
       CAST(MAX(cum_chars) AS BIGINT) AS budget_used,
       MIN(doc_id) AS min_doc_id
FROM scored
WHERE cum_chars <= 20000
GROUP BY source
""",
)
def q_token_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    utc(spark)
    docs = table(spark, sf_dir, "documents")
    w = (
        Window.partitionBy("source")
        .orderBy(F.col("n_chars").desc(), "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        docs.select("doc_id", "source", "n_chars")
        .withColumn("cum_chars", F.sum("n_chars").over(w))
        .filter(F.col("cum_chars") <= 20000)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_sel"),
            F.sum("n_chars").alias("chars_sel"),
            F.max("cum_chars").alias("budget_used"),
            F.min("doc_id").alias("min_doc_id"),
        )
    )


# ---------------------------------------------------------------------------
# X4+ — doc-INTERNAL repetition signals (the Gopher/MassiveText repetition
# filter family, Rae et al. 2021 §A1.1): duplicate-word fraction, top-1-gram
# coverage, top-2-gram coverage — computed per document, unlike
# q_repeated_ngrams' corpus-wide spans. Plan: explode → per-(doc, gram)
# hash agg → per-doc agg with max(struct(cnt, gram)) for a DETERMINISTIC
# argmax (largest count, ties broken by largest gram — identical ordering
# on both engines). Shuffles carry (doc_id, short-gram) keys only; the
# per-doc aggregate is map-side combinable. No windows over the corpus.
# ---------------------------------------------------------------------------
@register(
    "q_doc_repetition",
    oracle="""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
w AS (SELECT doc_id, unnest(toks) AS word FROM t),
wc AS (SELECT doc_id, word, COUNT(*) AS cnt FROM w GROUP BY 1, 2),
wr AS (SELECT doc_id, word, cnt,
              ROW_NUMBER() OVER (PARTITION BY doc_id
                                 ORDER BY cnt DESC, word DESC) AS rn
       FROM wc),
ws AS (SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_words,
              CAST(COUNT(*) AS BIGINT) AS n_distinct
       FROM wc GROUP BY 1),
g AS (SELECT doc_id, array_to_string(list_slice(toks, i, i + 1), ' ') AS gram
      FROM t, UNNEST(range(1, GREATEST(len(toks), 1))) AS u(i)
      WHERE len(toks) >= 2),
gc AS (SELECT doc_id, gram, COUNT(*) AS cnt FROM g GROUP BY 1, 2),
gr AS (SELECT doc_id, gram, cnt,
              ROW_NUMBER() OVER (PARTITION BY doc_id
                                 ORDER BY cnt DESC, gram DESC) AS rn
       FROM gc),
gs AS (SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_2grams FROM gc GROUP BY 1)
SELECT ws.doc_id,
       ws.n_words,
       ROUND((ws.n_words - ws.n_distinct) / ws.n_words, 6) AS dup_word_frac,
       wr.word AS top_word,
       ROUND(wr.cnt / ws.n_words, 6) AS top_word_frac,
       COALESCE(gr.gram, '') AS top_2gram,
       COALESCE(ROUND(gr.cnt / gs.n_2grams, 6), 0.0) AS top_2gram_frac
FROM ws
JOIN (SELECT * FROM wr WHERE rn = 1) wr USING (doc_id)
LEFT JOIN gs USING (doc_id)
LEFT JOIN (SELECT * FROM gr WHERE rn = 1) gr USING (doc_id)
""",
)
def q_doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    utc(spark)
    docs = table(spark, sf_dir, "documents")
    tok_df = docs.select("doc_id", _toks().alias("toks"))

    words = tok_df.select("doc_id", F.explode("toks").alias("word"))
    wc = words.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("cnt"))
    ws = wc.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_words"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.max(F.struct(F.col("cnt"), F.col("word"))).alias("top"),
    )

    g2 = (
        tok_df.filter(F.size("toks") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(toks) - 1),"
                    " i -> concat(toks[i - 1], ' ', toks[i]))"
                )
            ).alias("gram"),
        )
    )
    gc = g2.groupBy("doc_id", "gram").agg(F.count(F.lit(1)).alias("cnt"))
    gs = gc.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_2grams"),
        F.max(F.struct(F.col("cnt"), F.col("gram"))).alias("top2"),
    )

    return ws.join(gs, "doc_id", "left").select(
        "doc_id",
        "n_words",
        F.round(
            (F.col("n_words") - F.col("n_distinct")) / F.col("n_words"), 6
        ).alias("dup_word_frac"),
        F.col("top.word").alias("top_word"),
        F.round(F.col("top.cnt") / F.col("n_words"), 6).alias("top_word_frac"),
        F.coalesce(F.col("top2.gram"), F.lit("")).alias("top_2gram"),
        F.coalesce(
            F.round(F.col("top2.cnt") / F.col("n_2grams"), 6), F.lit(0.0)
        ).alias("top_2gram_frac"),
    )


# ---------------------------------------------------------------------------
# EXT graph — TextRank keyword scoring: weighted PageRank over the token
# bigram graph (operators/pagerank.py — join-based iterations, decimal-
# routed contribution sums, broadcast scalar N, zero driver actions).
# The oracle unrolls the IDENTICAL 3-iteration recurrence in SQL, so a
# hash match certifies the whole iterative join pipeline bit-for-bit.
# ---------------------------------------------------------------------------
_PR_ORACLE = """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
b AS (SELECT toks[i] AS src, toks[i + 1] AS dst
      FROM t, UNNEST(range(1, len(toks))) AS u(i)
      WHERE len(toks) >= 2),
e AS (SELECT src, dst, CAST(COUNT(*) AS DOUBLE) AS w FROM b GROUP BY 1, 2),
n AS (SELECT src AS node FROM b UNION SELECT dst FROM b),
nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM n),
ow AS (SELECT src, SUM(w) AS outw FROM e GROUP BY 1),
r0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS r FROM n),
s1 AS (SELECT e.dst AS node,
              CAST(CAST(SUM(CAST(r0.r * e.w / ow.outw AS DECIMAL(38,18)))
                   AS STRING) AS DOUBLE) AS m
       FROM e JOIN r0 ON e.src = r0.node JOIN ow ON e.src = ow.src
       GROUP BY e.dst),
r1 AS (SELECT n.node,
              (1.0 - 0.85) / (SELECT n FROM nn)
              + 0.85 * COALESCE(s1.m, 0.0) AS r
       FROM n LEFT JOIN s1 ON n.node = s1.node),
s2 AS (SELECT e.dst AS node,
              CAST(CAST(SUM(CAST(r1.r * e.w / ow.outw AS DECIMAL(38,18)))
                   AS STRING) AS DOUBLE) AS m
       FROM e JOIN r1 ON e.src = r1.node JOIN ow ON e.src = ow.src
       GROUP BY e.dst),
r2 AS (SELECT n.node,
              (1.0 - 0.85) / (SELECT n FROM nn)
              + 0.85 * COALESCE(s2.m, 0.0) AS r
       FROM n LEFT JOIN s2 ON n.node = s2.node),
s3 AS (SELECT e.dst AS node,
              CAST(CAST(SUM(CAST(r2.r * e.w / ow.outw AS DECIMAL(38,18)))
                   AS STRING) AS DOUBLE) AS m
       FROM e JOIN r2 ON e.src = r2.node JOIN ow ON e.src = ow.src
       GROUP BY e.dst),
r3 AS (SELECT n.node,
              (1.0 - 0.85) / (SELECT n FROM nn)
              + 0.85 * COALESCE(s3.m, 0.0) AS r
       FROM n LEFT JOIN s3 ON n.node = s3.node)
SELECT node AS token, ROUND(r, 9) AS rank FROM r3
"""


@register("q_token_pagerank", oracle=_PR_ORACLE)
def q_token_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bcdp_spark.operators.pagerank import pagerank

    utc(spark)
    docs = table(spark, sf_dir, "documents")
    tok_df = docs.select("doc_id", _toks().alias("toks"))
    edges = (
        tok_df.filter(F.size("toks") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(toks) - 1),"
                    " i -> struct(toks[i - 1] AS src, toks[i] AS dst))"
                )
            ).alias("p")
        )
        .select("p.src", "p.dst")
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("double").alias("w"))
    )
    ranks = pagerank(edges, iterations=3, damping=0.85)
    return ranks.select(
        F.col("node").alias("token"), F.round("r", 9).alias("rank")
    )


# ---------------------------------------------------------------------------
# X4+ — compression-ratio quality signal (zlib bytes-out/bytes-in per
# doc; Arrow-batched pandas UDF — operators/text.py compression_ratio).
# No SQL oracle (DuckDB has no zlib): rows-only, repeat-run determinism
# guaranteed by zlib's fully-specified output for a fixed level.
# ---------------------------------------------------------------------------
@register("q_compress_ratio")
def q_compress_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bcdp_spark.operators.text import compression_ratio

    utc(spark)
    docs = table(spark, sf_dir, "documents")
    return (
        docs.select("lang", compression_ratio("text").alias("ratio"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(
                F.sum(F.col("ratio").cast("decimal(28,10)"))
                .cast("double"),
                9,
            ).alias("sum_ratio"),
            F.round(F.min("ratio"), 9).alias("min_ratio"),
            F.round(F.max("ratio"), 9).alias("max_ratio"),
        )
    )


# ---------------------------------------------------------------------------
# X4+ — unigram language-model scoring (the perplexity-filter shape of a
# corpus pipeline — CCNet/KenLM's role, with the LM trained IN-PLAN):
# corpus unigram probabilities from one token hash-agg, then each doc
# scored by mean -ln p(token). ln() is libm on both engines, so each
# per-token logprob is cast to DECIMAL(38,18) BEFORE the sum (exact,
# order-independent) and the final mean is ROUND(6)ed on both sides.
# Shuffles: one on token (count), one broadcast-sized join back (vocab
# is tiny vs corpus), one on doc_id — no sorts, no windows over tokens.
# ---------------------------------------------------------------------------
@register(
    "q_unigram_logprob",
    oracle="""
WITH w AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
),
vocab AS (
  SELECT word, COUNT(*) AS cnt FROM w GROUP BY word
),
total AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS n FROM vocab),
scored AS (
  SELECT w.doc_id,
         CAST(-ln(vocab.cnt / (SELECT n FROM total)) AS DECIMAL(38,18))
           AS nll
  FROM w JOIN vocab USING (word)
)
SELECT doc_id,
       COUNT(*) AS n_tokens,
       ROUND(CAST(CAST(SUM(nll) AS VARCHAR) AS DOUBLE) / COUNT(*), 6)
         AS avg_nll
FROM scored GROUP BY doc_id
""",
)
def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    utc(spark)
    docs = table(spark, sf_dir, "documents")
    w = docs.select(
        "doc_id", F.explode(_toks()).alias("word")
    )
    vocab = w.groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))
    total = vocab.agg(F.sum("cnt").cast("double").alias("n"))
    scored = (
        w.join(F.broadcast(vocab), "word")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            (-F.log(F.col("cnt") / F.col("n")))
            .cast("decimal(38,18)")
            .alias("nll"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.round(
            F.sum("nll").cast("string").cast("double") / F.count(F.lit(1)), 6
        ).alias("avg_nll"),
    )


# ---------------------------------------------------------------------------
# EXT graph — triangle counting over the token co-occurrence graph: the
# classic distributed multi-way self-join workload. The ORIENTATION
# trick (undirected edges stored once as u < v, then joined in strictly
# increasing order a < b < c) counts each triangle exactly once and cuts
# the join fan-out — the standard MapReduce/Spark formulation. Shuffles:
# the bigram agg + two equi-joins on node ids; no windows, no sorts.
# Degree distribution rides in the same key (one extra hash agg).
# ---------------------------------------------------------------------------
_TRI_ORACLE = """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
b AS (SELECT toks[i] AS src, toks[i + 1] AS dst
      FROM t, UNNEST(range(1, len(toks))) AS u(i)
      WHERE len(toks) >= 2),
e AS (  -- undirected, deduped, oriented u < v, self-loops dropped
  SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
  FROM b WHERE src <> dst
),
tri AS (
  SELECT COUNT(*) AS n_triangles
  FROM e e1
  JOIN e e2 ON e1.v = e2.u            -- a<b join b<c
  JOIN e e3 ON e1.u = e3.u AND e2.v = e3.v  -- close a<c
),
deg AS (
  SELECT node, COUNT(*) AS d FROM (
    SELECT u AS node FROM e UNION ALL SELECT v FROM e
  ) GROUP BY node
)
SELECT (SELECT n_triangles FROM tri) AS n_triangles,
       CAST(COUNT(*) AS BIGINT) AS n_nodes,
       CAST(CAST(SUM(d) AS BIGINT) / 2 AS BIGINT) AS n_edges,
       CAST(MAX(d) AS BIGINT) AS max_degree
FROM deg
"""


@register("q_triangle_count", oracle=_TRI_ORACLE)
def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    utc(spark)
    docs = table(spark, sf_dir, "documents")
    tok_df = docs.select("doc_id", _toks().alias("toks"))
    b = (
        tok_df.filter(F.size("toks") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(toks) - 1),"
                    " i -> struct(toks[i - 1] AS src, toks[i] AS dst))"
                )
            ).alias("p")
        )
        .select("p.src", "p.dst")
        .filter(F.col("src") != F.col("dst"))
    )
    e = b.select(
        F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
    ).distinct()
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.v") == F.col("e2.u"))
        .join(
            e3,
            (F.col("e1.u") == F.col("e3.u"))
            & (F.col("e2.v") == F.col("e3.v")),
        )
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    stats = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        (F.sum("d") / 2).cast("long").alias("n_edges"),
        F.max("d").alias("max_degree"),
    )
    return tri.crossJoin(F.broadcast(stats)).select(
        "n_triangles", "n_nodes", "n_edges", "max_degree"
    )


# ---------------------------------------------------------------------------
# EXT sampling — weighted reservoir sample (Efraimidis-Spirakis A-ES):
# exactly-k-per-stratum where selection probability ∝ weight (here:
# n_chars — longer docs more likely), DETERMINISTIC because the uniform
# u comes from md5(doc_id) bits, not an RNG — reproducible across runs,
# partitionings and cluster sizes, like q_reservoir_sample's unweighted
# md5 rank. Key = ln(u)/w (monotone transform of u^(1/w)); top-k per
# stratum by that key. Rows-only (ln/pow of hash-derived doubles is not
# hash-stable across engines); determinism is the graded contract.
# ---------------------------------------------------------------------------
@register("q_weighted_sample")
def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    utc(spark)
    docs = table(spark, sf_dir, "documents")
    # u in (0,1): top 8 md5 hex chars → 32-bit int, +1 to avoid ln(0)
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("double")
        + 1.0
    ) / 4294967297.0
    key = F.log(u) / F.col("n_chars").cast("double")  # maximize: ES A-ES
    w = Window.partitionBy("lang").orderBy(F.col("__k").desc(), "doc_id")
    picked = (
        docs.withColumn("__k", key)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= 25)
    )
    return picked.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sample_chars"),
        F.sum("doc_id").alias("id_sum"),
        F.min("doc_id").alias("min_doc_id"),
    )


# ---------------------------------------------------------------------------
# X4+ (r4) — DSIR importance weights (Xie et al. 2023): hashed-unigram
# log importance of every document toward the English slice of the
# corpus. The data-selection step between "scored corpus" and
# "resampled training mix"; operator: operators/text.py dsir_logweights
# (256 md5-bucket features, add-one smoothing, decimal-exact log sums).
# ---------------------------------------------------------------------------
@register(
    "q_dsir_weights",
    oracle="""
WITH tb AS (
  SELECT doc_id, lang = 'en' AS is_t, substr(md5(u.tok), 1, 2) AS bucket
  FROM documents, UNNEST(string_split(text, ' ')) AS u(tok)
  WHERE u.tok <> ''
),
stats AS (
  SELECT bucket,
         COUNT(CASE WHEN is_t THEN 1 END) AS c_t,
         COUNT(*) AS c_r
  FROM tb GROUP BY bucket
),
tot AS (SELECT SUM(c_t) AS n_t, SUM(c_r) AS n_r FROM stats),
ratio AS (
  SELECT bucket,
         CAST(ROUND(ln((c_t + 1.0) / (n_t + 256.0))
                    - ln((c_r + 1.0) / (n_r + 256.0)), 8)
              AS DECIMAL(18,8)) AS lr
  FROM stats, tot
)
SELECT tb.doc_id,
       COUNT(*) AS n_tokens,
       -- round in EXACT decimal space (ties away from zero in both
       -- engines), THEN cast: rounding after the double cast diverges
       -- on .5-boundary sums (see operators/text.py dsir_logweights)
       CAST(ROUND(SUM(lr), 4) AS DOUBLE) AS log_weight
FROM tb JOIN ratio USING (bucket)
GROUP BY tb.doc_id
""",
)
def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bcdp_spark.operators.text import dsir_logweights

    utc(spark)
    docs = table(spark, sf_dir, "documents")
    return dsir_logweights(docs, "text", "doc_id", F.col("lang") == "en")


# ---------------------------------------------------------------------------
# X4+ (r4) — per-domain document caps (the RefinedWeb/C4 "no domain may
# dominate the corpus" rule): within each source, keep the top
# ``cap`` documents by (n_chars DESC, doc_id) and account for the rest.
# One hash-partitioned window plus one hash agg (no WindowGroupLimit:
# kept AND dropped rows feed the accounting, so the full ranking is
# consumed by design). Scale caveat: domain cardinality drives the
# partitioning — for a skewed mega-domain, pre-aggregate candidates
# above the cap percentile (or rank only (domain, n_chars, doc_id)
# triples, as here: the window input is 3 narrow columns, never text).
# ---------------------------------------------------------------------------
@register(
    "q_domain_cap",
    oracle="""
WITH r AS (
  SELECT source, n_chars, doc_id,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY n_chars DESC, doc_id) AS rk
  FROM documents
)
SELECT source,
       COUNT(CASE WHEN rk <= 50 THEN 1 END) AS n_kept,
       COUNT(CASE WHEN rk > 50 THEN 1 END) AS n_dropped,
       CAST(SUM(CASE WHEN rk <= 50 THEN n_chars END) AS BIGINT)
         AS kept_chars,
       MIN(CASE WHEN rk <= 50 THEN doc_id END) AS min_kept_doc
FROM r GROUP BY source
""",
)
def q_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    utc(spark)
    docs = table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    r = docs.select(
        "source", "n_chars", "doc_id", F.row_number().over(w).alias("rk")
    )
    kept = F.col("rk") <= 50
    return r.groupBy("source").agg(
        F.count_if(kept).alias("n_kept"),
        F.count_if(~kept).alias("n_dropped"),
        F.sum(F.when(kept, F.col("n_chars"))).cast("long").alias("kept_chars"),
        F.min(F.when(kept, F.col("doc_id"))).alias("min_kept_doc"),
    )


# ---------------------------------------------------------------------------
# X1b (r4) — INCREMENTAL exact dedup (operators/dedup.py
# incremental_exact_dedup): admit a new crawl batch (doc_id % 10 >= 8)
# against the already-accepted corpus (doc_id % 10 < 8) by anti-joining
# 32-byte fingerprints, keep-first within the batch. The production
# append-only admission shape — the corpus is probed via its persisted
# fingerprint table, never re-deduped.
# ---------------------------------------------------------------------------
@register(
    "q_incremental_dedup",
    oracle="""
WITH corpus AS (
  SELECT DISTINCT sha256(text) AS fp FROM documents WHERE doc_id % 10 < 8
),
batch AS (
  SELECT doc_id, sha256(text) AS fp FROM documents WHERE doc_id % 10 >= 8
),
fresh AS (
  SELECT b.* FROM batch AS b
  WHERE NOT EXISTS (SELECT 1 FROM corpus AS c WHERE c.fp = b.fp)
),
keep AS (SELECT MIN(doc_id) AS doc_id FROM fresh GROUP BY fp)
SELECT d.lang,
       COUNT(*) AS n_admitted,
       CAST(SUM(d.doc_id) AS BIGINT) AS id_sum,
       MIN(d.doc_id) AS min_doc_id
FROM documents AS d JOIN keep USING (doc_id)
GROUP BY d.lang
""",
)
def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bcdp_spark.operators.dedup import (
        corpus_fingerprints,
        incremental_exact_dedup,
    )

    utc(spark)
    docs = table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 10 < 8)
    batch = docs.filter(F.col("doc_id") % 10 >= 8)
    admitted = incremental_exact_dedup(
        batch, corpus_fingerprints(corpus, "text"), "text", "doc_id"
    )
    return admitted.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_admitted"),
        F.sum("doc_id").cast("long").alias("id_sum"),
        F.min("doc_id").alias("min_doc_id"),
    )


# ---------------------------------------------------------------------------
# X4+ (r4) — URL canonicalization + URL-level dedup (operators/text.py
# normalize_url): the first dedup stage of web-corpus pipelines
# (CCNet/C4/RefinedWeb dedupe by normalized URL before content).
# Five deterministic obfuscation variants per doc group — scheme/host
# case, param order, www + default port + trailing slash, nonstandard
# port, queryless — of which exactly three canonicalize together. The
# DuckDB oracle synthesizes the same URLs and mirrors every
# normalization rule in ANSI SQL (regexp_extract + list_sort), so the
# hash match certifies each rule, not just the group counts.
# ---------------------------------------------------------------------------
@register(
    "q_url_dedup",
    oracle=r"""
WITH raw AS (
  SELECT doc_id,
         CAST(doc_id // 5 AS BIGINT) AS g,
         CAST((doc_id // 5) % 7 AS BIGINT) AS h,
         doc_id % 5 AS v
  FROM documents
),
urls AS (
  SELECT doc_id,
         CASE v
           WHEN 0 THEN 'https://example' || h || '.org/page/' || g
                       || '?a=1&b=2'
           WHEN 1 THEN 'HTTPS://EXAMPLE' || h || '.ORG/page/' || g
                       || '?b=2&a=1'
           WHEN 2 THEN 'https://www.example' || h || '.org:443/page/' || g
                       || '/?a=1&b=2'
           WHEN 3 THEN 'http://example' || h || '.org:8080/page/' || g
                       || '#frag'
           ELSE 'https://example' || h || '.org/page/' || g
         END AS url
  FROM raw
),
defrag AS (
  -- fragment dropped FIRST (mirrors normalize_url): a '?' inside the
  -- fragment must not resurrect a query
  SELECT doc_id, regexp_replace(url, '#.*$', '') AS url FROM urls
),
parts AS (
  SELECT doc_id, url,
         lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
           AS scheme,
         regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)
           AS hostport,
         regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1)
           AS path0,
         regexp_extract(url, '\?(.*)$', 1) AS query0
  FROM defrag
),
norm AS (
  SELECT doc_id, scheme,
         regexp_replace(lower(regexp_extract(hostport, '^([^:]*)', 1)),
                        '^www\.', '') AS host,
         regexp_extract(hostport, ':([0-9]+)$', 1) AS port,
         CASE WHEN path0 = '' THEN '/'
              WHEN length(path0) > 1 AND path0 LIKE '%/'
                THEN substring(path0, 1, length(path0) - 1)
              ELSE path0 END AS path,
         array_to_string(list_sort(string_split(query0, '&')), '&') AS q
  FROM parts
),
canon AS (
  SELECT doc_id,
         scheme || '://' || host ||
         CASE WHEN port <> '' AND NOT (scheme = 'http' AND port = '80')
                   AND NOT (scheme = 'https' AND port = '443')
              THEN ':' || port ELSE '' END ||
         path ||
         CASE WHEN q <> '' THEN '?' || q ELSE '' END AS curl
  FROM norm
),
grouped AS (
  SELECT curl, COUNT(*) AS n_members, MIN(doc_id) AS keeper
  FROM canon GROUP BY curl
)
SELECT n_members,
       COUNT(*) AS n_urls,
       MIN(keeper) AS min_keeper,
       MIN(curl) AS sample_url,
       CAST(SUM(LENGTH(curl)) AS BIGINT) AS sum_len
FROM grouped GROUP BY n_members
""",
)
def q_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bcdp_spark.operators.text import normalize_url

    utc(spark)
    docs = table(spark, sf_dir, "documents").select("doc_id")
    g = F.floor(F.col("doc_id") / 5).cast("long")
    h = F.pmod(g, F.lit(7)).cast("string")
    v = F.pmod(F.col("doc_id"), F.lit(5))
    pg = g.cast("string")
    base = F.concat(F.lit("example"), h, F.lit(".org"))
    url = (
        F.when(
            v == 0,
            F.concat(
                F.lit("https://"), base, F.lit("/page/"), pg, F.lit("?a=1&b=2")
            ),
        )
        .when(
            v == 1,
            F.concat(
                F.lit("HTTPS://EXAMPLE"), h, F.lit(".ORG/page/"), pg,
                F.lit("?b=2&a=1"),
            ),
        )
        .when(
            v == 2,
            F.concat(
                F.lit("https://www.example"), h, F.lit(".org:443/page/"), pg,
                F.lit("/?a=1&b=2"),
            ),
        )
        .when(
            v == 3,
            F.concat(
                F.lit("http://example"), h, F.lit(".org:8080/page/"), pg,
                F.lit("#frag"),
            ),
        )
        .otherwise(
            F.concat(F.lit("https://"), base, F.lit("/page/"), pg)
        )
    )
    canon = docs.select("doc_id", normalize_url(url).alias("curl"))
    grouped = canon.groupBy("curl").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.min("doc_id").alias("keeper"),
    )
    return grouped.groupBy("n_members").agg(
        F.count(F.lit(1)).alias("n_urls"),
        F.min("keeper").alias("min_keeper"),
        F.min("curl").alias("sample_url"),
        F.sum(F.length("curl")).cast("long").alias("sum_len"),
    )


# ---------------------------------------------------------------------------
# X4++ (r4) — document chunking (operators/text.py chunk_documents):
# overlapping 40-token windows with 10-token overlap over the corpus —
# the RAG/embedding-prep and fixed-context-window step. Oracle rebuilds
# the identical windows with list_slice over generate_series; md5 of
# each chunk text certifies the window content exactly.
# ---------------------------------------------------------------------------
@register(
    "q_doc_chunking",
    oracle="""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
n AS (
  SELECT doc_id, toks,
         (GREATEST(len(toks) - 10, 1) + 29) // 30 AS n_chunks
  FROM t
),
ch AS (
  SELECT doc_id, CAST(g.g AS INT) AS chunk_idx,
         list_slice(toks, g.g * 30 + 1, g.g * 30 + 40) AS win
  FROM n, UNNEST(range(0, CAST(n_chunks AS BIGINT))) AS g(g)
)
SELECT doc_id, chunk_idx,
       len(win) AS n_chunk_tokens,
       md5(array_to_string(win, ' ')) AS chunk_md5
FROM ch
""",
)
def q_doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bcdp_spark.operators.text import chunk_documents

    utc(spark)
    docs = table(spark, sf_dir, "documents")
    ch = chunk_documents(docs, "text", "doc_id", chunk_size=40, overlap=10)
    return ch.select(
        "doc_id",
        "chunk_idx",
        "n_chunk_tokens",
        F.md5("chunk_text").alias("chunk_md5"),
    )


# ---------------------------------------------------------------------------
# X4q (late r4) — BPE tokenizer training (operators/bpe.py): learn the
# first 4 byte-pair merges from the documents corpus. The oracle unrolls
# the SAME algorithm in DuckDB — pair counting via list_zip of adjacent
# symbols, deterministic argmax (count desc, pair lexicographic), greedy
# left-to-right merge application as a list_reduce fold over 1-element
# lists (DuckDB's fold seeds the accumulator with the first element,
# which matches Spark's empty-seed aggregate because the first step is
# always a plain concat) — so a hash match certifies every learned
# merge AND every intermediate merge application, the pagerank-style
# unrolled-iteration contract.
# ---------------------------------------------------------------------------
def _bpe_oracle(n: int) -> str:
    pairs_t = """
SELECT pair[1] AS lhs, pair[2] AS rhs,
       CAST(SUM(freq) AS BIGINT) AS pair_count
FROM (SELECT unnest(list_zip(list_slice(syms, 1, len(syms) - 1),
                             list_slice(syms, 2, len(syms)))) AS pair, freq
      FROM {src})
GROUP BY 1, 2
"""
    best_t = (
        "SELECT lhs, rhs, pair_count FROM {p} "
        "ORDER BY pair_count DESC, lhs, rhs LIMIT 1"
    )
    merge_t = """
SELECT list_reduce(
         list_transform(syms, s -> [s]),
         (acc, x) -> CASE WHEN acc[-1] = m.lhs AND x[1] = m.rhs
            THEN list_append(list_slice(acc, 1, len(acc) - 1),
                             m.lhs || m.rhs)
            ELSE list_concat(acc, x) END) AS syms, freq
FROM {src}, {m} m
"""
    parts = [
        r"""WITH w AS (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM (
    SELECT unnest(string_split_regex(lower(text), '\s+')) AS word
    FROM documents)
  WHERE regexp_matches(word, '^[a-z]+$') GROUP BY word
), s0 AS (SELECT string_split(word, '') AS syms, freq FROM w)"""
    ]
    for i in range(n):
        parts.append(f", p{i} AS ({pairs_t.format(src=f's{i}')})")
        parts.append(f", m{i} AS ({best_t.format(p=f'p{i}')})")
        if i < n - 1:
            parts.append(
                f", s{i + 1} AS "
                f"({merge_t.format(src=f's{i}', m=f'm{i}')})"
            )
    sel = "\nUNION ALL\n".join(
        f"SELECT {i} AS merge_rank, lhs, rhs, lhs || rhs AS merged, "
        f"pair_count FROM m{i}"
        for i in range(n)
    )
    return "".join(parts) + "\n" + sel


@register("q_bpe_merges", oracle=_bpe_oracle(4))
def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4q: first 4 BPE merges learned from the documents corpus —
    word-frequency table (one corpus pass), then per-merge JVM pair
    counting + greedy fold application (operators/bpe.py)."""
    from bcdp_spark.operators.bpe import bpe_train

    utc(spark)
    docs = table(spark, sf_dir, "documents")
    merge_table, _ = bpe_train(docs, text_col="text", n_merges=4)
    return merge_table


# ---------------------------------------------------------------------------
# X4r (late r4) — CCNet-style bigram-LM perplexity filter
# (operators/text.py bigram_lm_scores): add-1-smoothed bigram LM trained
# on the corpus itself, every document scored by average negative
# log-likelihood. Same determinism contract as q_unigram_logprob:
# per-token ln cast to DECIMAL(38,18) before the sum, final mean
# rounded to 6 decimals, so the hash certifies the full count→smooth→
# log→aggregate path in both engines.
# ---------------------------------------------------------------------------
@register(
    "q_bigram_perplexity",
    oracle="""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
big AS (
  SELECT doc_id, pair[1] AS w1, pair[2] AS w2 FROM (
    SELECT doc_id,
           unnest(list_zip(list_slice(toks, 1, len(toks) - 1),
                           list_slice(toks, 2, len(toks)))) AS pair
    FROM t)
),
uni AS (
  SELECT w1, COUNT(*) AS c1 FROM (
    SELECT doc_id, unnest(toks) AS w1 FROM t) GROUP BY w1
),
pair AS (SELECT w1, w2, COUNT(*) AS c12 FROM big GROUP BY w1, w2),
vocab AS (SELECT CAST(COUNT(*) AS DOUBLE) AS v FROM uni),
scored AS (
  SELECT big.doc_id,
         CAST(-ln((pair.c12 + 1.0) / (uni.c1 + (SELECT v FROM vocab)))
              AS DECIMAL(38,18)) AS nll
  FROM big JOIN pair USING (w1, w2) JOIN uni USING (w1)
)
SELECT doc_id,
       COUNT(*) AS n_bigrams,
       ROUND(CAST(CAST(SUM(nll) AS VARCHAR) AS DOUBLE) / COUNT(*), 6)
         AS avg_nll
FROM scored GROUP BY doc_id
""",
)
def q_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bcdp_spark.operators.text import bigram_lm_scores

    utc(spark)
    docs = table(spark, sf_dir, "documents")
    return bigram_lm_scores(docs, text_col="text", id_col="doc_id", k=1.0)


# ---------------------------------------------------------------------------
# X4+ (r7) — benchmark decontamination (GPT-3 appendix-C style
# train-test overlap removal). The benchmark set is the doc_id % 97
# slice; a training doc is contaminated when it shares any word 4-gram
# with it (n=13 in the published setting; 4 makes the tiny fixture
# vocab collide). Operator: operators/dedup.py decontaminate — the
# benchmark gram set broadcasts, the train side never shuffles on the
# gram, only the distinct contaminated id set shuffles back.
# Complements q_contamination (queries/text.py), which SCORES per-doc
# char-8-gram overlap; this key is the REMOVAL half — a boolean gate +
# per-source kept/dropped accounting, the filter pipelines apply.
# ---------------------------------------------------------------------------
@register(
    "q_decontaminate",
    oracle="""
WITH bench AS (
  SELECT string_split(text, ' ') AS toks FROM documents WHERE doc_id % 97 = 0
),
train AS (
  SELECT doc_id, source, n_chars, string_split(text, ' ') AS toks
  FROM documents WHERE doc_id % 97 <> 0
),
bg AS (
  SELECT DISTINCT array_to_string(list_slice(toks, i, i + 3), ' ') AS gram
  FROM bench, UNNEST(range(1, GREATEST(len(toks) - 4 + 2, 1))) AS u(i)
),
tg AS (
  SELECT doc_id, array_to_string(list_slice(toks, i, i + 3), ' ') AS gram
  FROM train, UNNEST(range(1, GREATEST(len(toks) - 4 + 2, 1))) AS u(i)
),
bad AS (SELECT DISTINCT tg.doc_id FROM tg JOIN bg USING (gram))
SELECT t.source,
       COUNT(*) AS n_docs,
       COUNT(bad.doc_id) AS n_dropped,
       CAST(COALESCE(SUM(CASE WHEN bad.doc_id IS NULL THEN t.n_chars END),
                     0) AS BIGINT) AS kept_chars
FROM train t LEFT JOIN bad USING (doc_id)
GROUP BY t.source
""",
)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bcdp_spark.operators.dedup import decontaminate

    utc(spark)
    docs = table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    train = docs.filter(F.col("doc_id") % 97 != 0)
    flagged = decontaminate(
        train, bench, text_col="text", id_col="doc_id", n=4
    )
    return flagged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count(F.when(F.col("contaminated"), 1)).alias("n_dropped"),
        F.coalesce(
            F.sum(F.when(~F.col("contaminated"), F.col("n_chars"))),
            F.lit(0),
        ).alias("kept_chars"),
    )


# ---------------------------------------------------------------------------
# U4/X4 (r7) — Unicode NFC normalization before fingerprinting. The
# fixture corpus is ASCII, so the key first DECOMPOSES deterministically
# (every 'a' in odd doc_ids becomes 'a' + U+0301 combining acute — the
# mixed-source mess NFC exists to fix), then normalizes back via the
# Arrow-batched pandas UDF (operators/text.py nfc_normalize) and
# accounts per lang. First oracle-checked key on the U4 scalar-pandas-
# UDF surface: DuckDB's utf8proc nfc_normalize twins unicodedata's NFC.
# ---------------------------------------------------------------------------
@register(
    "q_unicode_norm",
    oracle="""
WITH messy AS (
  SELECT doc_id, lang,
         CASE WHEN doc_id % 2 = 1
              THEN replace(text, 'a', 'a' || chr(769))
              ELSE text END AS raw
  FROM documents
),
n AS (
  SELECT lang, raw, nfc_normalize(raw) AS fixed FROM messy
)
SELECT lang,
       COUNT(*) AS n_docs,
       COUNT(CASE WHEN fixed <> raw THEN 1 END) AS n_changed,
       CAST(SUM(length(raw)) AS BIGINT) AS raw_chars,
       CAST(SUM(length(fixed)) AS BIGINT) AS nfc_chars
FROM n GROUP BY lang
""",
)
def q_unicode_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bcdp_spark.operators.text import nfc_normalize

    utc(spark)
    docs = table(spark, sf_dir, "documents")
    messy = docs.select(
        "lang",
        F.when(
            F.col("doc_id") % 2 == 1,
            F.regexp_replace("text", "a", "a\u0301"),  # decomposed: a + combining acute
        )
        .otherwise(F.col("text"))
        .alias("raw"),
    )
    n = messy.withColumn("fixed", nfc_normalize("raw"))
    return n.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count(F.when(F.col("fixed") != F.col("raw"), 1)).alias(
            "n_changed"
        ),
        F.sum(F.length("raw")).alias("raw_chars"),
        F.sum(F.length("fixed")).alias("nfc_chars"),
    )


# ---------------------------------------------------------------------------
# r8 — PII redaction (operators/text.py pii_redact): the scrub pass
# every LLM training pipeline runs before tokenization. The fixture
# text carries no PII, so both sides plant deterministic PII-shaped
# substrings derived from doc_id — the key certifies the regex
# machinery, the sequential replacement order, and the per-type
# counts, pattern-for-pattern against RE2.
# ---------------------------------------------------------------------------
@register(
    "q_pii_redact",
    oracle=r"""
WITH planted AS (
  SELECT doc_id, lang,
         'u' || doc_id || '@ex' || (doc_id % 7) || '.org ip 10.'
           || (doc_id % 256) || '.0.' || (doc_id % 100)
           || CASE WHEN doc_id % 3 = 0
                   THEN ' +1 555 ' || (100 + doc_id % 900) || ' 1234 '
                   ELSE ' ' END
           || text AS text
  FROM documents
),
red AS (
  SELECT lang,
         len(regexp_extract_all(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
           AS n_email,
         len(regexp_extract_all(
             regexp_replace(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
               '<EMAIL>', 'g'),
             '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ipv4,
         len(regexp_extract_all(text,
             '\+\d{1,2}[- ]\d{3}[- ]\d{3,4}[- ]\d{4}')) AS n_phone,
         length(regexp_replace(regexp_replace(regexp_replace(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
             '<EMAIL>', 'g'),
             '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
             '\+\d{1,2}[- ]\d{3}[- ]\d{3,4}[- ]\d{4}', '<PHONE>', 'g'))
           AS n_chars
  FROM planted
)
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_email) AS BIGINT) AS emails,
       CAST(SUM(n_ipv4) AS BIGINT) AS ipv4s,
       CAST(SUM(n_phone) AS BIGINT) AS phones,
       CAST(SUM(n_chars) AS BIGINT) AS redacted_chars
FROM red
GROUP BY lang
""",
)
def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4+ (r8): typed PII scrub — pure JVM regexp map stage, counts
    before replacement, sequential pattern order (emails before IPs so
    host-shaped tails don't double-count). Patterns live in the
    Java∩RE2 subset; the oracle re-applies them with RE2."""
    from bcdp_spark.operators.text import pii_redact

    utc(spark)
    docs = table(spark, sf_dir, "documents")
    planted = docs.select(
        "doc_id",
        "lang",
        F.concat(
            F.lit("u"), F.col("doc_id").cast("string"),
            F.lit("@ex"), (F.col("doc_id") % 7).cast("string"),
            F.lit(".org ip 10."),
            (F.col("doc_id") % 256).cast("string"), F.lit(".0."),
            (F.col("doc_id") % 100).cast("string"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(
                    F.lit(" +1 555 "),
                    (F.col("doc_id") % 900 + 100).cast("string"),
                    F.lit(" 1234 "),
                ),
            ).otherwise(F.lit(" ")),
            F.col("text"),
        ).alias("text"),
    )
    red = pii_redact(planted)
    return red.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_email").alias("emails"),
        F.sum("n_ipv4").alias("ipv4s"),
        F.sum("n_phone").alias("phones"),
        F.sum(F.length("text")).alias("redacted_chars"),
    )


# ---------------------------------------------------------------------------
# X4+ (r8) — the Gopher/MassiveText quality ruleset (Rae et al. 2021
# §A1.1) as one codegen'd map stage + a per-source hash aggregate:
# word-count bounds, mean-word-length band, symbol-to-word ratio,
# alphabetic-word fraction, stopword hits, distinct-word ratio, and
# the conjunction `keep`. Thresholds here are tuned to the fixture's
# vocabulary so every rule actually discriminates (the canonical
# stopword list is the operator's default; the fixture corpus only
# carries 'the'/'a'). The oracle replays every rule with DuckDB list
# lambdas — identical split/filter/intersect semantics, so the hash
# check certifies the rule arithmetic, not just row counts.
# Scale (100 TB): filter rides the scan, one small shuffle on source.
# ---------------------------------------------------------------------------
@register(
    "q_gopher_rules",
    oracle="""
WITH f AS (
  SELECT source,
         len(string_split(text, ' ')) AS n_words,
         CAST(length(text) - len(string_split(text, ' ')) + 1 AS DOUBLE)
           / len(string_split(text, ' ')) AS mean_wl,
         len(list_filter(string_split(text, ' '),
                         w -> regexp_matches(w, '[a-zA-Z]'))) AS n_alpha,
         len(list_distinct(string_split(text, ' '))) AS n_distinct,
         len(list_intersect(list_distinct(string_split(text, ' ')),
                            ['the', 'a'])) AS n_stop,
         length(text) - length(replace(text, '#', '')) AS n_hash,
         CAST(length(text) - length(replace(text, '...', ''))
              AS DOUBLE) / 3 AS n_ellipsis
  FROM documents
),
flags AS (
  SELECT source,
         (n_words >= 30 AND n_words <= 90) AS pass_nwords,
         (mean_wl >= 3.0 AND mean_wl <= 10.0) AS pass_meanwl,
         (CAST(n_hash + n_ellipsis AS DOUBLE) / n_words < 0.1)
           AS pass_symbol,
         (CAST(n_alpha AS DOUBLE) / n_words > 0.8) AS pass_alpha,
         (n_stop >= 2) AS pass_stop,
         (CAST(n_distinct AS DOUBLE) / n_words > 0.35) AS pass_distinct
  FROM f
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN NOT pass_nwords THEN 1 ELSE 0 END) AS BIGINT)
         AS fail_nwords,
       CAST(SUM(CASE WHEN NOT pass_meanwl THEN 1 ELSE 0 END) AS BIGINT)
         AS fail_meanwl,
       CAST(SUM(CASE WHEN NOT pass_symbol THEN 1 ELSE 0 END) AS BIGINT)
         AS fail_symbol,
       CAST(SUM(CASE WHEN NOT pass_alpha THEN 1 ELSE 0 END) AS BIGINT)
         AS fail_alpha,
       CAST(SUM(CASE WHEN NOT pass_stop THEN 1 ELSE 0 END) AS BIGINT)
         AS fail_stop,
       CAST(SUM(CASE WHEN NOT pass_distinct THEN 1 ELSE 0 END) AS BIGINT)
         AS fail_distinct,
       CAST(SUM(CASE WHEN pass_nwords AND pass_meanwl AND pass_symbol
                      AND pass_alpha AND pass_stop AND pass_distinct
                THEN 1 ELSE 0 END) AS BIGINT) AS kept
FROM flags
GROUP BY source
""",
)
def q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bcdp_spark.operators.text import gopher_quality_flags

    utc(spark)
    docs = table(spark, sf_dir, "documents")
    flags = gopher_quality_flags(
        docs,
        min_words=30,
        max_words=90,
        stop_words=("the", "a"),
        min_distinct_ratio=0.35,
    )

    def fails(c: str) -> F.Column:
        return (
            F.sum(F.when(~F.col(c), 1).otherwise(0))
            .cast("long")
            .alias(c.replace("pass_", "fail_"))
        )

    return flags.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        fails("pass_nwords"),
        fails("pass_meanwl"),
        fails("pass_symbol"),
        fails("pass_alpha"),
        fails("pass_stop"),
        fails("pass_distinct"),
        F.sum(F.when(F.col("keep"), 1).otherwise(0))
        .cast("long")
        .alias("kept"),
    )


# ---------------------------------------------------------------------------
# X4+ (r8) — distributed classifier TRAINING (the fastText-style
# quality-filter training half; q_quality_classifier is the scoring
# half): two unrolled batch-GD iterations of logistic-style regression
# over (n_words/100, stopword-ratio) features predicting lang='en'.
# The sigmoid is the algebraic surrogate (elementary ops only) and
# every per-row gradient contribution is FLOOR-quantized to 1e-8 fixed
# point, so the gradient aggregate is an EXACT bigint sum — training is
# bit-reproducible across engines/partitionings with NO rounding. The
# oracle unrolls both iterations in CTEs (the q_kmeans pattern).
# Honesty note: the fixture's word-soup text carries no real language
# signal in these features, so the trained model lands on the majority
# class — the key certifies the TRAINING algebra (gradient sums,
# weight updates, scoring), not fixture separability.
# Scale (100 TB): per iteration one weight-row broadcast + one map +
# one exact bigint hash agg; nothing collects.
# ---------------------------------------------------------------------------
_LOGREG_T = "(w0 + w1v * x1 + w2v * x2)"
_LOGREG_S = f"(0.5 + 0.5 * {_LOGREG_T} / (1.0 + abs({_LOGREG_T})))"


@register(
    "q_logreg",
    oracle=f"""
WITH feats AS (
  SELECT CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0 AS x1,
         CAST(len(list_filter(string_split(text, ' '),
                              w -> w = 'the' OR w = 'a')) AS DOUBLE)
           / len(string_split(text, ' ')) AS x2,
         CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
  FROM documents
),
wz(w0, w1v, w2v) AS (VALUES (0.0, 0.0, 0.0)),
it1 AS (
  SELECT COUNT(*) AS n, FIRST(w0) AS w0, FIRST(w1v) AS w1v,
         FIRST(w2v) AS w2v,
         SUM(CAST(FLOOR((y - {_LOGREG_S}) * 1e8) AS BIGINT)) AS g0,
         SUM(CAST(FLOOR((y - {_LOGREG_S}) * x1 * 1e8) AS BIGINT)) AS g1,
         SUM(CAST(FLOOR((y - {_LOGREG_S}) * x2 * 1e8) AS BIGINT)) AS g2
  FROM feats CROSS JOIN wz
),
wa AS (
  SELECT w0 + 0.5 * (g0 / 1e8) / n AS w0,
         w1v + 0.5 * (g1 / 1e8) / n AS w1v,
         w2v + 0.5 * (g2 / 1e8) / n AS w2v
  FROM it1
),
it2 AS (
  SELECT COUNT(*) AS n, FIRST(w0) AS w0, FIRST(w1v) AS w1v,
         FIRST(w2v) AS w2v,
         SUM(CAST(FLOOR((y - {_LOGREG_S}) * 1e8) AS BIGINT)) AS g0,
         SUM(CAST(FLOOR((y - {_LOGREG_S}) * x1 * 1e8) AS BIGINT)) AS g1,
         SUM(CAST(FLOOR((y - {_LOGREG_S}) * x2 * 1e8) AS BIGINT)) AS g2
  FROM feats CROSS JOIN wa
),
wb AS (
  SELECT w0 + 0.5 * (g0 / 1e8) / n AS w0,
         w1v + 0.5 * (g1 / 1e8) / n AS w1v,
         w2v + 0.5 * (g2 / 1e8) / n AS w2v
  FROM it2
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       FIRST(w0) AS w0, FIRST(w1v) AS w1, FIRST(w2v) AS w2,
       CAST(SUM(CASE WHEN CAST({_LOGREG_S} > 0.5 AS INT)
                          = CAST(y AS INT)
                THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
FROM feats CROSS JOIN wb
""",
)
def q_logreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bcdp_spark.operators.classify import logreg_train

    utc(spark)
    docs = table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    feats = docs.select(
        (F.size(toks).cast("double") / 100.0).alias("x1"),
        (
            F.size(
                F.filter(toks, lambda w: (w == "the") | (w == "a"))
            ).cast("double")
            / F.size(toks)
        ).alias("x2"),
        F.when(F.col("lang") == "en", 1.0).otherwise(0.0).alias("y"),
    )
    out = logreg_train(feats, ["x1", "x2"], "y", lr=0.5, n_iter=2)
    return out.select(
        "n_rows",
        "w0",
        F.col("w1").alias("w1"),
        F.col("w2").alias("w2"),
        "n_correct",
    )
