"""Text-pipeline queries (SURVEY.md §2.8 F3/F4, §2.10 U6, §2.11 X1/X4):
string functions, JSON extraction, tokenization, exact dedup, language
stats, quality scoring, fingerprinting, heuristic language-ID.

These are the EXT LLM-data-pipeline operators mandated beyond the
reference surface. The generic, reusable column builders live in
``bcdp_spark.operators.text`` and ``bcdp_spark.operators.dedup``; the
query keys here instantiate them on the ``documents`` fixture with DuckDB
oracle twins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bcdp_spark.queries import register
from bcdp_spark.queries._helpers import utc
from bcdp_spark.tables import table


# ---------------------------------------------------------------------------
# F3 — string functions over documents, grouped by language.
# ---------------------------------------------------------------------------
@register(
    "q_string_funcs",
    oracle="""
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(LENGTH(text)) AS BIGINT) AS sum_chars,
       CAST(SUM(LENGTH(text)) AS DOUBLE) / COUNT(*) AS avg_chars,
       CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS sum_words,
       COUNT(DISTINCT source) AS n_sources,
       CAST(SUM(CASE WHEN text LIKE '%spark%' THEN 1 ELSE 0 END) AS BIGINT) AS n_spark
FROM documents
GROUP BY lang
""",
)
def q_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    utc(spark)
    docs = table(spark, sf_dir, "documents")
    words = F.size(F.split(F.col("text"), " "))
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.length("text")).cast("long").alias("sum_chars"),
        (F.sum(F.length("text")).cast("double") / F.count(F.lit(1))).alias(
            "avg_chars"
        ),
        F.sum(words).cast("long").alias("sum_words"),
        F.countDistinct("source").alias("n_sources"),
        F.sum(F.col("text").contains("spark").cast("int"))
        .cast("long")
        .alias("n_spark"),
    )


# ---------------------------------------------------------------------------
# F4 — JSON field extraction from events.props (verified shape {"k": 87}).
# ---------------------------------------------------------------------------
@register(
    "q_json_extract",
    oracle="""
SELECT event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS DOUBLE)
         / COUNT(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS avg_k
FROM events
GROUP BY event_type
""",
)
def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    utc(spark)
    ev = table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(k).cast("long").alias("sum_k"),
        (F.sum(k).cast("double") / F.count(k)).alias("avg_k"),
    )


# ---------------------------------------------------------------------------
# U6 — tokenize → rows (UDTF-shaped, expressed as explode(split()) so it
# stays JVM-side; a real BPE tokenizer would be a @udtf / mapInPandas).
# ---------------------------------------------------------------------------
@register(
    "q_token_explode",
    oracle="""
SELECT word, COUNT(*) AS n
FROM (SELECT UNNEST(string_split(text, ' ')) AS word FROM documents)
GROUP BY word
""",
)
def q_token_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    utc(spark)
    docs = table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split(F.col("text"), " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ---------------------------------------------------------------------------
# X1 — exact dedup, keep-first by doc_id (hash-groupBy at scale: shuffle on
# text hash, not text itself — see operators/dedup.py). Checksum output.
# ---------------------------------------------------------------------------
@register(
    "q_dedup_docs",
    oracle="""
SELECT COUNT(*) AS n_unique_docs,
       CAST(SUM(keeper) AS BIGINT) AS keeper_id_sum
FROM (SELECT MIN(doc_id) AS keeper FROM documents GROUP BY text)
""",
)
def q_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    utc(spark)
    # keep-first == min(doc_id) per text group: a partial-aggregatable
    # hash agg (map-side combine) instead of a window sort — the shape
    # that scales; at 100 TB you'd group by sha2(text) to shuffle 32-byte
    # keys instead of documents (operators/dedup.py does exactly that).
    docs = table(spark, sf_dir, "documents")
    return (
        docs.groupBy("text")
        .agg(F.min("doc_id").alias("keeper"))
        .agg(
            F.count(F.lit(1)).alias("n_unique_docs"),
            F.sum("keeper").cast("long").alias("keeper_id_sum"),
        )
    )


# ---------------------------------------------------------------------------
# X4 — language distribution stats over the documents table.
# ---------------------------------------------------------------------------
@register(
    "q_lang_stats",
    oracle="""
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars,
       MIN(n_chars) AS min_chars,
       MAX(n_chars) AS max_chars
FROM documents
GROUP BY lang
""",
)
def q_lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    utc(spark)
    return (
        table(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
            (F.sum("n_chars").cast("double") / F.count(F.lit(1))).alias(
                "avg_chars"
            ),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
    )


# ---------------------------------------------------------------------------
# X4b — document fingerprinting: md5 content fingerprint (identical hex in
# both engines). Generic rolling-hash fingerprint: operators/text.py.
# ---------------------------------------------------------------------------
@register(
    "q_fingerprint",
    oracle="SELECT doc_id, md5(text) AS fp FROM documents",
)
def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    utc(spark)
    return table(spark, sf_dir, "documents").select(
        "doc_id", F.md5(F.col("text")).alias("fp")
    )


# ---------------------------------------------------------------------------
# X4c — quality scoring: word count, stopword ratio, avg word length —
# all JVM-side higher-order functions (no Python in the hot path).
# ---------------------------------------------------------------------------
@register(
    "q_quality_score",
    oracle="""
SELECT doc_id,
       n_words,
       n_stop,
       CAST(n_stop AS DOUBLE) / n_words AS stop_ratio,
       CAST(LENGTH(text) - n_words + 1 AS DOUBLE) / n_words AS avg_word_len
FROM (
  SELECT doc_id, text,
         CAST(len(string_split(text, ' ')) AS INTEGER) AS n_words,
         CAST(len(list_filter(string_split(text, ' '),
                              w -> w = 'the' OR w = 'a')) AS INTEGER) AS n_stop
  FROM documents
)
""",
)
def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    utc(spark)
    docs = table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n_words = F.size(toks).cast("int")
    n_stop = F.size(
        F.filter(toks, lambda w: (w == "the") | (w == "a"))
    ).cast("int")
    out = docs.select(
        "doc_id",
        F.col("text"),
        n_words.alias("n_words"),
        n_stop.alias("n_stop"),
    )
    return out.select(
        "doc_id",
        "n_words",
        "n_stop",
        (F.col("n_stop").cast("double") / F.col("n_words")).alias("stop_ratio"),
        (
            (F.length("text") - F.col("n_words") + 1).cast("double")
            / F.col("n_words")
        ).alias("avg_word_len"),
    )


# ---------------------------------------------------------------------------
# X4d — heuristic language-ID (stopword-frequency n-gram heuristic): a toy
# but deterministic classifier, identical in SQL, so it is oracle-checked.
# ---------------------------------------------------------------------------
@register(
    "q_lang_id",
    oracle="""
SELECT CASE WHEN CAST(len(list_filter(string_split(text, ' '),
                                      w -> w = 'the' OR w = 'a')) AS DOUBLE)
              / len(string_split(text, ' ')) > 0.08
            THEN 'en_like' ELSE 'other' END AS lang_pred,
       COUNT(*) AS n
FROM documents
GROUP BY 1
""",
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    utc(spark)
    docs = table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    ratio = F.size(
        F.filter(toks, lambda w: (w == "the") | (w == "a"))
    ).cast("double") / F.size(toks)
    pred = F.when(ratio > 0.08, "en_like").otherwise("other").alias("lang_pred")
    return docs.select(pred).groupBy("lang_pred").agg(
        F.count(F.lit(1)).alias("n")
    )


# ---------------------------------------------------------------------------
# Heavy hitters — top-20 most frequent whitespace tokens corpus-wide.
# explode→count→TakeOrdered: map-side partial counts make the shuffle
# carry (token, partial) not raw tokens; ties broken lexicographically.
# ---------------------------------------------------------------------------
@register(
    "q_heavy_hitters",
    oracle="""
SELECT tok, COUNT(*) AS n
FROM (SELECT UNNEST(string_split(text, ' ')) AS tok FROM documents)
WHERE tok <> ''
GROUP BY tok
ORDER BY n DESC, tok
LIMIT 20
""",
)
def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    utc(spark)
    docs = table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split("text", " ")).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "tok")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# TF-IDF — distinct (doc, term) term frequencies joined to document
# frequencies; idf = ln(N/df). ln() is the one non-IEEE-identical step
# (libm vs JVM StrictMath), so scores are ROUND()ed to 6 on both sides —
# far above any ulp drift. Output: top score per doc (deterministic
# tie-break on term).
# ---------------------------------------------------------------------------
@register(
    "q_tfidf",
    oracle="""
WITH tokens AS (
  SELECT doc_id, UNNEST(string_split(text, ' ')) AS term FROM documents
),
tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM tokens WHERE term <> ''
  GROUP BY 1, 2
),
df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term,
         ROUND(tf.tf * LN(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS score
  FROM tf JOIN df USING (term) CROSS JOIN n
)
SELECT doc_id, term, score
FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY doc_id ORDER BY score DESC, term
  ) AS rn FROM scored
)
WHERE rn = 1
""",
)
def q_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    utc(spark)
    docs = table(spark, sf_dir, "documents")
    # corpus size as a broadcast 1-row frame, not a driver count(): keeps
    # the whole pipeline one lazy plan
    n = docs.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    tf = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("term").agg(F.count_distinct("doc_id").alias("df"))
    scored = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6
            ).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), "term")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "term", "score")
    )


# ---------------------------------------------------------------------------
# X2 — n-gram Jaccard similarity, oracle-checked: character-trigram
# Jaccard between consecutive doc_id pairs. The LSH keys (q_minhash_dedup
# etc.) are rows-only checked because banding is implementation-defined;
# this key pins the underlying SET-SIMILARITY math against DuckDB exactly.
# Linear pair count (doc_id+1 self-join, shuffle on doc_id) — the all-pairs
# version is what MinHash/LSH approximates at scale, never materialized.
# Grams cap at the first 256 chars so the shingle arrays stay O(1) per row.
# Jaccard = |∩|/|∪| of two small ints: one identical IEEE division.
# ---------------------------------------------------------------------------
@register(
    "q_ngram_jaccard",
    oracle="""
WITH g AS (
  SELECT doc_id,
         list_distinct(
           list_transform(range(1, length(s) - 1),
                          i -> substr(s, CAST(i AS INT), 3))
         ) AS grams
  FROM (SELECT doc_id, lower(substr(text, 1, 256)) AS s FROM documents)
  WHERE length(s) >= 3
)
SELECT a.doc_id AS left_id,
       b.doc_id AS right_id,
       CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
         / len(list_distinct(list_concat(a.grams, b.grams))) AS jaccard
FROM g a JOIN g b ON b.doc_id = a.doc_id + 1
""",
)
def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    utc(spark)
    from pyspark.sql import Window

    d = table(spark, sf_dir, "documents").select(
        "doc_id", F.lower(F.substring("text", 1, 256)).alias("s")
    )
    g = d.filter(F.length("s") >= 3).select(
        "doc_id",
        F.array_distinct(
            F.expr("transform(sequence(1, length(s) - 2), i -> substring(s, i, 3))")
        ).alias("grams"),
    )
    # r13 (guide §2.3/§2.4 — VERDICT r12 item 4): the old self-join on
    # right_id == left_id + 1 recomputed the interpreted gram pipeline
    # on BOTH sides (the equi-keys differ, so no exchange reuse ever
    # fires). Consecutive-id pairing is a neighborhood problem, not a
    # join: bucket rows by floor(doc_id / B), duplicating only the
    # bucket-boundary rows (doc_id ≡ 0 mod B) into the previous bucket,
    # and take lead() within each bucket — grams are computed ONCE per
    # doc (+1/B duplication), one shuffle, no join. A pair survives iff
    # lead(doc_id) == doc_id + 1, exactly the old join predicate; the
    # boundary duplication guarantees every (i, i+1) pair is co-located
    # in exactly one bucket (i in bucket k, i+1 = (k+1)B lands there
    # too; the duplicate is the bucket's LAST row so it emits no pair
    # of its own). Bucket size is bounded by B+1 rows — window state
    # stays bounded at any corpus size, and n/B buckets keep the work
    # wide at scale.
    #
    # The bucket is doc_id >> 7: exact integer floor division by B=128
    # for every long (double division mis-buckets ids above 2^53, and
    # DIV truncates toward zero, which splits negative pairs such as
    # (-128, -127) across buckets).
    # lead() pairing needs UNIQUE doc_ids — the join emitted one pair
    # per duplicate, lead() would silently emit one — so a duplicate
    # (adjacent in its bucket's order) fails the query instead.
    shift = 7
    k = F.shiftright("doc_id", shift)
    bucketed = g.select(
        "doc_id",
        "grams",
        F.explode(
            F.when(
                F.pmod("doc_id", F.lit(1 << shift)) == 0, F.array(k, k - 1)
            ).otherwise(F.array(k))
        ).alias("__bucket"),
    )
    w = Window.partitionBy("__bucket").orderBy("doc_id")
    paired = bucketed.select(
        F.col("doc_id").alias("left_id"),
        F.lead("doc_id").over(w).alias("right_id"),
        F.col("grams").alias("ga"),
        F.lead("grams").over(w).alias("gb"),
    ).filter(
        F.when(
            F.col("right_id") == F.col("left_id"),
            F.raise_error(
                F.concat(
                    F.lit("q_ngram_jaccard: duplicate doc_id "),
                    F.col("left_id").cast("string"),
                )
            ),
        ).otherwise(F.col("right_id") == F.col("left_id") + 1)
    )
    return paired.select(
        "left_id",
        "right_id",
        (
            F.size(F.array_intersect("ga", "gb")).cast("double")
            / F.size(F.array_union("ga", "gb"))
        ).alias("jaccard"),
    )


# ---------------------------------------------------------------------------
# X4 — per-language top tokens: the partitioned heavy-hitters shape
# (q_heavy_hitters is global). Count per (lang, token) — partial agg
# collapses before the shuffle — then a per-lang top-5 window with
# (count DESC, token ASC) tiebreak so engines agree on every winner.
# ---------------------------------------------------------------------------
@register(
    "q_top_tokens_per_lang",
    oracle="""
WITH tok AS (
  SELECT lang, UNNEST(string_split(text, ' ')) AS token FROM documents
),
counts AS (
  SELECT lang, token, COUNT(*) AS n FROM tok
  WHERE token <> '' GROUP BY lang, token
),
ranked AS (
  SELECT lang, token, n,
         row_number() OVER (PARTITION BY lang ORDER BY n DESC, token) AS rn
  FROM counts
)
SELECT lang, token, n, rn FROM ranked WHERE rn <= 5
""",
)
def q_top_tokens_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    utc(spark)
    d = table(spark, sf_dir, "documents").select("lang", "text")
    tok = d.select("lang", F.explode(F.split("text", " ")).alias("token"))
    counts = (
        tok.filter(F.col("token") != "")
        .groupBy("lang", "token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("lang").orderBy(F.col("n").desc(), F.col("token"))
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
    )


# ---------------------------------------------------------------------------
# X4 — corpus length profile: 500-char bins over n_chars (integer
# division — no float binning drift), per-bin doc count, char mass, and
# source diversity. The curation dashboard query.
# ---------------------------------------------------------------------------
@register(
    "q_doc_length_histogram",
    oracle="""
SELECT CAST(n_chars // 500 AS BIGINT) AS len_bin,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       COUNT(DISTINCT source) AS n_sources
FROM documents
GROUP BY 1
""",
)
def q_doc_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    utc(spark)
    d = table(spark, sf_dir, "documents").select("n_chars", "source")
    return d.groupBy(
        F.floor(F.col("n_chars") / 500).cast("long").alias("len_bin")
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.countDistinct("source").alias("n_sources"),
    )


# ---------------------------------------------------------------------------
# Intra-document repetition (X4d — the Gopher/C4 quality rule): fraction
# of word trigrams that are duplicates within the SAME document. All
# integer math (trigram count, distinct count, 10·dup > total threshold)
# so membership is bit-exact. Trigrams are built with a per-row HOF over
# the token array — no explode, no shuffle: this is a pure map, and at
# 100 TB it runs scan-local at whatever parallelism the files give.
# Reference parity: corpus quality filtering, bcdp text surface
# [UNVERIFIED — /root/reference was empty at survey time; SURVEY.md §0].
# ---------------------------------------------------------------------------
@register(
    "q_repetition_ratio",
    oracle="""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
tri AS (
  SELECT doc_id,
         [t[i] || ' ' || t[i+1] || ' ' || t[i+2]
          FOR i IN generate_series(1, len(t) - 2)] AS g
  FROM toks
  WHERE len(t) >= 3
)
SELECT doc_id,
       len(g) AS n_tri,
       len(list_distinct(g)) AS n_uniq,
       len(g) - len(list_distinct(g)) AS n_dup,
       10 * (len(g) - len(list_distinct(g))) > len(g) AS repetitive
FROM tri
""",
)
def q_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    utc(spark)
    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    # r12: stage the gram array through its own projection — inlining
    # `g` into both size(g) and size(array_distinct(g)) built the whole
    # interpreted trigram array TWICE per doc (CollapseProject keeps a
    # staged non-cheap alias staged, so this evaluates once; measured
    # 3.43 -> 0.33 s at sf0.1, plan carries exactly one transform()).
    toks = d.select("doc_id", F.split("text", " ").alias("__toks")).filter(
        F.size("__toks") >= 3
    )
    g = F.transform(
        F.sequence(F.lit(0), F.size("__toks") - 3),
        lambda i: F.concat_ws(
            " ",
            F.element_at("__toks", i + 1),
            F.element_at("__toks", i + 2),
            F.element_at("__toks", i + 3),
        ),
    )
    out = toks.select("doc_id", g.alias("__g")).select(
        "doc_id",
        F.size("__g").alias("n_tri"),
        F.size(F.array_distinct("__g")).alias("n_uniq"),
    )
    return out.select(
        "doc_id",
        "n_tri",
        "n_uniq",
        (F.col("n_tri") - F.col("n_uniq")).alias("n_dup"),
        (10 * (F.col("n_tri") - F.col("n_uniq")) > F.col("n_tri")).alias("repetitive"),
    )


# ---------------------------------------------------------------------------
# X4/EXT — benchmark contamination detection: flag corpus documents whose
# character-8-gram sets overlap a held-out "benchmark" slice (doc_id %
# 19 == 0 — deterministic, partition-independent membership). The
# decontamination pass every training pipeline runs before a data
# release. Plan shape at 100 TB: the benchmark gram set is tiny relative
# to the corpus, so it broadcasts; the corpus side explodes grams ONCE
# and joins without shuffling the documents themselves; the per-doc
# aggregate carries only (doc_id, n_grams, hit count). The >=5%% overlap
# gate is integer arithmetic (n_hit * 20 >= n_grams) so no float
# threshold can disagree between engines; the reported ratio is one
# int/int IEEE division.
# ---------------------------------------------------------------------------
@register(
    "q_contamination",
    oracle="""
WITH g AS (
  SELECT doc_id,
         list_distinct(
           list_transform(range(1, length(s) - 6),
                          i -> substr(s, CAST(i AS INT), 8))
         ) AS grams
  FROM (SELECT doc_id, lower(substr(text, 1, 256)) AS s FROM documents)
  WHERE length(s) >= 8
),
bench AS (
  SELECT DISTINCT UNNEST(grams) AS gram FROM g WHERE doc_id % 19 = 0
),
cg AS (
  SELECT doc_id, CAST(len(grams) AS BIGINT) AS n_grams,
         UNNEST(grams) AS gram
  FROM g WHERE doc_id % 19 <> 0
),
hits AS (
  SELECT doc_id, n_grams, COUNT(*) AS n_hit
  FROM cg JOIN bench USING (gram)
  GROUP BY doc_id, n_grams
)
SELECT doc_id, n_grams, n_hit,
       CAST(n_hit AS DOUBLE) / n_grams AS contamination
FROM hits
WHERE n_hit * 20 >= n_grams
""",
)
def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    utc(spark)
    d = table(spark, sf_dir, "documents").select(
        "doc_id", F.lower(F.substring("text", 1, 256)).alias("s")
    )
    g = d.filter(F.length("s") >= 8).select(
        "doc_id",
        F.array_distinct(
            F.expr("transform(sequence(1, length(s) - 7), i -> substring(s, i, 8))")
        ).alias("grams"),
    )
    # explode_outer, not explode (r12, guide §4.4's duplication in JVM
    # form): plain explode makes InferFiltersFromGenerate push a
    # `size(grams) > 0 AND isnotnull(grams)` guard below the projection,
    # re-evaluating the whole interpreted gram pipeline (transform +
    # array_distinct are CodegenFallback) THREE times per document —
    # measured 4.7 s -> 1.0 s (corpus side) / 3.7 s -> 0.33 s (bench
    # side) at sf0.1. Rows are identical: every row passing
    # length(s) >= 8 has a non-null array of >= 1 grams, so the outer
    # generator never emits the null row the guard exists to drop.
    bench = (
        g.filter(F.col("doc_id") % 19 == 0)
        .select(F.explode_outer("grams").alias("gram"))
        .distinct()
    )
    # coalesce makes n_grams provably non-nullable, so the isnotnull the
    # final n_hit*20 >= n_grams filter infers FOLDS AWAY instead of
    # pushing one more full gram-pipeline evaluation into the scan
    # filter (the simhash64 coalesce(…, 0) trick). grams is never null
    # on these rows, so the sentinel never fires.
    cg = g.filter(F.col("doc_id") % 19 != 0).select(
        "doc_id",
        F.coalesce(F.size("grams"), F.lit(-1)).cast("long").alias("n_grams"),
        F.explode_outer("grams").alias("gram"),
    )
    hits = cg.join(F.broadcast(bench), "gram").groupBy("doc_id", "n_grams").agg(
        F.count(F.lit(1)).alias("n_hit")
    )
    return hits.filter(F.col("n_hit") * 20 >= F.col("n_grams")).select(
        "doc_id",
        "n_grams",
        "n_hit",
        (F.col("n_hit").cast("double") / F.col("n_grams")).alias("contamination"),
    )


# ---------------------------------------------------------------------------
# X4+ (r4) — BM25 retrieval scoring (operators/text.py bm25_scores):
# rank the corpus against a fixed query-term set. The per-doc total is
# an exact DECIMAL(18,8) sum of 8-dp-rounded per-term scores, so the
# top-15 ORDER BY is engine-stable without float-ordering caveats.
# ---------------------------------------------------------------------------
@register(
    "q_bm25",
    oracle="""
WITH toks AS (
  SELECT doc_id, u.tok FROM documents,
         UNNEST(string_split(text, ' ')) AS u(tok)
  WHERE u.tok <> ''
),
dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
st AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS tot FROM dl),
tf AS (
  SELECT doc_id, tok, COUNT(*) AS tf FROM toks
  WHERE tok IN ('hash', 'join', 'scan') GROUP BY doc_id, tok
),
dfq AS (SELECT tok, COUNT(*) AS dfv FROM tf GROUP BY tok),
sc AS (
  SELECT tf.doc_id,
         CAST(ROUND(
           ln((st.n_docs - dfq.dfv + 0.5) / (dfq.dfv + 0.5) + 1.0)
           * (tf.tf * (1.2 + 1.0))
           / (tf.tf + 1.2 * (1.0 - 0.75
              + 0.75 * dl.dl / (CAST(st.tot AS DOUBLE) / st.n_docs))),
         8) AS DECIMAL(18,8)) AS s
  FROM tf JOIN dl USING (doc_id) JOIN dfq USING (tok) CROSS JOIN st
),
tot AS (SELECT doc_id, SUM(s) AS s_sum FROM sc GROUP BY doc_id)
SELECT doc_id,
       ROUND(CAST(CAST(s_sum AS VARCHAR) AS DOUBLE), 4) AS bm25
FROM tot ORDER BY s_sum DESC, doc_id LIMIT 15
""",
)
def q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bcdp_spark.operators.text import bm25_scores

    utc(spark)
    docs = table(spark, sf_dir, "documents")
    scored = bm25_scores(
        docs, "text", "doc_id", ("hash", "join", "scan"), k1=1.2, b=0.75
    )
    return (
        scored.orderBy(F.col("bm25_dec").desc(), F.col("doc_id"))
        .limit(15)
        .select(
            "doc_id",
            F.round(F.col("bm25_dec").cast("double"), 4).alias("bm25"),
        )
    )
