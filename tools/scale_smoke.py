"""Scale smoke: run heavy operators at sf0.1 and at a synthesized 10x
(events/lineitem/documents exploded with shifted keys), and report the
time ratio. A shuffle-clean operator should scale ~linearly in rows on
fixed cores; super-linear growth flags a plan that won't survive 100 TB.

Writes docs/SCALE_SMOKE.md. Run: python tools/scale_smoke.py
"""
from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Window
from pyspark.sql import functions as F

from bcdp_spark.session import get_spark
from bcdp_spark.tables import table

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
FACTOR = int(os.environ.get("SCALE_FACTOR", "10"))
OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "docs", "SCALE_SMOKE.md")


def synth(spark, tmp):
    """Explode each table FACTOR x with shifted keys, write parquet."""
    k = F.explode(F.array(*[F.lit(i) for i in range(FACTOR)])).alias("__k")
    ev = table(spark, SF, "events")
    n_ev = ev.count()
    (ev.select("*", k)
       .withColumn("event_id", F.col("event_id") + F.col("__k") * 10_000_000)
       .withColumn("user_id", F.col("user_id") + F.col("__k") * 1_000_000)
       .drop("__k")
       .write.mode("overwrite").parquet(f"{tmp}/events.parquet"))
    li = table(spark, SF, "lineitem")
    n_li = li.count()
    (li.select("*", k)
       .withColumn("l_orderkey", F.col("l_orderkey") + F.col("__k") * 100_000_000)
       .drop("__k")
       .write.mode("overwrite").parquet(f"{tmp}/lineitem.parquet"))
    do = table(spark, SF, "documents")
    n_do = do.count()
    (do.select("*", k)
       .withColumn("doc_id", F.col("doc_id") + F.col("__k") * 10_000_000)
       .drop("__k")
       .write.mode("overwrite").parquet(f"{tmp}/documents.parquet"))
    od = table(spark, SF, "orders")
    n_od = od.count()
    # custkey shifts too: per-group window cardinality scales with rows
    (od.select("*", k)
       .withColumn("o_orderkey", F.col("o_orderkey") + F.col("__k") * 100_000_000)
       .withColumn("o_custkey", F.col("o_custkey") + F.col("__k") * 10_000_000)
       .drop("__k")
       .write.mode("overwrite").parquet(f"{tmp}/orders.parquet"))
    em = table(spark, SF, "embeddings")
    n_em = em.count()
    # hash-noise every dimension (+-0.15 on unit-norm vectors -> copy-vs-
    # copy cosine ~0.8) so synthetic copies are genuinely DISTINCT
    # vectors: 10x identical copies would make the true near-dup pair set
    # itself quadratic in the duplication factor — measuring the data,
    # not the operator
    noise = lambda i: (
        (F.pmod(F.hash(F.col("vec_id"), F.col("__k"), i), F.lit(2001)) - 1000)
        / 1000.0 * 0.15
    )
    (em.select("*", k)
       .withColumn("vec_id", F.col("vec_id") + F.col("__k") * 10_000_000)
       .withColumn(
           "embedding",
           F.when(
               F.col("__k") == 0, F.col("embedding")
           ).otherwise(
               F.transform("embedding", lambda x, i: (x + noise(i)).cast("float"))
           ),
       )
       .drop("__k")
       .write.mode("overwrite").parquet(f"{tmp}/embeddings.parquet"))
    for t in ("customer", "supplier", "nation", "region", "part"):
        table(spark, SF, t).write.mode("overwrite").parquet(f"{tmp}/{t}.parquet")
    return {"events": n_ev, "lineitem": n_li, "documents": n_do,
            "orders": n_od, "embeddings": n_em}


def ops(spark, sf_dir):
    """Heavy operators: big shuffle join, per-key windows, rollup, groupBy
    dedup, LSH banding, brute kNN, embedding near-dup. Each returns a
    small result (count/collect bounded)."""
    from bcdp_spark.operators.dedup import (
        confirm_pairs_jaccard,
        embedding_near_dup,
        lsh_bucket_pairs,
    )
    from bcdp_spark.operators.similarity import flat_dot, flat_sqnorm

    li = table(spark, sf_dir, "lineitem")
    od = table(spark, sf_dir, "orders")
    ev = table(spark, sf_dir, "events")
    docs = table(spark, sf_dir, "documents")
    emb = table(spark, sf_dir, "embeddings")

    def t(fn):
        t0 = time.perf_counter()
        fn()
        return time.perf_counter() - t0

    def sim_knn():
        q = emb.filter(F.col("vec_id") == 0).select(
            F.col("embedding").alias("qe"),
            F.sqrt(flat_sqnorm("embedding", 64)).alias("q_norm"),
        )
        joined = emb.crossJoin(F.broadcast(q))
        sim = flat_dot("embedding", "qe", 64) / (
            F.sqrt(flat_sqnorm("embedding", 64)) * F.col("q_norm")
        )
        joined.select("vec_id", sim.alias("s")).orderBy(
            F.col("s").desc(), "vec_id"
        ).limit(10).collect()

    def _curvi_idw(ev):
        from bcdp_spark.operators.regrid import idw_regrid

        src = ev.select(
            (F.col("user_id") * 0.001).alias("slat"),
            ((F.col("event_id") % 2000) * 0.01).alias("slon"),
            F.col("value").alias("sval"),
            F.col("event_id").alias("sid"),
        )
        dst = ev.filter(F.col("event_id") % 50 == 0).select(
            (F.col("user_id") * 0.001 + 0.0005).alias("dlat"),
            ((F.col("event_id") % 2000) * 0.01 + 0.005).alias("dlon"),
            F.col("event_id").alias("did"),
        )
        idw_regrid(
            src, dst, radius=0.1, k=4,
            src_lat="slat", src_lon="slon", value_col="sval",
            dst_lat="dlat", dst_lon="dlon", dst_keys=("did",),
            tiebreak=("sid",),
        ).count()

    return {
        "bigjoin_agg": t(lambda: li.join(od, li.l_orderkey == od.o_orderkey)
                         .groupBy("o_orderstatus")
                         .agg(F.sum("l_quantity")).collect()),
        "window_topk": t(lambda: ev.withColumn(
            "rn", F.row_number().over(
                Window.partitionBy("user_id")
                .orderBy(F.col("value").desc(), "event_id")))
            .filter(F.col("rn") <= 3).count()),
        # the q_window_topk shape: no explicit repartition, AQE sizes the
        # single required-distribution exchange (the round-2 pinned-N
        # variant smoked at 3.9x; this is the fix's regression guard)
        "window_topk_orders": t(lambda: od.select(
            "o_custkey", "o_orderkey", "o_totalprice",
            F.row_number().over(
                Window.partitionBy("o_custkey")
                .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
            ).alias("rn"))
            .filter(F.col("rn") <= 3).count()),
        "rollup": t(lambda: od.rollup("o_orderstatus", "o_orderpriority")
                    .agg(F.sum("o_totalprice"), F.count(F.lit(1))).collect()),
        "exact_dedup": t(lambda: docs.groupBy(F.sha2("text", 256))
                         .agg(F.count(F.lit(1)).alias("n"))
                         .filter(F.col("n") > 1).count()),
        # bucket_cap engaged: the synthetic 10x duplicates every doc, so
        # uncapped candidate pairs grow quadratically BY CONSTRUCTION of
        # the data (10x bucket occupancy -> 100x pairs). The cap is the
        # designed giant-bucket defense; with it the banding stays
        # linear in rows.
        "minhash_lsh_pairs": t(lambda: lsh_bucket_pairs(
            docs, "text", "doc_id", bucket_cap=200).count()),
        "sim_knn": t(sim_knn),
        # curvilinear IDW regrid: src = every event as a point (lat
        # domain grows with the shifted user_ids, so DENSITY stays
        # constant and area scales linearly); dst = 1/50 sample of the
        # same cloud, slightly offset. Both sides scale with rows.
        "curvi_idw": t(lambda: _curvi_idw(ev)),
        # substring-level dup signal: one windowed gram count + per-doc
        # agg; gram rows scale linearly with documents
        "repeated_ngrams": t(lambda: __import__(
            "bcdp_spark.operators.dedup", fromlist=["x"]
        ).repeated_ngram_doc_stats(docs, "text", "doc_id").count()),
        # 16-bit hyperplane blocking + giant-bucket cap: bucket count >>
        # occupancy for spread vectors, and the cap bounds any degenerate
        # bucket before the self-join
        "embed_neardup": t(lambda: embedding_near_dup(
            emb, "vec_id", "embedding", 64, threshold=0.9,
            bucket_cap=200).count()),
        # r3: doc-internal repetition signals — two (doc, gram) hash aggs
        # + a doc_id join; gram rows scale linearly with documents
        "doc_repetition": t(lambda: _q("q_doc_repetition")(spark, sf_dir)
                            .count()),
        # r3: TextRank (3-iteration join-based PageRank over the bigram
        # graph). Node/edge count grows with VOCAB, not documents — the
        # synthetic 10x duplicates texts, so the graph is identical and
        # only the edge-weight aggregation scans more rows; expect a
        # ratio well under FACTOR.
        "token_pagerank": t(lambda: _q("q_token_pagerank")(spark, sf_dir)
                            .count()),
        # r4: span-removal dedup — gram rows linear in corpus size;
        # sort-free (hash agg + SHUFFLE_HASH + left_anti + array_sort
        # only within each doc's collected row). Aggregate over the
        # cleaned text so column pruning can't skip the re-assembly
        # (a bare count() measures a plan with the surgery pruned out).
        "span_dedup": t(lambda: __import__(
            "bcdp_spark.operators.dedup", fromlist=["x"]
        ).strip_duplicated_spans(docs, "text", "doc_id")
            .agg(F.sum(F.length("cleaned_text")), F.sum("n_removed"))
            .collect()),
        # r4 late: DSIR importance weights — token explode (map) +
        # 256-key bucket agg + broadcast ratio join + per-doc agg; all
        # shuffles carry doc ids or 2-char buckets, linear in tokens.
        "dsir_weights": t(lambda: _q("q_dsir_weights")(spark, sf_dir)
                          .agg(F.sum("n_tokens"), F.sum("log_weight"))
                          .collect()),
        # r4 late: Lloyd k-means (2 iterations, k=4) — per iteration one
        # broadcast of the k-row centroid table + one (cell, dim) agg;
        # vector rows stream map-side, linear in vectors.
        "kmeans": t(lambda: _q("q_kmeans")(spark, sf_dir).collect()),
        # r4 late: BM25 — token explode + (doc)/(doc,term) hash aggs +
        # two tiny broadcasts; linear in tokens.
        "bm25": t(lambda: _q("q_bm25")(spark, sf_dir).collect()),
        # r4 late: PQ train+encode+ADC — per iteration one broadcast of
        # the m*ksub codebook onto the sub-vector stream; the ADC scan is
        # a broadcast join over codes. Linear in vectors.
        "pq_adc": t(lambda: _pq_adc(spark, sf_dir)),
        # r4 late: incremental admission dedup — two fingerprint-keyed
        # hash joins (anti + semi); linear in docs.
        "incremental_dedup": t(lambda: _incremental(docs)),
        # r4 late: perceptual-hash image near-dedup — mapInPandas decode
        # + pHash per doc image, then the pigeonhole chunk equi-join at
        # h=4 (5 x ~13-bit chunks) with bucket_cap. h=10 is structurally
        # quadratic here: ~6-bit chunks give at most 64 buckets, so at
        # 50k images EVERY bucket is either joined quadratically
        # (uncapped: measured 43x) or dropped (capped: measured 0%%
        # recall). The fix is the hamming bound, not the cap — planted
        # pair recall at h=4 is asserted 100%% at both scales.
        "image_phash": t(lambda: _phash_pairs(docs)),
        # r4 late: IVF-probed batch kNN join — centroid broadcast +
        # nprobe cell equi-join + per-query WindowGroupLimit; queries
        # (1/50 of vectors) and corpus both scale with rows.
        "knn_join_ivf": t(lambda: _knn_join_ivf(emb)),
        # r4 late: one BPE merge iteration — the corpus pass (explode +
        # word hash-count) dominates; the pair count + argmax run on the
        # VOCABULARY, which the synthetic 10x leaves identical (texts
        # are duplicated), so the ratio isolates the corpus-pass cost.
        "bpe_one_merge": t(lambda: __import__(
            "bcdp_spark.operators.bpe", fromlist=["x"]
        ).bpe_train(docs, text_col="text", n_merges=1)),
        # r5: blocked EOF Gram — per-block pivot + T×T outer product
        # via applyInPandas, shuffle carries n_blocks·T²/2 partials
        # (constant under row growth); the scan axis (space cells =
        # shifted user_ids) is the only thing that scales.
        "eof_gram": t(lambda: __import__(
            "bcdp_spark.operators.eof", fromlist=["x"]
        ).gram_matrix_time(
            ev.select((F.col("event_id") % 24).alias("t"),
                      F.col("user_id").alias("cell"), "value"),
            time_col="t", space_cols=("cell",),
        ).collect()),
        # r4 late: bigram-LM perplexity scoring — two count tables +
        # equi-join scoring; bigram rows linear in tokens, count tables
        # scale with vocab (constant under the duplicating 10x).
        "bigram_lm": t(lambda: __import__(
            "bcdp_spark.operators.text", fromlist=["x"]
        ).bigram_lm_scores(docs)
            .agg(F.sum("n_bigrams"), F.sum("avg_nll")).collect()),
        # r7: benchmark decontamination — bench gram set DISTINCTs then
        # broadcasts (constant-ish under train growth); the train side
        # is a map + broadcast semi-join + distinct on contaminated
        # ids. Linear in train tokens.
        "decontaminate": t(lambda: __import__(
            "bcdp_spark.operators.dedup", fromlist=["x"]
        ).decontaminate(
            docs.filter(F.col("doc_id") % 97 != 0),
            docs.filter(F.col("doc_id") % 97 == 0),
            n=4,
        ).groupBy("contaminated").count().collect()),
        # r7: market-basket pair mining — self-equi-join on the order
        # key (bounded baskets keep the pair explosion a constant
        # factor), pair hash-agg, broadcast supports, top-20 via
        # TakeOrderedAndProject. Linear in lineitems.
        "market_basket": t(lambda: _q("q_market_basket")(spark, sf_dir)
                           .collect()),
        # r8: ensemble CRPS — two window columns + one hash agg per
        # forecast day; the 10x multiplies members per day (group count
        # constant), so the rank windows carry 10x rows on the same
        # key set. Linear in members.
        "crps": t(lambda: _q("q_crps")(spark, sf_dir).collect()),
        # r8: quantile mapping — per-station rank windows + one rank
        # equi-join; the 10x shifts user_ids (10x stations, same
        # per-station size), the ideal horizontal-scaling shape.
        "quantile_map": t(lambda: _q("q_quantile_map")(spark, sf_dir)
                          .collect()),
        # r8: TX90p — baseline rank window (calibration half) + a
        # broadcast threshold join onto the analysis scan. Linear.
        "tx90p": t(lambda: _q("q_tx90p")(spark, sf_dir).collect()),
        # r8 late: Gumbel return levels — block-maxima agg + one rank
        # window per station + station agg. The 10x multiplies
        # stations (shifted user_ids), per-station block count
        # constant: ideal horizontal scaling.
        "return_levels": t(lambda: _q("q_return_levels")(spark, sf_dir)
                           .collect()),
        # r8 late: SPI — two station aggs + a broadcast-sized fit join
        # back onto the daily accumulations. Linear.
        "spi": t(lambda: _q("q_spi")(spark, sf_dir).collect()),
        # r8 late: Gopher ruleset — pure map stage + per-source agg;
        # the whole filter rides the scan.
        "gopher_rules": t(lambda: _q("q_gopher_rules")(spark, sf_dir)
                          .collect()),
        # r8 late: fixed-point GD classifier training — per iteration
        # one 1-row broadcast + one map + one exact bigint agg; pure
        # data-parallel, linear in rows.
        "logreg": t(lambda: _q("q_logreg")(spark, sf_dir).collect()),
        # r9: incremental IVF append — Lloyd build on half the
        # vectors, one broadcast-argmin assignment pass over the other
        # half + cell-partitioned parquet append, probe at nprobe=k.
        # Linear in vectors (train + assign are both single-pass).
        "ivf_append": t(lambda: _ivf_append_smoke(spark, emb)),
        # r10: exact-confirm stage on LSH candidates (the upgrade that
        # made the LSH keys hash-checkable) — two id-equi joins ship
        # candidate gram arrays only, so cost is linear in CANDIDATES,
        # which bucket_cap bounds even on the all-dup synthetic 10x.
        "minhash_confirmed": t(lambda: confirm_pairs_jaccard(
            lsh_bucket_pairs(docs, "text", "doc_id", bucket_cap=200),
            docs, "text", "doc_id").count()),
        # r11: combination multi-index blocking (q_simhash_pairs' new
        # radius-12 path) — C(14,2)=91 tables of ~9-bit keys; explode
        # is a constant factor, the join cost rides bucket occupancy,
        # which bucket_cap bounds on the all-dup synthetic 10x exactly
        # like the single pigeonhole.
        "simhash_multi_index": t(lambda: _simhash_multi_smoke(
            spark, docs)),
    }


def _simhash_multi_smoke(spark, docs):
    from bcdp_spark.operators.dedup import (
        hamming_multi_index_pairs,
        simhash64,
    )

    h = docs.select(
        F.col("doc_id"), simhash64(F.col("text")).alias("__sh")
    )
    return hamming_multi_index_pairs(
        h, "__sh", "doc_id", max_hamming=12, blocks=14, bucket_cap=200
    ).count()


def _ivf_append_smoke(spark, emb):
    import tempfile

    from bcdp_spark.operators.similarity import (
        ivf_index_append,
        ivf_index_build,
        ivf_index_probe,
    )

    with tempfile.TemporaryDirectory() as tmp:
        path = os.path.join(tmp, "ivf")
        half = emb.filter(F.col("vec_id") % 2 == 0)
        rest = emb.filter(F.col("vec_id") % 2 == 1)
        ivf_index_build(half, path, k=4, n_iter=1)
        ivf_index_append(spark, path, rest)
        q = [1.0] + [0.0] * 63
        ivf_index_probe(spark, path, q, topk=5, nprobe=4).collect()


def _knn_join_ivf(emb):
    from bcdp_spark.operators.similarity import knn_join_ivf

    queries = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    corpus = emb.filter(F.col("vec_id") % 50 != 0).select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec")
    )
    knn_join_ivf(queries, corpus, k=3, dim=64, n_cells=4, nprobe=2).count()


def _phash_pairs(docs):
    from bcdp_spark.operators.dedup import hamming_near_pairs
    from bcdp_spark.operators.multimodal import (
        image_phash,
        planted_pair_ppm_synth,
    )

    media = docs.select(F.col("doc_id").alias("media_id"))
    payloads = media.mapInPandas(
        planted_pair_ppm_synth(), schema="media_id long, payload binary"
    )
    pairs = hamming_near_pairs(
        image_phash(payloads), "phash", "media_id",
        max_hamming=4, bucket_cap=200,
    ).cache()
    # recall gate on the PLANTED pairs specifically (not total output:
    # a false-positive flood must not be able to mask dropped planted
    # pairs). Group structure: ids 2k/2k+1 — preserved under the 10x
    # even id shift.
    planted = (F.col("id_b") == F.col("id_a") + 1) & (F.col("id_a") % 2 == 0)
    n_planted_found = pairs.filter(planted).count()
    n_groups = docs.filter(F.col("doc_id") % 2 == 0).join(
        docs.select((F.col("doc_id") - 1).alias("doc_id")).filter(
            F.col("doc_id") % 2 == 0
        ),
        "doc_id",
        "left_semi",
    ).count()
    assert n_planted_found >= n_groups, (
        f"phash planted recall: {n_planted_found} < {n_groups}"
    )
    pairs.unpersist()


def _pq_adc(spark, sf_dir):
    from bcdp_spark.operators.similarity import (
        pq_adc_topk,
        pq_train_encode,
        subvectors,
    )

    emb = table(spark, sf_dir, "embeddings")
    codes, codebook = pq_train_encode(
        emb, "embedding", "vec_id", dim=64, m=8, ksub=8, n_iter=1
    )
    qsubs = subvectors(
        emb.orderBy("vec_id").limit(1), "embedding", "vec_id", 64, 8
    ).select("sub", F.col("__sv").alias("qsub"))
    pq_adc_topk(codes, codebook, qsubs, k=10, dsub=8).collect()


def _incremental(docs):
    from bcdp_spark.operators.dedup import (
        corpus_fingerprints,
        incremental_exact_dedup,
    )

    corpus = docs.filter(F.col("doc_id") % 10 < 8)
    batch = docs.filter(F.col("doc_id") % 10 >= 8)
    incremental_exact_dedup(
        batch, corpus_fingerprints(corpus, "text"), "text", "doc_id"
    ).count()


def _q(key):
    import bcdp_spark.queries as q

    return q.queries()[key]


def fixture_ops(spark, factor: int):
    """r7 (VERDICT r6 item 7): the r6/r7 format-source surface. These
    operators scale their OWN decode fixtures — the sf tables play no
    part: the GeoTIFF tile count and the GRIB2 ensemble member count
    both grow by ``factor``, so the expected ratio is ~FACTOR on fixed
    cores (one decode task per tile / per message, no shuffle beyond
    the final agg)."""
    import datetime as _dt
    import tempfile

    import numpy as np

    from bcdp_spark.sources.geotiff import load_geotiff, write_geotiff
    from bcdp_spark.sources.grib2 import load_grib2, write_grib2_message

    out = {}
    with tempfile.TemporaryDirectory() as tmp:
        # GeoTIFF: one COG-shaped raster (deflate tiles + float
        # predictor 3), rows scale with factor -> 15*factor x 13 tiles
        rows, cols = 240 * factor, 200
        r = np.arange(rows, dtype="<f8")[:, None]
        c = np.arange(cols, dtype="<f8")[None, :]
        raw = write_geotiff(
            (r * 0.25 + c).astype("<f8"), lat0=float(rows) / 4,
            lon0=0.25, dlat=0.25, dlon=0.25,
            compression=8, predictor=3, tile=(16, 16),
        )
        with open(os.path.join(tmp, "smoke.tif"), "wb") as fh:
            fh.write(raw)
        t0 = time.perf_counter()
        load_geotiff(spark, os.path.join(tmp, "*.tif")).groupBy(
            "name"
        ).agg(F.count(F.lit(1)), F.sum("value")).collect()
        out["geotiff_ingest"] = time.perf_counter() - t0

        # GRIB2 ensemble: member count scales with factor, one file
        # per member (the GEFS layout), simple packing for even
        # members / complex+spatial-diff for odd — both decode paths
        n_members = 8 * factor
        lats = np.linspace(-57.0, 57.0, 20)
        lons = np.arange(30) * 12.0
        aa = np.arange(20)[:, None]
        oo = np.arange(30)[None, :]
        for m in range(n_members):
            vals = 0.25 * ((m % 50) * 1000 + aa * 10 + oo)
            msg = write_grib2_message(
                vals, lats, lons, _dt.datetime(2001, 1, 1),
                forecast_hours=0, category=0, number=0,
                level_type=103, level=2, binary_scale=-2, nbits=16,
                packing=0 if m % 2 == 0 else 3, spatial_order=2,
                member=m, ens_size=n_members,
            )
            with open(
                os.path.join(tmp, f"gep{m:03d}.grib2"), "wb"
            ) as fh:
                fh.write(msg)
        t0 = time.perf_counter()
        load_grib2(spark, os.path.join(tmp, "*.grib2")).groupBy(
            "member"
        ).agg(F.count(F.lit(1)), F.sum("value")).collect()
        out["grib2_ensemble"] = time.perf_counter() - t0

        # kerchunk (r8, VERDICT r7 item 8): archive FILE COUNT scales
        # with factor — 12*factor daily NetCDF files indexed in one
        # distributed pass (kerchunk_index: executor-resident refs +
        # manifest-only driver), then read through the merged virtual
        # store (kerchunk_climatology: one ranged decode per chunk)
        from bcdp_spark.sources.kerchunk import index_files
        from bcdp_spark.sources.zarr import load_zarr

        kdir = os.path.join(tmp, "kerchunk")
        os.makedirs(kdir)
        paths = _write_nc_days(kdir, n_files=12 * factor, days_per=2)
        t0 = time.perf_counter()
        index_files(
            spark, paths, fmt="netcdf3",
            out_dir=os.path.join(kdir, "refs"),
        )
        out["kerchunk_index"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        load_zarr(
            spark, f"refs::{kdir}/refs/merged.refs.json"
        ).groupBy("lat").agg(
            F.count(F.lit(1)), F.avg("value")
        ).collect()
        out["kerchunk_climatology"] = time.perf_counter() - t0

        # r9: twin-less filter pipelines through the hdf5-filter
        # pseudo-codec — TIME-STEP count scales with factor (chunked 1
        # along time, so decode tasks scale linearly); each chunk pays
        # szip + fletcher32 verify inside defilter_chunk
        from bcdp_spark.sources.hdf5 import write_hdf5
        from bcdp_spark.sources.kerchunk import hdf5_refs, write_refs

        nt = 48 * factor
        tt = np.arange(nt)[:, None, None]
        aa2 = np.arange(8)[None, :, None]
        oo2 = np.arange(12)[None, None, :]
        raw = write_hdf5(
            {
                "time": (["time"], np.arange(nt, dtype="<f8"),
                         {"units": "hours since 2009-01-01"}),
                "lat": (["lat"], np.linspace(-70, 70, 8), {}),
                "lon": (["lon"], np.arange(12) * 30.0, {}),
                "pr": (["time", "lat", "lon"],
                       (tt * 100.0 + aa2 * 10 + oo2).astype("<f8"), {}),
            },
            chunk={"pr": (1, 8, 12)},
            gzip_level=None, szip={"pr": (8, "nn")}, fletcher=True,
        )
        h5p = os.path.join(tmp, "szarch.h5")
        with open(h5p, "wb") as fh:
            fh.write(raw)
        refsp = os.path.join(tmp, "szarch.refs.json")
        write_refs(hdf5_refs(h5p, dims={
            "time": ["time"], "lat": ["lat"], "lon": ["lon"],
            "pr": ["time", "lat", "lon"],
        }), refsp)
        t0 = time.perf_counter()
        load_zarr(spark, f"refs::{refsp}").groupBy("lat").agg(
            F.count(F.lit(1)), F.sum("value")
        ).collect()
        out["kerchunk_h5filters"] = time.perf_counter() - t0

        # r9: chemistry templates — MESSAGE count scales with factor
        # (constituents x steps), one decode task per message
        n_steps = 8 * factor
        clats = np.linspace(-57.0, 57.0, 20)
        clons = np.arange(30) * 12.0
        ca = np.arange(20)[:, None]
        co = np.arange(30)[None, :]
        msgs = b""
        for code in (0, 5, 8):
            for s in range(n_steps):
                vals = 0.25 * (code * 1000 + (s % 40) * 25 + ca * 10 + co)
                msgs += write_grib2_message(
                    vals, clats, clons, _dt.datetime(2019, 7, 1),
                    forecast_hours=s, category=20, number=0,
                    binary_scale=-2, nbits=16,
                    packing=0 if code % 2 == 0 else 3,
                    spatial_order=2, chem=code,
                )
        with open(os.path.join(tmp, "cams.grib2"), "wb") as fh:
            fh.write(msgs)
        t0 = time.perf_counter()
        load_grib2(spark, os.path.join(tmp, "cams.grib2")).groupBy(
            "ens_label"
        ).agg(F.count(F.lit(1)), F.sum("value")).collect()
        out["grib2_chem"] = time.perf_counter() - t0

        # r9: rotated-grid raster — rows scale with factor; every block
        # materializes its 2-D affine coordinate grids elementwise
        rrows = 240 * factor
        rr = np.arange(rrows, dtype="<f8")[:, None]
        rc = np.arange(200, dtype="<f8")[None, :]
        raw = write_geotiff(
            (rr * 0.25 + rc).astype("<f8"), lat0=float(rrows) / 4,
            lon0=0.25, dlat=0.25, dlon=0.25,
            rotation=(0.01, 0.005),
            compression=8, tile=(16, 16),
        )
        with open(os.path.join(tmp, "rot.tif"), "wb") as fh:
            fh.write(raw)
        t0 = time.perf_counter()
        load_geotiff(spark, os.path.join(tmp, "rot.tif")).groupBy(
            "name"
        ).agg(F.count(F.lit(1)), F.sum("value")).collect()
        out["geotiff_rotated"] = time.perf_counter() - t0

        # r10: vlen station archive — FILE count scales with factor
        # (one decode task per file, the obs-archive parallelism
        # unit); each file carries vlen strings + ragged sequences +
        # numerics, so the GCOL resolve is on the hot path
        from bcdp_spark.sources.hdf5 import load_hdf5_vars

        vdir = os.path.join(tmp, "vlen")
        os.makedirs(vdir)
        n_rows = 400
        for f in range(4 * factor):
            i = np.arange(n_rows)
            station = np.array(
                [f"st-é{(k + f) % 23}" * ((k % 3) + 1) for k in i],
                dtype=object,
            )
            rag = np.empty(n_rows, dtype=object)
            for j, k in enumerate(i):
                rag[j] = 0.25 * (k * 10 + np.arange(int(k % 4),
                                                    dtype="<f8"))
            raw = write_hdf5(
                {
                    "station": (["r"], station, {}),
                    "depths": (["r"], rag, {}),
                    "obs": (["r"], (0.5 * i).astype("<f8"), {}),
                },
                chunk={"station": (128,), "depths": (128,),
                       "obs": (128,)},
                gzip_level=4,
            )
            with open(os.path.join(vdir, f"stn{f:03d}.h5"), "wb") as fh:
                fh.write(raw)
        t0 = time.perf_counter()
        load_hdf5_vars(
            spark, os.path.join(vdir, "*.h5"),
            ["station", "depths", "obs"],
        ).select(
            "station", F.size("depths").alias("n"), "obs"
        ).groupBy("station").agg(
            F.count(F.lit(1)), F.sum("n"), F.sum("obs")
        ).collect()
        out["hdf5_vlen_vars"] = time.perf_counter() - t0

        # r10: cluster products — MESSAGE count scales with factor
        # (clusters x derived codes x steps), one decode per message
        n_csteps = 6 * factor
        msgs = b""
        for ci, (shape, members) in enumerate(
            (("rect", [1, 2, 3]), ("circle", [4, 5])), start=1
        ):
            for dcode in (0, 2):
                for s in range(n_csteps):
                    vals = 0.25 * (
                        ci * 1000 + dcode * 100 + (s % 30) * 17
                        + ca * 10 + co
                    )
                    msgs += write_grib2_message(
                        vals, clats, clons, _dt.datetime(2021, 3, 1),
                        forecast_hours=s, binary_scale=-2, nbits=16,
                        packing=0 if (ci + dcode) % 2 == 0 else 3,
                        spatial_order=2, ens_size=5,
                        cluster=(dcode, ci, 2, members, shape),
                    )
        with open(os.path.join(tmp, "clusters.grib2"), "wb") as fh:
            fh.write(msgs)
        t0 = time.perf_counter()
        load_grib2(
            spark, os.path.join(tmp, "clusters.grib2")
        ).groupBy("ens_label").agg(
            F.count(F.lit(1)), F.sum("value")
        ).collect()
        out["grib2_cluster"] = time.perf_counter() - t0

        # r10: nested-compound obs records — ROW count scales with
        # factor (chunked, one decode slice per chunk); dotted-column
        # flatten + array-member fold on the hot path
        from bcdp_spark.sources.hdf5 import load_hdf5_table

        inner = np.dtype({"names": ["lat", "lon"],
                          "formats": ["<f8", "<f8"],
                          "offsets": [0, 8], "itemsize": 16})
        cdt = np.dtype({
            "names": ["time", "pos", "value", "wind"],
            "formats": ["<f8", inner, "<f8", ("<f4", (3,))],
            "offsets": [0, 8, 24, 32], "itemsize": 44,
        })
        n_obs = 20_000 * factor
        ks = np.arange(n_obs, dtype=np.int64)
        obs = np.zeros(n_obs, dtype=cdt)
        obs["time"] = ks.astype("f8")
        obs["pos"]["lat"] = (ks % 7) * 10.0 - 30.0
        obs["pos"]["lon"] = (ks % 9) * 5.0
        obs["value"] = 0.25 * ks
        obs["wind"] = (
            0.5 * (ks % 100)[:, None] + np.arange(3)[None, :]
        ).astype("<f4")
        raw = write_hdf5(
            {"obs": (["row"], obs, {})},
            chunk={"obs": (2048,)}, gzip_level=4,
        )
        np_ = os.path.join(tmp, "nested.h5")
        with open(np_, "wb") as fh:
            fh.write(raw)
        t0 = time.perf_counter()
        load_hdf5_table(spark, np_).groupBy(
            F.col("`pos.lat`")
        ).agg(
            F.count(F.lit(1)), F.sum("value"),
            F.sum(F.expr(
                "aggregate(`wind`, cast(0.0 as double),"
                " (a, x) -> a + cast(x as double))"
            )),
        ).collect()
        out["hdf5_nested_compound"] = time.perf_counter() - t0

        # r11: object-reference index variables — FILE count scales
        # with factor (one decode task per file); the walk-time
        # address map + per-element resolve is the hot path
        from bcdp_spark.sources.hdf5 import H5ObjRef

        rdir = os.path.join(tmp, "objref")
        os.makedirs(rdir)
        n_r = 400
        for f in range(4 * factor):
            i = np.arange(n_r)
            refs = np.array(
                [
                    H5ObjRef(None) if k % 16 == 7
                    else H5ObjRef(f"stn_{k % 5}")
                    for k in i
                ],
                dtype=object,
            )
            raw = write_hdf5(
                {
                    **{
                        f"stn_{s}": (["c"], np.arange(s + 1, dtype="<f8"), {})
                        for s in range(5)
                    },
                    "obs": (["r"], (0.5 * i).astype("<f8"), {}),
                    "station_ref": (["r"], refs, {}),
                },
                chunk={"station_ref": (128,), "obs": (128,)},
                gzip_level=4,
            )
            with open(os.path.join(rdir, f"o{f:03d}.h5"), "wb") as fh:
                fh.write(raw)
        t0 = time.perf_counter()
        load_hdf5_vars(
            spark, os.path.join(rdir, "*.h5"), ["station_ref", "obs"]
        ).groupBy("station_ref").agg(
            F.count(F.lit(1)), F.sum("obs")
        ).collect()
        out["hdf5_objref_vars"] = time.perf_counter() - t0

        # r11: rank-2 matrix members — ROW count scales with factor
        # (chunked decode), nested fold over array<array<double>> on
        # the hot path
        mdt = np.dtype({
            "names": ["k", "cov"],
            "formats": ["<i4", ("<f8", (2, 3))],
            "offsets": [0, 4], "itemsize": 52,
        })
        n_m = 20_000 * factor
        ks_m = np.arange(n_m, dtype=np.int64)
        mobs = np.zeros(n_m, dtype=mdt)
        mobs["k"] = ks_m.astype("<i4")
        mobs["cov"] = (
            (ks_m % 1000)[:, None, None]
            + 10 * np.arange(2)[None, :, None]
            + np.arange(3)[None, None, :]
        ).astype("<f8")
        raw = write_hdf5(
            {"obs": (["row"], mobs, {})},
            chunk={"obs": (2048,)}, gzip_level=4,
        )
        mp_ = os.path.join(tmp, "matrix.h5")
        with open(mp_, "wb") as fh:
            fh.write(raw)
        t0 = time.perf_counter()
        load_hdf5_table(spark, mp_).groupBy(
            (F.col("k") % 5)
        ).agg(
            F.count(F.lit(1)),
            F.sum(F.expr(
                "aggregate(cov, cast(0.0 as double), (a, row) ->"
                " a + aggregate(row, cast(0.0 as double),"
                " (b, x) -> b + x))"
            )),
        ).collect()
        out["hdf5_matrix_compound"] = time.perf_counter() - t0
    return out


def _write_nc_days(out_dir: str, n_files: int, days_per: int = 2):
    """n_files tiny daily NetCDF classic files forming one strictly
    increasing time axis — the growing-archive shape kerchunk exists
    for."""
    import numpy as np

    from bcdp_spark.sources.netcdf3 import write_netcdf3

    lat = np.linspace(-60.0, 60.0, 5)
    lon = np.arange(8) * 45.0
    paths = []
    for i in range(n_files):
        t0 = i * days_per
        tvals = np.arange(t0, t0 + days_per, dtype="f8")
        data = (
            np.arange(days_per * 40, dtype="f8").reshape(days_per, 5, 8)
            + i * 1000.0
        )
        raw = write_netcdf3(
            dims={"time": days_per, "lat": 5, "lon": 8},
            variables={
                "time": (["time"], tvals,
                         {"units": "days since 2001-01-01"}),
                "lat": (["lat"], lat, {}),
                "lon": (["lon"], lon, {}),
                "tas": (["time", "lat", "lon"], data, {}),
            },
            record_dim="time",
        )
        p = os.path.join(out_dir, f"day{i:05d}.nc")
        with open(p, "wb") as fh:
            fh.write(raw)
        paths.append(p)
    return paths


def _kerchunk_index_section(spark) -> list[str]:
    """r8 (VERDICT r7 item 1 'done' criterion): index a 1,000-file
    archive and measure the DRIVER's Python heap — the r7
    implementation collected every file's refs JSON to the driver;
    the r8 one collects only a (path, refs_path, coords, hash)
    manifest, so driver heap must stay flat as the archive grows.
    tracemalloc measures exactly the Python-side allocations the old
    funnel made."""
    import tempfile
    import tracemalloc

    from bcdp_spark.sources.kerchunk import index_files

    # warm imports + codegen so tracemalloc measures the indexing run,
    # not module-load allocations
    with tempfile.TemporaryDirectory() as tmp:
        index_files(
            spark, _write_nc_days(tmp, n_files=8, days_per=1),
            fmt="netcdf3", out_dir=os.path.join(tmp, "refs"),
            refs_format="parquet",
        )

    rows = []
    for n_files in (250, 1000):
        with tempfile.TemporaryDirectory() as tmp:
            paths = _write_nc_days(tmp, n_files=n_files, days_per=1)
            out_dir = os.path.join(tmp, "refs")
            tracemalloc.start()
            t0 = time.perf_counter()
            res = index_files(
                spark, paths, fmt="netcdf3", out_dir=out_dir,
                refs_format="parquet",
            )
            dt = time.perf_counter() - t0
            _cur, peak = tracemalloc.get_traced_memory()
            tracemalloc.stop()
            refs_bytes = sum(
                os.path.getsize(os.path.join(out_dir, f))
                for f in os.listdir(out_dir)
                if f.endswith(".refs.json")
            )
            rows.append((n_files, dt, peak, refs_bytes, res))
    lines = [
        "",
        "## Kerchunk indexing at 1,000 files (r8, driver-memory smoke)",
        "",
        "`index_files` (parquet refs store) over single-day NetCDF",
        "archives. Per-file refs are written FROM executor tasks; the",
        "driver sees only the manifest, so its Python heap must not",
        "scale with the total refs volume:",
        "",
        "| files | index (s) | driver py-heap peak | total part-refs on disk |",
        "|---|---|---|---|",
    ]
    for n_files, dt, peak, refs_bytes, _res in rows:
        lines.append(
            f"| {n_files:,} | {dt:.2f} | {peak / 1e6:.1f} MB |"
            f" {refs_bytes / 1e6:.1f} MB |"
        )
    r0, r1 = rows[0], rows[1]
    lines += [
        "",
        f"4x the files: heap peak x{r1[2] / r0[2]:.2f}, part-refs"
        f" volume x{r1[3] / r0[3]:.2f} — the driver no longer holds"
        " the refs (the r7 funnel would have scaled heap with the"
        " on-disk volume). The merged ref set itself is written by"
        " executors into the sharded parquet store"
        f" ({r1[4]['files_written']} shard files at 1,000 inputs).",
    ]
    return lines


def synth_corpus(spark, n_docs: int, dup_rate: float = 0.02,
                 n_tokens: int = 60, vocab: int = 50000):
    """Density-CONTROLLED corpus: each doc is a deterministic token soup
    derived from its id (distinct docs share tokens but almost never
    5-gram shingles), except a hash-chosen ``dup_rate`` fraction whose
    text is the soup of ANOTHER doc — exact duplicate pairs at a
    realistic 1-5% density, at any scale. This isolates the minhash
    OPERATOR's scaling from the all-dup artifact of the exploded
    fixture (VERDICT r3 item 5)."""
    base = spark.range(n_docs).withColumnRenamed("id", "doc_id")
    period = max(int(1 / dup_rate), 2)
    src = F.when(
        F.pmod(F.hash("doc_id"), F.lit(period)) == 0,
        F.pmod(F.col("doc_id") * 31 + 7, F.lit(n_docs)),
    ).otherwise(F.col("doc_id"))
    toks = F.transform(
        F.sequence(F.lit(0), F.lit(n_tokens - 1)),
        # hex tokens: wide effective alphabet so character-5-gram
        # shingles of DISTINCT docs almost never collide (digit-only
        # tokens collide at the shingle level and drown the banding in
        # false positives)
        lambda i: F.hex(
            F.hash(F.pmod(F.hash(src.cast("long"), i), F.lit(vocab)))
        ),
    )
    return base.select("doc_id", F.concat_ws(" ", toks).alias("text"))


def minhash_density_smoke(spark, n_base: int = 5000, dup_rate: float = 0.02):
    """minhash_lsh_pairs at N and FACTOR*N docs with the SAME realistic
    duplicate density; also counts the candidates the bucket_cap drops
    (sum over B*(B-1)/2 of over-cap buckets) at each scale."""
    from bcdp_spark.operators.dedup import lsh_bucket_pairs, with_minhash

    # untimed warmup compiles every codegen shape once
    lsh_bucket_pairs(
        synth_corpus(spark, 500, dup_rate), "text", "doc_id", bucket_cap=200
    ).count()
    out = {}
    for label, n in (("base", n_base), ("big", n_base * FACTOR)):
        docs = synth_corpus(spark, n, dup_rate).cache()
        docs.count()
        t0 = time.perf_counter()
        n_pairs = lsh_bucket_pairs(
            docs, "text", "doc_id", bucket_cap=200
        ).count()
        dt = time.perf_counter() - t0
        # cap observability: occupancy histogram of band buckets
        banded = with_minhash(docs, "text").select(
            "doc_id",
            F.explode(
                F.array(
                    *[
                        F.hash(
                            F.slice(F.col("__sig"), b * 4 + 1, 4).cast(
                                "array<int>"
                            ),
                            F.lit(b),
                        )
                        for b in range(16)
                    ]
                )
            ).alias("bh"),
        )
        occ = banded.groupBy("bh").count()
        dropped = occ.filter(F.col("count") > 200).agg(
            F.sum(F.col("count") * (F.col("count") - 1) / 2)
        ).collect()[0][0]
        out[label] = {
            "n_docs": n,
            "sec": dt,
            "pairs": n_pairs,
            "capped_candidates_dropped": int(dropped or 0),
        }
        docs.unpersist()
    out["ratio"] = out["big"]["sec"] / out["base"]["sec"]
    return out


def _density_section(spark) -> list[str]:
    d = minhash_density_smoke(spark)
    return [
        "",
        "## MinHash at realistic duplicate density (r4, VERDICT item 5)",
        "",
        "Density-controlled token-soup corpus (2% planted exact dups at",
        f"BOTH scales) isolates the operator: {d['base']['n_docs']:,} docs"
        f" {d['base']['sec']:.3f}s -> {d['big']['n_docs']:,} docs"
        f" {d['big']['sec']:.3f}s = **{d['ratio']:.1f}x** for"
        f" {FACTOR}x rows (vs 8.9x on the all-dup exploded fixture —",
        "that ratio measured true-pair growth in the data, not the",
        "operator).",
        "",
        "| scale | docs | sec | LSH pairs | candidates dropped by bucket_cap=200 |",
        "|---|---|---|---|---|",
        f"| base | {d['base']['n_docs']:,} | {d['base']['sec']:.3f} |"
        f" {d['base']['pairs']:,} | {d['base']['capped_candidates_dropped']:,} |",
        f"| {FACTOR}x | {d['big']['n_docs']:,} | {d['big']['sec']:.3f} |"
        f" {d['big']['pairs']:,} | {d['big']['capped_candidates_dropped']:,} |",
        "",
        "At realistic density the cap drops ~nothing (no degenerate",
        "buckets exist); on the all-dup fixture it is the only thing",
        "standing between the band join and a quadratic candidate set —",
        "both behaviors are by design.",
        "",
    ]


def main():
    import tempfile

    spark = get_spark("scale_smoke", cpus=32)
    spark.sparkContext.setLogLevel("ERROR")

    if "--kerchunk-only" in sys.argv:
        # refresh only the kerchunk index section, preserving the rest
        section = "\n".join(_kerchunk_index_section(spark))
        cur = open(OUT).read() if os.path.exists(OUT) else ""
        marker = "\n## Kerchunk indexing at 1,000 files"
        if marker in cur:
            cur = cur[: cur.index(marker) + 1]
        with open(OUT, "w") as f:
            f.write(cur.rstrip("\n") + "\n" + section)
        print(section)
        return

    if "--density-only" in sys.argv:
        # refresh only the density section, preserving the main table
        section = "\n".join(_density_section(spark))
        cur = open(OUT).read() if os.path.exists(OUT) else ""
        marker = "\n## MinHash at realistic duplicate density"
        if marker in cur:
            cur = cur[: cur.index(marker) + 1]
        with open(OUT, "w") as f:
            f.write(cur.rstrip("\n") + "\n" + section)
        print(section)
        return

    with tempfile.TemporaryDirectory() as tmp:
        counts = synth(spark, tmp)
        # one warm pass on the small side compiles every codegen shape
        # (plans are identical across scales); then measure each once
        ops(spark, SF)
        base = ops(spark, SF)
        big = ops(spark, tmp)
        fixture_ops(spark, 1)  # warm the decode worker pools
        base.update(fixture_ops(spark, 1))
        big.update(fixture_ops(spark, FACTOR))
        lines = [
            "# SCALE SMOKE — measured 10x scaling (generated by tools/scale_smoke.py)",
            "",
            f"Base = sf0.1 ({counts['lineitem']:,} lineitem / {counts['events']:,}"
            f" events / {counts['documents']:,} documents); Big = same data"
            f" exploded {FACTOR}x with shifted keys (key cardinality scales too)."
            " Fixed local[32] cores — a shuffle-clean operator should scale"
            f" about linearly (ratio <= ~{FACTOR}, usually well under: fixed"
            " overhead amortizes).",
            "",
            "| operator | sf0.1 (s) | 10x (s) | ratio |",
            "|---|---|---|---|",
        ]
        anomalies = {
            k: big[k] / base[k] for k in base if big[k] / base[k] > FACTOR
        }
        for k in base:
            flag = " **RATIO ANOMALY**" if k in anomalies else ""
            lines.append(
                f"| {k} | {base[k]:.3f} | {big[k]:.3f} |"
                f" {big[k] / base[k]:.1f}x{flag} |"
            )
        if anomalies:
            # r5 verdict item 3: a super-linear ratio must never be
            # explained away by the static rationale below — flag it
            # loudly and demand a re-measure/profile instead.
            lines += [
                "",
                f"**RATIO ANOMALY — {len(anomalies)} operator(s) measured"
                f" ABOVE the {FACTOR}x row growth this run:** "
                + ", ".join(
                    f"`{k}` ({r:.1f}x)" for k, r in anomalies.items()
                )
                + ". The named-causes list below does NOT cover these —"
                " it explains the expected plan shapes only. Re-run on a"
                " quiet box; if the ratio reproduces, profile the"
                " operator before trusting this artifact.",
            ]
        lines += [
            "",
            "Named causes for the higher ratios"
            + (
                " (this run: every ratio measured at or under the"
                f" {FACTOR}x row growth):"
                if not anomalies
                else " (EXCLUDING the flagged anomalies above):"
            ),
            "",
            "- **minhash_lsh_pairs**: per-doc signature work is linear; the",
            "  band self-join's candidate set grows with real duplicate",
            "  density (the synthetic 10x duplicates every doc, so more",
            "  TRUE candidates exist). The bucket_cap bounds the worst",
            "  buckets; the remaining growth is genuine pair output.",
            "- **minhash_confirmed** (r10): the exact-confirm stage adds",
            "  two id-equi joins shipping candidate GRAM ARRAYS — cost is",
            "  linear in candidates, and candidates on the all-dup",
            "  synthetic grow with true-pair density exactly like",
            "  minhash_lsh_pairs above; bucket_cap bounds both.",
            "- **knn_join_ivf**: queries AND corpus both scale with rows,",
            "  so candidate pairs inside probed cells grow ~quadratically",
            "  BY DATA; the measured ratio stays near-linear because the",
            "  per-pair rerank amortizes (see the call-site note on the",
            "  deliberate interpreted-projection fallback, r10-measured",
            "  fastest of three rerank forms).",
            "- **simhash_multi_index** (r11): the combination index",
            "  explodes a CONSTANT 91 tables per row; the join cost rides",
            "  bucket occupancy (n/2^9.1 per key), which grows linearly",
            "  in rows and is bucket_cap-bounded on the all-dup synthetic",
            "  exactly like the single pigeonhole; the residual ~4x at",
            "  10x rows is genuine candidate-pair output density.",
            "- **hdf5_matrix_compound / hdf5_nested_compound** (r11/r10):",
            "  row count scales 10x in ONE file — chunk count grows 10x",
            "  but stays one decode task stream; the ~3-4x ratio is",
            "  decode throughput plus the nested-fold agg, both linear;",
            "  a real archive splits rows across files and parallelizes.",
            "- **bigjoin_agg**: shuffle bytes scale with rows on fixed",
            "  cores; ~0.5x of linear is the partial-agg savings.",
            "- **window_topk / window_topk_orders**: the plan is the right",
            "  one (map-side WindowGroupLimit -> single key exchange ->",
            "  final WindowGroupLimit, verified via explain); residual",
            "  super-constant growth is per-group sort (n log n) plus",
            "  shuffle volume, both inherent to exact per-key top-k.",
            "- **embed_neardup**: 16-bit hyperplane blocking + bucket_cap;",
            "  3.2x for 10x rows after making synthetic copies genuinely",
            "  distinct (identical copies would be a quadratic TRUE pair",
            "  set, measuring the data rather than the operator).",
            "- **curvi_idw**: src AND dst point clouds both scale with",
            "  rows while density stays constant (shifted ids extend the",
            "  coordinate domain), so candidate pairs per destination are",
            "  bounded and total work is linear by construction.",
            "- **repeated_ngrams**: gram rows are linear in corpus size.",
            "  r3 rewrite: the corpus count moved from a windowed",
            "  COUNT OVER (PARTITION BY gram) — which SORTS every gram",
            "  position and smoked super-linear at 12.2x — to a map-side-",
            "  combinable hash agg + SHUFFLE_HASH join (no sort anywhere);",
            "  measured 3.2x after the rewrite, oracle unchanged.",
            "- **token_pagerank**: the bigram graph grows with VOCAB, not",
            "  corpus size (the synthetic 10x duplicates texts), so only",
            "  the edge-weight aggregation scans more rows; the three",
            "  iteration joins run on the persisted constant-size graph.",
            "- **doc_repetition**: two (doc, gram) hash aggs + a doc_id",
            "  join — shuffle keys are short grams; map-side combine",
            "  absorbs the duplicated texts.",
            "- **span_dedup**: the 10x corpus duplicates every doc, so",
            "  EVERY gram becomes corpus-duplicated and every position",
            "  is covered — the covered-position set and the left_anti",
            "  survivors both stay linear in rows; no sort on the gram",
            "  path (array_sort only re-orders each doc's kept tokens).",
            "- **dsir_weights**: token stream scales 10x and so do the",
            "  (doc, bucket) join rows; the 256-row ratio table and its",
            "  broadcast are constant-size. Near-linear is the expected",
            "  PLAN behavior — the table row above is the measurement.",
            "- **kmeans / bm25**: centroid/stat relations are constant-",
            "  size broadcasts; per-iteration work is one map pass over",
            "  vectors (kmeans) or tokens (bm25) — ratios well under",
            "  linear because fixed overhead dominates at this scale.",
            "- **pq_adc**: codebook (m*ksub rows) is a constant-size",
            "  broadcast at both scales; train/encode/ADC are one map",
            "  pass each over the sub-vector stream plus small-key hash",
            "  aggs — linear in vectors.",
            "- **incremental_dedup**: two fingerprint-keyed hash joins",
            "  (anti + semi); shuffle payload is (32-byte sha2, id).",
            "- **image_phash**: mapInPandas decode+DCT is linear in",
            "  images; the pair join is the pigeonhole chunk equi-join",
            "  at max_hamming=4 (5 x ~13-bit chunks) + bucket_cap=200.",
            "  h=10 was measured structurally quadratic: ~6-bit chunks",
            "  mean <=64 buckets per chunk, so 50k images either join",
            "  quadratically (uncapped: 43x) or all buckets exceed any",
            "  cap (capped: 0% recall). Occupancy math",
            "  (n^2*(h+1)/2^(64/(h+1))) says the hamming bound itself",
            "  must keep 2^(64/(h+1)) >> n/cap — h<=4 at corpus scale;",
            "  beyond that, a combination multi-index (Manku et al.) or",
            "  coarse pre-partitioning is the right tool, not a wider h.",
            "  Planted-pair recall at h=4 is asserted 100% at both",
            "  scales.",
            "- **knn_join_ivf**: queries AND corpus scale with rows, so",
            "  candidate pairs per query grow with per-cell occupancy —",
            "  bounded by nprobe/n_cells; centroid table is a constant",
            "  broadcast and the pairing is a cell equi-join.",
            "- **geotiff_ingest / grib2_ensemble**: these scale their",
            "  OWN decode fixtures, not the sf tables — GeoTIFF tile",
            "  count (deflate + float-predictor-3 COG layout) and GRIB2",
            "  ensemble member count (simple AND complex packing) both",
            f"  grow {FACTOR}x; one decode task per tile / per message,",
            "  no shuffle beyond the final agg, so the ratio measures",
            "  pure decode throughput on fixed cores.",
            "- **kerchunk_index / kerchunk_climatology**: archive FILE",
            f"  count grows {FACTOR}x. Indexing is one header-only task",
            "  per file plus a manifest collect (bytes per file, not",
            "  refs per file) and a driver-side JSON merge linear in",
            "  total refs; the read is one ranged decode task per",
            "  surviving chunk. Both linear in files by construction —",
            "  the driver-memory smoke below measures the constant.",
        ]
        lines += _density_section(spark)
        lines += _kerchunk_index_section(spark)
        body = "\n".join(lines)
        with open(OUT, "w") as f:
            f.write(body)
        print(body)


if __name__ == "__main__":
    main()
