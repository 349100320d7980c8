"""Dump formatted physical plans for the headline queries into
docs/plans/ — reviewable evidence that each query gets the plan it was
designed for (pushdown, broadcast, codegen; SURVEY.md §4).

    python tools/dump_plans.py [KEY...]          # (re)write the dumps
    python tools/dump_plans.py --check KEY...    # compare, write nothing

KEY may be a shell-style pattern (quote it: ``'q_zarr_*'``)."""

from __future__ import annotations

import difflib
import fnmatch
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bcdp_spark.plans import formatted, normalize
from bcdp_spark.session import get_spark
import bcdp_spark.queries as q

HEADLINE = (
    "q_pricing_summary",
    "q_join_agg",
    "q_window_topk",
    "q_tumbling_events",
    "q_dedup_docs",
    "q_anti_join",
    "q_rollup",
    "q_sim_knn",
    # round-2 scale rewrites — plans are the evidence
    "q_ntile",
    "q_connected_components",
    "q_regrid_weights_gen",
    "q_netcdf_climatology",
    "q_multimodal_pipeline",
    "q_ivf_knn",
    # round-2 additions
    "q_semantic_dedup",
    "q_data_mixture",
    "q_quality_classifier",
    # round-3 additions — curvilinear regrid (binned-neighbor equi-join)
    "q_curvilinear_regrid",
    "q_nearest_regrid",
    # round-3 ingest + graph flagships
    "q_zarr_climatology",
    "q_warc_ingest",
    "q_doc_repetition",
    "q_token_pagerank",
    "q_scd2",
    "q_triangle_count",
    "q_unigram_logprob",
    # round-4 additions — HDF5 decode, DSv2 zarr pushdown re-route,
    # span-removal dedup
    "q_netcdf4_climatology",
    "q_span_dedup",
    "q_conservative_regrid",
    "q_bilinear_regrid",
    # round-4 late — data-selection / clustering / retrieval flagships
    "q_dsir_weights",
    "q_kmeans",
    "q_bm25",
    "q_domain_cap",
    # round-4 late — PQ-ADC vector search, incremental admission dedup,
    # perceptual-hash image near-dedup
    "q_pq_adc_knn",
    "q_incremental_dedup",
    "q_image_phash_pairs",
    "q_knn_join",
    "q_knn_join_ivf",
    # round-4 late — GRIB2 message-granular scan, BPE merge learning
    "q_grib2_climatology",
    "q_bpe_merges",
    # round-5 — blocked EOF Gram (applyInPandas partial outer products),
    # vertical interpolation, snapshot diff, token-window chunking,
    # bigram-LM scoring
    "q_eof_gram",
    "q_plev_interp",
    "q_snapshot_diff",
    "q_doc_chunking",
    "q_bigram_perplexity",
    # round-5 late — codec flagship keys
    "q_zarr_zstd",
    "q_grib2_reduced",
    # round-6 — ensemble product templates and HDF5 internal filters
    "q_grib2_ensemble",
    "q_grib2_derived",
    "q_grib2_levels",
    "q_hdf5_scaleoffset",
    "q_geotiff_ingest",
    # round-7 — BigTIFF/overview/multi-band/ranged GeoTIFF surface
    "q_geotiff_bigtiff",
    "q_geotiff_multiband",
    "q_geotiff_overview",
    # round-7 — GeoJSON region mask (literal-edge HOF, map-stage
    # filter) and gaps-and-islands spell lengths
    "q_region_mask",
    "q_spell_lengths",
    # round-7 — decontamination (broadcast-gram anti-join), z-order
    # layout advisor (prefix buckets, no global sort), NFC normalize
    # (Arrow-batched U4 map stage), first-touch funnel (single shuffle)
    "q_decontaminate",
    "q_zorder_skipping",
    "q_unicode_norm",
    "q_funnel",
    # round-7 — basket self-join, RFM quartiles, CUSUM changepoint
    "q_market_basket",
    "q_rfm_segmentation",
    "q_changepoint",
    # round-7 — kerchunk reference-store scan (SURVEY S14)
    "q_kerchunk_climatology",
    "q_kerchunk_combine",
    # round-7 — degree days (pure map+combine), Pareto deciles
    "q_degree_days",
    "q_revenue_concentration",
    "q_kerchunk_grib2",
    "q_kerchunk_hdf5",
    # round-8 — parquet refs store + incremental append (executor-
    # resident kerchunk), szip, blosclz, PII scrub (pure regexp map
    # stage), Theil-Sen (bucket-level self-join — months², not rows²)
    "q_kerchunk_parquet",
    "q_kerchunk_append",
    "q_hdf5_szip",
    "q_zarr_blosclz",
    "q_pii_redact",
    "q_theilsen_trend",
    "q_ivf_persisted",
    # round-8 — forecast-verification trio: CRPS (rank-weighted spread,
    # one station/day shuffle, no pair materialization), empirical
    # quantile mapping (rank equi-join, never a per-group cross),
    # TX90p percentile index (broadcast threshold onto the big scan)
    "q_crps",
    "q_quantile_map",
    "q_tx90p",
    # round-8 — Gopher quality ruleset (one codegen'd map stage +
    # per-source hash agg; the filter rides the scan)
    "q_gopher_rules",
    # round-8 — compound obs records (file-manifest fan-out →
    # structured-dtype decode → column-per-member Arrow batches)
    "q_hdf5_compound",
    # round-8 — extremes: L-moment Gumbel return levels (all-literal
    # transcendentals, bit-exact) and Wilson-Hilferty SPI
    "q_return_levels",
    "q_spi",
    # round-8 — fixed-point GD classifier training (1-row weight
    # broadcasts — the sanctioned BNLJ scalar-attach pattern)
    "q_logreg",
    # round-8 — Rx5day (decimal-exact rolling window inside the frame)
    "q_rx5day",
)


def main() -> None:
    """Dump EVERY registry key (r9, VERDICT r8 item 4 — the curated
    HEADLINE list above is kept as the reviewed-by-hand core, but the
    dump now covers the whole surface so a new key cannot ship without
    plan evidence; tests/test_plans.py asserts the directory is
    complete against queries()).

    ``--check KEY...`` writes nothing: it re-plans the named keys
    (shell-style patterns such as ``'q_zarr_*'`` allowed), compares
    each with its committed ``docs/plans/KEY.txt`` after
    ``normalize``, prints a unified diff per mismatch and exits 1 on
    any difference or unmatched pattern."""
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "docs", "plans")
    args = sys.argv[1:]
    check = bool(args) and args[0] == "--check"
    if check:
        args = args[1:]
        if not args:
            sys.exit("usage: dump_plans.py --check KEY...")
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("dump_plans", cpus=8)
    spark.sparkContext.setLogLevel("ERROR")
    registry = q.queries()
    keys = list(HEADLINE) + [k for k in registry if k not in HEADLINE]
    if args:  # optional: just the named keys / patterns
        unmatched = [a for a in args if not fnmatch.filter(keys, a)]
        if unmatched:
            sys.exit(f"no registry key matches {unmatched}")
        keys = [k for k in keys if any(fnmatch.fnmatchcase(k, a) for a in args)]
    failed = []
    for key in keys:
        plan = formatted(registry[key](spark, sf_dir))
        path = os.path.join(out_dir, f"{key}.txt")
        if not check:
            with open(path, "w") as f:
                f.write(plan)
            print(f"wrote docs/plans/{key}.txt")
            continue
        with open(path) as f:
            want = normalize(f.read())
        got = normalize(plan)
        if got == want:
            print(f"same    {key}")
            continue
        failed.append(key)
        print(f"DIFFERS {key}")
        sys.stdout.writelines(difflib.unified_diff(
            want.splitlines(keepends=True), got.splitlines(keepends=True),
            f"docs/plans/{key}.txt", f"{key} (fresh)",
        ))
    if failed:
        sys.exit(f"{len(failed)} of {len(keys)} plans differ: {failed}")


if __name__ == "__main__":
    main()
