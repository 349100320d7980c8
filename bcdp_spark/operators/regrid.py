"""Regridding operators — the reference's one genuinely custom physical
op (bcdp/regridder.py [UNVERIFIED]: scipy interpolation / ESMF
conservative weights). Re-expressed as pure DataFrame compositions
(SURVEY.md §4): no Catalyst extension needed.

(a) bin-average coarsening: groupBy(floor(coord/res)) + avg — one shuffle
    on the coarse cell key, partial-agg combined map-side;
(b) weights-table regrid: equi-join cells to a (src→dst, w) weights table
    + weighted sum — weights are small relative to data → broadcast;
    this is exactly how ESMF-style conservative regridding factorizes.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def regrid_bin_average(
    df: DataFrame,
    lat_col: str = "lat",
    lon_col: str = "lon",
    value_col: str = "value",
    lat_res: float = 1.0,
    lon_res: float = 1.0,
    extra_keys: Sequence[str] = (),
) -> DataFrame:
    """Average fine cells into coarse (lat_res × lon_res) boxes.
    Output coords are box centers."""
    lat_bin = F.floor(F.col(lat_col) / lat_res)
    lon_bin = F.floor(F.col(lon_col) / lon_res)
    out = (
        df.groupBy(
            *extra_keys, lat_bin.alias("__latb"), lon_bin.alias("__lonb")
        )
        .agg(
            F.avg(value_col).alias(value_col),
            F.count(value_col).alias("n_cells"),
        )
        .withColumn(lat_col, (F.col("__latb") + 0.5) * lat_res)
        .withColumn(lon_col, (F.col("__lonb") + 0.5) * lon_res)
        .drop("__latb", "__lonb")
    )
    return out


def regrid_weighted(
    df: DataFrame,
    weights: DataFrame,
    lat_col: str = "lat",
    lon_col: str = "lon",
    value_col: str = "value",
    extra_keys: Sequence[str] = (),
) -> DataFrame:
    """Conservative-style regrid: join each source cell to its weight rows
    (src_lat, src_lon, dst_lat, dst_lon, w), then weighted-average into
    destination cells. The weight table is broadcast: it has one row
    per overlapping (source, destination) cell pair, a grid-sized
    table, never a data-sized one. NULL source values drop out of both
    numerator and denominator (mask-aware, matching the reference's
    fill-value semantics)."""
    joined = df.join(
        F.broadcast(weights),
        (F.col(lat_col) == F.col("src_lat"))
        & (F.col(lon_col) == F.col("src_lon")),
        "inner",
    )
    wv = F.when(
        F.col(value_col).isNotNull(), F.col("w") * F.col(value_col)
    )
    weff = F.when(F.col(value_col).isNotNull(), F.col("w"))
    return (
        joined.groupBy(*extra_keys, "dst_lat", "dst_lon")
        .agg(
            (F.sum(wv) / F.sum(weff)).alias(value_col),
            F.count(value_col).alias("n_src_cells"),
        )
        .withColumnRenamed("dst_lat", lat_col)
        .withColumnRenamed("dst_lon", lon_col)
    )


def axis_overlap_weights(
    src_axis: DataFrame,
    dst_axis: DataFrame,
    prefix: str,
    bin_width: float,
) -> DataFrame:
    """1-D overlap weights between source and destination cell bounds:
    (src_c, dst_c, w) where w = length of the interval intersection.
    Distributed via the binned interval-overlap join (no nested loop)."""
    from bcdp_spark.operators.rangejoin import interval_overlap_join

    pairs = interval_overlap_join(
        src_axis.select(
            F.col("c").alias(f"src_{prefix}"),
            F.col("lo").alias("__slo"),
            F.col("hi").alias("__shi"),
        ),
        dst_axis.select(
            F.col("c").alias(f"dst_{prefix}"),
            F.col("lo").alias("__dlo"),
            F.col("hi").alias("__dhi"),
        ),
        "__slo",
        "__shi",
        "__dlo",
        "__dhi",
        bin_width,
        overlap_alias=f"w_{prefix}",
    )
    return pairs.select(f"src_{prefix}", f"dst_{prefix}", f"w_{prefix}")


def conservative_weights(
    src_lat_axis: DataFrame,
    src_lon_axis: DataFrame,
    dst_lat_axis: DataFrame,
    dst_lon_axis: DataFrame,
    lat_bin: float = 1.0,
    lon_bin: float = 1.0,
) -> DataFrame:
    """ESMF-style first-order conservative weights for RECTILINEAR grids,
    generated fully in-plan (VERDICT r1 item 8 — the reference delegates
    this to ESMF; here the rectilinear case factorizes per axis).

    Each axis DataFrame has columns (c, lo, hi): cell center + bounds.
    Rectilinear overlap areas factorize as lat_overlap × lon_overlap, so
    the 2-D weight table is the cross of the two 1-D overlap tables —
    |nonzero weights| rows, the output's own size (nothing quadratic in
    grid cells). The smaller axis-pair table broadcasts. Output columns
    (src_lat, src_lon, dst_lat, dst_lon, w) feed regrid_weighted
    directly; w is the raw overlap area (regrid_weighted normalizes by
    the per-destination weight sum, which also yields correct
    conservative averages under partial coverage / NULL masking).
    """
    lat_w = axis_overlap_weights(src_lat_axis, dst_lat_axis, "lat", lat_bin)
    lon_w = axis_overlap_weights(src_lon_axis, dst_lon_axis, "lon", lon_bin)
    return (
        lat_w.crossJoin(F.broadcast(lon_w))
        .withColumn("w", F.col("w_lat") * F.col("w_lon"))
        .select("src_lat", "src_lon", "dst_lat", "dst_lon", "w")
    )


def cell_axis(
    df: DataFrame, center_col: str, width: float
) -> DataFrame:
    """Build an axis table (c, lo, hi) from distinct cell centers of a
    uniform-width axis — the common case where only centers are stored."""
    return (
        df.select(F.col(center_col).alias("c"))
        .distinct()
        .withColumn("lo", F.col("c") - width / 2)
        .withColumn("hi", F.col("c") + width / 2)
    )


# ---------------------------------------------------------------------------
# Curvilinear / unstructured grids (VERDICT r2 missing #3 — the reference
# delegates these to ESMF's nearest_s2d / patch methods; bcdp/regridder.py
# [UNVERIFIED]). The factorized per-axis overlap trick above requires a
# rectilinear grid; for curvilinear (2-D lat(i,j), lon(i,j)) or fully
# unstructured grids, both sides are just point sets. The Spark-first
# plan: bin every point into (floor(lat/r), floor(lon/r)) cells, explode
# the 3x3 cell neighborhood on the DESTINATION side (9 rows per dst
# point, the small side), and equi-join on the cell key — a hash/SMJ
# join, never a theta or cross join. Any pair within euclidean radius r
# is within chebyshev r, hence within one cell step, so the 3x3 probe is
# a strict superset of the true candidate set; the exact distance filter
# runs after the join. Per-destination top-k is a row_number window
# (WindowGroupLimit pushes the limit below the full sort at scale).
# ---------------------------------------------------------------------------

_RESERVED = ("__clat", "__clon", "__da", "__db", "__d2")


def binned_neighbor_pairs(
    src: DataFrame,
    dst: DataFrame,
    radius: float,
    src_lat: str = "lat",
    src_lon: str = "lon",
    dst_lat: str = "dst_lat",
    dst_lon: str = "dst_lon",
) -> DataFrame:
    """All (src point, dst point) pairs with euclidean distance <= radius,
    via the binned 3x3-neighborhood equi-join. Output = src columns +
    dst columns + ``__d2`` (squared distance). Coordinate column names
    must be disjoint between the two sides."""
    overlap = set(src.columns) & set(dst.columns)
    if overlap:
        raise ValueError(f"src/dst column collision: {sorted(overlap)}")
    for c in _RESERVED:
        if c in src.columns or c in dst.columns:
            raise ValueError(f"reserved column {c!r} present in input")

    s = src.withColumn(
        "__clat", F.floor(F.col(src_lat) / radius)
    ).withColumn("__clon", F.floor(F.col(src_lon) / radius))
    probe = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(a).alias("__da"), F.lit(b).alias("__db")
                )
                for a in (-1, 0, 1)
                for b in (-1, 0, 1)
            ]
        )
    )
    d = (
        dst.withColumn("__nb", probe)
        .withColumn(
            "__clat",
            F.floor(F.col(dst_lat) / radius) + F.col("__nb.__da"),
        )
        .withColumn(
            "__clon",
            F.floor(F.col(dst_lon) / radius) + F.col("__nb.__db"),
        )
        .drop("__nb")
    )
    d2 = (F.col(src_lat) - F.col(dst_lat)) * (
        F.col(src_lat) - F.col(dst_lat)
    ) + (F.col(src_lon) - F.col(dst_lon)) * (
        F.col(src_lon) - F.col(dst_lon)
    )
    return (
        s.join(d, ["__clat", "__clon"])
        .withColumn("__d2", d2)
        .filter(F.col("__d2") <= radius * radius)
        .drop("__clat", "__clon")
    )


def idw_regrid(
    src: DataFrame,
    dst: DataFrame,
    radius: float,
    k: int = 4,
    eps: float = 1e-6,
    src_lat: str = "lat",
    src_lon: str = "lon",
    value_col: str = "value",
    dst_lat: str = "dst_lat",
    dst_lon: str = "dst_lon",
    dst_keys: Sequence[str] | None = None,
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """Inverse-distance-weighted regrid onto an arbitrary destination
    point set (ESMF 'patch'-style analog for curvilinear/unstructured
    grids): k nearest source points within ``radius``, weights
    1/(eps + d^2). NULL source values are excluded before ranking
    (mask-aware). Sums are decimal-routed so the result is independent
    of partial-aggregation order (engine-deterministic). ``tiebreak``
    columns make the k-subset deterministic under distance ties."""
    from pyspark.sql import Window

    from bcdp_spark.queries._helpers import DEC

    keys = list(dst_keys) if dst_keys is not None else [dst_lat, dst_lon]
    pairs = binned_neighbor_pairs(
        src.filter(F.col(value_col).isNotNull()),
        dst,
        radius,
        src_lat,
        src_lon,
        dst_lat,
        dst_lon,
    )
    w = Window.partitionBy(*keys).orderBy(F.col("__d2"), *tiebreak)
    denom = F.lit(eps) + F.col("__d2")
    ranked = pairs.withColumn("__rn", F.row_number().over(w)).filter(
        F.col("__rn") <= k
    )
    return (
        ranked.groupBy(*keys)
        .agg(
            (
                F.sum((F.col(value_col) / denom).cast(DEC)).cast("double")
                / F.sum((F.lit(1.0) / denom).cast(DEC)).cast("double")
            ).alias(value_col),
            F.count(F.lit(1)).alias("n_src"),
        )
    )


def nearest_regrid(
    src: DataFrame,
    dst: DataFrame,
    radius: float,
    src_lat: str = "lat",
    src_lon: str = "lon",
    value_col: str = "value",
    dst_lat: str = "dst_lat",
    dst_lon: str = "dst_lon",
    dst_keys: Sequence[str] | None = None,
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """Nearest-source regrid (ESMF 'nearest_s2d' analog): each destination
    point takes the value of its single nearest source point within
    ``radius`` — the exact source value, no arithmetic on it."""
    from pyspark.sql import Window

    keys = list(dst_keys) if dst_keys is not None else [dst_lat, dst_lon]
    pairs = binned_neighbor_pairs(
        src.filter(F.col(value_col).isNotNull()),
        dst,
        radius,
        src_lat,
        src_lon,
        dst_lat,
        dst_lon,
    )
    w = Window.partitionBy(*keys).orderBy(F.col("__d2"), *tiebreak)
    return (
        pairs.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(*keys, value_col, F.col("__d2").alias("d2"))
    )


# ---------------------------------------------------------------------------
# Great-circle (haversine) variants — the spherical distance real climate
# grids need (ESMF computes on the sphere; planar distance distorts badly
# poleward). Binning stays an equi-join: lat bins are radius_km worth of
# degrees; lon bins widen by 1/cos(lat_cap) so a 3x3 neighborhood still
# covers radius_km at every latitude up to |lat| <= lat_cap (guarded —
# poleward of the cap the bin math would under-cover and we refuse
# rather than silently drop neighbors).
# ---------------------------------------------------------------------------

EARTH_RADIUS_KM = 6371.0088  # IUGG mean Earth radius
_KM_PER_DEG = 111.19492664455873  # pi/180 * R


def haversine_km(
    lat1: Column | str, lon1: Column | str, lat2: Column | str, lon2: Column | str
) -> Column:
    """Great-circle distance in km, pure JVM expressions (radians/sin/
    cos/asin — whole-stage codegen, no UDF)."""
    p1, l1 = F.radians(F.col(lat1) if isinstance(lat1, str) else lat1), F.radians(
        F.col(lon1) if isinstance(lon1, str) else lon1
    )
    p2, l2 = F.radians(F.col(lat2) if isinstance(lat2, str) else lat2), F.radians(
        F.col(lon2) if isinstance(lon2, str) else lon2
    )
    dphi, dlmb = p2 - p1, l2 - l1
    a = (
        F.sin(dphi / 2) * F.sin(dphi / 2)
        + F.cos(p1) * F.cos(p2) * F.sin(dlmb / 2) * F.sin(dlmb / 2)
    )
    return 2 * EARTH_RADIUS_KM * F.asin(F.sqrt(a))


def binned_neighbor_pairs_haversine(
    src: DataFrame,
    dst: DataFrame,
    radius_km: float,
    lat_cap: float = 80.0,
    src_lat: str = "lat",
    src_lon: str = "lon",
    dst_lat: str = "dst_lat",
    dst_lon: str = "dst_lon",
) -> DataFrame:
    """All (src, dst) pairs with great-circle distance <= radius_km via
    the 3x3 degree-bin equi-join; output adds ``__km``. Inputs beyond
    |lat| > lat_cap raise (see module note)."""
    import math

    overlap = set(src.columns) & set(dst.columns)
    if overlap:
        raise ValueError(f"src/dst column collision: {sorted(overlap)}")
    lat_bin = radius_km / _KM_PER_DEG
    lon_bin = lat_bin / math.cos(math.radians(lat_cap))
    # lon bins tile the circle EXACTLY: n_lon = floor(360/lon_bin) bins of
    # effective width 360/n_lon >= lon_bin each (never a narrower seam
    # bin), indexed by floor(pmod(lon,360) * n_lon / 360). Two points
    # within lon_bin wrapped degrees therefore differ by <= 1 mod-bin,
    # including pairs straddling +-180 — a ceil()-based n_lon would leave
    # a sub-width remainder bin at the seam that puts such pairs 2 bins
    # apart, outside the 3x3 probe.
    n_lon = max(int(math.floor(360.0 / lon_bin)), 3)

    def _lon_bin(lon_col: str) -> Column:
        # outer pmod guards the fp edge where pmod(lon,360) rounds to
        # exactly 360.0 and floor() would yield n_lon
        return F.pmod(
            F.floor(F.pmod(F.col(lon_col), F.lit(360.0)) * n_lon / F.lit(360.0)),
            F.lit(n_lon),
        )

    def _binned(df: DataFrame, lat: str, lon: str, probe: bool) -> DataFrame:
        guard = F.when(
            F.abs(F.col(lat)) > lat_cap,
            F.raise_error(
                F.lit(
                    f"latitude beyond lat_cap={lat_cap}: haversine binning "
                    "would under-cover; raise lat_cap or pre-filter"
                )
            ),
        ).otherwise(F.col(lat))
        df = df.withColumn(lat, guard)
        out = df.withColumn("__blat", F.floor(F.col(lat) / lat_bin)).withColumn(
            "__blon", _lon_bin(lon)
        )
        if not probe:
            return out
        nb = F.explode(
            F.array(
                *[
                    F.struct(F.lit(a).alias("a"), F.lit(b).alias("b"))
                    for a in (-1, 0, 1)
                    for b in (-1, 0, 1)
                ]
            )
        )
        return (
            df.withColumn("__nb", nb)
            .withColumn(
                "__blat", F.floor(F.col(lat) / lat_bin) + F.col("__nb.a")
            )
            .withColumn(
                "__blon",
                F.pmod(_lon_bin(lon) + F.col("__nb.b"), F.lit(n_lon)),
            )
            .drop("__nb")
        )

    s = _binned(src, src_lat, src_lon, probe=False)
    d = _binned(dst, dst_lat, dst_lon, probe=True)
    km = haversine_km(src_lat, src_lon, dst_lat, dst_lon)
    return (
        s.join(d, ["__blat", "__blon"])
        .withColumn("__km", km)
        .filter(F.col("__km") <= radius_km)
        .drop("__blat", "__blon")
    )


def conservative_regrid(
    df: DataFrame,
    lat_res: float,
    lon_res: float,
    src_lat_res: float,
    src_lon_res: float,
    lat_col: str = "lat",
    lon_col: str = "lon",
    value_col: str = "value",
    keys: Sequence[str] = ("name",),
    out_lat: str = "dst_lat",
    out_lon: str = "dst_lon",
) -> DataFrame:
    """First-order conservative (area-weighted overlap) regrid — the
    ESMF ``conserve`` method, the standard for FLUX variables where
    bin-average/bilinear would break the global budget. Source cells
    are rectangles of ``src_lat_res x src_lon_res`` centered on the
    (lat, lon) columns; the destination is the global grid of
    ``lat_res x lon_res`` cells anchored at (0, 0). Each destination
    cell's value is the overlap-AREA-weighted mean of the source cells
    covering it, with the exact spherical area factor: the area between
    latitudes phi0 < phi1 spanning dlon degrees of longitude is
    proportional to dlon * (sin(phi1) - sin(phi0)).

    JOIN-FREE formulation: a source cell overlaps at most
    ceil(src_res/dst_res)+1 destination rows/cols, so the destination
    indices come from a bounded ``sequence()`` explode (a few rows per
    source cell), then ONE groupBy on the destination cell computes
    sum(w*v)/sum(w). No shuffle carries anything but
    (keys, cell-index, two decimals) — at 100 TB this is a single
    hash aggregation over ~4x the source rows. Longitude cells that
    straddle the 0/360 wrap are split into two segments first, so the
    seam never drops overlap (same lesson as the haversine binning).
    Weighted sums route through DECIMAL(38,18) so partial-agg order
    cannot change the result; the output quotient is the raw IEEE
    division of the two exact sums (no final rounding — see the
    agg comment).
    """
    overlap = {"__la", "__l0", "__l1", "__s", "__di", "__ei", "__wlat",
               "__wlon", "__w"} & set(df.columns)
    if overlap:
        raise ValueError(f"reserved column collision: {sorted(overlap)}")
    half_lat, half_lon = src_lat_res / 2.0, src_lon_res / 2.0
    lat0 = F.greatest(F.col(lat_col) - half_lat, F.lit(-90.0))
    lat1 = F.least(F.col(lat_col) + half_lat, F.lit(90.0))
    ln = F.pmod(F.col(lon_col), F.lit(360.0))
    lon0, lon1 = ln - half_lon, ln + half_lon
    # wrap-split: up to two [s0, s1) segments inside [0, 360)
    segs = F.filter(
        F.array(
            F.struct(
                F.greatest(lon0, F.lit(0.0)).alias("s0"),
                F.least(lon1, F.lit(360.0)).alias("s1"),
            ),
            F.struct(
                (lon0 + 360.0).alias("s0"),
                F.when(lon0 < 0.0, F.lit(360.0)).otherwise(-1.0).alias("s1"),
            ),
            F.struct(
                F.when(lon1 > 360.0, F.lit(0.0)).otherwise(1.0).alias("s0"),
                (lon1 - 360.0).alias("s1"),
            ),
        ),
        lambda s: s["s1"] > s["s0"],
    )
    src = (
        df.filter(F.col(value_col).isNotNull())
        .select(
            *keys,
            F.col(value_col).alias("__v"),
            lat0.alias("__l0"),
            lat1.alias("__l1"),
            F.explode(segs).alias("__s"),
        )
    )
    dlat = (
        F.explode(
            F.sequence(
                F.floor(F.col("__l0") / lat_res).cast("int"),
                F.ceil(F.col("__l1") / lat_res).cast("int"),
            )
        )
    ).alias("__di")
    # Empty-interval guard BEFORE the sin weight: the ceil() upper
    # sequence bound over-reaches by one cell when __l1 sits on a cell
    # boundary (e.g. clamped to 90), and sin is non-monotonic past the
    # pole — sin(90°) - sin(92°) is POSITIVE, so without this guard a
    # spurious beyond-the-pole destination row (dst_lat = 94 at 4°)
    # would survive the weight filter. phi1 > phi0 is the actual
    # overlap condition; the sin difference is then guaranteed > 0 for
    # intervals inside [-90, 90].
    phi1 = F.least(F.col("__l1"), (F.col("__di") + 1) * lat_res)
    phi0 = F.greatest(F.col("__l0"), F.col("__di") * lat_res)
    with_lat = (
        src.select("*", dlat)
        .filter(phi1 > phi0)
        .withColumn("__wlat", F.sin(F.radians(phi1)) - F.sin(F.radians(phi0)))
        .filter(F.col("__wlat") > 1e-12)
    )
    dlon = (
        F.explode(
            F.sequence(
                F.floor(F.col("__s.s0") / lon_res).cast("int"),
                F.ceil(F.col("__s.s1") / lon_res).cast("int"),
            )
        )
    ).alias("__ei")
    contrib = (
        with_lat.select("*", dlon)
        .withColumn(
            "__wlon",
            F.least(F.col("__s.s1"), (F.col("__ei") + 1) * lon_res)
            - F.greatest(F.col("__s.s0"), F.col("__ei") * lon_res),
        )
        .filter(F.col("__wlon") > 1e-12)
        .withColumn("__w", F.col("__wlat") * F.col("__wlon"))
    )
    dec = "decimal(38,18)"
    # No final ROUND: numerator and denominator are exact decimal sums
    # cast once to double (identical in any engine), so the raw IEEE
    # quotient is already bit-identical — while rounding it at a fixed
    # precision DIVERGES whenever grid-aligned weights land the quotient
    # on a .5 boundary (Spark rounds the shortest decimal repr, DuckDB
    # the binary value; found at sf0.1 in the bilinear sibling).
    return (
        contrib.groupBy(*keys, "__di", "__ei")
        .agg(
            (
                F.sum((F.col("__w") * F.col("__v")).cast(dec)).cast("double")
                / F.sum(F.col("__w").cast(dec)).cast("double")
            ).alias(value_col),
            F.count(F.lit(1)).alias("n_src"),
        )
        .select(
            *keys,
            ((F.col("__di") + 0.5) * lat_res).alias(out_lat),
            # Canonical CF convention [-180, 180): the internal grid is
            # anchored at 0 with wrap handling, so centers land in
            # [0, 360); emitting them raw would silently change the
            # longitude convention relative to the 'mean'/'bilinear'
            # methods for the common [-180, 180) inputs. 180 maps to
            # -180 (same meridian, canonical form).
            (
                F.pmod((F.col("__ei") + 0.5) * lon_res + 180.0, F.lit(360.0))
                - 180.0
            ).alias(out_lon),
            value_col,
            "n_src",
        )
    )


def bilinear_regrid(
    src: DataFrame,
    dst: DataFrame,
    lat0: float,
    dlat: float,
    lon0: float,
    dlon: float,
    src_lat: str = "lat",
    src_lon: str = "lon",
    value_col: str = "value",
    dst_lat: str = "dst_lat",
    dst_lon: str = "dst_lon",
    dst_keys: Sequence[str] | None = None,
    src_keys: Sequence[str] = (),
    min_corners: int = 1,
) -> DataFrame:
    """Bilinear interpolation from a RECTILINEAR source grid (the
    xarray ``.interp`` / ESMF ``bilinear`` default): source points sit
    at ``lat0 + i*dlat`` / ``lon0 + j*dlon``; each destination point
    blends its four bracketing corners with the tensor-product weights
    ``(1-wy)(1-wx), (1-wy)wx, wy(1-wx), wy*wx``.

    JOIN-FREE index arithmetic on both sides: the destination explodes
    into exactly four (i, j, w) corner rows, the source tags itself
    with its own (i, j) — then ONE equi join on the integer cell key
    and ONE groupBy per destination. Missing corners (grid edge, NaN
    source) renormalize over the matched weights — set
    ``min_corners=4`` for strict interior-only interpolation (fewer
    matched corners → row dropped). ``src_keys`` (member/time columns)
    stay grouping keys: every destination point is interpolated once
    PER source key combination — the ensemble-homogenize shape.
    Weighted sums are DECIMAL-routed; the output quotient is the
    raw IEEE division of the two exact sums (no final rounding —
    see the agg comment).
    """
    reserved = {"__i", "__j", "__c", "__w", "__v", "__fy", "__fx"}
    clash = reserved & (set(src.columns) | set(dst.columns))
    if clash:
        raise ValueError(f"reserved column collision: {sorted(clash)}")
    keys = list(dst_keys) if dst_keys is not None else [dst_lat, dst_lon]
    src_keys = list(src_keys)
    s = src.filter(F.col(value_col).isNotNull()).select(
        *src_keys,
        F.round((F.col(src_lat) - lat0) / dlat).cast("long").alias("__i"),
        F.round((F.col(src_lon) - lon0) / dlon).cast("long").alias("__j"),
        F.col(value_col).alias("__v"),
    )
    fy = (F.col(dst_lat) - lat0) / dlat
    fx = (F.col(dst_lon) - lon0) / dlon
    d = dst.withColumn("__fy", fy).withColumn("__fx", fx)
    i0, j0 = F.floor("__fy").cast("long"), F.floor("__fx").cast("long")
    wy, wx = F.col("__fy") - i0, F.col("__fx") - j0
    corners = F.array(
        *[
            F.struct(
                (i0 + a).alias("__i"),
                (j0 + b).alias("__j"),
                (
                    (wy if a else (1.0 - wy)) * (wx if b else (1.0 - wx))
                ).alias("__w"),
            )
            for a in (0, 1)
            for b in (0, 1)
        ]
    )
    exploded = (
        d.select(*keys, F.explode(corners).alias("__c"))
        .select(*keys, "__c.__i", "__c.__j", "__c.__w")
        .filter(F.col("__w") > 0.0)  # on-gridline points need <4 corners
    )
    dec = "decimal(38,18)"
    # No final ROUND — see conservative_regrid: the raw quotient of the
    # two exact-decimal-routed doubles is bit-identical across engines;
    # rounding it diverged at sf0.1 (pid 63514: exact .xxxxxx5 quotient,
    # Spark 53.749312 vs DuckDB 53.749313).
    return (
        exploded.join(s, ["__i", "__j"])
        .groupBy(*src_keys, *keys)
        .agg(
            (
                F.sum((F.col("__w") * F.col("__v")).cast(dec)).cast("double")
                / F.sum(F.col("__w").cast(dec)).cast("double")
            ).alias(value_col),
            F.count(F.lit(1)).alias("n_corners"),
        )
        .filter(F.col("n_corners") >= min_corners)
    )


def nearest_regrid_haversine(
    src: DataFrame,
    dst: DataFrame,
    radius_km: float,
    src_lat: str = "lat",
    src_lon: str = "lon",
    value_col: str = "value",
    dst_lat: str = "dst_lat",
    dst_lon: str = "dst_lon",
    dst_keys: Sequence[str] | None = None,
    tiebreak: Sequence[str] = (),
    lat_cap: float = 80.0,
) -> DataFrame:
    """Spherical nearest-source regrid (ESMF 'nearest_s2d' on the
    sphere): each destination takes its great-circle-nearest source
    value within radius_km."""
    from pyspark.sql import Window

    keys = list(dst_keys) if dst_keys is not None else [dst_lat, dst_lon]
    pairs = binned_neighbor_pairs_haversine(
        src.filter(F.col(value_col).isNotNull()),
        dst,
        radius_km,
        lat_cap,
        src_lat,
        src_lon,
        dst_lat,
        dst_lon,
    )
    w = Window.partitionBy(*keys).orderBy(F.col("__km"), *tiebreak)
    return (
        pairs.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(*keys, value_col, F.col("__km").alias("km"))
    )


def interp_plev(
    df: DataFrame,
    target: float,
    value_col: str = "value",
    lev_col: str = "lev",
    by: Sequence[str] = ("name", "time", "lat", "lon"),
    log_p: bool = True,
) -> DataFrame:
    """Vertical interpolation to one pressure level — the plev slice
    every CMIP/reanalysis comparison needs (xarray's ``interp(plev=…)``
    / MetPy ``log_interpolate_1d`` shape, done as window expressions).

    For each ``by`` group (a vertical profile), finds the bracketing
    levels l1 < target < l2 and blends linearly in ln(p) —
    ``log_p=False`` blends in p, for height-like axes. An exact-level
    match passes its sample through untouched (and suppresses the
    bracket that would also cover the target). Profiles whose levels
    never reach the target emit no row — NO extrapolation, the
    conservative convention. A NULL sample inside the chosen bracket
    yields NULL, never a silent skip to a wider bracket.

    Plan: one window (lead) over (by) ordered by lev — a single
    hash-partitioned sort, the W4 lag/lead shape, no join — then a
    filter keeps exactly one row per covered profile.

    Preconditions enforced loudly (not silent NaN): levels must be
    distinct within a profile (duplicates are adjacent after the
    window sort, so ``lead == lev`` catches every run), and strictly
    positive when blending in ln(p).
    """
    if log_p and float(target) <= 0.0:
        raise ValueError(
            f"interp_plev: target {target} must be > 0 with log_p=True"
        )
    w = Window.partitionBy(*by).orderBy(F.col("__lev").asc())
    t = F.lit(float(target))
    lev, nlev = F.col("__lev"), F.col("__nlev")
    frac = (
        ((F.log(t) - F.log(lev)) / (F.log(nlev) - F.log(lev)))
        if log_p
        else ((t - lev) / (nlev - lev))
    )
    bad = nlev.isNotNull() & (nlev == lev)
    if log_p:
        bad = bad | (lev <= F.lit(0.0))
    keep = (lev == t) | ((lev < t) & nlev.isNotNull() & (nlev > t))
    return (
        df.select(
            *by,
            F.col(lev_col).alias("__lev"),
            F.col(value_col).alias("__val"),
        )
        .select(
            "*",
            F.lead("__lev").over(w).alias("__nlev"),
            F.lead("__val").over(w).alias("__nval"),
        )
        .filter(
            F.when(
                bad,
                F.raise_error(
                    F.format_string(
                        "interp_plev: invalid level axis (duplicate or "
                        "non-positive level %s) in a profile",
                        F.col("__lev"),
                    )
                ).cast("boolean"),
            ).otherwise(keep)
        )
        .select(
            *by,
            F.lit(float(target)).alias(lev_col),
            F.when(lev == t, F.col("__val"))
            .otherwise(
                F.col("__val") + (F.col("__nval") - F.col("__val")) * frac
            )
            .alias(value_col),
        )
    )
