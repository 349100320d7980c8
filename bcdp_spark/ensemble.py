"""Ensemble facade — the reference's fluent API re-expressed over one long
DataFrame (SURVEY.md §1.3): members are rows tagged by a ``name`` column,
not N separate arrays. Every verb compiles to a declarative DataFrame
transform, so Catalyst sees the whole plan (predicate pushdown, join
planning, partial aggregation) — nothing executes until an action.

Reference surface mirrored (bcdp/core.py [UNVERIFIED], see SURVEY.md §0):
``subset``, ``select_season``, ``normalize_times``, ``resample``,
``regrid``, ``climatology``, ``anomaly``, ``bundle``, ``apply``,
``persist``. Column contract: (name, time, <space keys...>, value).
"""

from __future__ import annotations

import re
from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SEASONS = {
    "DJF": (12, 1, 2),
    "MAM": (3, 4, 5),
    "JJA": (6, 7, 8),
    "SON": (9, 10, 11),
}


class Bounds:
    """Spatio-temporal bounding box (ref: bcdp/utils.py Bounds), with an
    optional vertical (lev) range for 4-D pressure/height-level data."""

    def __init__(
        self,
        lat_bnds: tuple[float, float] | None = None,
        lon_bnds: tuple[float, float] | None = None,
        time_bnds: tuple[str, str] | None = None,
        lev_bnds: tuple[float, float] | None = None,
    ):
        self.lat_bnds = lat_bnds
        self.lon_bnds = lon_bnds
        self.time_bnds = time_bnds
        self.lev_bnds = lev_bnds

    def predicate(
        self,
        lat: str = "lat",
        lon: str = "lon",
        time: str = "time",
        lev: str | None = None,
    ) -> Column:
        p = F.lit(True)
        if self.lat_bnds:
            p = p & F.col(lat).between(*self.lat_bnds)
        if self.lon_bnds:
            p = p & F.col(lon).between(*self.lon_bnds)
        if self.time_bnds:
            lo, hi = self.time_bnds
            p = (
                p
                & (F.col(time) >= F.lit(lo).cast("timestamp"))
                & (F.col(time) <= F.lit(hi).cast("timestamp"))
            )
        if self.lev_bnds:
            if lev is None:
                raise ValueError(
                    "lev_bnds given but the data has no lev column "
                    "(4-D long form only)"
                )
            p = p & F.col(lev).between(*self.lev_bnds)
        return p


class Ensemble:
    """A labeled collection of long-form members in one DataFrame."""

    def __init__(
        self,
        df: DataFrame,
        name_col: str = "name",
        time_col: str = "time",
        value_col: str = "value",
        space_cols: Sequence[str] = ("lat", "lon"),
    ):
        self.df = df
        self.name_col = name_col
        self.time_col = time_col
        self.value_col = value_col
        self.space_cols = tuple(space_cols)

    def _with(self, df: DataFrame) -> "Ensemble":
        return Ensemble(
            df, self.name_col, self.time_col, self.value_col, self.space_cols
        )

    def _latlon(self) -> tuple[str, str]:
        """Horizontal coordinate columns by NAME (a 4-D ensemble's
        space_cols may be ("lev", "lat", "lon") — position is not
        enough), falling back to the first two space cols."""
        named = [c for c in self.space_cols if c in ("lat", "lon")]
        if len(named) == 2:
            return named[0], named[1]
        pair = (self.space_cols + ("lat", "lon"))[:2]
        return pair[0], pair[1]

    # -- construction -------------------------------------------------
    @classmethod
    def from_members(
        cls, members: dict[str, DataFrame], name_col: str = "name", **kw
    ) -> "Ensemble":
        """Bundle N member DataFrames into one tagged long DataFrame
        (ref: bcdp bundle/stack along a new 'names' dimension)."""
        tagged = [
            df.withColumn(name_col, F.lit(name)) for name, df in members.items()
        ]
        out = tagged[0]
        for t in tagged[1:]:
            out = out.unionByName(t)
        return cls(out, name_col=name_col, **kw)

    @classmethod
    def from_xarray(
        cls,
        spark,
        obj,
        value_col: str = "value",
        name_col: str = "name",
        default_name: str = "member0",
        **kw,
    ) -> "Ensemble":
        """Build an Ensemble from an xarray Dataset/DataArray (reference
        S2: ``bcdp.load_dataset`` wraps a live xarray object).

        Duck-typed on ``to_dataframe()`` — no xarray import here, so the
        adapter works with any object exposing the xarray pandas bridge
        (and stays testable where xarray isn't installed). Dims beyond
        (time, lev, lat, lon) ride along as extra columns. This is the
        DRIVER-SIDE entry (an in-memory object by definition); file-backed
        data goes through load_netcdf's distributed decode instead.
        """
        data_vars = getattr(obj, "data_vars", None)
        if data_vars is not None:  # Dataset: one member per data variable
            frames = []
            for vname in data_vars:
                pdf = obj[vname].to_dataframe(name=value_col).reset_index()
                pdf[name_col] = str(vname)
                frames.append(pdf)
            import pandas as pd

            long = pd.concat(frames, ignore_index=True)
        else:  # DataArray
            long = obj.to_dataframe(name=value_col).reset_index()
            long[name_col] = str(getattr(obj, "name", None) or default_name)
        space = tuple(
            c for c in ("lev", "lat", "lon") if c in long.columns
        ) or ("lat", "lon")
        cols = [name_col, "time", *space, value_col] + [
            c
            for c in long.columns
            if c not in (name_col, "time", *space, value_col)
        ]
        df = spark.createDataFrame(long[cols])
        kw.setdefault("space_cols", space)
        return cls(df, name_col=name_col, value_col=value_col, **kw)

    @classmethod
    def from_zarr(
        cls,
        spark,
        pattern: str,
        var: str | None = None,
        name_col: str = "name",
        **bounds,
    ) -> "Ensemble":
        """Build an Ensemble from one-or-many Zarr v2 stores (glob
        pattern; the inverse of ``to_zarr``'s one-store-per-member
        layout). Each store's rows are tagged with the store basename as
        the member name; bounds kwargs (time_bnds/lev_bnds/lat_bnds/
        lon_bnds) push down to per-store CHUNK PRUNING before any chunk
        byte loads, and every store's kept chunks decode in one packed
        scan (``sources.zarr.load_zarr_parts``)."""
        import glob as _glob
        import os as _os

        from bcdp_spark.sources.zarr import load_zarr_parts

        if pattern.startswith("refs::"):
            # kerchunk reference store: one virtual store per spec (no
            # glob — the refs file already spans the archive)
            stores = [pattern]
        else:
            stores = sorted(_glob.glob(pattern))
        if not stores:
            raise FileNotFoundError(f"no stores match {pattern!r}")
        parts = [
            (s, var, re.sub(r"\.(zarr|json)$", "", _os.path.basename(s.rstrip("/"))))
            for s in stores
        ]
        out = load_zarr_parts(spark, parts, name_col, **bounds)
        space = ("lev", "lat", "lon") if "lev" in out.columns else ("lat", "lon")
        return cls(out, name_col=name_col, space_cols=space)

    @classmethod
    def from_netcdf(
        cls,
        spark,
        pattern: str,
        var: str | None = None,
        name_col: str = "name",
        **bounds,
    ) -> "Ensemble":
        """Build an Ensemble from a NetCDF file glob — the reference's
        ``bcdp.load_local`` entry point (bcdp/io.py [UNVERIFIED]): one
        decode task per file (classic CDF-1/2/5 via the vendored codec,
        NetCDF-4/HDF5 via the vendored stdlib HDF5 reader), members
        tagged by file basename in ``name_col``. 4-D files yield the
        lev-column long form and ``space_cols`` follow automatically.
        Bounds kwargs (time_bnds/lev_bnds/lat_bnds/lon_bnds) push a
        hyperslab into the decode (chunk-skipping on HDF5 members)."""
        from bcdp_spark.sources.netcdf import load_netcdf

        df = load_netcdf(spark, pattern, var=var, **bounds)
        space = (
            ("lev", "lat", "lon") if "lev" in df.columns else ("lat", "lon")
        )
        return cls(df, name_col=name_col, space_cols=space)

    @classmethod
    def from_grib2(
        cls,
        spark,
        pattern: str,
        param: str | None = None,
        name_col: str = "name",
        **bounds,
    ) -> "Ensemble":
        """Build an Ensemble from a GRIB2 cycle-file glob — the GEFS/
        ERA5-EDA archive entry point. Member identity comes from the
        message headers, in priority order: the PDT 4.1/4.11
        perturbation number (``m{N}`` — the in-band GEFS layout,
        including files written by ``to_grib2(stamp_members=True)``),
        else the 4.2/4.12/4.5/4.9/4.6/4.10 product tag (``em``/``es``/
        ``p90``/…), else the parameter name (deterministic archives).
        One decode task per message; ``param`` and bounds kwargs
        (time_bnds/lat_bnds/lon_bnds, plus level_type/level_bnds for
        multi-level archives — pick one level, GRIB fields are 2-D)
        prune on the header index before any field unpacks."""
        from pyspark.sql import functions as F

        from bcdp_spark.sources.grib2 import load_grib2

        df = load_grib2(spark, pattern, param=param, **bounds)
        member = F.coalesce(
            F.concat(F.lit("m"), F.col("member").cast("string")),
            F.col("ens_label"),
            F.col("name"),
        )
        return cls(
            df.select(
                member.alias(name_col), "time", "lat", "lon", "value"
            ),
            name_col=name_col,
        )

    def to_xarray(self):
        """Collect the ensemble into an xarray Dataset (one data variable
        per member, dims = (time, [lev,] lat, lon)). Import-gated: needs
        xarray installed. Driver-side by definition — use to_netcdf for
        the distributed export path."""
        try:
            import xarray  # noqa: F401
        except ImportError:
            raise ImportError(
                "to_xarray requires xarray; use to_netcdf for the "
                "distributed file export"
            ) from None
        pdf = self.df.toPandas()
        idx = ["time", *self.space_cols]
        das = {}
        for member, g in pdf.groupby(self.name_col):
            das[str(member)] = (
                g.set_index(idx)[self.value_col].to_xarray()
            )
        return xarray.Dataset(das)

    # -- reference verbs ----------------------------------------------
    def select_var(self, var: str) -> "Ensemble":
        """P1 variable select on a multi-variable long form (the
        ``load_netcdf_vars``/``load_zarr_vars`` output tags variables in
        the name column): keep one variable's rows — a pushdown-able
        filter, the reference's ``ds[var]`` (bcdp/core.py [UNVERIFIED])."""
        return self._with(self.df.filter(F.col(self.name_col) == var))

    def subset(self, bounds: Bounds) -> "Ensemble":
        """Spatio-temporal(-vertical) subset (P2+P3). Conjunctive range
        predicates — pushed down to the parquet scan by Catalyst. A lev
        range applies when the long form carries a lev column (4-D)."""
        lat, lon = self._latlon()
        lev = "lev" if "lev" in self.df.columns else None
        return self._with(
            self.df.filter(bounds.predicate(lat, lon, self.time_col, lev))
        )

    def mask_region(self, geojson, region: str | None = None) -> "Ensemble":
        """Keep grid points inside a GeoJSON region (P2 widening —
        the polygon sibling of bbox ``subset``: ocean basins, CORDEX
        domains, AR6 reference regions). Even-odd ray casting compiled
        to a literal-edge HOF predicate — a pure map stage, no UDF/
        shuffle (operators/spatial.py)."""
        from bcdp_spark.operators.spatial import mask_regions

        lat, lon = self._latlon()
        return self._with(
            mask_regions(self.df, geojson, lon=lon, lat=lat, region=region)
        )

    def select_season(self, season: str) -> "Ensemble":
        """Keep months of a season, incl. year-wrapping DJF (P4)."""
        months = SEASONS[season.upper()]
        return self._with(self.df.filter(F.month(self.time_col).isin(*months)))

    def normalize_times(self, granularity: str = "hour") -> "Ensemble":
        """Truncate the time axis to a shared granularity (J6 prereq;
        ref: bcdp normalize_times)."""
        return self._with(
            self.df.withColumn(
                self.time_col, F.date_trunc(granularity, F.col(self.time_col))
            )
        )

    def resample(self, granularity: str = "month") -> "Ensemble":
        """Downsample along time via tumbling buckets + mean (A3)."""
        keys = [self.name_col, *self.space_cols]
        out = (
            self.df.groupBy(
                F.date_trunc(granularity, F.col(self.time_col)).alias(
                    self.time_col
                ),
                *keys,
            )
            .agg(F.avg(self.value_col).alias(self.value_col))
        )
        return self._with(out)

    def regrid(
        self,
        lat_res: float,
        lon_res: float,
        method: str = "mean",
        src_lat_res: float | None = None,
        src_lon_res: float | None = None,
    ) -> "Ensemble":
        """Horizontal regrid onto the regular (lat_res, lon_res) grid —
        the reference's xesmf method menu (bcdp/core.py [UNVERIFIED]):

        - ``"mean"`` (default): bin-average (A5) — cheap coarsening.
        - ``"conservative"``: first-order overlap-area weighting (the
          ESMF ``conserve`` method; flux-safe). Requires the SOURCE
          cell resolutions ``src_lat_res``/``src_lon_res`` (cells are
          rectangles centered on the coordinate columns).
        - ``"bilinear"``: 4-corner interpolation onto the destination
          CELL CENTERS, with the source treated as a rectilinear grid
          of spacing ``src_lat_res``/``src_lon_res`` anchored at the
          source's minimum coordinates. Destination cells are those the
          source domain touches (derived distributedly — no driver
          collect).

        Any vertical coordinate stays a grouping key: regridding is
        horizontal, levels never mix.
        """
        lat, lon = self._latlon()
        extra = [self.name_col, self.time_col] + [
            c for c in self.space_cols if c not in (lat, lon)
        ]
        if method == "mean":
            from bcdp_spark.operators.regrid import regrid_bin_average

            out = regrid_bin_average(
                self.df,
                lat_col=lat,
                lon_col=lon,
                value_col=self.value_col,
                lat_res=lat_res,
                lon_res=lon_res,
                extra_keys=extra,
            )
            return self._with(out)
        if src_lat_res is None or src_lon_res is None:
            raise ValueError(
                f"method={method!r} needs src_lat_res and src_lon_res "
                "(source cell/grid spacing)"
            )
        if method == "conservative":
            from bcdp_spark.operators.regrid import conservative_regrid

            out = conservative_regrid(
                self.df,
                lat_res,
                lon_res,
                src_lat_res,
                src_lon_res,
                lat_col=lat,
                lon_col=lon,
                value_col=self.value_col,
                keys=extra,
                out_lat=lat,
                out_lon=lon,
            ).drop("n_src")
            return self._with(out)
        if method == "bilinear":
            from bcdp_spark.operators.regrid import bilinear_regrid

            agg = self.df.agg(
                F.min(lat).alias("la0"), F.min(lon).alias("lo0")
            )
            la0, lo0 = agg.collect()[0]  # 1-row bounded collect
            if la0 is None or lo0 is None:
                raise ValueError(
                    "regrid(method='bilinear') on an empty ensemble: no "
                    "rows to derive the source grid origin from"
                )
            dst = (
                self.df.select(
                    F.floor(F.col(lat) / lat_res).alias("__i"),
                    F.floor(F.col(lon) / lon_res).alias("__j"),
                )
                .distinct()
                .select(
                    ((F.col("__i") + 0.5) * lat_res).alias("__dla"),
                    ((F.col("__j") + 0.5) * lon_res).alias("__dlo"),
                )
            )
            out = (
                bilinear_regrid(
                    self.df.select(
                        *extra, F.col(lat), F.col(lon), F.col(self.value_col)
                    ),
                    dst,
                    lat0=float(la0),
                    dlat=src_lat_res,
                    lon0=float(lo0),
                    dlon=src_lon_res,
                    src_lat=lat,
                    src_lon=lon,
                    value_col=self.value_col,
                    dst_lat="__dla",
                    dst_lon="__dlo",
                    src_keys=extra,
                )
                .withColumnRenamed("__dla", lat)
                .withColumnRenamed("__dlo", lon)
                .drop("n_corners")
            )
            return self._with(out)
        raise ValueError(f"unknown regrid method {method!r}")

    def regrid_to_points(
        self,
        dst: DataFrame,
        radius: float,
        k: int = 4,
        method: str = "idw",
        dst_lat: str = "dst_lat",
        dst_lon: str = "dst_lon",
        dst_keys: Sequence[str] | None = None,
        tiebreak: Sequence[str] = (),
    ) -> "Ensemble":
        """Regrid onto an ARBITRARY destination point set — the
        curvilinear/unstructured-grid path (the reference delegates
        these to ESMF nearest_s2d/patch; bcdp/regridder.py
        [UNVERIFIED]). method='idw' (inverse-distance k-nearest) or
        'nearest'. Each (member, time, level) slice regrids
        independently: the k-nearest window partitions on those keys,
        so times/levels never mix even though the spatial neighbor
        join is computed once against the full long form."""
        from bcdp_spark.operators.regrid import idw_regrid, nearest_regrid

        lat, lon = self._latlon()
        slice_keys = [self.name_col, self.time_col] + [
            c for c in self.space_cols if c not in (lat, lon)
        ]
        point_keys = list(dst_keys) if dst_keys is not None else [dst_lat, dst_lon]
        fn = {"idw": idw_regrid, "nearest": nearest_regrid}[method]
        kw = {"k": k} if method == "idw" else {}
        out = fn(
            self.df,
            dst,
            radius=radius,
            src_lat=lat,
            src_lon=lon,
            value_col=self.value_col,
            dst_lat=dst_lat,
            dst_lon=dst_lon,
            dst_keys=slice_keys + point_keys,
            tiebreak=tuple(tiebreak) or (lat, lon),
            **kw,
        )
        renamed = out
        if dst_lat in out.columns and dst_lon in out.columns:
            renamed = out.withColumnRenamed(dst_lat, lat).withColumnRenamed(
                dst_lon, lon
            )
        return self._with(renamed)

    def climatology(self, bucket: str = "month") -> DataFrame:
        """Calendar-bucket mean across years (A2)."""
        bucket_fn = {"month": F.month, "dayofyear": F.dayofyear}[bucket]
        keys = [self.name_col, *self.space_cols]
        return self.df.groupBy(
            bucket_fn(self.time_col).alias(bucket), *keys
        ).agg(F.avg(self.value_col).alias("clim"))

    def anomaly(self, bucket: str = "month") -> "Ensemble":
        """value − climatological mean, window form (W2) — no self-join."""
        from pyspark.sql import Window

        bucket_fn = {"month": F.month, "dayofyear": F.dayofyear}[bucket]
        w = Window.partitionBy(
            self.name_col, *self.space_cols, bucket_fn(self.time_col)
        )
        out = self.df.withColumn(
            self.value_col,
            F.col(self.value_col) - F.avg(self.value_col).over(w),
        )
        return self._with(out)

    def spatial_mean(self, weighted: bool = True) -> DataFrame:
        """Area-weighted spatial mean per (member, time) — THE standard
        climate global/regional mean, weighting each cell by cos(lat)
        (cell area on a regular lat-lon grid shrinks poleward; an
        unweighted mean over-counts high latitudes —
        bcdp/utils.py [UNVERIFIED], OCW convention). NULL cells drop
        from numerator and denominator. One keyed hash agg; the
        oracle-exact formulation is ``q_area_weighted_mean``."""
        v = F.col(self.value_col)
        w = (
            F.cos(F.radians("lat"))
            if weighted and "lat" in self.df.columns
            else F.lit(1.0)
        )
        ok = v.isNotNull()
        return self.df.groupBy(self.name_col, "time").agg(
            F.count(v).alias("n_valid"),
            (
                F.sum(F.when(ok, v * w)) / F.sum(F.when(ok, w))
            ).alias("mean"),
        )

    def evaluate(self, reference: str | None = None) -> DataFrame:
        """Model-evaluation verb (the OCW metrics loop bcdp feeds,
        ocw/metrics [UNVERIFIED]): per-member bias, RMSE and pattern
        correlation against a reference — either a named member
        (obs dataset) or, when ``reference is None``, the ensemble mean
        at each cell. One cell-keyed join + one member-keyed aggregation;
        both sides scale with the ensemble, nothing collects. For the
        bit-exact oracle-checked formulation see ``q_model_metrics`` /
        ``q_taylor_stats`` (quantized-integer sums)."""
        keys = ["time", *self.space_cols]
        v = F.col(self.value_col)
        if reference is None:
            ref = self.df.groupBy(*keys).agg(
                F.avg(self.value_col).alias("__ref")
            )
            mem = self.df
        else:
            ref = self.df.filter(
                F.col(self.name_col) == reference
            ).select(*keys, v.alias("__ref"))
            mem = self.df.filter(F.col(self.name_col) != reference)
        d = v - F.col("__ref")
        return (
            mem.join(ref, keys)
            .groupBy(self.name_col)
            .agg(
                F.count(F.lit(1)).alias("n_cells"),
                F.avg(d).alias("bias"),
                F.sqrt(F.avg(d * d)).alias("rmse"),
                F.corr(v, F.col("__ref")).alias("pattern_corr"),
            )
        )

    def crps(self, reference: str) -> DataFrame:
        """Ensemble CRPS at each (time, cell) against the named
        observation member (Hersbach 2000, the fair-ensemble form):

            CRPS = (1/n)·Σ|x_i − y| − (1/(2n²))·Σ_iΣ_j|x_i − x_j|

        The O(n²) spread term collapses to the rank-weighted sum over
        sorted members (Σ_k (2k−n−1)·x_(k)), so the whole score is one
        cell-keyed join, two window columns and a hash aggregate —
        no pair ever materializes. The bit-exact oracle-checked
        formulation is ``q_crps``. Scale (100 TB): everything shuffles
        on (time, cell); no global window, no cross join."""
        from pyspark.sql import Window

        keys = [self.time_col, *self.space_cols]
        v = F.col(self.value_col)
        obs = self.df.filter(F.col(self.name_col) == reference).select(
            *keys, v.alias("__y")
        )
        mem = self.df.filter(F.col(self.name_col) != reference)
        w = Window.partitionBy(*keys).orderBy(self.value_col, self.name_col)
        wc = Window.partitionBy(*keys)
        ranked = mem.join(obs, keys).select(
            *keys,
            v.alias("__x"),
            F.col("__y"),
            F.row_number().over(w).alias("__rk"),
            F.count(F.lit(1)).over(wc).alias("__n"),
        )
        return ranked.groupBy(*keys).agg(
            F.max("__n").alias("n_members"),
            (
                F.sum(F.abs(F.col("__x") - F.col("__y"))) / F.max("__n")
                - F.sum(
                    (2 * F.col("__rk") - F.col("__n") - 1) * F.col("__x")
                )
                / F.max("__n")
                / F.max("__n")
            ).alias("crps"),
        )

    def quantile_map(self, reference: str) -> "Ensemble":
        """Empirical quantile-mapping bias correction per cell: each
        non-reference member's value is replaced by the reference
        value at the same empirical rank within that member's own
        (member, cell) distribution — the Panofsky-Brier ECDF match,
        xclim's EmpiricalQuantileMapping shape. One rank window per
        side + a per-cell count join + one rank equi-join; the
        oracle-checked formulation is ``q_quantile_map``. The
        reference member passes through unchanged."""
        from pyspark.sql import Window

        cell = list(self.space_cols)
        v = F.col(self.value_col)
        obs = self.df.filter(F.col(self.name_col) == reference)
        mem = self.df.filter(F.col(self.name_col) != reference)
        w_m = Window.partitionBy(self.name_col, *cell).orderBy(
            self.value_col, self.time_col
        )
        wc_m = Window.partitionBy(self.name_col, *cell)
        model = mem.select(
            "*",
            F.row_number().over(w_m).alias("__rk_m"),
            F.count(F.lit(1)).over(wc_m).alias("__n_m"),
        )
        w_o = Window.partitionBy(*cell).orderBy(
            self.value_col, self.time_col
        )
        obs_r = obs.select(
            *cell,
            v.alias("__obs_v"),
            F.row_number().over(w_o).alias("__rk_o"),
        )
        n_obs = obs.groupBy(*cell).agg(F.count(F.lit(1)).alias("__n_o"))
        mapped = model.join(n_obs, cell).withColumn(
            "__j",
            F.expr("(__rk_m * __n_o + __n_m - 1) div __n_m"),
        )
        corrected = (
            mapped.join(
                obs_r,
                [mapped[c] == obs_r[c] for c in cell]
                + [obs_r["__rk_o"] == mapped["__j"]],
            )
            .select(
                *[mapped[c] for c in self.df.columns if c != self.value_col],
                F.col("__obs_v").alias(self.value_col),
            )
        )
        return self._with(corrected.unionByName(obs))

    def return_levels(
        self, block: str = "month", t_years: tuple = (10, 100)
    ) -> DataFrame:
        """T-year return levels per (member, cell) from an L-moment
        Gumbel fit of ``block`` maxima (the classic hydrology
        return-period method; the bit-exact oracle-checked recipe is
        ``q_return_levels``). Every transcendental (ln 2, Euler's γ,
        the Gumbel variates) is a precomputed literal, so the fit is
        plain IEEE arithmetic: one hash agg to block maxima, one rank
        window, one keyed agg — no pair ever materializes."""
        import math

        from pyspark.sql import Window

        bucket_fn = {"month": F.month, "dayofyear": F.dayofyear}[block]
        keys = [self.name_col, *self.space_cols]
        blocks = self.df.groupBy(
            *keys, bucket_fn(self.time_col).alias("__blk")
        ).agg(F.max(self.value_col).alias("__x"))
        w = Window.partitionBy(*keys).orderBy("__x", "__blk")
        wc = Window.partitionBy(*keys)
        ranked = blocks.select(
            *keys,
            "__x",
            F.row_number().over(w).alias("__r"),
            F.count(F.lit(1)).over(wc).alias("__n"),
        )
        lmom = ranked.groupBy(*keys).agg(
            F.max("__n").alias("n_blocks"),
            (F.sum("__x") / F.max("__n")).alias("__l1"),
            (
                F.lit(2.0)
                * F.sum((F.col("__r") - 1) * F.col("__x"))
                / F.max("__n")
                / (F.max("__n") - 1)
                - F.sum("__x") / F.max("__n")
            ).alias("__l2"),
        )
        sigma = F.col("__l2") / F.lit(math.log(2.0))
        mu = F.col("__l1") - F.lit(0.5772156649015329) * sigma
        cols = [*keys, F.col("n_blocks"), mu.alias("mu"),
                sigma.alias("sigma")]
        for t in t_years:
            y = math.log(-math.log(1.0 - 1.0 / t))
            cols.append((mu - sigma * F.lit(y)).alias(f"rl{t}"))
        return lmom.select(*cols)

    def spi(self, bucket: str = "day") -> DataFrame:
        """Standardized precipitation index per (member, cell):
        method-of-moments gamma over ``bucket`` accumulations +
        Wilson-Hilferty CDF→normal (McKee et al. 1993; the
        oracle-checked recipe is ``q_spi``). Two keyed hash aggs and
        one broadcast-sized fit join — adds one shuffle on the
        (member, cell) key."""
        from pyspark.sql import functions as _F

        keys = [self.name_col, *self.space_cols]
        trunc = {"day": "day", "month": "month"}[bucket]
        daily = self.df.groupBy(
            *keys, _F.date_trunc(trunc, self.time_col).alias("__b")
        ).agg(_F.sum(self.value_col).alias("__x"))
        fit = daily.groupBy(*keys).agg(
            _F.count(_F.lit(1)).alias("__n"),
            _F.avg("__x").alias("__m"),
            _F.var_samp("__x").alias("__s2"),
        )
        a = _F.col("__m") * _F.col("__m") / _F.col("__s2")
        z = (
            _F.pow(_F.col("__x") / _F.col("__m"), _F.lit(1.0 / 3.0))
            - (_F.lit(1.0) - _F.lit(1.0) / (_F.lit(9.0) * a))
        ) / _F.sqrt(_F.lit(1.0) / (_F.lit(9.0) * a))
        return (
            daily.join(fit, keys)
            .select(*keys, _F.col("__b").alias("bucket"),
                    z.alias("spi"))
        )

    def wsdi(self, cutoff, k: int = 6, q: float = 0.9) -> DataFrame:
        """ETCCDI warm-spell duration index per (member, cell): the
        calendar-percentile threshold (rank statistic at ``q`` over
        rows BEFORE ``cutoff``) broadcast onto the analysis rows, then
        gaps-and-islands runs of consecutive above-threshold
        observations; WSDI = days in runs of length >= ``k`` (ETCCDI
        uses k=6). The oracle-checked recipe is ``q_wsdi``. One
        broadcast join + one shuffle on the (member, cell) key — both
        windows partition by the same key, so the index scales
        horizontally."""
        from pyspark.sql import Window

        keys = [self.name_col, *self.space_cols]
        cut = F.lit(cutoff).cast("timestamp")
        w = Window.partitionBy(*keys).orderBy(self.value_col,
                                              self.time_col)
        wc = Window.partitionBy(*keys)
        base = self.df.filter(F.col(self.time_col) < cut).select(
            *keys,
            F.col(self.value_col).alias("__v"),
            F.row_number().over(
                w.orderBy(self.value_col, self.time_col)
            ).alias("__rk"),
            F.count(F.lit(1)).over(wc).alias("__n"),
        )
        # The rank statistic below is exact integer arithmetic over
        # tenths, so q must be a decile; anything else would silently
        # compute a different percentile (q=0.95 would banker's-round
        # to p90) or make the rank predicate match no row (ADVICE r9).
        qnum = q * 10
        if not (0 < q < 1) or abs(qnum - round(qnum)) > 1e-9:
            raise ValueError(
                f"wsdi: q must be a decile in (0, 1) — a multiple of"
                f" 0.1 — got {q!r}"
            )
        qnum = int(round(qnum))
        thr = base.filter(
            F.col("__rk")
            == F.greatest(
                F.lit(1), F.expr(f"({qnum} * __n + {qnum}) div 10")
            )
        ).select(*keys, F.col("__v").alias("__thr"))
        w_all = Window.partitionBy(*keys).orderBy(self.time_col)
        seq = (
            self.df.filter(F.col(self.time_col) >= cut)
            .join(F.broadcast(thr), keys)
            .select(
                *keys,
                F.col(self.value_col).alias("__v"),
                F.col("__thr"),
                F.row_number().over(w_all).alias("__rn"),
            )
        )
        w_w = Window.partitionBy(*keys).orderBy("__rn")
        warm = seq.filter(F.col("__v") > F.col("__thr")).select(
            *keys, "__rn", F.row_number().over(w_w).alias("__rw")
        )
        spells = warm.groupBy(
            *keys, (F.col("__rn") - F.col("__rw")).alias("__grp")
        ).agg(F.count(F.lit(1)).alias("__len"))
        kl = F.lit(int(k))
        return spells.groupBy(*keys).agg(
            F.coalesce(
                F.sum(F.when(F.col("__len") >= kl, F.col("__len"))),
                F.lit(0),
            ).cast("long").alias("wsdi"),
            F.coalesce(
                F.sum(F.when(F.col("__len") >= kl, F.lit(1))), F.lit(0)
            ).cast("long").alias("n_spells"),
            F.max("__len").cast("long").alias("longest_run"),
        )

    def bundle(self) -> DataFrame:
        """Cross-member stats at each (time, cell): mean + spread (A4)."""
        keys = [self.time_col, *self.space_cols]
        return self.df.groupBy(*keys).agg(
            F.count(F.lit(1)).alias("n_members"),
            F.avg(self.value_col).alias("ens_mean"),
            F.stddev_samp(self.value_col).alias("ens_spread"),
        )

    def bundle_to_grib2(self, out_dir: str, nbits: int = 16) -> DataFrame:
        """Export the cross-member mean/spread as GRIB2 DERIVED
        products (PDT 4.2, WMO table 4.7: em = code 0, es = code 2 —
        the GEFS geavg/gespr write side): one ``em.grib2`` and one
        ``es.grib2``, ensemble-size octet stamped from the member
        count, reingestable by ``from_grib2``/``load_grib2`` with the
        tags back in ``ens_label``. 2-D (lat, lon) ensembles only —
        GRIB messages are single-level."""
        if "lev" in self.space_cols:
            raise ValueError(
                "bundle_to_grib2 writes 2-D fields; subset a level "
                "first (GRIB messages are single-level)"
            )
        from bcdp_spark.sinks import to_grib2

        n_members = self.df.select(self.name_col).distinct().count()
        lat, lon = self._latlon()
        stacked = self.bundle().select(
            self.time_col, lat, lon,
            F.expr(
                "stack(2, 'em', ens_mean, 'es', ens_spread) "
                "AS (name, value)"
            ),
        )
        return to_grib2(
            stacked, out_dir, by="name", var_name="value", nbits=nbits,
            derived_codes={"em": 0, "es": 2}, ens_size=n_members,
        )

    def apply(
        self, fn: Callable, schema: str, by: Sequence[str] | None = None
    ) -> "Ensemble":
        """Per-member arbitrary pandas transform (U3): grouped-map pandas
        UDF over Arrow batches — the sanctioned slow path."""
        keys = list(by) if by else [self.name_col]
        return self._with(self.df.groupBy(*keys).applyInPandas(fn, schema))

    def persist(self) -> "Ensemble":
        return self._with(self.df.persist())

    def to_parquet(self, path: str, partition_by: Sequence[str] | None = None):
        """Sink (S6): partition by member name (+ time bucket at scale)."""
        cols = list(partition_by) if partition_by else [self.name_col]
        self.df.write.partitionBy(*cols).mode("overwrite").parquet(path)

    def to_netcdf(self, out_dir: str) -> DataFrame:
        """Sink (S6): one classic-format .nc file per member, written
        from executors (sinks.to_netcdf; vendored pure-Python writer)."""
        from bcdp_spark.sinks import to_netcdf

        return to_netcdf(
            self.df, out_dir, by=self.name_col, var_name=self.value_col
        )

    def to_grib2(
        self, out_dir: str, nbits: int = 16, stamp_members: bool = False
    ) -> DataFrame:
        """Sink (S6): one GRIB2 cycle file per member (one message per
        time step), written from executors (sinks.to_grib2; vendored
        WMO FM 92 writer), reingestable by ``sources.grib2.load_grib2``
        with message-level pruning. Simple packing is GRIB's native
        lossy contract — quantization ≤ range/(2^nbits − 1) per field.

        ``stamp_members=True`` encodes each member's position in the
        sorted member-name list as the PDT 4.1 perturbation number, so
        the identity survives in-band (the GEFS layout) and reloads as
        the ``member`` column. Costs one distinct().collect() bounded
        by the ensemble size (= the number of files written)."""
        from bcdp_spark.sinks import to_grib2

        numbers = None
        if stamp_members:
            names = sorted(
                r[0]
                for r in self.df.select(self.name_col).distinct().collect()
            )
            numbers = {n: i for i, n in enumerate(names)}
        return to_grib2(
            self.df, out_dir, by=self.name_col, var_name=self.value_col,
            nbits=nbits, member_numbers=numbers,
        )

    def to_zarr(
        self,
        out_dir: str,
        time_chunk: int = 512,
        zarr_format: int = 2,
        shard_time: int | None = None,
    ) -> DataFrame:
        """Sink (S6): one chunked Zarr store per member, written from
        executors (sinks.to_zarr; vendored spec-level writer),
        reingestable by ``sources.zarr.load_zarr`` with chunk-pruned
        reads. ``zarr_format=3`` writes the v3 layout; ``shard_time``
        wraps shards of that many time steps (sharding_indexed)."""
        from bcdp_spark.sinks import to_zarr

        return to_zarr(
            self.df,
            out_dir,
            by=self.name_col,
            var_name=self.value_col,
            time_chunk=time_chunk,
            zarr_format=zarr_format,
            shard_time=shard_time,
        )

    def homogenize(
        self,
        bounds: "Bounds | None" = None,
        time_granularity: str = "hour",
        lat_res: float | None = None,
        lon_res: float | None = None,
        season: str | None = None,
        scale: float = 1.0,
        offset: float = 0.0,
    ) -> "Ensemble":
        """The reference's one-shot pipeline verb (bcdp `homogenize`
        composes subset → normalize_times → regrid → unit conversion so
        every member lands on a common spatio-temporal grid,
        bcdp/core.py [UNVERIFIED — empty checkout, SURVEY.md §0]).

        Pure composition of the member verbs — Catalyst fuses the whole
        chain into one scan-side pipeline per member (filters push to the
        scan, the regrid groupBy is the only shuffle), so the one-shot
        form costs exactly what the fused steps cost."""
        out = self
        if bounds is not None:
            out = out.subset(bounds)
        if season is not None:
            out = out.select_season(season)
        out = out.normalize_times(time_granularity)
        if lat_res is not None and lon_res is not None:
            out = out.regrid(lat_res, lon_res)
        if scale != 1.0 or offset != 0.0:
            out = out._with(
                out.df.withColumn(
                    out.value_col,
                    F.col(out.value_col) * F.lit(scale) + F.lit(offset),
                )
            )
        return out
