"""The benchmark workloads and the check of every op's output.

Each workload is a closed loop with one client: the next op is issued
only after the previous one's result has been collected. One op builds
a fresh DataFrame through the engine's public API and collects it.

* ``olap_fresh`` — the eight headline registry keys on the sf0.1 tables.
* ``climate_ensemble`` — ``Ensemble.from_zarr`` → climatology, CRPS
  against obs, and anomaly → ``to_zarr`` on a Zarr v2 ensemble.

Registry outputs are checked against DuckDB running the registry's
oracle SQL on the same files (``tests/compare.py::_driver_hash``); climate outputs
against numpy references computed from the generated arrays.
"""

from __future__ import annotations

import glob
import os
import shutil
import statistics
import time

import numpy as np
import pyarrow as pa

from perfbench import fixtures

OLAP_KEYS = (
    "q_pricing_summary",
    "q_join_agg",
    "q_window_topk",
    "q_tumbling_events",
    "q_dedup_docs",
    "q_anti_join",
    "q_rollup",
    "q_sim_knn",
)
CLIMATE_KEYS = ("climatology", "crps", "anomaly_to_zarr")

# float64 sums over float32 inputs, reordered by the engine
_RTOL = 1e-9
_ATOL = 1e-9


def tree_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _dirs, files in os.walk(path)
        for f in files
    )


class RegistryWorkload:
    """Registry keys over the seeded sf0.1 tables."""

    # passes over every op after the cold one, before the timed loop: the
    # cycle time stops falling after about six, once the JIT has caught up
    warm_passes = 6
    # Spark task slots. These ops are short and handoff-bound: with one
    # slot a busy host stretches them about half as much as with two,
    # for ~12% less throughput on a quiet one
    cores = 1

    def __init__(self, name: str, keys: tuple[str, ...]) -> None:
        self.name = name
        self.keys = keys
        self.sf_dir = ""
        self.expected: dict[str, str] = {}
        self.verified: dict[str, pa.Table] = {}
        self.duckdb_s: dict[str, float] = {}

    def prepare(self, seed: int, work: str) -> None:
        self.sf_dir = fixtures.write_tables(seed, os.path.join(work, "sf0.1"))

    def handles(self, spark) -> None:
        from bcdp_spark.tables import TABLES, table

        for name in TABLES:
            table(spark, self.sf_dir, name)

    def build(self, spark, key: str, op_id: str):
        import bcdp_spark.queries as q

        return q.queries()[key](spark, self.sf_dir)

    def _oracle(self, key: str, repeats: int = 1) -> str:
        import duckdb

        import bcdp_spark.queries as q
        from bcdp_spark.tables import TABLES
        from tests.compare import _driver_hash

        con = duckdb.connect()
        try:
            for name in TABLES:
                path = os.path.join(self.sf_dir, f"{name}.parquet")
                con.execute(
                    f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')"
                )
            times = []
            for _ in range(repeats):
                t0 = time.perf_counter()
                pdf = con.execute(q.oracle_sql()[key]).df()
                times.append(time.perf_counter() - t0)
        finally:
            con.close()
        self.duckdb_s[key] = statistics.median(times)
        return _driver_hash(pdf)

    def check(self, key: str, op_id: str, table: pa.Table, traced: bool) -> None:
        from tests.compare import _driver_hash

        if key not in self.expected:
            self.expected[key] = self._oracle(key, repeats=3 if traced else 1)
        # an output equal to one that already matched the oracle matches too
        if key in self.verified and table.equals(self.verified[key]):
            return
        got = _driver_hash(table.to_pandas())
        if got != self.expected[key]:
            raise AssertionError(f"{key}: value hash differs from the DuckDB oracle")
        self.verified[key] = table

    def probe(self, spark, status, ops: list[dict]) -> dict[str, float]:
        """Layer numbers measured beside the loop: the DuckDB yardstick."""
        keys = [o["key"] for o in ops]
        return {"duckdb.op_s": statistics.mean(self.duckdb_s[k] for k in keys)}


class ClimateWorkload:
    """The paper's pipeline on a generated Zarr v2 ensemble."""

    name = "climate_ensemble"
    keys = CLIMATE_KEYS
    # with the cold pass alone, the loop's timings spread about twice as
    # much across seeds
    warm_passes = 1
    # the chunk scan is CPU-bound and parallel; two slots leave the other
    # CPUs to the driver, the JIT and the garbage collector
    cores = 2

    def __init__(self) -> None:
        self.fx: fixtures.EnsembleFixture | None = None
        self.out_root = ""
        self.written: dict[str, int] = {}

    def prepare(self, seed: int, work: str) -> None:
        self.fx = fixtures.make_ensemble(seed, os.path.join(work, "ensemble"))
        fixtures.write_ensemble(self.fx)
        self.out_root = os.path.join(work, "out")
        fx = self.fx
        month = fx.times.astype("datetime64[M]").astype(np.int64) % 12
        self._month = month
        self.ref_clim = {
            m: np.stack([g[month == k].astype(np.float64).mean(axis=0)
                         for k in range(12)])
            for m, g in fx.members.items()
        }
        x = np.stack([g.astype(np.float64) for m, g in fx.members.items()
                      if m != "obs"])
        y = fx.members["obs"].astype(np.float64)
        n = x.shape[0]
        rank_w = (2 * np.arange(1, n + 1) - n - 1).reshape(n, 1, 1, 1)
        self.ref_crps = (
            np.abs(x - y).sum(axis=0) / n
            - (rank_w * np.sort(x, axis=0)).sum(axis=0) / n / n
        )

    def _ensemble(self, spark):
        from bcdp_spark.ensemble import Ensemble

        return Ensemble.from_zarr(spark, self.fx.pattern, var="tas")

    def handles(self, spark) -> None:
        pass

    def build(self, spark, key: str, op_id: str):
        ens = self._ensemble(spark)
        if key == "climatology":
            return ens.climatology("month")
        if key == "crps":
            return ens.crps("obs")
        return ens.anomaly("month").to_zarr(os.path.join(self.out_root, op_id))

    # -- checks -----------------------------------------------------

    def _index(self, table: pa.Table, col: str, coords: np.ndarray) -> np.ndarray:
        vals = table.column(col).to_numpy()
        idx = np.searchsorted(coords, vals)
        if not np.array_equal(coords[np.clip(idx, 0, len(coords) - 1)], vals):
            raise AssertionError(f"{col} values outside the fixture grid")
        return idx

    def _time_index(self, table: pa.Table) -> np.ndarray:
        us = table.column("time").cast(pa.timestamp("us")).cast(pa.int64()).to_numpy()
        t0 = self.fx.times[0].astype("datetime64[us]").astype(np.int64)
        return (us - t0) // (86_400 * 1_000_000)

    @staticmethod
    def _close(name: str, got: np.ndarray, ref: np.ndarray) -> None:
        if not np.allclose(got, ref, rtol=_RTOL, atol=_ATOL):
            bad = np.nanmax(np.abs(got - ref))
            raise AssertionError(f"{name}: max abs error {bad} vs numpy reference")

    def check(self, key: str, op_id: str, table: pa.Table, traced: bool) -> None:
        fx = self.fx
        shape = (fx.lats.size, fx.lons.size)
        if key == "climatology":
            got = {m: np.full((12, *shape), np.nan) for m in fx.members}
            li = self._index(table, "lat", fx.lats)
            oi = self._index(table, "lon", fx.lons)
            mi = table.column("month").to_numpy() - 1
            vals = table.column("clim").to_numpy()
            names = table.column("name").to_pylist()
            if table.num_rows != len(fx.members) * 12 * shape[0] * shape[1]:
                raise AssertionError(f"climatology: {table.num_rows} rows")
            for m in fx.members:
                sel = np.array([n == m for n in names])
                got[m][mi[sel], li[sel], oi[sel]] = vals[sel]
                self._close(f"climatology[{m}]", got[m], self.ref_clim[m])
        elif key == "crps":
            got = np.full(self.ref_crps.shape, np.nan)
            got[self._time_index(table), self._index(table, "lat", fx.lats),
                self._index(table, "lon", fx.lons)] = table.column("crps").to_numpy()
            if table.num_rows != got.size:
                raise AssertionError(f"crps: {table.num_rows} rows")
            self._close("crps", got, self.ref_crps)
        else:
            self._check_written(table, os.path.join(self.out_root, op_id))

    def _check_written(self, table: pa.Table, out_dir: str) -> None:
        from bcdp_spark.sources.zarr import read_array

        fx = self.fx
        try:
            paths = dict(zip(table.column("name").to_pylist(),
                             table.column("path").to_pylist()))
            if sorted(paths) != sorted(fx.members):
                raise AssertionError(f"to_zarr wrote members {sorted(paths)}")
            for m, path in paths.items():
                got, _attrs = read_array(path, "value")
                ref = fx.members[m] - self.ref_clim[m][self._month]
                self._close(f"to_zarr[{m}]", got, ref)
            self.written[out_dir] = tree_bytes(out_dir)
        finally:
            shutil.rmtree(out_dir, ignore_errors=True)

    # -- per-layer probes (traced run) --------------------------------

    def probe(self, spark, status, ops: list[dict]) -> dict[str, float]:
        """Scan, codec, ensemble and sink layers, measured from outside:
        the scan is ``from_zarr(...).df`` run to a noop sink; codecs are
        timed single-threaded over every fixture chunk."""
        from bcdp_spark.sources.zarr import (
            decode_chunk_bytes,
            pruned_chunk_count,
            read_array_meta,
        )

        fx = self.fx
        scans, run_s = [], []
        for i in range(3):
            group = f"probe.scan.{i}"
            status.group(group)
            t0 = time.perf_counter()
            self._ensemble(spark).df.write.format("noop").mode("overwrite").save()
            scans.append(time.perf_counter() - t0)
            run_s.append(status.counts(group).executor_run_s)
        scan_s, scan_run_s = statistics.median(scans), statistics.median(run_s)
        kept = total = 0
        decode: dict[str, list[float]] = {}
        for m in fx.members:
            store = fx.store(m)
            k, t = pruned_chunk_count(store, var="tas")
            kept, total = kept + k, total + t
            meta = read_array_meta(store, "tas")
            comp = meta.compressor or {}
            cname = comp.get("cname", comp.get("id", "raw"))
            acc = decode.setdefault(cname, [0.0, 0.0])
            for path in glob.glob(os.path.join(store, "tas", "*.*.*")):
                with open(path, "rb") as fh:
                    raw = fh.read()
                t0 = time.perf_counter()
                arr = decode_chunk_bytes(raw, meta)
                acc[0] += time.perf_counter() - t0
                acc[1] += arr.nbytes
        out = {
            "sources.scan_s": scan_s,
            "sources.cells_per_s": sum(g.size for g in fx.members.values()) / scan_s,
            "sources.chunks_kept": kept,
            "sources.chunks_total": total,
        }
        for cname, (secs, nbytes) in decode.items():
            out[f"sources.codec.{cname}.decode_MBps"] = nbytes / secs / 1e6
            out[f"sources.codec.{cname}.decode_share"] = secs / scan_run_s
        verbs = [o["op_s"] for o in ops if o["key"] != "anomaly_to_zarr"]
        sinks = [o["op_s"] for o in ops if o["key"] == "anomaly_to_zarr"]
        if verbs:
            out["ensemble.self_s"] = statistics.mean(verbs) - scan_s
        if sinks:
            written = list(self.written.values())
            out["sinks.write_s"] = statistics.mean(sinks) - scan_s
            out["sinks.bytes_written"] = statistics.mean(written)
            # the user's bytes: one float64 per written cell
            raw = sum(g.size for g in fx.members.values()) * 8
            out["sinks.write_amplification"] = statistics.mean(written) / raw
        return out


def make(name: str):
    if name == "olap_fresh":
        return RegistryWorkload(name, OLAP_KEYS)
    if name == "climate_ensemble":
        return ClimateWorkload()
    raise ValueError(f"unknown workload {name!r}")


WORKLOADS = ("olap_fresh", "climate_ensemble")
