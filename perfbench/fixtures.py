"""Seeded benchmark inputs.

Two fixture sets, both written under the run's work directory:

* ``write_tables`` — the ten registry tables (TPC-H-like star schema plus
  ``events``, ``documents`` and ``embeddings``) at the sf0.1 shape: the
  same columns, physical types, row counts and value domains as the
  grading fixtures, with every value drawn from the seed.
* ``write_ensemble`` — a Zarr v2 climate ensemble written with
  ``bcdp_spark.sources.zarr.write_zarr``: several model members plus an
  ``obs`` member, quantized float32 values, mostly blosc-lz4 with byte
  shuffle (zarr-python's v2 default) and one blosc-snappy and one zlib
  member so every decode path runs.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# sf0.1 row counts (dimension tables do not scale)
N_CUSTOMER = 15_000
N_SUPPLIER = 1_000
N_PART = 20_000
N_ORDERS = 150_000
N_LINEITEM = 600_000
N_EVENTS = 100_000
N_DOCUMENTS = 5_000
N_EMBEDDINGS = 2_000
EMBED_DIM = 64

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_ADJ = ["large", "small", "hot", "cold", "blue", "red", "green", "shiny"]
_PART_NOUN = ["ring", "bolt", "nut", "gear", "pipe", "valve", "spring", "screw"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "zh", "es", "fr", "de"]
_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row "
    "the agg key query a scan batch"
).split()


def _strings(values) -> pa.Array:
    return pa.array(values, type=pa.string())


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype(np.int64), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, options: list[str], n: int, p=None) -> list[str]:
    return list(np.asarray(options, dtype=object)[rng.choice(len(options), n, p=p)])


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    vocab = np.asarray(_VOCAB, dtype=object)
    texts = [
        " ".join(vocab[rng.integers(0, len(vocab), int(k))])
        for k in rng.integers(10, 101, n)
    ]
    # 5% near duplicates and ~0.2% exact copies, as in the grading fixtures
    slots = rng.permutation(n)
    n_near, n_exact = n // 20, max(n // 600, 1)
    near, exact = slots[:n_near], slots[n_near:n_near + n_exact]
    # a near duplicate is another document plus one token; an exact one
    # is a verbatim copy — the shapes the dedup operators look for
    for dst in near:
        texts[dst] = texts[int(rng.integers(0, n))] + " dup"
    for dst in exact:
        texts[dst] = texts[int(rng.integers(0, n))]
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": _strings(texts),
        "lang": _strings(_pick(rng, _LANGS, n, _LANG_P)),
        "source": _strings([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator) -> pa.Table:
    vecs = rng.standard_normal((N_EMBEDDINGS, EMBED_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.ravel(), pa.float32())
    offsets = pa.array(np.arange(0, vecs.size + 1, EMBED_DIM, dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(np.arange(N_EMBEDDINGS), pa.int64()),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(rng.integers(0, 10, N_EMBEDDINGS), pa.int32()),
    })


def make_tables(seed: int) -> dict[str, pa.Table]:
    """The ten registry tables, drawn from ``seed``."""
    rng = np.random.default_rng([seed, 1])
    nations = np.arange(25)
    t: dict[str, pa.Table] = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": _strings(_REGIONS),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(nations, pa.int32()),
            "n_name": _strings([f"NATION_{i}" for i in nations]),
            "n_regionkey": pa.array(nations % 5, pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(N_CUSTOMER), pa.int64()),
            "c_name": _strings([f"Customer#{i:09d}" for i in range(N_CUSTOMER)]),
            "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, N_CUSTOMER),
            "c_mktsegment": _strings(_pick(rng, _SEGMENTS, N_CUSTOMER)),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(N_SUPPLIER), pa.int64()),
            "s_name": _strings([f"Supplier#{i:09d}" for i in range(N_SUPPLIER)]),
            "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, N_SUPPLIER),
        }),
    }
    names = [f"{a} {n}" for a in _PART_ADJ for n in _PART_NOUN]
    pk = np.arange(N_PART)
    t["part"] = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": _strings(_pick(rng, names, N_PART)),
        "p_brand": _strings([f"Brand#{b}" for b in rng.integers(1, 26, N_PART)]),
        "p_type": _strings(_pick(rng, _PART_TYPES, N_PART)),
        "p_size": pa.array(rng.integers(1, 51, N_PART), pa.int32()),
        "p_retailprice": 900.0 + (pk % 1000) / 10.0,
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(N_ORDERS), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, N_ORDERS), pa.int64()),
        "o_orderstatus": _strings(_pick(rng, ["F", "O", "P"], N_ORDERS)),
        "o_totalprice": _money(rng, 1000.0, 500000.0, N_ORDERS),
        "o_orderdate": _ts(_EPOCH_1995 + rng.integers(0, 2405, N_ORDERS) * _DAY_US),
        "o_orderpriority": _strings(_pick(rng, _PRIORITIES, N_ORDERS)),
    })
    n = N_LINEITEM
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, N_ORDERS, n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, N_PART, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, N_SUPPLIER, n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": _strings(_pick(rng, ["A", "N", "R"], n)),
        "l_linestatus": _strings(_pick(rng, ["F", "O"], n)),
        "l_shipdate": _ts(_EPOCH_1995 + (1 + rng.integers(0, 2499, n)) * _DAY_US),
    })
    ts = np.sort(rng.integers(0, 30 * _DAY_US, N_EVENTS))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(N_EVENTS), pa.int64()),
        "ts": _ts(_EPOCH_2024 + ts),
        "user_id": pa.array(rng.integers(0, 1500, N_EVENTS), pa.int64()),
        "event_type": _strings(_pick(rng, _EVENT_TYPES, N_EVENTS)),
        "value": np.round(rng.exponential(50.0, N_EVENTS), 2),
        "props": _strings([f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)]),
    })
    t["documents"] = _documents(rng, N_DOCUMENTS)
    t["embeddings"] = _embeddings(rng)
    return t


def write_tables(seed: int, out_dir: str) -> str:
    """Write ``make_tables(seed)`` as ``<out_dir>/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in make_tables(seed).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


# -- climate ensemble ---------------------------------------------------

N_TIME = 365
N_LAT = 8
N_LON = 16
TIME_CHUNK = 122  # three chunks per member along time
_LZ4 = {"id": "blosc", "cname": "lz4", "clevel": 5, "shuffle": 1, "blocksize": 0}
# member -> compressor; "obs" is the reference the CRPS op scores against
MEMBER_CODECS = {
    "m0": _LZ4,
    "m1": _LZ4,
    "m2": {**_LZ4, "cname": "snappy"},
    "m3": {"id": "zlib", "level": 1},
    "obs": _LZ4,
}


@dataclass
class EnsembleFixture:
    """Generated member grids (time, lat, lon) and their coordinates."""

    root: str
    members: dict[str, np.ndarray]
    times: np.ndarray  # datetime64[s]
    lats: np.ndarray
    lons: np.ndarray

    @property
    def pattern(self) -> str:
        return os.path.join(self.root, "*.zarr")

    def store(self, member: str) -> str:
        return os.path.join(self.root, f"{member}.zarr")


def _quantize(x: np.ndarray) -> np.ndarray:
    # 1/64 K steps: the low mantissa bits are zero, as in stores written
    # through a bit-rounding or quantize filter
    return (np.round(x * 64.0) / 64.0).astype(np.float32)


def make_ensemble(seed: int, root: str) -> EnsembleFixture:
    """Member grids drawn from ``seed``: a shared seasonal cycle over a
    latitude gradient, per-member bias and noise."""
    rng = np.random.default_rng([seed, 2])
    lats = np.linspace(-60.0, 60.0, N_LAT)
    lons = np.linspace(0.0, 360.0, N_LON, endpoint=False)
    day = np.arange(N_TIME)
    base = (
        288.0
        - 20.0 * np.abs(np.sin(np.radians(lats)))[None, :, None]
        + 8.0 * np.sin(2 * np.pi * (day - 100) / 365.0)[:, None, None]
        * np.sign(lats)[None, :, None]
        + 2.0 * np.cos(np.radians(lons))[None, None, :]
    )
    members = {
        m: _quantize(
            base + rng.normal(0.0, 0.8) + rng.normal(0.0, 1.5, base.shape)
        )
        for m in MEMBER_CODECS
    }
    times = np.datetime64("2001-01-01", "s") + day * np.timedelta64(86_400, "s")
    return EnsembleFixture(root, members, times, lats, lons)


def write_ensemble(fx: EnsembleFixture) -> None:
    """One Zarr v2 store per member under ``fx.root``."""
    from bcdp_spark.sources.zarr import write_zarr

    tnum = (fx.times - np.datetime64("1970-01-01", "s")).astype(np.float64)
    for member, grid in fx.members.items():
        write_zarr(
            fx.store(member),
            dims={"time": N_TIME, "lat": N_LAT, "lon": N_LON},
            variables={
                "time": (["time"], tnum, {
                    "units": "seconds since 1970-01-01",
                    "calendar": "standard",
                }),
                "lat": (["lat"], fx.lats, {}),
                "lon": (["lon"], fx.lons, {}),
                "tas": (["time", "lat", "lon"], grid, {"units": "K"}),
            },
            chunks={"tas": (TIME_CHUNK, N_LAT, N_LON)},
            compressor=MEMBER_CODECS[member],
        )
