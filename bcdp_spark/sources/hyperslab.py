"""One predicate representation for every gridded reader.

The ``load_*`` loaders take inclusive bounds kwargs and the DataSource
V2 readers take pushed Catalyst filters; both become the same
``preds`` value before any decoder sees them: a dict from column name
to a tuple of ``(op, value)`` pairs, op one of ``= < <= > >=``, all
pairs ANDed. A column absent from the dict is unconstrained.

Time literals are normalized once, here: naive values are UTC wall
times, tz-aware ones are converted to UTC, and both become
``datetime64[us]`` so they compare directly against the decoded,
tz-naive UTC time axes.

Two tests use ``preds``:

- ``axis_mask`` — the exact per-value mask over a coordinate array
  (any shape), applied before the long-form mesh exists; a Zarr
  planner drops a chunk when it is empty along some dimension;
- ``span_may_match`` — the corner-only test a planner uses to drop a
  GRIB2 message or GeoTIFF block whose coordinate bounding box
  ``[lo, hi]`` (it has only corners) cannot hold a matching value.

The module also holds the two output adapters shared by the DSv2 and
stream readers: long-form frame → Arrow batch, and long-form frame →
row tuples with UTC tzinfo attached.
"""

from __future__ import annotations

import datetime as _dt

import numpy as np
import pandas as pd
from pyspark.sql.datasource import (
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    LessThan,
    LessThanOrEqual,
)

_FILTER_OPS = {
    EqualTo: "=",
    LessThan: "<",
    LessThanOrEqual: "<=",
    GreaterThan: ">",
    GreaterThanOrEqual: ">=",
}
# the pushed filter types ``from_filters`` accepts
RANGE_FILTERS = tuple(_FILTER_OPS)
_OPS = {
    "=": np.equal,
    "<": np.less,
    "<=": np.less_equal,
    ">": np.greater,
    ">=": np.greater_equal,
}


def _utc(v) -> np.datetime64:
    ts = pd.Timestamp(v)
    if ts.tzinfo is not None:
        ts = ts.tz_convert("UTC").tz_localize(None)
    return np.datetime64(ts, "us")


def from_bounds(**bnds) -> dict:
    """``time_bnds=(lo, hi), lat_bnds=…`` → preds: each bound is an
    inclusive ``>= lo`` / ``<= hi`` pair; a ``None`` bound or endpoint
    is omitted."""
    preds = {}
    for key, b in bnds.items():
        if b is None:
            continue
        col = key[: -len("_bnds")]
        pairs = tuple(
            (op, _utc(v) if col == "time" else v)
            for op, v in zip((">=", "<="), b)
            if v is not None
        )
        if pairs:
            preds[col] = pairs
    return preds


def from_filters(filters) -> dict:
    """Pushed DSv2 ``EqualTo`` / ``GreaterThan`` / … filters → preds.
    Datetime literals (tz-aware in the session zone) go to UTC."""
    preds: dict[str, tuple] = {}
    for f in filters:
        (col,) = f.attribute
        v = _utc(f.value) if isinstance(f.value, _dt.datetime) else f.value
        preds[col] = preds.get(col, ()) + ((_FILTER_OPS[type(f)], v),)
    return preds


def axis_mask(axis, preds: dict, col: str) -> np.ndarray:
    """Exact boolean mask over ``axis`` (any shape) for ``col``."""
    axis = np.asarray(axis)
    mask = np.ones(axis.shape, dtype=bool)
    for op, v in preds.get(col, ()):
        mask &= _OPS[op](axis, v)
    return mask


def value_matches(v, preds: dict, col: str) -> bool:
    """Does one scalar satisfy ``col``'s predicates? A missing value
    (``None``) satisfies none."""
    if col not in preds:
        return True
    return v is not None and bool(axis_mask(v, preds, col))


def span_may_match(lo, hi, preds: dict, col: str) -> bool:
    """Can any value in ``[lo, hi]`` satisfy every predicate on
    ``col``? Each predicate is tested on its own, so the answer is
    conservative: it never drops a span that holds a match."""
    for op, v in preds.get(col, ()):
        if op == "=":
            ok = lo <= v <= hi
        elif op in (">", ">="):
            ok = _OPS[op](hi, v)
        else:
            ok = _OPS[op](lo, v)
        if not ok:
            return False
    return True


# -- output adapters ------------------------------------------------------

def arrow_batch(frame: pd.DataFrame, schema):
    """Long-form frame → the Arrow batch a DSv2 ``read()`` yields, typed
    and ordered by the reader's declared ``schema`` (a ``StructType``;
    NaN values become NULL, timestamps stay tz-naive UTC wall times)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    return pa.RecordBatch.from_arrays(
        [
            pa.array(
                frame[f.name],
                type=to_arrow_type(f.dataType, timestamp_utc=False),
                from_pandas=True,
            )
            for f in schema.fields
        ],
        names=schema.names,
    )


def stream_rows(frame: pd.DataFrame) -> list[tuple]:
    """Long-form frame → row tuples for a stream reader. Decoded wall
    times are UTC: they carry tzinfo so ``TimestampType.toInternal``
    converts via ``utcoffset``, not the host zone's ``mktime``.
    Missing values become ``None``."""
    cols = []
    for c in frame.columns:
        s = frame[c]
        if c == "time":
            cols.append([
                t.replace(tzinfo=_dt.timezone.utc)
                for t in pd.DatetimeIndex(s).to_pydatetime()
            ])
        else:
            cols.append(s.astype(object).where(s.notna(), None).tolist())
    return list(zip(*cols))
