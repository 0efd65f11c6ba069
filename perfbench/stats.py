"""Pure helpers of the benchmark: summary statistics, order-independent
checksums, metric-name validation and the result line. No Spark here,
so the unit tests run without a JVM."""

from __future__ import annotations

import hashlib
import json
import math
import re
import statistics
from collections.abc import Iterable, Sequence

_NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
_UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def median(values: Sequence[float]) -> float:
    if not values:
        raise ValueError("median of no values")
    return float(statistics.median(values))


def geomean(values: Sequence[float]) -> float:
    if not values or min(values) <= 0:
        raise ValueError("geometric mean needs positive values")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def canonical_cell(v) -> str:
    """One spelling per value, so Spark and DuckDB results compare
    equal: NULL/NaN alike, numbers through ``repr`` of a float only when
    they are not integral, sequences element-wise."""
    if v is None:
        return "«NULL»"
    if isinstance(v, float):
        if math.isnan(v):
            return "«NULL»"
        return repr(int(v)) if v.is_integer() and abs(v) < 2**53 else repr(v)
    if hasattr(v, "tolist"):  # numpy scalars and arrays
        return canonical_cell(v.tolist())
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canonical_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canonical_cell(x)}" for k, x in sorted(v.items())) + "}"
    return str(v)


def rows_checksum(rows: Iterable[Sequence]) -> tuple[int, str]:
    """(row count, hex digest) of a multiset of rows: independent of row
    order, sensitive to duplicates and to every value."""
    keys = sorted("\x1f".join(canonical_cell(v) for v in row) for row in rows)
    h = hashlib.sha256()
    for k in keys:
        h.update(k.encode())
        h.update(b"\x1e")
    return len(keys), h.hexdigest()[:16]


def frame_checksum(pdf) -> tuple[int, str]:
    """``rows_checksum`` of a pandas frame with its columns in name order
    (so column order does not matter either)."""
    cols = sorted(pdf.columns)
    return rows_checksum(pdf[cols].itertuples(index=False, name=None))


def check_name(name: str) -> str:
    if not _NAME.match(name):
        raise ValueError(f"bad metric name {name!r}")
    return name


def check_unit(unit: str) -> str:
    if not _UNIT.match(unit):
        raise ValueError(f"bad metric unit {unit!r}")
    return unit


def result_line(correct: bool, attempted: int, failed: int,
                metrics: dict[str, tuple[float, str]]) -> str:
    """The benchmark's last output line. ``metrics`` maps name →
    (value, unit); every value must be a finite number."""
    if attempted < 1 or not 0 <= failed <= attempted:
        raise ValueError(f"bad counts attempted={attempted} failed={failed}")
    out = {}
    for name, (value, unit) in metrics.items():
        value = float(value)
        if not math.isfinite(value):
            raise ValueError(f"metric {name} is not finite: {value}")
        out[check_name(name)] = {"value": value, "unit": check_unit(unit)}
    return json.dumps({"correct": bool(correct), "attempted": int(attempted),
                       "failed": int(failed), "metrics": out})
