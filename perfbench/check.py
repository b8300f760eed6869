"""Output checks: order-insensitive value hashes against the DuckDB oracle.

Values are normalised with the repo's oracle comparator
(``tests/oracle_diff._norm``) so the Spark side, fetched with ``toPandas``,
and the DuckDB side, fetched as Python rows, hash alike. A NULL and a NaN
double hash alike, because pandas cannot tell them apart.
"""

from __future__ import annotations

import hashlib
import importlib.util
import json
import math
import os
from pathlib import Path

import numpy as np
import pandas as pd

ORACLE_DIFF = Path(__file__).resolve().parent.parent / "tests" / "oracle_diff.py"
_spec = importlib.util.spec_from_file_location("oracle_diff", ORACLE_DIFF)
_oracle_diff = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(_oracle_diff)
_norm, run_oracle = _oracle_diff._norm, _oracle_diff.run_oracle  # noqa: SLF001


def _py(v):
    """A pandas/numpy cell as the Python value DuckDB would return."""
    if v is None or v is pd.NaT:
        return None
    if isinstance(v, float) and math.isnan(v):
        return None
    if isinstance(v, np.ndarray):
        return [_py(x) for x in v]
    if isinstance(v, pd.Timestamp):
        return v.to_pydatetime()
    if isinstance(v, np.datetime64):
        return pd.Timestamp(v).to_pydatetime()
    if isinstance(v, np.generic):
        return _py(v.item())
    return v


def _cell(v) -> str:
    return repr(_norm(_py(v)))


def _digest(columns: list[str], cells: list[list[str]]) -> str:
    """sha256 over the column names and the sorted rows, columns by name."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\x1f".join(row) for row in zip(*(cells[i] for i in order)))
    h = hashlib.sha256("\x1e".join(columns[i] for i in order).encode())
    for line in lines:
        h.update(b"\x1d" + line.encode())
    return h.hexdigest()


def value_hash(columns: list[str], rows) -> str:
    """Order-insensitive hash of Python rows (the DuckDB side)."""
    rows = list(rows)
    return _digest(columns, [[_cell(r[i]) for r in rows] for i in range(len(columns))])


def frame_hash(pdf: pd.DataFrame, integral: set[str] = frozenset()) -> str:
    """Order-insensitive hash of a fetched frame, equal to ``value_hash``
    of the same values. ``integral`` names columns Spark typed as integers
    (pandas turns them into floats when they hold NULLs)."""
    cells = []
    for c in pdf.columns:
        col = pdf[c]
        values = col.tolist()
        kind = col.dtype.kind
        # fast paths yield exactly _cell(v) for their dtype
        if kind == "f" and c in integral:
            cells.append(["None" if v != v else repr(int(v)) for v in values])
        elif kind == "f":
            cells.append(["None" if v != v else repr(repr(v)) for v in values])
        elif kind in "iub":
            cells.append([repr(v) for v in values])
        else:
            cells.append([_cell(v) for v in values])
    return _digest(list(pdf.columns), cells)


def missing_answers(sql: dict[str, str], cache: Path) -> list[str]:
    """The queries of ``sql`` whose oracle answer ``cache`` lacks."""
    known = json.loads(cache.read_text()) if cache.exists() else {}
    return [q for q in sql if q not in known]


def oracle_answers(sql: dict[str, str], data_dir: str | Path, cache: Path) -> dict[str, dict]:
    """``{query: {"rows": n, "hash": h}}`` for every oracle over
    ``data_dir``, computed once and kept in the JSON file ``cache``."""
    known = json.loads(cache.read_text()) if cache.exists() else {}
    missing = [q for q in sql if q not in known]
    for q in missing:
        # DuckDB: float NaN and NULL hash alike here too (see _py)
        cols, rows = run_oracle(sql[q], str(data_dir))
        known[q] = {"rows": len(rows), "hash": value_hash(cols, rows)}
    if missing:
        cache.parent.mkdir(parents=True, exist_ok=True)
        tmp = cache.with_name(f"{cache.name}.tmp{os.getpid()}")
        tmp.write_text(json.dumps(known, indent=1, sort_keys=True))
        os.replace(tmp, cache)
    return known

