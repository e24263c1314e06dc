"""Correctness checks shared by the generator, the workloads and the
self-tests.

* Query results are compared by digest: cells normalized exactly as
  ``tests/test_oracle_parity.py`` does (floats to 12 significant
  digits, NULL/NaN spelled out), columns in name order, rows sorted.
* Ingested documents are audited against the generator's expected
  typed values: every valid document exactly once, every value equal,
  every malformed or untrained document absent from the facts.
"""

from __future__ import annotations

import hashlib
import json
import math
import re


def normalize_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(bool(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.12g}"
    return str(v)


def digest(rows, cols) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    norm = sorted(tuple(normalize_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256(json.dumps(sorted(cols)).encode())
    for row in norm:
        h.update(b"\x1e" + "\x1f".join(row).encode())
    return h.hexdigest()


def norm_number(x: float) -> str:
    return normalize_cell(float(x))


def kpi_col(name: str) -> str:
    """Fact-table column of a KPI: ``kpi_`` + the name with every
    non-alphanumeric character replaced by ``_``, lowercased."""
    return "kpi_" + re.sub(r"[^a-zA-Z0-9_]", "_", name).lower()


def _typed(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return norm_number(v)
    if hasattr(v, "isoformat") and not isinstance(v, str):
        return v.isoformat()[:10]
    return str(v)


def audit_rows(rows: list[dict], expected: dict[str, dict]) -> dict:
    """Compare fact rows of one scope against ``expected``
    (file_name → {column: normalized value}). Returns counts, each row
    in at most one of them: ``rows`` seen, ``duplicates`` (second and
    later copies of an expected document), ``wrong`` (a bad value or an
    unexpected file), ``missing`` (expected documents with no row)."""
    seen: set[str] = set()
    duplicates = wrong = 0
    for r in rows:
        name = r["file_name"]
        want = expected.get(name)
        if want is not None and name in seen:
            duplicates += 1
        elif want is None or any(_typed(r.get(c)) != v for c, v in want.items()):
            wrong += 1
        seen.add(name)
    return {
        "rows": len(rows),
        "duplicates": duplicates,
        "wrong": wrong,
        "missing": sum(1 for f in expected if f not in seen),
    }


def audit_failures(a: dict) -> int:
    """Failed audit operations: each duplicate row, each wrong row,
    each missing document."""
    return a["duplicates"] + a["wrong"] + a["missing"]
