"""Order-insensitive result digests, shared by the benchmark's output
checks and the script that pins their references."""

from __future__ import annotations

import hashlib
import math


def _canon_value(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        # floats are rounded by the queries to a scale with ample
        # headroom, so 12 significant digits compare equal across engines
        return "NaN" if math.isnan(v) else f"{v:.12g}"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def digest(pdf) -> dict:
    """Row count and a sha256 over the sorted, canonicalized rows of a
    pandas frame (columns in name order)."""
    cols = sorted(pdf.columns)
    rows = sorted(
        "\x1f".join(_canon_value(v) for v in row) for row in pdf[cols].itertuples(index=False)
    )
    h = hashlib.sha256()
    h.update("\x1e".join(cols).encode())
    for r in rows:
        h.update(b"\x1e" + r.encode())
    return {"rows": len(rows), "sha256": h.hexdigest()}
