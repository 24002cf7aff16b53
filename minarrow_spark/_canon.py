"""Canonical value rendering for the oracle comparator (tests/oracle_utils).

Lives in the package rather than tests/ so anything in the package that
digests rows renders them exactly as the comparator does — a
hand-maintained copy would silently diverge the moment canonicalization
changes.
"""

from __future__ import annotations

import datetime
import math
from decimal import Decimal


def canon_value(v) -> str:
    if v is None:
        return "<NULL>"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == 0.0:
            return "0"  # normalize -0.0
        return repr(v)
    if isinstance(v, Decimal):
        return repr(float(v))
    if isinstance(v, int):
        return str(v)
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)
