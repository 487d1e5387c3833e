"""14-digit CDX timestamps (SURVEY.md §2.8 F2, §1.2).

CDX serializes capture time as ``yyyyMMddHHmmss`` — a string whose
lexicographic order equals chronological order, which is what makes
key-range scans over (urlkey, timestamp) work.  ``from_ts14`` parses
one (or a partial prefix) back into a timestamp.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

TS14_FMT = "yyyyMMddHHmmss"


def from_ts14(s: Column | str) -> Column:
    """14-digit string → timestamp (partial prefixes padded: '2015' →
    2015-01-01 00:00:00, mirroring cdx-server from=/to= prefix
    semantics for the lower bound)."""
    c = F.col(s) if isinstance(s, str) else s
    padded = F.rpad(c, 14, "0")
    # month/day pads of '0' are invalid (00) → bump to '01'
    padded = F.concat(
        F.substring(padded, 1, 4),
        F.when(F.substring(padded, 5, 2) == "00", "01").otherwise(F.substring(padded, 5, 2)),
        F.when(F.substring(padded, 7, 2) == "00", "01").otherwise(F.substring(padded, 7, 2)),
        F.substring(padded, 9, 6),
    )
    return F.to_timestamp(padded, TS14_FMT)
