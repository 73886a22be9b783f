"""Pieces the workloads share."""

from __future__ import annotations

import statistics
import sys
from dataclasses import dataclass, field


@dataclass
class Result:
    attempted: int = 0
    failed: int = 0
    setup_s: float = 0.0
    e2e: dict[str, float] = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)

    def check(self, ok: bool, what: str, value=None):
        """Count one checked operation and report a mismatch on stderr;
        returns ``value`` when the check passed, else None."""
        self.attempted += 1
        if ok:
            return value
        self.failed += 1
        print(f"check failed: {what}", file=sys.stderr)
        return None


def median(values) -> float:
    return statistics.median(values) if values else 0.0


def percentile(values, q: float) -> float:
    """Nearest-rank percentile, q in (0, 100]."""
    xs = sorted(values)
    if not xs:
        return 0.0
    return xs[max(0, min(len(xs) - 1, -(-len(xs) * q // 100) - 1))]


def spark_digest(df, cols) -> tuple[int, int]:
    """(row count, order-insensitive digest) of ``cols`` — the Spark side
    of ``gen.row_digest``."""
    from pyspark.sql import functions as F

    key = F.concat_ws("\x1f", *[F.coalesce(F.col(c).cast("string"), F.lit(""))
                                 for c in cols])
    h = F.conv(F.substring(F.md5(key), 1, 15), 16, 10).cast("decimal(38,0)")
    row = df.agg(F.count(F.lit(1)).alias("n"), F.sum(h).alias("d")).first()
    return row.n, int(row.d or 0)

