"""Measurement helpers shared by the run and the ledger probes."""

from __future__ import annotations

import os
import statistics
import time


def du(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``; hidden/marker files excluded
    from the file count, not from the bytes."""
    total, files = 0, 0
    for d, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(d, n))
            files += n.endswith(".parquet")
    return total, files


def calibrate() -> float:
    """Median wall of a fixed pure-Python CPU loop (host-speed probe)."""
    walls = []
    for _ in range(3):
        t = time.monotonic()
        acc = 0
        for i in range(1_000_000):
            acc = (acc * 31 + i) & 0xFFFFFFFF
        walls.append(time.monotonic() - t)
    return statistics.median(walls)


def digest(df) -> str:
    """Order-insensitive digest of (subj, pred, obj, repo, score): row
    count plus the sum of a 60-bit per-row hash (a sum, unlike xor,
    keeps duplicate rows visible)."""
    import pyspark.sql.functions as F

    cols = [F.coalesce(F.col(c).cast("string"), F.lit("\u0000"))
            for c in ("subj", "pred", "obj", "repo", "score")]
    h = F.conv(F.substring(F.sha2(F.concat_ws("\u001f", *cols), 256),
                           1, 15), 16, 10).cast("decimal(38,0)")
    row = df.agg(F.count(F.lit(1)).alias("n"), F.sum(h).alias("s")).first()
    return f"{row['n']}:{row['s']}"
