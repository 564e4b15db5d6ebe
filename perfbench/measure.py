"""Pure helpers: percentiles, open-loop latency join, record summaries.

Nothing here touches Spark, so the unit tests in ``perfbench/tests`` run
without a JVM.
"""

from __future__ import annotations

import json
import math
import os
from collections.abc import Iterable, Mapping

# Percentiles a tail may be reported at. The tail of a sample is the
# highest of these with at least MIN_BEYOND samples above it, so a tail
# figure always rests on enough observations to repeat.
TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
MIN_BEYOND = 10


def percentile(values: Iterable[float], pct: float) -> float:
    """Linear-interpolated percentile (numpy's default rule)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    pos = (len(xs) - 1) * pct / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_pct(n: int) -> float | None:
    """Highest ladder percentile with at least MIN_BEYOND of ``n``
    samples beyond it, or None when even the median has fewer."""
    best = None
    for pct in TAIL_LADDER:
        if round(n * (100.0 - pct) / 100.0, 9) >= MIN_BEYOND:
            best = pct
    return best


def summarize(values: list[float]) -> dict:
    """Median, admissible tail and sample count of ``values``."""
    out: dict = {"n": len(values)}
    if not values:
        return out
    out["p50"] = percentile(values, 50.0)
    pct = tail_pct(len(values))
    if pct is not None:
        out["tail_pct"] = pct
        out["tail"] = percentile(values, pct)
    out["max"] = max(values)
    return out


def file_source_batches(log_dir: str) -> dict[str, int]:
    """Map each file a file-stream source consumed to the micro-batch
    that consumed it, from the checkpoint's ``sources/0`` log.

    The log holds one file per batch id plus periodic ``<id>.compact``
    files that repeat every entry of the earlier batches; an entry seen
    more than once keeps the batch id it was first logged under (the
    smallest)."""
    out: dict[str, int] = {}
    for name in os.listdir(log_dir):
        stem = name[: -len(".compact")] if name.endswith(".compact") else name
        if not stem.isdigit():
            continue
        with open(os.path.join(log_dir, name)) as fh:
            lines = fh.read().splitlines()
        for line in lines[1:]:  # first line is the log version ("v1")
            if not line.strip():
                continue
            entry = json.loads(line)
            path = os.path.basename(entry["path"])
            batch = int(entry["batchId"])
            if path not in out or batch < out[path]:
                out[path] = batch
    return out


def file_latencies(
    due: Mapping[str, float],
    file_batch: Mapping[str, int],
    batch_emit: Mapping[int, float],
) -> dict[str, float | None]:
    """Latency of each landed file: emit time of the batch that consumed
    it minus the file's due time. None for a file that no emitted batch
    consumed (it counts as failed)."""
    out: dict[str, float | None] = {}
    for name, t_due in due.items():
        batch = file_batch.get(name)
        emit = batch_emit.get(batch) if batch is not None else None
        out[name] = None if emit is None else emit - t_due
    return out


def lateness(due: Mapping[str, float], written: Mapping[str, float]) -> dict:
    """How late the generator ran: actual minus due write time (s)."""
    late = [max(0.0, written[k] - due[k]) for k in due if k in written]
    if not late:
        return {"n": 0}
    return {"n": len(late), "p95": percentile(late, 95.0), "max": max(late)}

