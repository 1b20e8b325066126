"""Loud size guard for driver-side index artifacts (VERDICT r5 #1).

Several operators ship a FIXED-SIZE relation into a Python-stage
closure the way the Column paths broadcast it: cosine_topk_np's query
batch, ivf_assign_np's centroid set, pq_encode_np's codebook, the
k-means seed sets (invariant 5's documented classes — tuning constants,
never corpus-proportional). The contract was previously documentation
only: a caller that passes a corpus-proportional DataFrame where a
query batch belongs would silently ``collect()`` the corpus onto the
driver — the exact broadcast-OOM class the spill certification hunts.

``bounded_collect`` enforces the contract mechanically AND cheaply: it
collects through ``limit(cap + 1)``, so even a billion-row mistake
ships at most cap+1 rows to the driver before failing loudly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

#: Max rows a driver-side artifact may have. Generous vs every real
#: artifact (query batches ≤ a few hundred, centroid sets ≤ a few
#: thousand, codebooks subspaces·codes ≤ 4096) while far below anything
#: corpus-proportional.
MAX_DRIVER_ARTIFACT_ROWS = 65536


def bounded_collect(df: DataFrame, what: str) -> list:
    """Collect a fixed-size artifact relation, failing loudly (without
    materializing more than cap+1 rows driver-side) if it exceeds the
    documented fixed-size contract."""
    rows = df.limit(MAX_DRIVER_ARTIFACT_ROWS + 1).collect()
    if len(rows) > MAX_DRIVER_ARTIFACT_ROWS:
        raise ValueError(
            f"{what}: driver-side artifact exceeds the fixed-size cap "
            f"({MAX_DRIVER_ARTIFACT_ROWS} rows). "
            "A corpus-proportional relation does not belong on the "
            "driver — it would OOM at 100 TB."
        )
    return rows
