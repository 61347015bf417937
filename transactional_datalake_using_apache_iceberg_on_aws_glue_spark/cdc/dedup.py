"""Latest-record-per-key dedup (SURVEY §2.5 W1 — the reference's core
operator, spark_sql_merge_into_iceberg.py:105-108).

Within one micro-batch, if a key has several CDC ops only the newest
survives; full-row images make intermediate states irrelevant.

Improvements over the reference:
- deterministic tie-break on ``transaction-id`` (the reference orders
  only by timestamp, so equal timestamps pick a nondeterministic winner);
- ``_op`` is kept explicitly through the split instead of relying on
  Catalyst's ``ResolveMissingReferences`` resurrecting a dropped column
  (SURVEY §2.2 semantics note).

Scale: one hash exchange on the key + per-partition sort. At 1000
executors this is the unavoidable shuffle of CDC apply; AQE coalesces
the tiny per-trigger batches, and skewed keys (one hot row updated
millions of times per batch) are bounded because the window keeps only
row 1 — map-side nothing to combine, but the sort is per-partition.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame

from ..lake.resolve import resolve_latest
from .envelope import OP_TS_COL, PRIMARY_KEY, TXN_COL


def latest_per_key(
    df: DataFrame,
    key_cols: Sequence[str] = (PRIMARY_KEY,),
) -> DataFrame:
    """Keep the newest record per key (timestamp first, then
    transaction id as tiebreaker): the resolver's one-layer call.
    A CDC frame carries both lineage columns; one missing raises
    AnalysisException here rather than ordering by the other alone."""
    df.select(OP_TS_COL, TXN_COL)
    return resolve_latest([df], key_cols)
