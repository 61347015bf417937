"""The latest-per-key resolver: the one fold behind the COW merge, the
MOR read, compaction and the CDC batch dedup (the reference's
dedup-latest-per-key + MERGE INTO, spark_sql_merge_into_iceberg.py:105-136).

Order: ``_op_timestamp`` desc nulls last, then ``_txn_id`` desc nulls
last, then the later layer wins. Layers are ordered oldest first and
carry both lineage columns (a NULL ranks below any value; only a lone
layer may lack them — a hand-built merge batch — and then orders by
what it has, or keeps an arbitrary row per key with neither;
``latest_per_key`` requires both). Tombstone winners (``_deleted``)
are KEPT: readers drop them.

Two strategies compute identical rows; the caller's gate picks one by
size (equivalence: test_merge_broadcast_equals_window, both modes):

- ``window``: union every layer and keep row 1 of one key-hash window.
  Shuffles every row once — right when the top layers are a large
  fraction of the base.
- ``broadcast``: the top layers (all but the first) fold among
  themselves, then two keys+lineage broadcasts split the key space
  against the base: base rows the top does not beat flow through with
  zero exchanges, top winners union in. Full row images never
  broadcast — Iceberg's broadcast MERGE shape for a sliver over a big
  base. A lone top layer is taken as one row per key (a MOR delta is
  written deduped; the COW resolve dedups its batch first), so a
  one-delta read carries no exchange at all.
"""

from __future__ import annotations

from functools import reduce
from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..constants import OP_TS_COL, TXN_COL

_ROW = "_rn"
_SEQ = "_commit_seq"
_FOLDED = "_folded_keys"


def resolve_latest(layers: Sequence[DataFrame], keys: Sequence[str], *,
                   strategy: str = "window",
                   allow_missing_columns: bool = False) -> DataFrame:
    """Fold ``layers`` (oldest first) to the latest row per ``keys``
    with the ``window`` or ``broadcast`` strategy.
    ``allow_missing_columns`` unions layers of differing columns
    (additive schema evolution: a column a layer lacks reads NULL)."""
    keys = list(keys)
    if strategy == "window" or len(layers) == 1:
        out = _window(layers, keys, allow_missing_columns)
        out.__dict__[_FOLDED] = tuple(keys)
        return out
    base, *tops = layers
    top = (tops[0] if len(tops) == 1
           else _window(tops, keys, allow_missing_columns))
    return _broadcast(base, top, keys, allow_missing_columns)


def is_folded(df: DataFrame, keys: Sequence[str]) -> bool:
    """True when ``df`` is itself a window-strategy output on ``keys``,
    so one row per key by construction. The mark lives on the Python
    object: ``persist()`` returns the same object and keeps it, any
    transformation returns a new, unmarked one."""
    return vars(df).get(_FOLDED) == tuple(keys)


def _beats(ts: Column, other_ts: Column, tx: Column,
           other_tx: Column) -> Column:
    """True when (ts, tx) ranks at or above (other_ts, other_tx) under
    the fold's order — full ties go to the first side, the later
    layer. ONE builder for both directions of the broadcast strategy,
    so 'top wins' and 'base keeps' are exact complements by
    construction: a key never emits zero or two winners. TOTAL under
    nulls: a bare ``a > b`` with a NULL side yields SQL NULL, which a
    filter silently DROPS — the coalesce keeps it boolean everywhere."""
    ts_gt = (F.coalesce(ts > other_ts, F.lit(False))
             | (other_ts.isNull() & ts.isNotNull()))
    tx_gt = (F.coalesce(tx > other_tx, F.lit(False))
             | (other_tx.isNull() & tx.isNotNull()))
    return ts_gt | (ts.eqNullSafe(other_ts)
                    & (tx_gt | tx.eqNullSafe(other_tx)))


def _window(layers, keys, allow_missing):
    if len(layers) == 1:
        u, seq = layers[0], []
    else:
        u = reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=allow_missing),
            [df.withColumn(_SEQ, F.lit(i)) for i, df in enumerate(layers)])
        seq = [F.desc(_SEQ)]
    # a lone layer may lack lineage (a hand-built merge batch): the
    # missing column ranks NULL, and with neither any row may win
    order = [F.desc_nulls_last(c) for c in (OP_TS_COL, TXN_COL)
             if c in u.columns] + seq
    w = Window.partitionBy(*keys).orderBy(*(order or [F.lit(1)]))
    return (u.withColumn(_ROW, F.row_number().over(w))
            .filter(F.col(_ROW) == 1)
            .drop(_ROW, _SEQ))


def _broadcast(base, top, keys, allow_missing):
    # base side: keep the rows the top does NOT beat
    b_meta = top.select(*keys, F.col(OP_TS_COL).alias("_b_ts"),
                        F.col(TXN_COL).alias("_b_tx"),
                        F.lit(True).alias("_b_hit"))
    top_wins = (F.coalesce(F.col("_b_hit"), F.lit(False))
                & _beats(F.col("_b_ts"), F.col(OP_TS_COL),
                        F.col("_b_tx"), F.col(TXN_COL)))
    kept = (base.join(F.broadcast(b_meta), keys, "left")
            .filter(~top_wins).drop("_b_ts", "_b_tx", "_b_hit"))
    # top side: the matched base lineage (a key-only column-pruned
    # scan, bounded by the top's size) joins back; unmatched or
    # beating rows win
    t_meta = (base.select(*keys, F.col(OP_TS_COL).alias("_t_ts"),
                          F.col(TXN_COL).alias("_t_tx"))
              .join(F.broadcast(top.select(*keys)), keys, "left_semi")
              .withColumn("_t_hit", F.lit(True)))
    wins = (~F.coalesce(F.col("_t_hit"), F.lit(False))
            | _beats(F.col(OP_TS_COL), F.col("_t_ts"),
                    F.col(TXN_COL), F.col("_t_tx")))
    winners = (top.join(F.broadcast(t_meta), keys, "left")
               .filter(wins).drop("_t_ts", "_t_tx", "_t_hit"))
    return kept.unionByName(winners, allowMissingColumns=allow_missing)
