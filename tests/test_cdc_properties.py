"""Property-based CDC correctness (SURVEY §5: 'random CDC op sequences
per key -> engine state must equal a sequential fold of ops ordered by
(ts, txn-id)').

The Python fold below is the spec: for each key the winning record is
the max by (op_timestamp, txn_id); the key exists iff the winner is not
a delete. The engine must converge to that state no matter how the op
stream is sliced into micro-batches — including batches applied with
internal disorder and replays.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from transactional_datalake_using_apache_iceberg_on_aws_glue_spark.cdc import apply_cdc_batch
from transactional_datalake_using_apache_iceberg_on_aws_glue_spark.cdc.envelope import (
    CDC_ENVELOPE_SCHEMA,
)
from transactional_datalake_using_apache_iceberg_on_aws_glue_spark.cdc.fixtures import (
    _envelope,
    _row,
)
from transactional_datalake_using_apache_iceberg_on_aws_glue_spark.lake import ParquetLakeTable

KEYS = list(range(1, 6))  # small key space -> lots of per-key collisions

op_strategy = st.tuples(
    st.sampled_from(KEYS),                    # key
    st.sampled_from(["insert", "update", "delete"]),
    st.integers(min_value=1, max_value=99),   # amount
    st.integers(min_value=0, max_value=9),    # coarse ts bucket (forces ties)
)


def _spec_fold(ops):
    """The specification: winner per key = max (ts, txn); txn is the
    op's global sequence number (unique, monotonically assigned)."""
    state = {}
    best = {}
    for txn, (key, op, amount, ts) in enumerate(ops):
        if key not in best or (ts, txn) > best[key]:
            best[key] = (ts, txn)
            state[key] = None if op == "delete" else amount
    return {k: v for k, v in state.items() if v is not None}


def _envelopes(ops, start_txn=0):
    out = []
    for i, (key, op, amount, ts) in enumerate(ops):
        e = _envelope(_row(key, amount=amount), op, seq=0)
        # coarse timestamp (duplicates across ops) + unique monotonic txn
        e["metadata"]["timestamp"] = f"2023-03-01T00:00:0{ts}.000000"
        e["metadata"]["transaction-id"] = start_txn + i
        out.append(e)
    return out


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(ops=st.lists(op_strategy, min_size=1, max_size=30),
       n_batches=st.integers(min_value=1, max_value=4))
def test_engine_state_equals_spec_fold(spark, tmp_path_factory, ops, n_batches):
    table = ParquetLakeTable(
        spark, str(tmp_path_factory.mktemp("prop") / "t"), key_cols=["trans_id"]
    )
    envs = _envelopes(ops)
    # slice the op stream into n consecutive micro-batches
    size = max(1, len(envs) // n_batches)
    for i in range(0, len(envs), size):
        batch = envs[i : i + size]
        df = spark.createDataFrame(batch, schema=CDC_ENVELOPE_SCHEMA)
        apply_cdc_batch(df, table)
    got = {
        r["trans_id"]: r["amount"]
        for r in table.read_data().select("trans_id", "amount").collect()
    }
    assert got == _spec_fold(ops)


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(ops=st.lists(op_strategy, min_size=2, max_size=20))
def test_replaying_every_batch_is_idempotent(spark, tmp_path_factory, ops):
    """Apply each batch TWICE (at-least-once delivery) — state must match
    the spec fold exactly as if each was applied once."""
    table = ParquetLakeTable(
        spark, str(tmp_path_factory.mktemp("prop2") / "t"), key_cols=["trans_id"]
    )
    envs = _envelopes(ops)
    mid = len(envs) // 2
    for batch in (envs[:mid], envs[mid:]):
        if not batch:
            continue
        df = spark.createDataFrame(batch, schema=CDC_ENVELOPE_SCHEMA)
        apply_cdc_batch(df, table)
        apply_cdc_batch(df, table)  # replay
    got = {
        r["trans_id"]: r["amount"]
        for r in table.read_data().select("trans_id", "amount").collect()
    }
    assert got == _spec_fold(ops)


def test_streaming_soak_20_batches(spark, tmp_path_factory):
    """Soak: 20 micro-batch files of pseudo-random ops drained through
    the REAL streaming path (file source -> foreachBatch -> merge), one
    run per file batch with checkpointed restarts in between; final
    state must equal the spec fold."""
    import random

    from transactional_datalake_using_apache_iceberg_on_aws_glue_spark.cdc.fixtures import (
        write_jsonl,
    )
    from transactional_datalake_using_apache_iceberg_on_aws_glue_spark.streaming import (
        run_stream_once,
    )

    rng = random.Random(4242)
    ops = [
        (rng.choice(KEYS), rng.choice(["insert", "update", "delete"]),
         rng.randint(1, 99), rng.randint(0, 9))
        for _ in range(120)
    ]
    envs = _envelopes(ops)

    base = tmp_path_factory.mktemp("soak")
    src = base / "in"
    src.mkdir()
    table = ParquetLakeTable(spark, str(base / "t"), key_cols=["trans_id"])
    per_batch = 6
    for b in range(0, len(envs), per_batch):
        write_jsonl(envs[b : b + per_batch], str(src / f"b{b:03d}.json"))
        # drain after every 4th file so several files form one micro-batch
        if (b // per_batch) % 4 == 3:
            run_stream_once(spark, str(src), table, str(base / "ck"))
    run_stream_once(spark, str(src), table, str(base / "ck"))  # drain the tail

    got = {
        r["trans_id"]: r["amount"]
        for r in table.read_data().select("trans_id", "amount").collect()
    }
    assert got == _spec_fold(ops)


@pytest.mark.parametrize(
    "merge_mode", ["cow", pytest.param("mor", marks=pytest.mark.smoke)])
def test_merge_broadcast_equals_window(spark, tmp_path, merge_mode):
    """The resolver's broadcast strategy (no target/base shuffle) must
    be bit-equivalent to its window strategy: randomized scenarios —
    inserts/updates/deletes, late data, ties on (ts, txn), tombstone
    resurrection attempts, batch-internal duplicate keys — replayed
    against two tables that differ only in ``broadcast_key_limit`` (0
    forces the window path). COW compares the merge resolves, MOR the
    read folds over the same delta stacks."""
    import random

    import pyspark.sql.functions as F

    from transactional_datalake_using_apache_iceberg_on_aws_glue_spark.lake import (
        ParquetLakeTable,
    )

    rng = random.Random(55)
    R = ("trans_id long, event string, amount int, _op string, "
         "_op_timestamp timestamp, _txn_id long")
    TS = ["2024-01-01 00:00:00", "2024-01-02 00:00:00",
          "2024-01-03 00:00:00", None]

    def mk(path, limit):
        return ParquetLakeTable(spark, str(path), key_cols=["trans_id"],
                                partition_col="event",
                                broadcast_key_limit=limit,
                                merge_mode=merge_mode)

    a = mk(tmp_path / "bcast", 500_000)
    # the adaptive fraction rule would route these tiny waves to the
    # window resolver (batch >> 5% of the table); force broadcast so
    # the equivalence is actually exercised (a finite cap sent most
    # MOR reads, whose delta stacks outgrow a one-row base, back to
    # the window)
    a.BROADCAST_MERGE_MAX_FRACTION = float("inf")
    b = mk(tmp_path / "window", 0)

    def batch(i):
        rows = []
        for k in rng.sample(range(1, 12), rng.randrange(1, 7)):
            ts = rng.choice(TS)
            rows.append((
                k, rng.choice(["x", "y", "z"]), rng.randrange(100),
                rng.choice(["insert", "update", "delete"]),
                ts, rng.choice([None, 1, 2, 3]),
            ))
        if rng.random() < 0.3 and rows:  # batch-internal duplicate key
            k = rows[0][0]
            rows.append((k, "y", 999, "update",
                         rng.choice(TS[:3]), 9))
        df = spark.createDataFrame(
            [(k, e, am, op, None, tx) for k, e, am, op, _, tx in rows], R)
        # literal timestamps (createDataFrame needs datetime objects;
        # building via SQL keeps the test independent of tz handling)
        ts_map = {k: t for k, e, am, op, t, tx in rows}
        ts_expr = F.coalesce(*[
            F.when(F.col("trans_id") == k,
                   F.to_timestamp(F.lit(t)) if t else F.lit(None)
                   .cast("timestamp"))
            for k, t in ts_map.items()
        ], F.lit(None).cast("timestamp"))
        return df.withColumn("_op_timestamp", ts_expr)

    def state(t):
        return sorted(
            tuple(r) for r in t.read()
            .select("trans_id", "event", "amount", "_op_timestamp",
                    "_txn_id", "_deleted").collect()
        )

    for i in range(8):
        wave = batch(i)
        a.merge(wave)
        b.merge(wave)
        sa, sb = state(a), state(b)
        assert sa == sb, f"wave {i} diverged:\n{sa}\n{sb}"
