"""CDC-apply correctness: the golden end-to-end scenario from
SURVEY.md §5 / FIXTURES.md §A, plus the invariants the reference leaves
untested (replay idempotence, tie-breaks, late data, empty batches)."""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from transactional_datalake_using_apache_iceberg_on_aws_glue_spark.cdc import (
    apply_cdc_batch,
    flatten_envelope,
    latest_per_key,
    read_envelope_json,
    split_upserts_deletes,
)
from transactional_datalake_using_apache_iceberg_on_aws_glue_spark.cdc import fixtures
from transactional_datalake_using_apache_iceberg_on_aws_glue_spark.cdc.envelope import (
    CDC_ENVELOPE_SCHEMA,
    OP_COL,
    TXN_COL,
)
from transactional_datalake_using_apache_iceberg_on_aws_glue_spark.lake import ParquetLakeTable
from transactional_datalake_using_apache_iceberg_on_aws_glue_spark.streaming import (
    run_stream_once,
)


def _envelope_df(spark, envelopes):
    return spark.createDataFrame(envelopes, schema=CDC_ENVELOPE_SCHEMA)


def _table(spark, tmp_path, **kw) -> ParquetLakeTable:
    return ParquetLakeTable(spark, str(tmp_path / "retail_trans"), **kw)


def _state(table) -> dict[int, int]:
    return {
        r["trans_id"]: r["amount"]
        for r in table.read_data().select("trans_id", "amount").collect()
    }


# ---------------------------------------------------------------- unit ops


def test_flatten_envelope(spark):
    df = flatten_envelope(_envelope_df(spark, fixtures.insert_only_envelopes()))
    assert set(df.columns) == {
        "trans_id", "customer_id", "event", "sku", "amount", "device",
        "trans_datetime", "_op", "_op_timestamp", "_txn_id",
    }
    row = df.filter(F.col("trans_id") == 6).first()
    assert row["_op"] == "insert"
    assert row["_op_timestamp"] is not None
    assert str(df.schema["trans_datetime"].dataType) == "TimestampType()"


def test_dedup_latest_keeps_newest_op(spark):
    # insert then update then delete for one key within a batch -> delete wins
    env = fixtures.insert_only_envelopes()[:1]
    upd = fixtures._envelope(fixtures._row(6, amount=99), "update", seq=50)
    dele = fixtures._envelope(fixtures._row(6, amount=99), "delete", seq=60)
    df = flatten_envelope(_envelope_df(spark, env + [upd, dele]))
    out = latest_per_key(df).collect()
    assert len(out) == 1
    assert out[0]["_op"] == "delete"


def test_dedup_tiebreak_on_txn_id(spark):
    # identical timestamps -> higher transaction-id wins (deterministic,
    # unlike the reference: SURVEY §2.5)
    a = fixtures._envelope(fixtures._row(7, amount=1), "insert", seq=10)
    b = fixtures._envelope(fixtures._row(7, amount=2), "update", seq=10)
    b["metadata"]["transaction-id"] = a["metadata"]["transaction-id"] + 1
    df = flatten_envelope(_envelope_df(spark, [a, b]))
    out = latest_per_key(df).collect()
    assert len(out) == 1 and out[0]["amount"] == 2
    # the tiebreak is required: a frame without it fails loudly
    # instead of keeping an arbitrary row per key
    with pytest.raises(AnalysisException):
        latest_per_key(df.drop(TXN_COL))


def test_split_upserts_deletes(spark):
    df = flatten_envelope(_envelope_df(spark, fixtures.dml_envelopes()))
    ups, dels = split_upserts_deletes(df)
    assert ups.filter(F.col(OP_COL) == "delete").count() == 0
    assert dels.count() == 3


# ------------------------------------------------------------- golden E2E


def test_golden_two_wave_apply(spark, tmp_path):
    table = _table(spark, tmp_path)
    apply_cdc_batch(_envelope_df(spark, fixtures.insert_only_envelopes()), table)
    assert _state(table) == {k: 10 + k for k in fixtures.INSERT_KEYS}

    apply_cdc_batch(_envelope_df(spark, fixtures.dml_envelopes()), table)
    assert _state(table) == fixtures.expected_final_state()
    # keys 6, 23, 33 deleted; 12 rows total (FIXTURES.md golden contract)
    assert len(_state(table)) == 12
    for gone in (6, 23, 33):
        assert gone not in _state(table)


def test_replay_idempotence(spark, tmp_path):
    """T3: re-applying the same batch converges to the same state."""
    table = _table(spark, tmp_path)
    apply_cdc_batch(_envelope_df(spark, fixtures.insert_only_envelopes()), table)
    dml = _envelope_df(spark, fixtures.dml_envelopes())
    apply_cdc_batch(dml, table)
    first = _state(table)
    apply_cdc_batch(dml, table)  # replay
    assert _state(table) == first


def test_late_data_guard(spark, tmp_path):
    """T4: an older image arriving in a LATER batch must not overwrite a
    newer row (the reference would regress here — SURVEY §2.9 T4)."""
    table = _table(spark, tmp_path)
    apply_cdc_batch(_envelope_df(spark, fixtures.insert_only_envelopes()), table)
    apply_cdc_batch(_envelope_df(spark, fixtures.dml_envelopes()), table)
    # late re-delivery of the ORIGINAL insert of key 19 (amount 29, old ts)
    late = fixtures._envelope(fixtures._row(19, amount=29), "insert", seq=1)
    apply_cdc_batch(_envelope_df(spark, [late]), table)
    assert _state(table)[19] == 39  # updated amount survives


def test_source_wins_without_lineage(spark, tmp_path):
    """store_lineage=False reproduces the reference's exact 7-column
    schema and batch-always-wins behavior."""
    table = _table(spark, tmp_path, store_lineage=False)
    apply_cdc_batch(_envelope_df(spark, fixtures.insert_only_envelopes()), table)
    assert set(table.read_data().columns) == {
        "trans_id", "customer_id", "event", "sku", "amount", "device", "trans_datetime",
    }
    late = fixtures._envelope(fixtures._row(19, amount=29), "insert", seq=1)
    apply_cdc_batch(_envelope_df(spark, [late]), table)
    assert _state(table)[19] == 29  # no guard: batch wins, like the reference


def test_empty_batch_noop(spark, tmp_path):
    table = _table(spark, tmp_path)
    apply_cdc_batch(_envelope_df(spark, fixtures.insert_only_envelopes()), table)
    before = _state(table)
    v = table.current_version()
    apply_cdc_batch(_envelope_df(spark, []), table)
    assert _state(table) == before
    # r14: the existing-COW path answers emptiness from the merge's own
    # planning aggregate (no isEmpty probe job) — and must not commit
    assert table.current_version() == v


def test_empty_batch_noop_unpartitioned(spark, tmp_path):
    """r14: the unpartitioned COW merge resolves emptiness via its
    bounded count and must neither rewrite the table nor commit (before
    the n == 0 early return it would have 'resolved' an unchanged
    target into a brand-new full snapshot)."""
    table = ParquetLakeTable(spark, str(tmp_path / "t_unpart"),
                             key_cols=["trans_id"], partition_col=None)
    apply_cdc_batch(_envelope_df(spark, fixtures.insert_only_envelopes()), table)
    before = _state(table)
    v = table.current_version()
    apply_cdc_batch(_envelope_df(spark, []), table)
    assert _state(table) == before
    assert table.current_version() == v
    # direct merge of an empty deduped batch no-ops too
    from pyspark.sql import functions as F
    empty = (table.read_data().limit(0)
             .withColumn("_op", F.lit("insert"))
             .withColumn("_op_timestamp", F.lit(None).cast("timestamp"))
             .withColumn("_txn_id", F.lit(None).cast("long")))
    table.merge(empty)
    assert table.current_version() == v


def test_delete_then_reinsert_same_key(spark, tmp_path):
    """SURVEY §7 hard-part 2: key deleted in one batch, reinserted later."""
    table = _table(spark, tmp_path)
    apply_cdc_batch(_envelope_df(spark, fixtures.insert_only_envelopes()), table)
    dele = fixtures._envelope(fixtures._row(6, amount=16), "delete", seq=200)
    apply_cdc_batch(_envelope_df(spark, [dele]), table)
    assert 6 not in _state(table)
    reins = fixtures._envelope(fixtures._row(6, amount=77), "insert", seq=300)
    apply_cdc_batch(_envelope_df(spark, [reins]), table)
    assert _state(table)[6] == 77


def test_partition_move_on_update(spark, tmp_path):
    """An update that changes the partition column must not leave the old
    row behind in the old partition (Iceberg handles this via global key
    match; our merge computes affected partitions)."""
    table = _table(spark, tmp_path)
    apply_cdc_batch(_envelope_df(spark, fixtures.insert_only_envelopes()), table)
    row = fixtures._row(19, amount=55)
    orig_event = row["event"]
    row["event"] = "purchase" if orig_event != "purchase" else "visit"
    upd = fixtures._envelope(row, "update", seq=400)
    apply_cdc_batch(_envelope_df(spark, [upd]), table)
    rows = table.read_data().filter(F.col("trans_id") == 19).collect()
    assert len(rows) == 1
    assert rows[0]["event"] == row["event"]


# -------------------------------------------------------------- streaming


def test_streaming_two_wave_golden(spark, tmp_path):
    """Same golden contract through the Structured Streaming path
    (file source -> foreachBatch -> merge), with checkpointed restart
    between waves."""
    src = tmp_path / "stream_src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    table = _table(spark, tmp_path)

    fixtures.write_jsonl(fixtures.insert_only_envelopes(), str(src / "wave1.json"))
    run_stream_once(spark, str(src), table, ckpt)
    assert _state(table) == {k: 10 + k for k in fixtures.INSERT_KEYS}

    fixtures.write_jsonl(fixtures.dml_envelopes(), str(src / "wave2.json"))
    run_stream_once(spark, str(src), table, ckpt)  # restart from checkpoint
    assert _state(table) == fixtures.expected_final_state()


def _data_files(table) -> list[str]:
    return [os.path.join(table.path, r["dirname"], r["relpath"])
            for r in table.metadata("files").collect()]


def _codecs(path: str) -> set[str]:
    md = pq.ParquetFile(path).metadata
    return {md.row_group(i).column(j).compression
            for i in range(md.num_row_groups) for j in range(md.num_columns)}


@pytest.mark.smoke
def test_compaction_preserves_content(spark, tmp_path):
    """SURVEY §7 hard-part 5: small files accumulate per merge; compact()
    must fold them without changing table content. COW merges already
    rewrite affected partitions whole, so genuine accumulation lives in
    MOR mode: every micro-batch appends a delta file set. Base, delta
    and compacted files are all zstd; compaction writes each file in
    key order."""
    table = ParquetLakeTable(
        spark, str(tmp_path / "t_mor"), key_cols=["trans_id"], merge_mode="mor"
    )
    apply_cdc_batch(_envelope_df(spark, fixtures.insert_only_envelopes()), table)
    for i in range(0, 13, 5):  # dml wave in 3 micro-batches -> 3 deltas
        apply_cdc_batch(_envelope_df(spark, fixtures.dml_envelopes()[i : i + 5]), table)
    before_state = _state(table)
    before_files = table.file_count()
    assert {r["layer"] for r in table.metadata("files").collect()} == {"base", "delta"}
    assert all(_codecs(f) == {"ZSTD"} for f in _data_files(table))
    # uncoalesced, the fold hands compaction several key-hashed runs, so
    # key order inside each file has to come from the compaction layout
    coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
    prior = spark.conf.get(coalesce)
    spark.conf.set(coalesce, "false")
    try:
        table.compact(target_files_per_partition=1)
    finally:
        spark.conf.set(coalesce, prior)
    assert _state(table) == before_state
    assert table.file_count() < before_files
    compacted = _data_files(table)
    assert compacted
    for f in compacted:
        assert _codecs(f) == {"ZSTD"}, f
        keys = pq.read_table(f, columns=["trans_id"]).column(0).to_pylist()
        assert keys == sorted(keys), f
    # table remains mergeable after compaction
    late = fixtures._envelope(fixtures._row(50, amount=5), "insert", seq=999)
    apply_cdc_batch(_envelope_df(spark, [late]), table)
    assert _state(table)[50] == 5


def test_parse_envelope_bytes_kafka_shape(spark):
    """Kafka value bytes -> from_json decode (S1 production path; the
    connector itself needs the kafka package, the parse is engine code)."""
    import json as _json

    from transactional_datalake_using_apache_iceberg_on_aws_glue_spark.cdc.envelope import (
        parse_envelope_bytes,
    )

    payloads = [(_json.dumps(e).encode("utf-8"),) for e in fixtures.insert_only_envelopes()]
    raw = spark.createDataFrame(payloads, "value binary")
    parsed = parse_envelope_bytes(raw)
    flat = flatten_envelope(parsed)
    assert flat.count() == 10
    assert {r["trans_id"] for r in flat.select("trans_id").collect()} == set(
        fixtures.INSERT_KEYS
    )


def test_tombstone_blocks_stale_resurrection(spark, tmp_path):
    """A key deleted at ts=T must NOT be resurrected by an older image
    (ts < T) arriving in a later batch — the tombstone retains the
    delete's lineage (found by the spec-fold property test; the
    reference engine has this gap)."""
    table = _table(spark, tmp_path)
    dele = fixtures._envelope(fixtures._row(9, amount=1), "delete", seq=100)
    apply_cdc_batch(_envelope_df(spark, [dele]), table)  # first contact: tombstone only
    assert 9 not in _state(table)
    stale = fixtures._envelope(fixtures._row(9, amount=55), "insert", seq=10)  # older ts
    apply_cdc_batch(_envelope_df(spark, [stale]), table)
    assert 9 not in _state(table)  # tombstone wins
    fresh = fixtures._envelope(fixtures._row(9, amount=77), "insert", seq=200)  # newer ts
    apply_cdc_batch(_envelope_df(spark, [fresh]), table)
    assert _state(table)[9] == 77  # genuinely newer insert resurrects
    # purge tombstones once retention allows, table still correct
    table.compact(purge_tombstones=True)
    assert _state(table)[9] == 77


def test_dead_letter_captures_corrupt_lines(spark, tmp_path):
    """Unparseable CDC lines must land in the dead-letter dir with the
    raw payload, not vanish (observability at scale)."""
    src = tmp_path / "dl_src"
    src.mkdir()
    good = fixtures.insert_only_envelopes()[:3]
    fixtures.write_jsonl(good, str(src / "w.json"))
    with open(src / "w.json", "a") as f:
        f.write('{"data": {"trans_id": BROKEN\n')
        f.write("not json at all\n")
    table = _table(spark, tmp_path)
    env = read_envelope_json(spark, str(src / "w.json"))
    apply_cdc_batch(env, table, batch_id=7)
    assert len(_state(table)) == 3  # good rows applied
    dl = spark.read.parquet(str(tmp_path / "retail_trans_dead_letter"))
    rows = dl.collect()
    assert len(rows) == 2
    assert {r["batch_id"] for r in rows} == {7}
    assert any("BROKEN" in r["raw"] for r in rows)
    assert any("not json at all" in r["raw"] for r in rows)


def test_dead_letter_byte_exact_for_foreign_json(spark, tmp_path):
    """A VALID-JSON-but-foreign message (parses fine, no `data` struct)
    must dead-letter as the byte-exact original line, not a lossy
    re-serialization — the text-first read path (ROADMAP #3)."""
    src = tmp_path / "fj_src"
    src.mkdir()
    fixtures.write_jsonl(fixtures.insert_only_envelopes()[:2], str(src / "w.json"))
    foreign = '{"control":{"op":"checkpoint"},"lsn":"0/16B3748","xid":42}'
    with open(src / "w.json", "a") as f:
        f.write(foreign + "\n")
    table = _table(spark, tmp_path)
    apply_cdc_batch(read_envelope_json(spark, str(src / "w.json")), table, batch_id=1)
    assert len(_state(table)) == 2
    dl = spark.read.parquet(str(tmp_path / "retail_trans_dead_letter"))
    assert [r["raw"] for r in dl.collect()] == [foreign]


def test_streaming_dead_letter(spark, tmp_path):
    """Same through the streaming path (PERMISSIVE capture survives the
    file stream source)."""
    src = tmp_path / "sdl_src"
    src.mkdir()
    fixtures.write_jsonl(fixtures.insert_only_envelopes()[:2], str(src / "w1.json"))
    with open(src / "w1.json", "a") as f:
        f.write('{"oops": \n')
    table = _table(spark, tmp_path)
    run_stream_once(spark, str(src), table, str(tmp_path / "ck"))
    assert len(_state(table)) == 2
    dl = spark.read.parquet(str(tmp_path / "retail_trans_dead_letter"))
    assert dl.count() == 1


def test_schema_evolution_additive(spark, tmp_path):
    """allow_schema_evolution: a later batch may ADD a column (old rows
    read back NULL) and omit one (filled NULL) — the DMS add-column
    scenario the reference cannot handle (SURVEY §1.3)."""
    from pyspark.sql import functions as F
    from transactional_datalake_using_apache_iceberg_on_aws_glue_spark.constants import (
        OP_COL, OP_TS_COL, TXN_COL,
    )

    table = ParquetLakeTable(
        spark, str(tmp_path / "evo"), key_cols=["id"], partition_col="part",
        allow_schema_evolution=True,
    )

    def mk(rows, schema):
        return (
            spark.createDataFrame(rows, schema)
            .withColumn(OP_COL, F.lit("insert"))
            .withColumn(OP_TS_COL, F.col("ts").cast("timestamp"))
            .withColumn(TXN_COL, F.col("txn"))
            .drop("ts", "txn")
        )

    w1 = mk([(1, "a", 10, "2024-01-01", 1), (2, "a", 20, "2024-01-01", 2)],
            "id long, part string, amount int, ts string, txn long")
    table.merge(w1)

    # wave 2 adds `extra`, drops `amount`
    w2 = mk([(3, "b", "hello", "2024-01-02", 3)],
            "id long, part string, extra string, ts string, txn long")
    table.merge(w2)

    rows = {r["id"]: r for r in table.read_data().collect()}
    assert set(rows) == {1, 2, 3}
    assert rows[1]["extra"] is None and rows[1]["amount"] == 10
    assert rows[3]["extra"] == "hello" and rows[3]["amount"] is None


def test_apply_stats(spark, tmp_path):
    table = _table(spark, tmp_path)
    s1 = apply_cdc_batch(
        _envelope_df(spark, fixtures.insert_only_envelopes()), table, return_stats=True
    )
    assert s1 == {"n_rows": 10, "n_upserts": 10, "n_deletes": 0}
    s2 = apply_cdc_batch(
        _envelope_df(spark, fixtures.dml_envelopes()), table, return_stats=True
    )
    assert s2 == {"n_rows": 13, "n_upserts": 10, "n_deletes": 3}
    empty = apply_cdc_batch(_envelope_df(spark, []), table, return_stats=True)
    assert empty == {"n_rows": 0, "n_upserts": 0, "n_deletes": 0}
