"""Rename/drop schema evolution (beyond additive): metadata-only
commits with an ordered rename history that every read path — slices,
scan, compiled SQL views, time travel, merge — resolves per file set.
Iceberg does this with field IDs; plain parquet-by-name needs the
manifest to carry the mapping.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from transactional_datalake_using_apache_iceberg_on_aws_glue_spark.cdc import fixtures
from transactional_datalake_using_apache_iceberg_on_aws_glue_spark.cdc.apply import (
    apply_cdc_batch,
)
from transactional_datalake_using_apache_iceberg_on_aws_glue_spark.cdc.envelope import (
    CDC_ENVELOPE_SCHEMA,
)
from transactional_datalake_using_apache_iceberg_on_aws_glue_spark.lake import (
    ParquetLakeTable,
)


def _envelope_df(spark, envelopes):
    return spark.createDataFrame(envelopes, schema=CDC_ENVELOPE_SCHEMA)


def _two_wave_table(spark, tmp_path, **kw):
    table = ParquetLakeTable(spark, str(tmp_path / "t"), key_cols=["trans_id"], **kw)
    apply_cdc_batch(_envelope_df(spark, fixtures.insert_only_envelopes()), table)
    apply_cdc_batch(_envelope_df(spark, fixtures.dml_envelopes()), table)
    return table


def test_rename_is_metadata_only_and_reads_old_files(spark, tmp_path):
    table = _two_wave_table(spark, tmp_path)
    want = fixtures.expected_final_state()
    files_before = table.file_count()
    v = table.rename_column("amount", "amount_cents")
    assert table.file_count() == files_before  # no rewrite
    got = {r["trans_id"]: r["amount_cents"]
           for r in table.read_data().select("trans_id", "amount_cents").collect()}
    assert got == want
    assert "amount" not in table.read_data().columns
    # time travel BEFORE the rename shows the old name with same data
    old = table.read_data(as_of_version=v - 1)
    assert "amount" in old.columns and "amount_cents" not in old.columns


def test_rename_then_merge_then_second_rename(spark, tmp_path):
    """New writes land under the new name; a second rename chains; the
    fold across pre-rename base files and post-rename batch rows stays
    keyed correctly."""
    table = _two_wave_table(spark, tmp_path)
    table.rename_column("amount", "amount_v2")
    # merge writes rows under the CURRENT schema; the op timestamp must
    # beat the existing row's or the T4 late-data guard keeps the old one
    import datetime as dt

    future = dt.datetime(2030, 1, 1)
    batch = spark.createDataFrame(
        [(19, "c_19", "visit", "sku", 999, "mobile",
          dt.datetime(2024, 1, 1), "upsert", future, 10_000)],
        "trans_id long, customer_id string, event string, sku string, "
        "amount_v2 int, device string, trans_datetime timestamp, "
        "_op string, _op_timestamp timestamp, _txn_id long",
    )
    table.merge(batch)
    table.rename_column("amount_v2", "amount_v3")
    got = {r["trans_id"]: r["amount_v3"]
           for r in table.read_data().select("trans_id", "amount_v3").collect()}
    assert got[19] == 999
    want = dict(fixtures.expected_final_state())
    want[19] = 999
    assert got == want


def test_rename_visible_through_sql_view_and_scan(spark, tmp_path):
    table = _two_wave_table(spark, tmp_path)
    table.register_sql("ev_t", database="evo")
    table.rename_column("amount", "cents")  # re-registers on commit
    row = spark.sql(
        "SELECT sum(cents) AS s FROM evo.ev_t"
    ).collect()[0]
    assert row["s"] == sum(fixtures.expected_final_state().values())
    # scan() with a predicate on the RENAMED column still prunes+matches
    got = sorted(
        r["trans_id"]
        for r in table.scan([("cents", ">=", 40)]).select("trans_id").collect()
    )
    want = sorted(k for k, v in fixtures.expected_final_state().items() if v >= 40)
    assert got == want


def test_drop_column_hides_now_visible_in_time_travel(spark, tmp_path):
    table = _two_wave_table(spark, tmp_path)
    files_before = table.file_count()
    v = table.drop_column("device")
    assert table.file_count() == files_before
    assert "device" not in table.read_data().columns
    assert "device" in table.read_data(as_of_version=v - 1).columns
    # state otherwise intact
    got = {r["trans_id"]: r["amount"]
           for r in table.read_data().select("trans_id", "amount").collect()}
    assert got == fixtures.expected_final_state()


def test_evolution_guards(spark, tmp_path):
    table = _two_wave_table(spark, tmp_path)
    with pytest.raises(ValueError, match="merge key"):
        table.rename_column("trans_id", "id")
    with pytest.raises(ValueError, match="partition column"):
        table.drop_column("event")
    with pytest.raises(ValueError, match="does not exist"):
        table.rename_column("nope", "x")
    with pytest.raises(ValueError, match="already exists"):
        table.rename_column("amount", "device")
    with pytest.raises(ValueError, match="lineage"):
        table.drop_column("_deleted")


def test_publish_after_branch_rename_reads_renamed_column(spark, tmp_path):
    """A branch that renames a column publishes its rename history with
    its files: main reads the pre-rename files under the new name."""
    table = _two_wave_table(spark, tmp_path)
    table.create_branch("audit")
    br = table.branch("audit")
    br.rename_column("amount", "amount_cents")
    table.publish_branch("audit")
    assert table._manifest()["renames"] == [
        {"from": "amount", "to": "amount_cents"}]
    got = {r["trans_id"]: r["amount_cents"] for r in
           table.read_data().select("trans_id", "amount_cents").collect()}
    assert got == fixtures.expected_final_state()


def test_rename_in_mor_mode_folds_deltas(spark, tmp_path):
    table = _two_wave_table(spark, tmp_path, merge_mode="mor")
    table.rename_column("amount", "cents")
    got = {r["trans_id"]: r["cents"]
           for r in table.read_data().select("trans_id", "cents").collect()}
    assert got == fixtures.expected_final_state()


def test_retired_names_cannot_be_reused(spark, tmp_path):
    """r3 advisor finding: after rename a->b (or drop), old files
    still carry the physical name — re-introducing it as a logical
    column (by rename or additive merge) would serve stale bytes.
    All three reuse routes must reject."""
    import datetime as dt

    table = _two_wave_table(spark, tmp_path, allow_schema_evolution=True)
    table.rename_column("amount", "amount_cents")
    # rename another column INTO the freed name
    with pytest.raises(ValueError, match="previously renamed away"):
        table.rename_column("device", "amount")
    # additive merge that re-adds the freed name
    future = dt.datetime(2030, 1, 1)
    batch = spark.createDataFrame(
        [(19, "c_19", "visit", 5, "upsert", future, 10_000)],
        "trans_id long, customer_id string, event string, amount int, "
        "_op string, _op_timestamp timestamp, _txn_id long",
    )
    with pytest.raises(ValueError, match="previously renamed away"):
        table.merge(batch)
    # dropped names retire too
    table.drop_column("device")
    with pytest.raises(ValueError, match="previously renamed away"):
        table.rename_column("sku", "device")
    batch2 = spark.createDataFrame(
        [(19, "c_19", "visit", "tablet", "upsert", future, 10_000)],
        "trans_id long, customer_id string, event string, device string, "
        "_op string, _op_timestamp timestamp, _txn_id long",
    )
    with pytest.raises(ValueError, match="previously renamed away"):
        table.merge(batch2)


def test_widen_column_int_to_long(spark, tmp_path):
    """Type promotion (r4, ROADMAP #7): write int, widen to long
    metadata-only, merge a long batch, time-travel across the
    boundary. Old files keep the narrow physical type; every read
    path casts to the manifest schema."""
    import datetime as dt

    import pyspark.sql.functions as F

    table = ParquetLakeTable(spark, str(tmp_path / "w"), key_cols=["id"],
                             partition_col=None)
    df = spark.createDataFrame([(1, 100), (2, 200)], "id long, v int")
    table.create(df.withColumn("_op_timestamp", F.current_timestamp())
                   .withColumn("_txn_id", F.lit(1)))
    files_before = table.file_count()
    v = table.widen_column("v", "bigint")
    assert table.file_count() == files_before  # metadata-only
    assert dict(table.read_data().dtypes)["v"] == "bigint"

    # merge a batch carrying values only a long can hold
    big = 3_000_000_000
    future = dt.datetime(2030, 1, 1)
    batch = spark.createDataFrame(
        [(3, big, "upsert", future, 2), (1, big + 1, "upsert", future, 2)],
        "id long, v long, _op string, _op_timestamp timestamp, _txn_id long",
    )
    table.merge(batch)
    got = {r["id"]: r["v"] for r in table.read_data().collect()}
    assert got == {1: big + 1, 2: 200, 3: big}

    # time travel BEFORE the widen shows the narrow type + old values
    old = table.read_data(as_of_version=v - 1)
    assert dict(old.dtypes)["v"] == "int"
    assert {r["id"]: r["v"] for r in old.collect()} == {1: 100, 2: 200}

    # SQL view surface serves the widened column
    table.register_sql("wt", database="widen_db")
    assert spark.sql("SELECT sum(v) AS s FROM widen_db.wt").collect()[0]["s"] \
        == big + (big + 1) + 200


def test_widen_column_float_to_double_and_mor(spark, tmp_path):
    import datetime as dt

    import pyspark.sql.functions as F

    table = ParquetLakeTable(spark, str(tmp_path / "wm"), key_cols=["id"],
                             partition_col=None, merge_mode="mor")
    df = spark.createDataFrame([(1, 1.5), (2, 2.5)], "id long, v float")
    table.create(df.withColumn("_op_timestamp", F.current_timestamp())
                   .withColumn("_txn_id", F.lit(1)))
    table.widen_column("v", "double")
    future = dt.datetime(2030, 1, 1)
    batch = spark.createDataFrame(
        [(3, 3.25, "upsert", future, 2)],
        "id long, v double, _op string, _op_timestamp timestamp, _txn_id long",
    )
    table.merge(batch)  # MOR delta append against the widened schema
    got = {r["id"]: r["v"] for r in table.read_data().collect()}
    assert got == {1: 1.5, 2: 2.5, 3: 3.25}
    assert dict(table.read_data().dtypes)["v"] == "double"


def test_widen_column_guards(spark, tmp_path):
    import pyspark.sql.functions as F

    table = ParquetLakeTable(spark, str(tmp_path / "wg"), key_cols=["id"],
                             partition_col=None)
    df = spark.createDataFrame([(1, 100, "x")], "id long, v int, s string")
    table.create(df.withColumn("_op_timestamp", F.current_timestamp())
                   .withColumn("_txn_id", F.lit(1)))
    with pytest.raises(ValueError, match="cannot widen"):
        table.widen_column("v", "int")        # no-op is not a widen
    with pytest.raises(ValueError, match="cannot widen"):
        table.widen_column("v", "smallint")   # narrowing
    with pytest.raises(ValueError, match="cannot widen"):
        table.widen_column("s", "bigint")     # cross-family
    with pytest.raises(ValueError, match="merge key"):
        table.widen_column("id", "bigint")
