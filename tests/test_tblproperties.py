"""Persisted table properties (r12): the Iceberg TBLPROPERTIES
lifecycle — recorded at create, carried by every commit, mutated only
by SET/UNSET metadata commits, consulted on re-attach — plus
``CALL system.rewrite_manifests`` (manifest self-compaction).

Reference surface: the Athena DDL's TBLPROPERTIES block
(/root/reference/README.md:355-368) and Iceberg's
``ALTER TABLE ... SET TBLPROPERTIES`` / ``rewrite_manifests``.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from transactional_datalake_using_apache_iceberg_on_aws_glue_spark.lake.merge_sql import (
    MergeSqlError,
    MergeSqlRunner,
)
from transactional_datalake_using_apache_iceberg_on_aws_glue_spark.lake.table import (
    ParquetLakeTable,
)


def _mk(spark, path, rows=((1, "a", 10), (2, "b", 20)), **kw):
    t = ParquetLakeTable(spark, str(path), key_cols=["k"],
                         partition_col=None, **kw)
    t.create(spark.createDataFrame(list(rows), "k long, v string, a int"))
    return t


def test_properties_seeded_and_carried(spark, tmp_path):
    t = _mk(spark, tmp_path / "t",
            properties={"comment": "demo", "owner": "etl"})
    assert t.properties() == {
        "key_cols": "k", "merge_mode": "cow",
        "comment": "demo", "owner": "etl"}
    # an ordinary data commit carries the map forward verbatim
    t.merge(spark.createDataFrame([(3, "c", 30)], "k long, v string, a int")
            .withColumn("_op", F.lit("insert"))
            .withColumn("_op_timestamp", F.current_timestamp())
            .withColumn("_txn_id", F.lit(1)))
    assert t.properties()["owner"] == "etl"
    assert t.current_version() == 2


def test_set_unset_properties_commits(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    v = t.set_properties({"write.target-size": "512m"})
    assert v == 2
    assert t.properties()["write.target-size"] == "512m"
    # reserved keys are engine-owned
    with pytest.raises(ValueError, match="engine-owned"):
        t.set_properties({"key_cols": "other"})
    with pytest.raises(ValueError, match="engine-owned"):
        t.unset_properties(["merge_mode"])
    # missing key errors without IF EXISTS, passes with it
    with pytest.raises(ValueError, match="no property"):
        t.unset_properties(["nope"])
    t.unset_properties(["nope"], if_exists=True)
    v = t.unset_properties(["write.target-size"])
    assert "write.target-size" not in t.properties()
    # time travel still reads through the metadata-only commits
    assert t.read_data(as_of_version=1).count() == 2


def test_manifest_without_format_version_is_refused(spark, tmp_path):
    """Every commit writes ``format_version`` 1, and every reader
    refuses a manifest without it (ManifestFormatError): the table,
    its properties, its metadata tables and the change stream's
    planner. No reader guesses at keys an older manifest lacks."""
    import json

    from transactional_datalake_using_apache_iceberg_on_aws_glue_spark.fsutil import (
        ManifestFormatError,
    )
    from transactional_datalake_using_apache_iceberg_on_aws_glue_spark.sources import (
        register_lake_stream,
    )

    t = _mk(spark, tmp_path / "t")
    t.set_properties({"comment": "x"})
    assert [m["format_version"] for m in t._iter_manifests()] == [1, 1]
    mf = t._manifest_file(2)
    doc = json.loads(t.fs.read_text(mf))
    doc.pop("format_version")
    t.fs.remove(mf)
    assert t.fs.create_exclusive(mf, json.dumps(doc))
    t._manifest_cache.clear()
    for read in (t.read_data, t.properties, lambda: t.metadata("files")):
        with pytest.raises(ManifestFormatError, match="format_version"):
            read()
    register_lake_stream(spark)
    with pytest.raises(Exception, match="ManifestFormatError"):
        (spark.readStream.format("lake-changes").option("path", t.path)
         .option("keys", "k").load())


def test_sql_tblproperties_roundtrip(spark, tmp_path):
    r = MergeSqlRunner(spark)
    loc = str(tmp_path / "sq")
    r.sql(f"CREATE TABLE db.t (k bigint, v string) USING lake "
          f"LOCATION '{loc}' TBLPROPERTIES "
          f"('key_cols'='k', 'table_type'='iceberg', 'format'='parquet')")
    props = {x["key"]: x["value"]
             for x in r.sql("SHOW TBLPROPERTIES db.t").collect()}
    assert props == {"key_cols": "k", "merge_mode": "cow",
                     "table_type": "iceberg", "format": "parquet"}
    # keyed form: single (value) row
    got = r.sql("SHOW TBLPROPERTIES db.t ('table_type')").collect()
    assert [x["value"] for x in got] == ["iceberg"]
    with pytest.raises(MergeSqlError, match="no property"):
        r.sql("SHOW TBLPROPERTIES db.t ('nope')")

    r.sql("ALTER TABLE db.t SET TBLPROPERTIES "
          "('comment'='cdc target', 'owner'='etl')")
    r.sql("ALTER TABLE db.t UNSET TBLPROPERTIES ('format')")
    with pytest.raises(MergeSqlError, match="no propert"):
        r.sql("ALTER TABLE db.t UNSET TBLPROPERTIES ('gone')")
    r.sql("ALTER TABLE db.t UNSET TBLPROPERTIES IF EXISTS ('gone')")
    with pytest.raises(MergeSqlError, match="engine-owned"):
        r.sql("ALTER TABLE db.t SET TBLPROPERTIES ('merge_mode'='mor')")
    props = {x["key"]: x["value"]
             for x in r.sql("SHOW TBLPROPERTIES db.t").collect()}
    assert props == {"key_cols": "k", "merge_mode": "cow",
                     "table_type": "iceberg",
                     "comment": "cdc target", "owner": "etl"}

    # SHOW CREATE TABLE carries the persisted map and round-trips
    ddl = r.sql("SHOW CREATE TABLE db.t").collect()[0]["createtab_stmt"]
    assert "'comment'='cdc target'" in ddl and "'owner'='etl'" in ddl
    r2 = MergeSqlRunner(spark)
    loc2 = str(tmp_path / "sq2")
    r2.sql(ddl.replace(loc, loc2).replace("db.t", "db.t2"))
    props2 = {x["key"]: x["value"]
              for x in r2.sql("SHOW TBLPROPERTIES db.t2").collect()}
    assert props2 == props
    # DESCRIBE EXTENDED shows the user keys in Spark's [k=v] spelling
    ext = {x["col_name"]: x["data_type"]
           for x in r.sql("DESC TABLE EXTENDED db.t").collect()}
    assert "comment=cdc target" in ext["Table Properties"]


def test_reattach_validates_committed_config(spark, tmp_path):
    """CREATE/CTAS over an already-committed location re-attaches
    under the COMMITTED config: explicit statement conflicts error,
    omissions adopt (advisor r12 — a mismatched IF NOT EXISTS CTAS
    silently misconfigured the handle's merge keys)."""
    loc = str(tmp_path / "ra")
    t = ParquetLakeTable(spark, loc, key_cols=["id"], partition_col=None,
                         merge_mode="mor")
    t.create(spark.createDataFrame([(1, "x")], "id long, v string"))

    r = MergeSqlRunner(spark)
    with pytest.raises(MergeSqlError, match="recorded"):
        r.sql(f"CREATE TABLE ra1 (id bigint, v string) USING lake "
              f"LOCATION '{loc}' TBLPROPERTIES ('key_cols'='v')")
    with pytest.raises(MergeSqlError, match="recorded"):
        r.sql(f"CREATE TABLE ra1 (id bigint, v string) USING lake "
              f"LOCATION '{loc}' TBLPROPERTIES "
              f"('key_cols'='id', 'merge_mode'='cow')")
    # statement omits config entirely: adopt the committed one
    got = r.sql(f"CREATE TABLE IF NOT EXISTS ra2 (id bigint, v string) "
                f"USING lake LOCATION '{loc}' "
                f"TBLPROPERTIES ('key_cols'='id')")
    assert got.key_cols == ["id"] and got.merge_mode == "mor"
    # CTAS IF NOT EXISTS over the same location: source ignored,
    # committed config adopted (the default key 'trans_id' does not
    # exist here — adopting must ignore the statement default too)
    got2 = r.sql(f"CREATE TABLE IF NOT EXISTS ra3 USING lake "
                 f"LOCATION '{loc}' TBLPROPERTIES ('key_cols'='id') "
                 f"AS SELECT * FROM ra2")
    assert got2.key_cols == ["id"] and got2.merge_mode == "mor"
    assert got2.read_data().count() == 1


def test_rewrite_manifests_compacts_inline_stats(spark, tmp_path):
    """CALL system.rewrite_manifests forces inline per-file stats into
    statsext sidecars: the manifest shrinks, reads are unchanged."""
    import json

    t = ParquetLakeTable(spark, str(tmp_path / "rm"), key_cols=["k"],
                         partition_col=None,
                         stats_ext_threshold=None)  # keep stats inline
    t.create(spark.createDataFrame(
        [(i, f"v{i}") for i in range(50)], "k long, v string"))
    m1 = t._manifest()
    inline = [e for e in (m1.get("stats") or {}).values()
              if e and e.get("files")]
    assert inline, "fixture must start with inline file stats"

    r = MergeSqlRunner(spark)
    r.register("rm", t)
    out = r.sql("CALL system.rewrite_manifests(table => 'rm')")
    assert out["externalized_entries"] == len(inline)
    m2 = t._manifest()
    assert m2["operation"] == "rewrite-manifests"
    assert all("files_ext" in e for e in m2["stats"].values()
               if e and e.get("n_files"))
    assert len(json.dumps(m2["stats"])) < len(json.dumps(m1["stats"]))
    # reads and file-level metadata still resolve through the sidecar
    assert t.read_data().count() == 50
    assert t.metadata("files").count() >= 1
    # idempotent: nothing left to externalize, no new commit
    again = r.sql("CALL system.rewrite_manifests(table => 'rm')")
    assert again == {"externalized_entries": 0, "version": m2["version"]}
    assert t.current_version() == m2["version"]
