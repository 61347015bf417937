"""Externalized file-level stats sidecars (r8 — the 100 TB metadata
story).

Inline per-file stats make every commit rewrite O(table) manifest
bytes; ``_externalize_stats`` moves a partition's
``files``/``file_rows``/``file_sizes`` triple into an immutable
content-addressed blob under ``_versions/statsext/`` (Iceberg's
manifest-file reuse), leaving a ~60-byte pointer plus the inline
scalars (``rows``/``cols``/``n_files``) every hot path reads. These
tests force ``stats_ext_threshold=0`` so even tiny tables
externalize, then pin:

- READ EQUIVALENCE: every file-detail consumer — scan file pruning,
  the ``files``/``partitions`` metadata tables, clustering coverage,
  the lake-changes stream's manifest file lists, column rename DDL —
  behaves identically to the inline form;
- CARRY-FORWARD REUSE: a commit touching one partition re-emits the
  other partitions' pointers verbatim (same blob names, no rewrite)
  and the manifest stays free of inline file detail;
- GC: ``expire_snapshots`` reclaims only blobs no surviving manifest
  references.
"""

from __future__ import annotations

import json
import os

import pyspark.sql.functions as F

from transactional_datalake_using_apache_iceberg_on_aws_glue_spark.lake import ParquetLakeTable
from transactional_datalake_using_apache_iceberg_on_aws_glue_spark.lake.metadata import (
    files_df,
    partitions_df,
)

R = "trans_id long, event string, amount int"
ROWS = [(1, "a", 10), (2, "a", 20), (3, "b", 30), (4, "b", 40),
        (5, "c", 50)]


def _mk(spark, path, threshold, **kw):
    t = ParquetLakeTable(spark, path, key_cols=["trans_id"],
                         partition_col="event",
                         stats_ext_threshold=threshold, **kw)
    t.create(spark.createDataFrame(ROWS, R))
    return t


def _ext_dir(t):
    return os.path.join(t.path, "_versions", "statsext")


def _manifest_raw(t, v=None):
    v = t.current_version() if v is None else v
    with open(os.path.join(t.path, "_versions", f"v{v:06d}.json")) as f:
        return json.load(f)


def test_externalized_equals_inline_everywhere(spark, tmp_path):
    ext = _mk(spark, str(tmp_path / "ext"), 0)
    inl = _mk(spark, str(tmp_path / "inl"), None)

    # the ext manifest really externalized: pointers only, scalars kept
    m = _manifest_raw(ext)
    for tok, entry in m["stats"].items():
        assert "files" not in entry and "file_rows" not in entry, tok
        assert "files_ext" in entry and entry["n_files"] >= 1
        assert entry["rows"] >= 1 and entry["cols"]
    assert os.path.isdir(_ext_dir(ext))
    m_inl = _manifest_raw(inl)
    assert all("files" in e for e in m_inl["stats"].values())

    # read + scan equivalence (file pruning path exercised: key pred)
    for q in (lambda t: t.read_data(),
              lambda t: t.scan([("trans_id", "<=", 2)]),
              lambda t: t.scan([("amount", ">", 25)])):
        got = {r["trans_id"]: r["amount"] for r in q(ext).collect()}
        want = {r["trans_id"]: r["amount"] for r in q(inl).collect()}
        assert got == want

    # plan_scan prunes the same file sets from the sidecar
    pe = ext.plan_scan([("trans_id", "<=", 2)])
    pi = inl.plan_scan([("trans_id", "<=", 2)])
    assert set(pe["base"]) == set(pi["base"])

    # metadata tables identical (file NAMES differ between two
    # independently-written tables — compare everything else)
    def fshape(t):
        return sorted((r["partition"], r["size_bytes"],
                       r["record_count"], r["column_bounds"])
                      for r in files_df(t).collect())

    fe, fi = fshape(ext), fshape(inl)
    assert fe == fi and len(fe) >= 3
    pe_rows = sorted(map(tuple, partitions_df(ext).collect()))
    pi_rows = sorted(map(tuple, partitions_df(inl).collect()))
    assert pe_rows == pi_rows

    # clustering coverage reads the sidecar bounds
    ce = sorted(map(tuple, ext.clustering_report(["trans_id"]).collect()))
    ci = sorted(map(tuple, inl.clustering_report(["trans_id"]).collect()))
    assert ce == ci


def test_carry_forward_reuses_sidecars(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "cf"), 0)
    before = _manifest_raw(t)["stats"]
    blobs_before = set(os.listdir(_ext_dir(t)))

    # touch ONE partition
    t.merge(spark.createDataFrame([(1, "a", 11)], R)
            .withColumn("_op", F.lit("update")))
    after = _manifest_raw(t)["stats"]

    # untouched partitions: pointer carried VERBATIM (same blob name)
    assert after["b"] == before["b"]
    assert after["c"] == before["c"]
    # touched partition: new pointer, still external
    assert "files_ext" in after["a"]
    assert after["a"]["files_ext"] != before["a"]["files_ext"]
    # no inline file detail anywhere in the new manifest
    assert all("files" not in e for e in after.values())
    # blob store grew only by the rewritten partition's new content
    blobs_after = set(os.listdir(_ext_dir(t)))
    assert blobs_before < blobs_after
    assert len(blobs_after - blobs_before) == 1


def test_stream_and_changes_read_externalized_manifests(spark, tmp_path):
    from transactional_datalake_using_apache_iceberg_on_aws_glue_spark.sources.lake_stream import (
        register_lake_stream,
    )

    t = _mk(spark, str(tmp_path / "st"), 0)
    got: list[tuple] = []

    def drain():
        register_lake_stream(spark)
        q = (spark.readStream.format("lake-changes")
             .option("path", t.path).option("keys", "trans_id").load()
             .writeStream.foreachBatch(
                 lambda df, b: got.extend(
                     (r["trans_id"], r["_change_type"], r["amount"])
                     for r in df.collect()))
             .option("checkpointLocation", str(tmp_path / "ck"))
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    drain()
    assert {(k, c) for k, c, _ in got} == {
        (k, "insert") for k, *_ in ROWS}
    t.merge(spark.createDataFrame([(2, "b", 21)], R)
            .withColumn("_op", F.lit("update")))  # moves a->b too
    got.clear()
    drain()
    assert sorted(got) == [(2, "update_postimage", 21)]
    # read_changes agrees (same span)
    oracle = {(r["trans_id"], r["_change_type"], r["amount"])
              for r in t.read_changes(1, 2).collect()}
    assert oracle == set(got)


def test_rename_ddl_rewrites_externalized_bounds(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "rn"), 0, allow_schema_evolution=True)
    t.rename_column("amount", "amt")
    # bounds follow the rename through the sidecar round-trip
    m = _manifest_raw(t)
    entry = t._resolved_entry(m["stats"]["a"])
    assert "amt" in entry["cols"] and "amount" not in entry["cols"]
    for fc in entry["files"].values():
        assert "amount" not in fc
    got = {r["trans_id"]: r["amt"] for r in t.read_data().collect()}
    assert got == {k: a for k, _e, a in ROWS}


def test_dml_ddl_churn_with_externalized_stats(spark, tmp_path):
    """A shortened DML×DDL randomized churn (the r6 soak body) with
    stats_ext_threshold=0: every commit routes ALL file-level stats
    through sidecars, so MERGE/UPDATE/DELETE/INSERT, column
    add/rename/drop/widen, partition-field evolution, and branch/tag
    DDL all read and carry externalized entries. The soak's
    driver-side model check is the oracle."""
    from test_dml_ddl_soak import _run_soak

    _run_soak(spark, tmp_path, seed=8, n_stmts=60,
              table_kw={"stats_ext_threshold": 0})


def test_expire_snapshots_reclaims_unreferenced_sidecars(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "gc"), 0, orphan_grace_ms=0)
    first = {e["files_ext"] for e in _manifest_raw(t)["stats"].values()}
    # rewrite every partition so v1's blobs become unreferenced once
    # v1 expires
    t.merge(spark.createDataFrame(
        [(1, "a", 100), (3, "b", 300), (5, "c", 500)], R)
        .withColumn("_op", F.lit("update")))
    live = {e["files_ext"] for e in _manifest_raw(t)["stats"].values()}
    t.expire_snapshots(keep_last=1)
    remaining = set(os.listdir(_ext_dir(t)))
    assert live <= remaining
    assert not (first - live) & remaining, "expired-only blobs survive"
    # the survivor still reads fine
    assert t.read_data().count() == 5
    assert files_df(t).count() >= 3
