"""Cross-PROCESS commit race soak (r8 judge item; r6 brief #4).

The engine's optimistic concurrency — exclusive-create version claim +
``CommitConflictError`` + replan-retry (``lake/table.py::_commit``) —
is the stand-in for the reference's DynamoDB commit lock
(/root/reference/src/main/python/spark_sql_merge_into_iceberg.py:57-58,
``write.lock.table``). The in-process races in ``test_snapshots.py``
share one JVM and one Python heap; this soak spawns REAL OS processes,
each with its own SparkSession, all merging against ONE table path:

- workers start behind a go-file barrier, so their first merges all
  plan against the same base version — the exclusive manifest create
  then guarantees at least one real ``CommitConflictError`` is hit
  and ridden (asserted from per-worker stats files);
- batches mix worker-disjoint keys and a SHARED key range all workers
  contest; every (key, timestamp) is globally unique, so the T4
  lineage guard makes the final state a pure function of the op set —
  the serial fold below — regardless of commit interleaving;
- afterwards the parent audits the physical table: manifests all
  parse, the version chain from CURRENT is dense and connected,
  every referenced snapshot/delta file exists, and ``read_data``
  equals the serial fold.
"""

from __future__ import annotations

import json
import os
import random
import subprocess
import sys
import time

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _patience() -> float:
    """Load-adaptive timeout multiplier (r9, de-flaking the ROADMAP
    'Known flake (r8)'): these soaks spawn 3-4 real Spark JVMs, and
    under a saturated box (full suite + a concurrent oracle gate) the
    fixed wall-clock waits below occasionally expired on HEALTHY
    processes. Scale every subprocess wait by the 1-minute loadavg per
    CPU — unit patience on an idle box, up to 4x on a pinned one — so
    a slow-but-alive writer is distinguished from a hung one."""
    try:
        per_cpu = os.getloadavg()[0] / max(1, os.cpu_count() or 1)
    except OSError:
        return 1.0
    return min(4.0, max(1.0, 1.0 + per_cpu))

_WORKER = """
import json, os, random, sys, time

sys.path.insert(0, sys.argv[1])
wid, table_path, waves_file, go_file, stats_file = (
    int(sys.argv[2]), sys.argv[3], sys.argv[4], sys.argv[5], sys.argv[6])
merge_mode = sys.argv[7] if len(sys.argv) > 7 else "cow"
stats_ext = (int(sys.argv[8]) if len(sys.argv) > 8 and sys.argv[8] != ""
             else 4096)

import pyspark.sql.functions as F

from transactional_datalake_using_apache_iceberg_on_aws_glue_spark.session import build_session
from transactional_datalake_using_apache_iceberg_on_aws_glue_spark.lake import (
    CommitConflictError, ParquetLakeTable,
)

spark = build_session(app_name=f"race-w{wid}", master="local[2]",
                      shuffle_partitions=2,
                      extra_conf={"spark.ui.enabled": "false",
                                  "spark.sql.adaptive.enabled": "false"})
table = ParquetLakeTable(spark, table_path, key_cols=["trans_id"],
                         partition_col="event", merge_mode=merge_mode,
                         stats_ext_threshold=stats_ext)
waves = json.load(open(waves_file))
rng = random.Random(1000 + wid)

open(stats_file + ".ready", "w").write("1")
while not os.path.exists(go_file):
    time.sleep(0.05)

conflicts = 0
for wave in waves:
    df = (spark.createDataFrame(
            [tuple(r) for r in wave],
            "trans_id long, event string, amount int, _op string, "
            "ts string, _txn_id long")
          .withColumn("_op_timestamp", F.to_timestamp("ts")).drop("ts"))
    # commit_retries=0 surfaces every conflict so the soak can COUNT
    # them; the outer loop is the same replan-retry merge() performs
    for _attempt in range(60):
        try:
            table.merge(df, commit_retries=0)
            break
        except CommitConflictError:
            conflicts += 1
            time.sleep(rng.uniform(0.02, 0.2))
    else:
        print(f"worker {wid}: merge never landed", file=sys.stderr)
        sys.exit(3)

json.dump({"worker": wid, "conflicts": conflicts}, open(stats_file, "w"))
spark.stop()
"""

_COMPACTOR = """
import json, os, random, sys, time

sys.path.insert(0, sys.argv[1])
table_path, go_file, stop_file, stats_file = (
    sys.argv[2], sys.argv[3], sys.argv[4], sys.argv[5])

from transactional_datalake_using_apache_iceberg_on_aws_glue_spark.session import build_session
from transactional_datalake_using_apache_iceberg_on_aws_glue_spark.lake import (
    CommitConflictError, ParquetLakeTable,
)

spark = build_session(app_name="race-compactor", master="local[2]",
                      shuffle_partitions=2,
                      extra_conf={"spark.ui.enabled": "false",
                                  "spark.sql.adaptive.enabled": "false"})
table = ParquetLakeTable(spark, table_path, key_cols=["trans_id"],
                         partition_col="event", merge_mode="mor")
rng = random.Random(99)

open(stats_file + ".ready", "w").write("1")
while not os.path.exists(go_file):
    time.sleep(0.05)

done = 0
conflicts = 0
# keep compacting until the writers are finished, riding conflicts the
# way a maintenance job racing live writers must (Iceberg's
# rewrite_data_files vs commit race) -- compact() itself does not
# retry; the caller owns the policy
while not os.path.exists(stop_file):
    if not table.exists():
        time.sleep(0.1)
        continue
    try:
        table.compact()
        done += 1
    except CommitConflictError:
        conflicts += 1
        time.sleep(rng.uniform(0.05, 0.2))
# one final fold so outstanding deltas from the last wave get compacted
for _ in range(30):
    try:
        table.compact()
        done += 1
        break
    except CommitConflictError:
        conflicts += 1
        time.sleep(rng.uniform(0.05, 0.2))

json.dump({"compactions": done, "conflicts": conflicts},
          open(stats_file, "w"))
spark.stop()
"""


_GC = """
import json, os, random, sys, time

sys.path.insert(0, sys.argv[1])
table_path, go_file, stop_file, stats_file, grace_ms = (
    sys.argv[2], sys.argv[3], sys.argv[4], sys.argv[5], int(sys.argv[6]))

from transactional_datalake_using_apache_iceberg_on_aws_glue_spark.session import build_session
from transactional_datalake_using_apache_iceberg_on_aws_glue_spark.lake import ParquetLakeTable

spark = build_session(app_name="race-gc", master="local[2]",
                      shuffle_partitions=2,
                      extra_conf={"spark.ui.enabled": "false",
                                  "spark.sql.adaptive.enabled": "false"})
table = ParquetLakeTable(spark, table_path, key_cols=["trans_id"],
                         partition_col="event", orphan_grace_ms=grace_ms,
                         stats_ext_threshold=0)
rng = random.Random(7)

open(stats_file + ".ready", "w").write("1")
while not os.path.exists(go_file):
    time.sleep(0.05)

# expire_snapshots never commits, so it cannot conflict; it races the
# writers purely on the filesystem (orphan scans + manifest removal +
# blob GC vs fresh snapshot writes, blob creates, version claims).
# The operational contract (Iceberg's too): retention and the orphan
# grace must exceed the longest in-flight plan/write, or the
# collector reclaims files a racing merge is about to reference —
# mid-race passes therefore run with a generous retention window
# (the orphan-grace machinery is what the race exercises), and the
# deterministic full-strength reclaim happens in the settle pass
# below once the writers are done.
RETAIN_MS = 180_000
removed_dirs = 0
passes = 0
blob_removals = 0
while not os.path.exists(stop_file):
    if not os.path.exists(os.path.join(table_path, "_versions", "CURRENT")):
        time.sleep(0.1)
        continue
    ext_dir = os.path.join(table_path, "_versions", "statsext")
    before = set(os.listdir(ext_dir)) if os.path.isdir(ext_dir) else set()
    removed_dirs += len(table.expire_snapshots(
        keep_last=2, older_than_ms=int(time.time() * 1000) - RETAIN_MS))
    after = set(os.listdir(ext_dir)) if os.path.isdir(ext_dir) else set()
    blob_removals += len(before - after)
    passes += 1
    time.sleep(rng.uniform(0.05, 0.15))

# settle pass: the writers have exited, nothing is in flight, so
# retention drops to keep_last alone and the grace window to zero —
# everything unreachable (expired dirs, crash debris from ridden
# conflicts, unreferenced sidecar blobs) reclaims deterministically
settle = ParquetLakeTable(spark, table_path, key_cols=["trans_id"],
                          partition_col="event", orphan_grace_ms=0,
                          stats_ext_threshold=0)
ext_dir = os.path.join(table_path, "_versions", "statsext")
before = set(os.listdir(ext_dir)) if os.path.isdir(ext_dir) else set()
removed_dirs += len(settle.expire_snapshots(keep_last=2))
after = set(os.listdir(ext_dir)) if os.path.isdir(ext_dir) else set()
blob_removals += len(before - after)
passes += 1

json.dump({"passes": passes, "removed_dirs": removed_dirs,
           "blob_removals": blob_removals}, open(stats_file, "w"))
spark.stop()
"""


def _worker_env() -> dict:
    """Environment of the spawned Spark processes: the repo importable,
    no inherited CPU pin (each worker pins local[2] itself), and a 2g
    driver heap unless the caller set one — at the session's 48g
    default, the test JVM plus three workers overcommit a 15 GB host."""
    env = {**os.environ, "PYTHONPATH": REPO}
    env.pop("SPARK_GRAFT_CPUS", None)
    env.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    return env


def _gen_ops(rng, n_workers, n_waves, rows_per_wave):
    """Per-worker wave lists + the order-independent serial fold.

    Keys: worker w owns [w*100, w*100+25) exclusively; keys 900-909
    are SHARED — every worker updates/deletes them. Each (key, ts) is
    globally unique (ts seconds = a global op counter), so the fold is
    max-ts per key whatever order commits land in."""
    waves = {w: [] for w in range(n_workers)}
    fold: dict[int, tuple] = {}
    tick = 0
    all_ops = []
    for i in range(n_waves):
        for w in range(n_workers):
            own = [w * 100 + k for k in range(25)]
            pool = own + list(range(900, 910))
            keys = rng.sample(pool, rows_per_wave)
            wave = []
            for k in keys:
                tick += 1
                op = rng.choice(["insert", "update", "update", "delete"])
                amt = rng.randrange(10_000)
                ts = f"2026-01-01 00:{tick // 60:02d}:{tick % 60:02d}"
                wave.append([k, f"p{k % 4}", amt, op, ts, tick])
                all_ops.append((k, ts, op, amt))
            waves[w].append(wave)
    for k, ts, op, amt in sorted(all_ops, key=lambda o: (o[0], o[1])):
        if op == "delete":
            fold.pop(k, None)
            fold[k] = None  # tombstone: older ops cannot resurrect
        else:
            fold[k] = (f"p{k % 4}", amt)
    return waves, {k: v for k, v in fold.items() if v is not None}


@pytest.mark.parametrize("seed", [7])
def test_cross_process_commit_race_soak(spark, tmp_path, seed):
    rng = random.Random(seed)
    n_workers = 3
    waves, expect = _gen_ops(rng, n_workers, n_waves=3, rows_per_wave=12)

    table_path = str(tmp_path / "race_table")
    go_file = str(tmp_path / "GO")
    worker_py = tmp_path / "worker.py"
    worker_py.write_text(_WORKER)

    procs, stats_files = [], []
    env = _worker_env()
    for w in range(n_workers):
        wf = tmp_path / f"waves_{w}.json"
        wf.write_text(json.dumps(waves[w]))
        sf = str(tmp_path / f"stats_{w}.json")
        stats_files.append(sf)
        procs.append(subprocess.Popen(
            [sys.executable, str(worker_py), REPO, str(w), table_path,
             str(wf), go_file, sf],
            env=env, cwd=str(tmp_path),
            stdout=subprocess.PIPE, stderr=subprocess.PIPE))

    # barrier: release only when every worker session is up, so the
    # first merges overlap and the race is guaranteed, not hoped-for
    deadline = time.time() + 240 * _patience()
    while time.time() < deadline:
        if all(os.path.exists(s + ".ready") for s in stats_files):
            break
        if any(p.poll() not in (None, 0) for p in procs):
            break
        time.sleep(0.2)
    with open(go_file, "w") as f:
        f.write("go")

    for p in procs:
        try:
            out, err = p.communicate(timeout=420 * _patience())
        except subprocess.TimeoutExpired:
            p.kill()
            pytest.fail("race worker hung")
        assert p.returncode == 0, err.decode()[-3000:]

    # the race actually happened: >=1 surfaced-and-ridden conflict
    stats = [json.load(open(s)) for s in stats_files]
    assert sum(s["conflicts"] for s in stats) >= 1, stats

    # physical audit: dense connected version chain, parseable
    # manifests, every referenced file present on disk
    vdir = os.path.join(table_path, "_versions")
    cur = int(open(os.path.join(vdir, "CURRENT")).read().strip())
    n_merges = n_workers * 3
    assert cur == n_merges, (cur, n_merges)  # every commit landed, none lost
    parents = {}
    for v in range(1, cur + 1):
        m = json.loads(open(os.path.join(vdir, f"v{v:06d}.json")).read())
        assert m["version"] == v
        parents[v] = m["parent"]
        for tok, snap in m["base"].items():
            files = (m.get("stats", {}).get(tok) or {}).get("files") or []
            for rel in files:
                assert os.path.exists(os.path.join(table_path, snap, rel)), (
                    v, tok, rel)
    v = cur
    while v > 0:  # connected ancestry down to the root
        v = parents[v]
    assert v == 0

    # logical audit: final state == the order-independent serial fold
    from transactional_datalake_using_apache_iceberg_on_aws_glue_spark.lake import ParquetLakeTable

    table = ParquetLakeTable(spark, table_path, key_cols=["trans_id"],
                             partition_col="event")
    got = {r["trans_id"]: (r["event"], r["amount"])
           for r in table.read_data().collect()}
    assert got == expect, {
        "missing": {k: v for k, v in expect.items() if k not in got},
        "extra": {k: v for k, v in got.items() if k not in expect},
        "diff": {k: (got[k], expect[k]) for k in got
                 if k in expect and got[k] != expect[k]},
    }


@pytest.mark.parametrize("seed", [23])
def test_live_stream_reads_through_cross_process_race(spark, tmp_path, seed):
    """Reader vs cross-process writers (r8, new soak axis): while OS
    processes commit merges against the table, the parent drains a
    checkpointed ``lake-changes`` stream in a loop. Every drain
    resolves CURRENT mid-race — the reader must only ever see fully
    committed manifests (the exclusive claim + pointer-swap ordering),
    and the folded change batches must converge to exactly the final
    table state: no torn batch, no change lost between offsets, no
    change delivered twice across checkpointed drains."""
    from transactional_datalake_using_apache_iceberg_on_aws_glue_spark.sources.lake_stream import (
        register_lake_stream,
    )

    rng = random.Random(seed)
    n_workers = 2
    waves, expect = _gen_ops(rng, n_workers, n_waves=3, rows_per_wave=10)

    table_path = str(tmp_path / "rr")
    go_file = str(tmp_path / "GO")
    worker_py = tmp_path / "worker.py"
    worker_py.write_text(_WORKER)

    env = _worker_env()
    procs, stats_files = [], []
    for w in range(n_workers):
        wf = tmp_path / f"waves_{w}.json"
        wf.write_text(json.dumps(waves[w]))
        sf = str(tmp_path / f"stats_{w}.json")
        stats_files.append(sf)
        procs.append(subprocess.Popen(
            [sys.executable, str(worker_py), REPO, str(w), table_path,
             str(wf), go_file, sf],
            env=env, cwd=str(tmp_path),
            stdout=subprocess.PIPE, stderr=subprocess.PIPE))

    deadline = time.time() + 240 * _patience()
    while time.time() < deadline:
        if all(os.path.exists(s + ".ready") for s in stats_files):
            break
        time.sleep(0.2)
    with open(go_file, "w") as f:
        f.write("go")

    batches: list[list] = []
    ckpt = str(tmp_path / "ck_reader")

    def drain():
        register_lake_stream(spark)
        q = (spark.readStream.format("lake-changes")
             .option("path", table_path).option("keys", "trans_id").load()
             .writeStream.foreachBatch(
                 lambda df, b: batches.append(
                     [(r["trans_id"], r["_change_type"], r["event"],
                       r["amount"]) for r in df.collect()]))
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        assert q.awaitTermination(240), "stream drain timed out (contended box?)"

    # drain LIVE while the writers race (each drain snapshots CURRENT
    # mid-commit-storm), then settle with final drains
    mid_drains = 0
    while any(p.poll() is None for p in procs):
        if os.path.exists(os.path.join(table_path, "_versions", "CURRENT")):
            drain()
            mid_drains += 1
        time.sleep(0.3)
    for p in procs:
        out, err = p.communicate(timeout=60 * _patience())
        assert p.returncode == 0, err.decode()[-3000:]
    drain()  # whatever landed after the last mid-race drain

    assert mid_drains >= 1  # the reader really raced the writers

    state: dict = {}
    for b in batches:
        by_key: dict = {}
        for k, c, e, a in b:
            if c in ("insert", "update_postimage"):
                by_key[k] = (e, a)
            elif c == "delete":
                by_key.setdefault(k, None)
        for k, img in by_key.items():
            if img is None:
                state.pop(k, None)
            else:
                state[k] = img
    assert state == expect, {
        "missing": {k: v for k, v in expect.items() if k not in state},
        "extra": {k: v for k, v in state.items() if k not in expect},
        "diff": {k: (state[k], expect[k]) for k in state
                 if k in expect and state[k] != expect[k]},
    }


@pytest.mark.parametrize("seed", [11])
def test_cross_process_mor_writers_vs_compactor_soak(spark, tmp_path, seed):
    """Maintenance vs writers, cross-process (r8, new soak axis): two
    MOR writer processes append delta commits while a third process
    loops ``compact()`` — the engine's ``rewrite_data_files`` — riding
    ``CommitConflictError`` like any maintenance job racing live
    writers must. Compaction rewrites state read at its base version;
    the exclusive version claim must make a mid-compact merge surface
    as a conflict rather than be silently folded away (the lost-update
    shape Iceberg prevents with its commit lock). Asserts: all
    processes exit clean, at least one compaction landed, the version
    chain is dense, and the final folded state equals the serial fold
    — i.e. no merge was lost to a racing rewrite and no compaction
    resurrected or dropped rows."""
    rng = random.Random(seed)
    n_workers = 2
    waves, expect = _gen_ops(rng, n_workers, n_waves=3, rows_per_wave=10)

    table_path = str(tmp_path / "mor_race")
    go_file = str(tmp_path / "GO")
    stop_file = str(tmp_path / "STOP")
    worker_py = tmp_path / "worker.py"
    worker_py.write_text(_WORKER)
    compactor_py = tmp_path / "compactor.py"
    compactor_py.write_text(_COMPACTOR)

    env = _worker_env()
    procs, stats_files = [], []
    for w in range(n_workers):
        wf = tmp_path / f"waves_{w}.json"
        wf.write_text(json.dumps(waves[w]))
        sf = str(tmp_path / f"stats_{w}.json")
        stats_files.append(sf)
        procs.append(subprocess.Popen(
            [sys.executable, str(worker_py), REPO, str(w), table_path,
             str(wf), go_file, sf, "mor"],
            env=env, cwd=str(tmp_path),
            stdout=subprocess.PIPE, stderr=subprocess.PIPE))
    comp_sf = str(tmp_path / "stats_compactor.json")
    compactor = subprocess.Popen(
        [sys.executable, str(compactor_py), REPO, table_path, go_file,
         stop_file, comp_sf],
        env=env, cwd=str(tmp_path),
        stdout=subprocess.PIPE, stderr=subprocess.PIPE)

    deadline = time.time() + 240 * _patience()
    ready = stats_files + [comp_sf]
    while time.time() < deadline:
        if all(os.path.exists(s + ".ready") for s in ready):
            break
        time.sleep(0.2)
    with open(go_file, "w") as f:
        f.write("go")

    for p in procs:
        try:
            out, err = p.communicate(timeout=420 * _patience())
        except subprocess.TimeoutExpired:
            p.kill()
            compactor.kill()
            pytest.fail("race writer hung")
        assert p.returncode == 0, err.decode()[-3000:]
    with open(stop_file, "w") as f:
        f.write("stop")
    try:
        out, err = compactor.communicate(timeout=300 * _patience())
    except subprocess.TimeoutExpired:
        compactor.kill()
        pytest.fail("compactor hung")
    assert compactor.returncode == 0, err.decode()[-3000:]

    comp = json.load(open(comp_sf))
    assert comp["compactions"] >= 1, comp

    # dense main-lineage version chain: merges + compactions, no holes
    vdir = os.path.join(table_path, "_versions")
    cur = int(open(os.path.join(vdir, "CURRENT")).read().strip())
    assert cur == n_workers * 3 + comp["compactions"], (cur, comp)
    for v in range(1, cur + 1):
        m = json.loads(open(os.path.join(vdir, f"v{v:06d}.json")).read())
        assert m["version"] == v

    from transactional_datalake_using_apache_iceberg_on_aws_glue_spark.lake import ParquetLakeTable

    table = ParquetLakeTable(spark, table_path, key_cols=["trans_id"],
                             partition_col="event", merge_mode="mor")
    got = {r["trans_id"]: (r["event"], r["amount"])
           for r in table.read_data().collect()}
    assert got == expect, {
        "missing": {k: v for k, v in expect.items() if k not in got},
        "extra": {k: v for k, v in got.items() if k not in expect},
        "diff": {k: (got[k], expect[k]) for k in got
                 if k in expect and got[k] != expect[k]},
    }


@pytest.mark.parametrize("seed", [31])
def test_cross_process_gc_vs_writers_soak(spark, tmp_path, seed):
    """Snapshot GC vs live writers, cross-process (r8, new soak axis,
    with externalized stats ON): two COW writer processes
    (``stats_ext_threshold=0`` — every commit writes content-addressed
    sidecar blobs) race merges while a third process loops
    ``expire_snapshots(keep_last=2)`` under a 30-second orphan grace
    (mid-race; the post-race settle pass drops grace to zero).
    GC never commits, so it races the writers purely on the
    filesystem: manifest removal + snapshot-dir reclamation + sidecar
    blob GC against fresh snapshot writes, blob creates, and version
    claims. The grace window is the ONLY thing standing between the
    collector and a racing writer's just-written (not yet referenced)
    snapshot dir or stats blob. Asserts: all processes exit clean,
    the collector actually reclaimed dirs AND blobs, every surviving
    manifest's ``files_ext`` pointer resolves (no dangling sidecar —
    the exact corruption an ungraced blob GC produces), and the final
    table equals the order-independent serial fold."""
    rng = random.Random(seed)
    n_workers = 2
    waves, expect = _gen_ops(rng, n_workers, n_waves=4, rows_per_wave=10)

    table_path = str(tmp_path / "gc_race")
    go_file = str(tmp_path / "GO")
    stop_file = str(tmp_path / "STOP")
    worker_py = tmp_path / "worker.py"
    worker_py.write_text(_WORKER)
    gc_py = tmp_path / "gc.py"
    gc_py.write_text(_GC)

    env = _worker_env()
    procs, stats_files = [], []
    for w in range(n_workers):
        wf = tmp_path / f"waves_{w}.json"
        wf.write_text(json.dumps(waves[w]))
        sf = str(tmp_path / f"stats_{w}.json")
        stats_files.append(sf)
        procs.append(subprocess.Popen(
            [sys.executable, str(worker_py), REPO, str(w), table_path,
             str(wf), go_file, sf, "cow", "0"],
            env=env, cwd=str(tmp_path),
            stdout=subprocess.PIPE, stderr=subprocess.PIPE))
    gc_sf = str(tmp_path / "stats_gc.json")
    gc_proc = subprocess.Popen(
        [sys.executable, str(gc_py), REPO, table_path, go_file,
         stop_file, gc_sf, "30000"],
        env=env, cwd=str(tmp_path),
        stdout=subprocess.PIPE, stderr=subprocess.PIPE)

    deadline = time.time() + 240 * _patience()
    ready = stats_files + [gc_sf]
    while time.time() < deadline:
        if all(os.path.exists(s + ".ready") for s in ready):
            break
        time.sleep(0.2)
    with open(go_file, "w") as f:
        f.write("go")

    for p in procs:
        try:
            out, err = p.communicate(timeout=420 * _patience())
        except subprocess.TimeoutExpired:
            p.kill()
            gc_proc.kill()
            pytest.fail("race writer hung")
        assert p.returncode == 0, err.decode()[-3000:]
    with open(stop_file, "w") as f:
        f.write("stop")
    try:
        out, err = gc_proc.communicate(timeout=300 * _patience())
    except subprocess.TimeoutExpired:
        gc_proc.kill()
        pytest.fail("gc process hung")
    assert gc_proc.returncode == 0, err.decode()[-3000:]

    gc = json.load(open(gc_sf))
    assert gc["passes"] >= 2, gc
    assert gc["removed_dirs"] >= 1, gc  # dirs really reclaimed
    assert gc["blob_removals"] >= 1, gc  # sidecar blobs really reclaimed

    # NO DANGLING SIDECAR: every surviving manifest's files_ext
    # pointer must resolve to a blob on disk
    vdir = os.path.join(table_path, "_versions")
    ext_dir = os.path.join(vdir, "statsext")
    blobs = set(os.listdir(ext_dir)) if os.path.isdir(ext_dir) else set()
    surviving = sorted(f for f in os.listdir(vdir)
                       if f.startswith("v") and f.endswith(".json"))
    assert surviving, "no manifests survived GC"
    checked = 0
    for name in surviving:
        m = json.loads(open(os.path.join(vdir, name)).read())
        for tok, entry in (m.get("stats") or {}).items():
            if entry and "files_ext" in entry:
                assert entry["files_ext"] in blobs, (name, tok, entry)
                checked += 1
    assert checked >= 1  # the audit saw real pointers

    # logical audit through a fresh handle (reads resolve sidecars)
    from transactional_datalake_using_apache_iceberg_on_aws_glue_spark.lake import ParquetLakeTable
    from transactional_datalake_using_apache_iceberg_on_aws_glue_spark.lake.metadata import files_df

    table = ParquetLakeTable(spark, table_path, key_cols=["trans_id"],
                             partition_col="event")
    got = {r["trans_id"]: (r["event"], r["amount"])
           for r in table.read_data().collect()}
    assert got == expect, {
        "missing": {k: v for k, v in expect.items() if k not in got},
        "extra": {k: v for k, v in got.items() if k not in expect},
        "diff": {k: (got[k], expect[k]) for k in got
                 if k in expect and got[k] != expect[k]},
    }
    assert files_df(table).count() == table.file_count()


_SRC_WRITER = """
import json, os, sys, time

sys.path.insert(0, sys.argv[1])
table_path, waves_file, go_file, stats_file = (
    sys.argv[2], sys.argv[3], sys.argv[4], sys.argv[5])

import pyspark.sql.functions as F

from transactional_datalake_using_apache_iceberg_on_aws_glue_spark.session import build_session
from transactional_datalake_using_apache_iceberg_on_aws_glue_spark.lake import ParquetLakeTable

spark = build_session(app_name="ivm-writer", master="local[2]",
                      shuffle_partitions=2,
                      extra_conf={"spark.ui.enabled": "false",
                                  "spark.sql.adaptive.enabled": "false"})
table = ParquetLakeTable(spark, table_path, key_cols=["trans_id"],
                         partition_col="event")
waves = json.load(open(waves_file))

open(stats_file + ".ready", "w").write("1")
while not os.path.exists(go_file):
    time.sleep(0.05)

for wave in waves:
    df = (spark.createDataFrame(
            [tuple(r) for r in wave],
            "trans_id long, event string, amount int, _op string, "
            "ts string, _txn_id long")
          .withColumn("_op_timestamp", F.to_timestamp("ts")).drop("ts"))
    table.merge(df)
    time.sleep(0.2)

json.dump({"waves": len(waves)}, open(stats_file, "w"))
spark.stop()
"""

_MAINTAINER = """
import json, os, random, sys, time

sys.path.insert(0, sys.argv[1])
mid, src_path, roll_path, ck_path, go_file, stop_file, stats_file = (
    int(sys.argv[2]), sys.argv[3], sys.argv[4], sys.argv[5],
    sys.argv[6], sys.argv[7], sys.argv[8])

from transactional_datalake_using_apache_iceberg_on_aws_glue_spark.session import build_session
from transactional_datalake_using_apache_iceberg_on_aws_glue_spark.lake import (
    MaterializedRollup, ParquetLakeTable,
)
from transactional_datalake_using_apache_iceberg_on_aws_glue_spark.lake.materialized import (
    ConcurrentRefreshError,
)

spark = build_session(app_name=f"ivm-m{mid}", master="local[2]",
                      shuffle_partitions=2,
                      extra_conf={"spark.ui.enabled": "false",
                                  "spark.sql.adaptive.enabled": "false"})
src = ParquetLakeTable(spark, src_path, key_cols=["trans_id"],
                       partition_col="event")
roll = MaterializedRollup(src, roll_path, ck_path,
                          group_cols=["event"], sum_cols=["amount"])
rng = random.Random(mid)

open(stats_file + ".ready", "w").write("1")
while not os.path.exists(go_file):
    time.sleep(0.05)

refreshes = 0
lock_conflicts = 0
while not os.path.exists(stop_file):
    if not src.exists():
        time.sleep(0.1)
        continue
    try:
        roll.refresh()
        refreshes += 1
    except ConcurrentRefreshError:
        lock_conflicts += 1
        time.sleep(rng.uniform(0.0, 0.05))
# drain the tail so at least one maintainer reflects the final source
for _ in range(60):
    try:
        roll.refresh()
        refreshes += 1
        break
    except ConcurrentRefreshError:
        lock_conflicts += 1
        time.sleep(rng.uniform(0.02, 0.1))

json.dump({"maintainer": mid, "refreshes": refreshes,
           "lock_conflicts": lock_conflicts}, open(stats_file, "w"))
spark.stop()
"""


_STREAM_MAINT = """
import json, os, random, sys, time

sys.path.insert(0, sys.argv[1])
src_path, roll_path, ck_path, stream_ck, go_file, stop_file, stats_file = (
    sys.argv[2], sys.argv[3], sys.argv[4], sys.argv[5], sys.argv[6],
    sys.argv[7], sys.argv[8])

from transactional_datalake_using_apache_iceberg_on_aws_glue_spark.session import build_session
from transactional_datalake_using_apache_iceberg_on_aws_glue_spark.lake import (
    MaterializedRollup, ParquetLakeTable, StreamingRollupMaintainer,
)

spark = build_session(app_name="ivm-stream", master="local[2]",
                      shuffle_partitions=2,
                      extra_conf={"spark.ui.enabled": "false",
                                  "spark.sql.adaptive.enabled": "false"})
src = ParquetLakeTable(spark, src_path, key_cols=["trans_id"],
                       partition_col="event")
roll = MaterializedRollup(src, roll_path, ck_path,
                          group_cols=["event"], sum_cols=["amount"])
m = StreamingRollupMaintainer(roll, stream_checkpoint=stream_ck)
rng = random.Random(77)

open(stats_file + ".ready", "w").write("1")
while not os.path.exists(go_file):
    time.sleep(0.05)

drains = 0
lock_conflicts = 0
while not os.path.exists(stop_file):
    if not src.exists():
        time.sleep(0.1)
        continue
    try:
        m.drain()
        drains += 1
    except Exception as e:  # StreamingQueryException wraps the typed error
        if "ConcurrentRefreshError" not in str(e):
            raise
        lock_conflicts += 1
        time.sleep(rng.uniform(0.0, 0.05))
# tail catch-up: the last spans must land through the stream too (the
# checkpoint may sit mid-batch after a ridden conflict - the replay
# protocol's job)
for _ in range(60):
    try:
        m.drain()
        drains += 1
        break
    except Exception as e:
        if "ConcurrentRefreshError" not in str(e):
            raise
        lock_conflicts += 1
        time.sleep(rng.uniform(0.02, 0.1))

json.dump({"drains": drains, "lock_conflicts": lock_conflicts,
           "stats": m.stats}, open(stats_file, "w"))
spark.stop()
"""


@pytest.mark.parametrize("seed", [43])
def test_cross_process_streaming_ivm_vs_polling_soak(spark, tmp_path, seed):
    """r9 judge brief #5: the intent/lock/fencing protocol is
    cross-process-proven for merges and polling refresh, but
    StreamingRollupMaintainer had only in-process coverage. One OS
    process runs the STREAMING maintainer (drain loop through the
    Python Data Source, lock taken per batch inside foreachBatch);
    another tight-loops the POLLING refresh() against the SAME rollup
    path, while a third process merges live waves into the source.
    The REFRESH_LOCK must serialize them — at least one side rides a
    surfaced ConcurrentRefreshError (a failed streaming batch leaves
    the stream checkpoint mid-batch; the replay protocol must absorb
    the re-delivery) — no lock file may leak, and the final summary
    must equal the from-scratch GROUP BY: the double-count an
    unserialized interleaving (or a replayed-and-refolded batch)
    would produce is the failure mode under test."""
    rng = random.Random(seed)
    waves, _expect = _gen_ops(rng, 1, n_waves=12, rows_per_wave=10)

    src_path = str(tmp_path / "sivm_src")
    roll_path = str(tmp_path / "sivm_roll")
    ck_path = str(tmp_path / "sivm_ck")
    go_file = str(tmp_path / "GO")
    stop_file = str(tmp_path / "STOP")
    env = _worker_env()

    writer_py = tmp_path / "writer.py"
    writer_py.write_text(_SRC_WRITER)
    maint_py = tmp_path / "maintainer.py"
    maint_py.write_text(_MAINTAINER)
    stream_py = tmp_path / "stream_maint.py"
    stream_py.write_text(_STREAM_MAINT)

    wf = tmp_path / "waves.json"
    wf.write_text(json.dumps(waves[0]))
    w_stats = str(tmp_path / "stats_writer.json")
    writer = subprocess.Popen(
        [sys.executable, str(writer_py), REPO, src_path, str(wf),
         go_file, w_stats],
        env=env, cwd=str(tmp_path),
        stdout=subprocess.PIPE, stderr=subprocess.PIPE)

    p_stats = str(tmp_path / "stats_poll.json")
    poller = subprocess.Popen(
        [sys.executable, str(maint_py), REPO, "0", src_path,
         roll_path, ck_path, go_file, stop_file, p_stats],
        env=env, cwd=str(tmp_path),
        stdout=subprocess.PIPE, stderr=subprocess.PIPE)
    s_stats = str(tmp_path / "stats_stream.json")
    streamer = subprocess.Popen(
        [sys.executable, str(stream_py), REPO, src_path, roll_path,
         ck_path, str(tmp_path / "stream_ck"), go_file, stop_file,
         s_stats],
        env=env, cwd=str(tmp_path),
        stdout=subprocess.PIPE, stderr=subprocess.PIPE)

    ready = [w_stats, p_stats, s_stats]
    deadline = time.time() + 240 * _patience()
    while time.time() < deadline:
        if all(os.path.exists(s + ".ready") for s in ready):
            break
        time.sleep(0.2)
    with open(go_file, "w") as f:
        f.write("go")

    out, err = writer.communicate(timeout=420 * _patience())
    assert writer.returncode == 0, err.decode()[-3000:]
    with open(stop_file, "w") as f:
        f.write("stop")
    for p, tag in ((poller, "poller"), (streamer, "streamer")):
        try:
            out, err = p.communicate(timeout=600 * _patience())
        except subprocess.TimeoutExpired:
            p.kill()
            pytest.fail(f"{tag} hung")
        assert p.returncode == 0, (tag, err.decode()[-3000:])

    poll = json.load(open(p_stats))
    stream = json.load(open(s_stats))
    assert stream["drains"] >= 1, stream
    # the two schedules really collided on the REFRESH_LOCK
    assert poll["lock_conflicts"] + stream["lock_conflicts"] >= 1, (
        poll, stream)
    assert not os.path.exists(os.path.join(ck_path, "REFRESH_LOCK"))

    from pyspark.sql import functions as F

    from transactional_datalake_using_apache_iceberg_on_aws_glue_spark.lake import (
        MaterializedRollup,
        ParquetLakeTable,
    )

    src = ParquetLakeTable(spark, src_path, key_cols=["trans_id"],
                           partition_col="event")
    roll = MaterializedRollup(src, roll_path, ck_path,
                              group_cols=["event"], sum_cols=["amount"])
    roll.refresh()  # no-op or tail drain; also proves the lock is free
    got = {r["event"]: (r["n_rows"], r["sum_amount"])
           for r in roll.read().collect()}
    expect = {r["event"]: (r["n"], r["s"])
              for r in src.read_data().groupBy("event").agg(
                  F.count("*").alias("n"),
                  F.sum("amount").cast("long").alias("s")).collect()}
    assert got == expect


@pytest.mark.parametrize("seed", [41])
def test_cross_process_ivm_maintainers_race_soak(spark, tmp_path, seed):
    """Two REAL maintainer processes tight-looping refresh() against a
    live writer: the REFRESH_LOCK must serialize them (>=1 surfaced
    ConcurrentRefreshError proves the race happened), no lock file may
    leak, and the final summary must equal the from-scratch GROUP BY —
    the double-count an unlocked interleaving would produce is the
    failure mode under test."""
    rng = random.Random(seed)
    waves, _expect = _gen_ops(rng, 1, n_waves=10, rows_per_wave=10)

    src_path = str(tmp_path / "ivm_src")
    roll_path = str(tmp_path / "ivm_roll")
    ck_path = str(tmp_path / "ivm_ck")
    go_file = str(tmp_path / "GO")
    stop_file = str(tmp_path / "STOP")
    env = _worker_env()

    writer_py = tmp_path / "writer.py"
    writer_py.write_text(_SRC_WRITER)
    maint_py = tmp_path / "maintainer.py"
    maint_py.write_text(_MAINTAINER)

    wf = tmp_path / "waves.json"
    wf.write_text(json.dumps(waves[0]))
    w_stats = str(tmp_path / "stats_writer.json")
    writer = subprocess.Popen(
        [sys.executable, str(writer_py), REPO, src_path, str(wf),
         go_file, w_stats],
        env=env, cwd=str(tmp_path),
        stdout=subprocess.PIPE, stderr=subprocess.PIPE)

    maints, m_stats = [], []
    for mid in range(2):
        sf = str(tmp_path / f"stats_m{mid}.json")
        m_stats.append(sf)
        maints.append(subprocess.Popen(
            [sys.executable, str(maint_py), REPO, str(mid), src_path,
             roll_path, ck_path, go_file, stop_file, sf],
            env=env, cwd=str(tmp_path),
            stdout=subprocess.PIPE, stderr=subprocess.PIPE))

    ready = [w_stats] + m_stats
    deadline = time.time() + 240 * _patience()
    while time.time() < deadline:
        if all(os.path.exists(s + ".ready") for s in ready):
            break
        time.sleep(0.2)
    with open(go_file, "w") as f:
        f.write("go")

    out, err = writer.communicate(timeout=420 * _patience())
    assert writer.returncode == 0, err.decode()[-3000:]
    with open(stop_file, "w") as f:
        f.write("stop")
    for p in maints:
        try:
            out, err = p.communicate(timeout=420 * _patience())
        except subprocess.TimeoutExpired:
            p.kill()
            pytest.fail("maintainer hung")
        assert p.returncode == 0, err.decode()[-3000:]

    stats = [json.load(open(s)) for s in m_stats]
    assert sum(s["refreshes"] for s in stats) >= 2, stats
    assert sum(s["lock_conflicts"] for s in stats) >= 1, (
        "the maintainers never actually collided", stats)
    assert not os.path.exists(os.path.join(ck_path, "REFRESH_LOCK"))

    # final summary == from-scratch GROUP BY (no double-count)
    from pyspark.sql import functions as F

    from transactional_datalake_using_apache_iceberg_on_aws_glue_spark.lake import (
        MaterializedRollup,
        ParquetLakeTable,
    )

    src = ParquetLakeTable(spark, src_path, key_cols=["trans_id"],
                           partition_col="event")
    roll = MaterializedRollup(src, roll_path, ck_path,
                              group_cols=["event"], sum_cols=["amount"])
    roll.refresh()  # no-op or tail drain; also proves the lock is free
    got = {r["event"]: (r["n_rows"], r["sum_amount"])
           for r in roll.read().collect()}
    expect = {r["event"]: (r["n"], r["s"])
              for r in src.read_data().groupBy("event").agg(
                  F.count("*").alias("n"),
                  F.sum("amount").cast("long").alias("s")).collect()}
    assert got == expect
