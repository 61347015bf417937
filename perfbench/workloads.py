"""The benchmark's two closed-loop workloads and their correctness gate.

Every workload is one single-threaded client (the reference's single
streaming writer): it sends the next operation only after the previous
one returned. All engine calls go through the package's public API.

- ``cow_ingest``: the reference pipeline. Each cycle applies one CDC
  batch to a copy-on-write table ``PARTITIONED BY event`` and runs one
  aggregate SQL read; snapshots expire every 4 batches.
- ``mor_read_heavy``: the same stream into a merge-on-read table with
  ``maybe_compact(max_deltas=8)``. After each batch, two reads of the
  mix (aggregate, key IN lookup, ``trans_datetime`` range,
  ``VERSION AS OF`` an old version), and every 4th batch one SQL
  UPDATE or DELETE by key. A run covers whole compaction cycles.

In the traced run both also keep two rollups of the table (rows and
amount by ``event``) up to date once per maintenance cycle: a polling
``MaterializedRollup.refresh`` on one, and a
``StreamingRollupMaintainer.drain`` on a twin with its own directories
(one rollup under both schedules would race).
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import statistics
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from transactional_datalake_using_apache_iceberg_on_aws_glue_spark.cdc import (
    apply_cdc_batch,
    flatten_envelope,
    latest_per_key,
    read_envelope_json,
)
from transactional_datalake_using_apache_iceberg_on_aws_glue_spark.lake import (
    MaterializedRollup,
    MergeSqlRunner,
    ParquetLakeTable,
    StreamingRollupMaintainer,
)

import gen
from spans import ProgressRecorder

ROW_COLS = ["trans_id", "customer_id", "event", "sku", "amount", "device", "trans_datetime"]
AGG_SQL = ("SELECT event, count(*) AS n, sum(amount) AS s "
           "FROM retail_trans GROUP BY event")
#: the first set-up is the JVM's cold start; with four the median never is
SETUP_REPS = 4


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _dir_files(dirs: list[str]) -> dict[str, int]:
    out = {}
    for d in dirs:
        for root, _, files in os.walk(d):
            for f in files:
                p = os.path.join(root, f)
                out[p] = os.path.getsize(p)
    return out


def _frame_hash(df: pd.DataFrame) -> int:
    """Order-insensitive hash of a frame's rows."""
    return int(pd.util.hash_pandas_object(df, index=False).sum())


def _normalise(df: pd.DataFrame) -> pd.DataFrame:
    df = df[ROW_COLS].copy()
    for c in ("trans_id", "amount"):
        df[c] = df[c].astype("int64")
    ts = df["trans_datetime"]
    if getattr(ts.dt, "tz", None) is not None:
        ts = ts.dt.tz_convert("UTC").dt.tz_localize(None)
    df["trans_datetime"] = ts.astype("datetime64[us]").astype("int64")
    for c in ("customer_id", "event", "sku", "device"):
        df[c] = df[c].astype(str)
    return df


def _ts(t64) -> dt.datetime:
    return pd.Timestamp(t64).to_pydatetime()


class Ctx:
    """One run's shared state: session, tracer, samples, failures.

    ``samples`` hold seconds per operation type (end-to-end) and ms per
    layer span (traced run); ``counts`` hold per-operation counts."""

    def __init__(self, spark, work: str, inputs: str, tracer):
        self.spark = spark
        self.work = work
        self.inputs = inputs
        self.tracer = tracer
        self.progress = None  # stream progress listener, traced runs only
        self.recording = False
        self.samples: dict[str, list[float]] = {}
        self.counts: dict[str, list[float]] = {}
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.phases: dict[str, float] = {}
        self.setup_s: list[float] = []
        self.warm_cycle_s: list[float] = []

    def add(self, name: str, value: float) -> None:
        if self.recording:
            self.samples.setdefault(name, []).append(value)

    def count(self, name: str, value: float) -> None:
        if self.recording:
            self.counts.setdefault(name, []).append(value)

    def fail(self, what: str) -> None:
        self.failed += 1
        self.problems.append(what)

    def timed(self, name: str, fn, *args):
        """Run one operation: time it and, when traced, give it a span
        and count its Spark jobs."""
        tr = self.tracer
        tr.next_op()
        self.attempted += 1
        t0 = time.perf_counter()
        with tr.span(name) as rec:
            out = fn(*args)
        self.last_s = time.perf_counter() - t0
        self.add(name, self.last_s)
        if rec is not None:
            self.count(f"spark.jobs.{name}", tr.total_jobs(rec))
        return out


class TableWorkload:
    """A CDC stream applied to one lake table, cycle by cycle."""

    name = ""
    merge_mode = "cow"
    sizes: gen.Sizes
    #: cycles applied before the timed loop and excluded from every
    #: statistic: a fresh JVM runs its first applies at 1.5-4x their
    #: steady time and keeps speeding up for several more
    warm_cycles = 2

    def __init__(self, ctx: Ctx, seed: int, sizes: gen.Sizes, tag: str):
        self.ctx = ctx
        self.spark = ctx.spark
        self.sizes = sizes
        self.stream = gen.CdcStream(ctx.inputs, seed, sizes)
        self.rng = np.random.default_rng([seed, 7])
        self.dir = os.path.join(ctx.work, tag)
        shutil.rmtree(self.dir, ignore_errors=True)
        os.makedirs(self.dir)
        self.applied = 0  # batches applied
        self.first_recorded = 0  # first batch applied while recording
        self.envelopes = 0  # envelopes applied while recording
        self.write_s = 0.0  # write-path wall time while recording
        self.cycle_s = 0.0  # cycle wall time while recording
        self.runner = MergeSqlRunner(self.spark)
        self.checks: list = []  # (what, got, want) from this cycle's reads
        self.dml: dict[int, str] = {}  # reserved key -> "update" | "delete"
        self.seen_files: dict[str, int] = {}
        self.bytes_added = 0
        self.compact_bytes = 0
        self.since_expire = 0  # batches since snapshots last expired
        self.end_of_cycle = False  # a run may stop after this cycle

    # -- set-up --------------------------------------------------------------

    def setup(self) -> None:
        initial = self.spark.read.parquet(self.stream.initial_path())
        self.table = ParquetLakeTable(self.spark, os.path.join(self.dir, "t"),
                                      partition_col="event", merge_mode=self.merge_mode)
        self.table.create(initial)
        self.runner.register("retail_trans", self.table)
        self.rollup = self.twin = None

    def start_rollups(self) -> None:
        """Traced run only: bootstrap both rollups on the current table
        and start the stream at its head, so the stream's cursor and the
        twin's advance in lockstep from the first drain."""
        self.rollup = self._rollup("rollup")
        self.rollup.refresh()
        self.twin = self._rollup("twin")
        self.twin.refresh()
        self.ctx.progress = ProgressRecorder()
        self.spark.streams.addListener(self.ctx.progress)
        self.maintainer = StreamingRollupMaintainer(self.twin, initial="latest")
        self.maintainer.drain()
        self.ctx.progress.take(terminated=1)  # this drain's events are set-up

    def _rollup(self, name: str) -> MaterializedRollup:
        return MaterializedRollup(self.table, os.path.join(self.dir, name),
                                  os.path.join(self.dir, name + "_ck"),
                                  group_cols=["event"], sum_cols=["amount"])

    def data_dirs(self) -> list[str]:
        return [self.table.path]

    def after_warm_up(self) -> None:
        """One maintenance step, so the timed cycles start a maintenance
        cycle."""
        raise NotImplementedError

    def start_recording(self) -> None:
        self.seen_files = _dir_files(self.data_dirs())
        self.first_recorded = self.applied
        self.ctx.recording = True

    def track_files(self) -> int:
        """Add the sizes of data files that appeared since the last call."""
        now = _dir_files(self.data_dirs())
        new = sum(size for p, size in now.items()
                  if p not in self.seen_files and p.endswith(".parquet"))
        self.seen_files.update(now)
        if self.ctx.recording:
            self.bytes_added += new
        return new

    # -- the write path --------------------------------------------------------

    def write_op(self, name: str, fn, *args):
        out = self.ctx.timed(name, fn, *args)
        if self.ctx.recording:
            self.write_s += self.ctx.last_s
        return out

    def apply(self, i: int) -> None:
        path = self.stream.batch_path(i)
        if self.ctx.tracer.on:
            before = self._live_files()
            self.write_op("apply", self._apply_stages, path)
            self._merge_counts(before)
        else:
            self.write_op("apply", lambda: apply_cdc_batch(
                read_envelope_json(self.spark, path), self.table))
        if self.ctx.recording:
            self.envelopes += self.sizes.batch
        self.applied += 1

    def _apply_stages(self, path: str) -> None:
        """``apply_cdc_batch`` split into its layers' public calls, each
        stage forced so its span holds its own work."""
        ctx, tr = self.ctx, self.ctx.tracer
        with tr.span("cdc.envelope") as env_rec:
            env = read_envelope_json(self.spark, path)
            if not env.filter(F.col("data").isNull()).isEmpty():
                ctx.fail(f"{path}: unparseable envelopes")
            flat = flatten_envelope(
                env.filter(F.col("data").isNotNull()).drop("_corrupt_record")).persist()
            n_in = flat.count()
        with tr.span("cdc.dedup") as dedup_rec:
            deduped = latest_per_key(flat, key_cols=self.table.key_cols).persist()
            n_out = deduped.count()
        with tr.span("lake.table.merge") as merge_rec:
            self.table.merge(deduped)
        deduped.unpersist()
        flat.unpersist()
        stages = {"envelope": env_rec, "dedup": dedup_rec, "merge": merge_rec}
        total = sum(tr.ms(r) for r in stages.values())
        ctx.add("apply.stages", total)
        for stage, rec in stages.items():
            ctx.add(f"apply.{stage}.share", 100.0 * tr.ms(rec) / total)
        ctx.add("cdc.envelope", tr.ms(env_rec))
        ctx.count("cdc.envelope.rows", n_in)
        ctx.add("cdc.dedup", tr.ms(dedup_rec))
        ctx.count("cdc.dedup.keep_frac", n_out / n_in)
        ctx.add("lake.table.merge", tr.ms(merge_rec))
        ctx.count("lake.table.merge.jobs", tr.total_jobs(merge_rec))

    def _live_files(self) -> dict:
        """``(layer dir, relpath) -> (partition, bytes)`` of the current snapshot."""
        return {(r["dirname"], r["relpath"]): (r["partition"], r["size_bytes"])
                for r in self.table.metadata("files").collect()}

    def _merge_counts(self, before: dict) -> None:
        after = self._live_files()
        added = set(after) - set(before)
        ctx = self.ctx
        ctx.count("lake.table.merge.files_added", len(added))
        ctx.count("lake.table.merge.files_removed", len(set(before) - set(after)))
        ctx.count("lake.table.merge.bytes_written", sum(after[f][1] for f in added))
        ctx.count("lake.table.merge.partitions_touched", len({after[f][0] for f in added}))

    def expire(self, keep_last: int) -> None:
        self.write_op("expire", self.table.expire_snapshots, keep_last)

    def upkeep(self) -> None:
        """Traced run only: bring both rollups to the table's head, a
        polling refresh, then a stream drain on the twin. Runs before
        snapshots expire, so neither cursor points at an expired
        version. Kept off the write path, so the traced end-to-end
        numbers stay comparable with the untraced ones."""
        if self.rollup is None:
            return
        ctx = self.ctx
        ctx.timed("refresh", self.rollup.refresh)
        mark = ctx.progress.terminated
        ctx.timed("drain", self.maintainer.drain)
        events = ctx.progress.take(terminated=mark + 1)
        trigger_ms = sum(e["durationMs"].get("triggerExecution", 0) for e in events)
        ctx.add("sources.lake_stream.init", ctx.last_s * 1000.0 - trigger_ms)
        ctx.count("sources.lake_stream.batches", len(events))
        ctx.count("sources.lake_stream.rows", sum(e["rows"] for e in events))

    # -- reads --------------------------------------------------------------------

    def sql_read(self, statement: str, filters=(), as_of=None):
        """One SQL read, forced by collecting its (small) result."""
        ctx, tr = self.ctx, self.ctx.tracer
        if not tr.on:
            return ctx.timed("read", lambda: self.runner.query(statement).collect())

        def stages():
            with tr.span("lake.merge_sql.plan") as rec:
                df = self.runner.query(statement)
            ctx.add("lake.merge_sql.plan", tr.ms(rec))
            with tr.span("lake.scan.plan") as rec:
                plan = self.table.plan_scan(filters, as_of_version=as_of)
            ctx.add("lake.scan.plan", tr.ms(rec))
            ctx.count("lake.scan.files_kept_frac",
                      plan["files_kept"] / max(plan["files_total"], 1))
            return df.collect()

        # the deltas outstanding on the live table when the read runs,
        # before any predicate pruning
        ctx.count("lake.table.read.deltas", self.table.plan_scan()["deltas_total"])
        return ctx.timed("read", stages)

    def forced_read(self) -> None:
        """Traced run only: one forced ``read_data`` of the table, once
        per cycle and outside the cycle's clock."""
        tr = self.ctx.tracer
        with tr.span("lake.table.read") as rec:
            _force(self.table.read_data())
        self.ctx.add("lake.table.read", tr.ms(rec))

    # -- the oracle, adjusted for SQL DML on reserved keys --------------------------

    def expected_state(self):
        """``(state, live, amount)`` after the applied batches, with the
        SQL DML applied to copies of ``live`` and ``amount``."""
        st = self.stream.state_after(self.applied)
        live, amount = st.live.copy(), st.amount.copy()
        for k, op in self.dml.items():
            if op == "update":
                amount[k] += 1
            else:
                live[k] = False
        return st, live, amount

    def expected_agg(self) -> dict:
        st, live, amount = self.expected_state()
        codes = st.event[live]
        n = np.bincount(codes)
        s = np.bincount(codes, weights=amount[live].astype(np.float64))
        labels = self.stream.event_labels(np.arange(len(n)))
        return {labels[c]: (int(n[c]), int(s[c])) for c in range(len(n)) if n[c]}

    def expected_frame(self) -> pd.DataFrame:
        st, live, amount = self.expected_state()
        keys = np.flatnonzero(live)
        return _normalise(pd.DataFrame({
            "trans_id": keys,
            "customer_id": gen.customer_ids(keys),
            "event": self.stream.event_labels(st.event[keys]),
            "sku": gen.skus(keys),
            "amount": amount[keys],
            "device": np.array(gen.DEVICES, dtype=object)[st.device[keys]],
            "trans_datetime": gen.trans_datetime(keys),
        }))

    def check_agg(self, rows) -> None:
        got = {r[0]: (int(r[1]), int(r[2])) for r in rows}
        self.checks.append(("aggregate by event", got, self.expected_agg()))

    # -- cycles ------------------------------------------------------------------------

    def cycle(self, i: int) -> None:
        raise NotImplementedError

    def validate(self) -> None:
        """Untimed: compare what this cycle's reads returned with the oracle."""
        for what, got, want in self.checks:
            if got != want:
                self.ctx.fail(f"{self.name}: {what} differs from the oracle "
                              f"after batch {self.applied}")
        self.checks.clear()

    # -- the gate and the end metrics ------------------------------------------------

    def gate(self) -> None:
        """Final table == oracle: same key set and same row hash."""
        self.ctx.attempted += 1
        got = _normalise(self.table.read_data().toPandas())
        want = self.expected_frame()
        if set(got["trans_id"]) != set(want["trans_id"]):
            self.ctx.fail(f"{self.name}: final key set differs from the oracle "
                          f"({len(got)} vs {len(want)} rows)")
        elif _frame_hash(got) != _frame_hash(want):
            self.ctx.fail(f"{self.name}: final rows differ from the oracle")
        # traced run: each rollup, brought to the head (the timed loop
        # may end with a SQL DML after its last upkeep), equals a direct
        # GROUP BY over the table at the rollup's version, and the
        # oracle's rollup of the final table
        if self.rollup is None:
            return
        if self.rollup.position() < self.table.current_version():
            self.upkeep()
        want = self.expected_agg()
        for name, roll in (("rollup", self.rollup), ("twin", self.twin)):
            self.ctx.attempted += 1
            got = {r["event"]: (int(r["n_rows"]), int(r["sum_amount"]))
                   for r in roll.read().collect()}
            direct = {r[0]: (int(r[1]), int(r[2])) for r in (
                self.table.read_data(as_of_version=roll.position())
                .groupBy("event").agg(F.count(F.lit(1)), F.sum("amount")).collect())}
            if got != direct or got != want:
                self.ctx.fail(f"{self.name}: {name} differs from GROUP BY over the table")

    def change_bytes(self) -> int:
        """Bytes of the applied deduped change rows, each batch written
        once as a parquet file."""
        total = 0
        path = os.path.join(self.dir, "_change.parquet")
        for i in range(self.first_recorded, self.applied):
            env = self.stream.batch_envelopes(i)
            win = gen.winning_envelopes(env)
            keys = env["key"][win]
            pq.write_table(pa.table({
                "trans_id": keys,
                "customer_id": gen.customer_ids(keys),
                "event": self.stream.event_labels(env["event"][win]).tolist(),
                "sku": gen.skus(keys),
                "amount": env["amount"][win],
                "device": [gen.DEVICES[d] for d in env["device"][win].tolist()],
                "trans_datetime": pa.array(
                    gen.trans_datetime(keys).astype("datetime64[us]"),
                    pa.timestamp("us", tz="UTC")),
            }), path)
            total += os.path.getsize(path)
        os.remove(path)
        return total

    def live_bytes(self) -> int:
        """Bytes of the live rows written once as one compacted parquet file."""
        path = os.path.join(self.dir, "_live.parquet")
        pq.write_table(pa.Table.from_pandas(self.expected_frame(), preserve_index=False), path)
        n = os.path.getsize(path)
        os.remove(path)
        return n

    def amplification(self) -> dict:
        table_bytes = sum(_dir_files([self.table.path]).values())
        return {"write_amp": self.bytes_added / self.change_bytes(),
                "space_amp": table_bytes / self.live_bytes()}

    def table_counts(self) -> dict:
        manifest = os.path.join(self.table.path, "_versions",
                                f"v{self.table.current_version():06d}.json")
        return {"lake.table.versions": len(self.table.history()),
                "lake.table.manifest_bytes": os.path.getsize(manifest)}


EVENT_SIZES = gen.Sizes(keys=120_000, batch=12_000, recent_scale=12_000)


class CowIngest(TableWorkload):
    name = "cow_ingest"
    sizes = EVENT_SIZES
    warm_cycles = 3
    #: batches per expiry cycle
    EXPIRE_EVERY = 4

    def after_warm_up(self) -> None:
        """Expire once, so the timed cycles start an expiry cycle."""
        self.table.expire_snapshots(keep_last=2)
        self.since_expire = 0

    def cycle(self, i: int) -> None:
        self.apply(i)
        # the per-batch compaction check a streaming writer makes; a
        # no-op on a COW table, which has no delta backlog
        self.write_op("compact", self.table.maybe_compact, 8)
        # a run ends only after an expiry, so the bytes on disk at its
        # end do not depend on where it stops
        self.since_expire += 1
        self.end_of_cycle = self.since_expire == self.EXPIRE_EVERY
        if self.end_of_cycle:
            self.upkeep()
            self.expire(keep_last=2)
            self.since_expire = 0
        self.check_agg(self.sql_read(AGG_SQL))


class MorReadHeavy(TableWorkload):
    name = "mor_read_heavy"
    merge_mode = "mor"
    sizes = EVENT_SIZES
    READS = ("aggregate", "lookup", "range", "as_of")
    #: VERSION AS OF reads reach this many commits back, past the
    #: table's 4-entry manifest memo
    AS_OF_BACK = 6

    def setup(self) -> None:
        super().setup()
        self.versions: dict[int, tuple] = {}
        self.note_version()
        self.n_dml = 0

    def after_warm_up(self) -> None:
        """Compact once, so the timed cycles start a compaction cycle."""
        self.table.compact()
        self.note_version()

    def note_version(self) -> None:
        """Remember the expected (count, sum) at the current version."""
        _, live, amount = self.expected_state()
        self.versions[self.table.current_version()] = (
            int(live.sum()), int(amount[live].sum()))

    def cycle(self, i: int) -> None:
        self.apply(i)
        self.note_version()
        self.track_files()
        compacted = self.write_op("compact", self.table.maybe_compact, 8)
        if compacted:
            if self.ctx.recording:
                self.compact_bytes += self.track_files()
            self.note_version()
            self.upkeep()
            self.expire(keep_last=10)
        self.end_of_cycle = compacted
        if i % 4 == 3:
            self.sql_dml()
        for r in (2 * i, 2 * i + 1):
            getattr(self, "read_" + self.READS[r % len(self.READS)])()

    def sql_dml(self) -> None:
        key = 999 + 1000 * self.n_dml
        op = ("update", "delete")[self.n_dml % 2]
        self.n_dml += 1
        stmt = (f"UPDATE retail_trans SET amount = amount + 1 WHERE trans_id = {key}"
                if op == "update" else f"DELETE FROM retail_trans WHERE trans_id = {key}")
        self.ctx.timed("dml", self.runner.sql, stmt)
        self.dml[key] = op
        self.note_version()

    def read_aggregate(self) -> None:
        self.check_agg(self.sql_read(AGG_SQL))

    def _recent_keys(self, n: int) -> np.ndarray:
        top = self.stream.state_after(self.applied).next_key
        return np.sort(self.rng.choice(np.arange(top - 5000, top), n, replace=False))

    def read_lookup(self) -> None:
        keys = self._recent_keys(20)
        rows = self.sql_read(
            "SELECT trans_id, event, amount FROM retail_trans WHERE trans_id IN ("
            + ", ".join(map(str, keys.tolist())) + ")",
            filters=[("trans_id", "in", keys.tolist())])
        st, live, amount = self.expected_state()
        hit = keys[live[keys]]
        labels = self.stream.event_labels(st.event[hit]) if len(hit) else []
        want = {int(k): (lab, int(amount[k])) for k, lab in zip(hit, labels)}
        got = {int(r[0]): (r[1], int(r[2])) for r in rows}
        self.checks.append(("key IN lookup", got, want))

    def read_range(self) -> None:
        top = self.stream.state_after(self.applied).next_key
        hi = top - int(self.rng.integers(0, 2000))
        lo = hi - 3000
        t_lo, t_hi = gen.trans_datetime(np.array([lo, hi]))
        rows = self.sql_read(
            "SELECT count(*) AS n, coalesce(sum(amount), 0) AS s FROM retail_trans "
            f"WHERE trans_datetime >= TIMESTAMP '{t_lo}' AND trans_datetime < TIMESTAMP '{t_hi}'",
            filters=[("trans_datetime", ">=", _ts(t_lo)), ("trans_datetime", "<", _ts(t_hi))])
        _, live, amount = self.expected_state()
        sel = np.flatnonzero(live[lo:hi]) + lo
        self.checks.append(("trans_datetime range", (int(rows[0][0]), int(rows[0][1])),
                            (len(sel), int(amount[sel].sum()))))

    def read_as_of(self) -> None:
        known = sorted(self.versions)
        v = known[max(0, len(known) - 1 - self.AS_OF_BACK)]
        rows = self.sql_read(
            f"SELECT count(*) AS n, sum(amount) AS s FROM retail_trans VERSION AS OF {v}",
            as_of=v)
        self.checks.append((f"VERSION AS OF {v}", (int(rows[0][0]), int(rows[0][1])),
                            self.versions[v]))


WORKLOADS = {w.name: w for w in (CowIngest, MorReadHeavy)}


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def run(ctx: Ctx, cls, seed: int, seconds: float) -> tuple[dict, dict]:
    """Set up ``SETUP_REPS`` times (once when traced), warm up, run the
    closed loop, gate.

    Returns the end-to-end metrics and, when traced, the per-layer ones."""
    clock = time.perf_counter()
    setup_s = []
    traced = ctx.tracer.on
    # the traced run reports no setup_s, so it sets up once
    reps = 1 if traced else SETUP_REPS
    for r in range(reps):
        w = cls(ctx, seed, cls.sizes, f"run{r}")
        w.stream.initial_path()  # input generation stays outside the clock
        t0 = time.perf_counter()
        w.setup()
        setup_s.append(time.perf_counter() - t0)
        if r < reps - 1:
            shutil.rmtree(w.dir, ignore_errors=True)
    ctx.phases["set_up"] = time.perf_counter() - clock
    ctx.setup_s = setup_s

    # warm-up: the first cycles of a fresh JVM run at 1.5-3x their
    # steady time; they are applied but excluded from every statistic
    clock = time.perf_counter()
    for i in range(cls.warm_cycles):
        w.stream.batch_path(i)
        t0 = time.perf_counter()
        w.cycle(i)
        ctx.warm_cycle_s.append(time.perf_counter() - t0)
        w.validate()
    w.after_warm_up()
    ctx.phases["warm_up"] = time.perf_counter() - clock
    if traced:
        clock = time.perf_counter()
        w.start_rollups()
        ctx.phases["rollups"] = time.perf_counter() - clock

    clock = time.perf_counter()
    w.start_recording()
    i = cls.warm_cycles
    while True:
        w.stream.batch_path(i)  # input generation stays outside the clock
        t0 = time.perf_counter()
        w.cycle(i)
        w.cycle_s += time.perf_counter() - t0
        if traced:
            w.forced_read()
        w.track_files()
        w.validate()
        i += 1
        # the traced run covers one maintenance cycle, whatever its length
        if w.end_of_cycle and (traced or w.cycle_s >= seconds):
            break
    ctx.recording = False
    ctx.phases["loop"] = time.perf_counter() - clock
    clock = time.perf_counter()
    w.gate()

    s = ctx.samples
    e2e = {
        "setup_s": _median(setup_s),
        "ingest_rows_per_s": w.envelopes / w.write_s,
        "apply_s.p50": _median(s["apply"]),
        "read_ms.p50": 1000.0 * _median(s["read"]),
        **w.amplification(),
    }
    ctx.phases["gate"] = time.perf_counter() - clock
    clock = time.perf_counter()
    layers = layer_metrics(ctx, w, e2e) if traced else {}
    ctx.phases["end_metrics"] = time.perf_counter() - clock
    return e2e, layers


def layer_metrics(ctx: Ctx, w: TableWorkload, e2e: dict) -> dict:
    s, c = ctx.samples, ctx.counts

    def total(name):
        return sum(s.get(name, []))

    def med(name):
        return _median(s.get(name, []))

    def cmed(name):
        return _median(c.get(name, []))

    def share(part, whole):
        return 100.0 * part / whole if whole else 0.0

    out = {
        "cdc.envelope.ms": med("cdc.envelope"),
        "cdc.envelope.rows_per_s": sum(c.get("cdc.envelope.rows", []))
        / (total("cdc.envelope") / 1000.0),
        "cdc.dedup.ms": med("cdc.dedup"),
        "cdc.dedup.keep_frac": cmed("cdc.dedup.keep_frac"),
        "lake.table.merge.ms": med("lake.table.merge"),
        "lake.table.merge.jobs": cmed("lake.table.merge.jobs"),
        "lake.table.merge.files_added": cmed("lake.table.merge.files_added"),
        "lake.table.merge.files_removed": cmed("lake.table.merge.files_removed"),
        "lake.table.merge.bytes_written": cmed("lake.table.merge.bytes_written"),
        "lake.table.merge.partitions_touched": cmed("lake.table.merge.partitions_touched"),
        **w.table_counts(),
        "lake.table.read.ms": med("lake.table.read"),
        "lake.table.read.deltas": cmed("lake.table.read.deltas"),
        "lake.table.expire.ms": 1000.0 * med("expire"),
        # maybe_compact runs once a batch; its mean holds the compactions
        "lake.table.compact.ms": 1000.0 * statistics.mean(s["compact"]),
        "lake.table.compact.bytes_rewritten": float(w.compact_bytes),
        "lake.scan.plan_ms": med("lake.scan.plan"),
        "lake.scan.files_kept_frac": statistics.mean(c["lake.scan.files_kept_frac"]),
        "lake.merge_sql.plan_ms": med("lake.merge_sql.plan"),
        "lake.merge_sql.dml.share": share(total("dml"), w.cycle_s),
        "apply.stages.ms": med("apply.stages"),
        "apply.envelope.share": med("apply.envelope.share"),
        "apply.dedup.share": med("apply.dedup.share"),
        "apply.merge.share": med("apply.merge.share"),
        "trace.apply_s.p50": e2e["apply_s.p50"],
        "trace.read_ms.p50": e2e["read_ms.p50"],
        "trace.ingest_rows_per_s": e2e["ingest_rows_per_s"],
        "lake.materialized.refresh_ms": 1000.0 * med("refresh"),
        "lake.materialized.refresh_jobs": cmed("spark.jobs.refresh"),
        "sources.lake_stream.drain_ms": 1000.0 * med("drain"),
        "sources.lake_stream.init_ms": med("sources.lake_stream.init"),
        "sources.lake_stream.batches": cmed("sources.lake_stream.batches"),
        "sources.lake_stream.rows": cmed("sources.lake_stream.rows"),
    }
    for op in ("apply", "read", "expire", "dml"):
        out[f"spark.jobs.{op}"] = cmed(f"spark.jobs.{op}")
    # maybe_compact is timed on every batch but compacts on few of them
    out["spark.jobs.compact"] = float(max(c.get("spark.jobs.compact", [0])))
    return out


LAYER_UNITS = {
    "cdc.envelope.ms": "ms",
    "cdc.envelope.rows_per_s": "1/s",
    "cdc.dedup.ms": "ms",
    "cdc.dedup.keep_frac": "frac",
    "lake.table.merge.ms": "ms",
    "lake.table.merge.jobs": "count",
    "lake.table.merge.files_added": "count",
    "lake.table.merge.files_removed": "count",
    "lake.table.merge.bytes_written": "bytes",
    "lake.table.merge.partitions_touched": "count",
    "lake.table.versions": "count",
    "lake.table.manifest_bytes": "bytes",
    "lake.table.read.ms": "ms",
    "lake.table.read.deltas": "count",
    "lake.table.expire.ms": "ms",
    "lake.table.compact.ms": "ms",
    "lake.table.compact.bytes_rewritten": "bytes",
    "lake.scan.plan_ms": "ms",
    "lake.scan.files_kept_frac": "frac",
    "lake.merge_sql.plan_ms": "ms",
    "lake.merge_sql.dml.share": "%",
    "apply.stages.ms": "ms",
    "apply.envelope.share": "%",
    "apply.dedup.share": "%",
    "apply.merge.share": "%",
    "trace.apply_s.p50": "s",
    "trace.read_ms.p50": "ms",
    "trace.ingest_rows_per_s": "1/s",
    "lake.materialized.refresh_ms": "ms",
    "lake.materialized.refresh_jobs": "count",
    "sources.lake_stream.drain_ms": "ms",
    "sources.lake_stream.init_ms": "ms",
    "sources.lake_stream.batches": "count",
    "sources.lake_stream.rows": "count",
    "spark.jobs.apply": "count",
    "spark.jobs.read": "count",
    "spark.jobs.expire": "count",
    "spark.jobs.dml": "count",
    "spark.jobs.compact": "count",
    "proc.peak_rss_mb": "MB",
}
