"""Seeded CDC input generator with a plain-Python (NumPy) oracle.

One stream of DMS-style JSON-lines batches per ``(seed, Sizes)``:

- op mix of about 30% insert, 60% update and 10% delete envelopes;
- duplicate keys within a batch (an insert followed by an update of
  the new key, repeated updates of hot keys, updates followed by the
  key's delete);
- late images: updates whose ``(timestamp, transaction-id)`` is older
  than the key's stored image, which the merge's out-of-order guard
  must reject;
- updates and deletes skewed toward recent (high) keys.

Initial keys ``k % 1000 == 999`` are reserved: no envelope ever touches
them, so SQL ``UPDATE``/``DELETE`` statements can target them without
racing the stream's images.

Rows carry the reference schema's six ``event`` values, and an update
may move a row to another event partition.

The oracle replays the same envelope arrays: per key, the envelope with
the highest sequence number wins, and it applies only when it is newer
than the stored image. Inputs are cached on disk per seed, so a second
run with the same seed skips generation.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENTS = ("visit", "view", "cart", "list", "like", "purchase")
DEVICES = ("pc", "mobile", "tablet")
OPS = ("insert", "update", "delete")
INSERT, UPDATE, DELETE = 0, 1, 2

#: op timestamps are BASE_TS + seq milliseconds; seq 0 is the initial load
BASE_TS = np.datetime64("2024-01-01T00:00:00.000000", "us")
#: trans_datetime is a function of the key: monotonic keys ~ time
BASE_TRANS = np.datetime64("2023-01-01T00:00:00", "s")
TRANS_STEP_S = 97


@dataclass(frozen=True)
class Sizes:
    keys: int  # rows of the initial table
    batch: int  # envelopes per batch
    recent_scale: float  # mean distance below the newest key of a touched key

    def tag(self) -> str:
        return f"k{self.keys}-b{self.batch}-r{int(self.recent_scale)}"


def trans_datetime(keys: np.ndarray) -> np.ndarray:
    return BASE_TRANS + keys.astype("timedelta64[s]") * TRANS_STEP_S


def _op_ts(seq: np.ndarray) -> np.ndarray:
    return BASE_TS + seq.astype("timedelta64[ms]")


def reserved(keys: np.ndarray, n_initial: int) -> np.ndarray:
    """Keys kept out of the stream for SQL DML (see module docstring)."""
    return (keys < n_initial) & (keys % 1000 == 999)


def customer_ids(keys: np.ndarray) -> list[str]:
    return [f"{100000000000 + (k * 7919) % 999983:012d}" for k in keys.tolist()]


def skus(keys: np.ndarray) -> list[str]:
    return [f"AB%{k % 997:03d}CDEF" for k in keys.tolist()]


def winning_envelopes(env: dict) -> np.ndarray:
    """Indices of each key's highest-seq envelope in a batch (the dedup)."""
    key = env["key"]
    order = np.lexsort((env["seq"], key))
    last = np.ones(len(order), dtype=bool)
    last[:-1] = key[order][1:] != key[order][:-1]
    return order[last]


class State:
    """Per-key table state as arrays indexed by key (the oracle)."""

    def __init__(self, capacity: int):
        self.live = np.zeros(capacity, dtype=bool)
        self.event = np.zeros(capacity, dtype=np.int32)
        self.amount = np.zeros(capacity, dtype=np.int32)
        self.device = np.zeros(capacity, dtype=np.int8)
        self.seq = np.full(capacity, -1, dtype=np.int64)
        self.next_key = 0
        self.next_seq = 1

    def grow(self, capacity: int) -> None:
        n = len(self.live)
        if capacity <= n:
            return
        pad = capacity - n
        self.live = np.concatenate([self.live, np.zeros(pad, bool)])
        self.event = np.concatenate([self.event, np.zeros(pad, np.int32)])
        self.amount = np.concatenate([self.amount, np.zeros(pad, np.int32)])
        self.device = np.concatenate([self.device, np.zeros(pad, np.int8)])
        self.seq = np.concatenate([self.seq, np.full(pad, -1, np.int64)])

    def apply(self, env: dict) -> None:
        """Apply one batch: the highest-seq envelope per key wins, and
        only if it is newer than the stored image."""
        key, seq = env["key"], env["seq"]
        win = winning_envelopes(env)
        win = win[seq[win] > self.seq[key[win]]]
        wk = key[win]
        self.seq[wk] = seq[win]
        self.live[wk] = env["op"][win] != DELETE
        self.event[wk] = env["event"][win]
        self.amount[wk] = env["amount"][win]
        self.device[wk] = env["device"][win]
        self.next_key = max(self.next_key, int(key.max()) + 1)
        self.next_seq = max(self.next_seq, int(seq.max()) + 1)

    def live_keys(self) -> np.ndarray:
        return np.flatnonzero(self.live)


class CdcStream:
    """Initial table plus an unbounded sequence of batches for one
    ``(seed, sizes)``. Batch ``i`` depends only on the seed, the sizes
    and ``i``; files are generated on first use and cached in ``root``."""

    def __init__(self, root: str, seed: int, sizes: Sizes):
        self.sizes = sizes
        self.seed = seed
        self.dir = os.path.join(root, f"{sizes.tag()}-s{seed}")
        os.makedirs(self.dir, exist_ok=True)
        self._state: State | None = None
        self._state_batches = 0  # batches folded into self._state

    # -- labels -------------------------------------------------------------

    def event_labels(self, codes: np.ndarray) -> np.ndarray:
        return np.array(EVENTS, dtype=object)[codes]

    @staticmethod
    def _event_for(rng, keys: np.ndarray) -> np.ndarray:
        """Event codes for fresh row images of ``keys``."""
        return rng.integers(0, len(EVENTS), len(keys)).astype(np.int32)

    # -- files ----------------------------------------------------------------

    def initial_path(self) -> str:
        path = os.path.join(self.dir, "initial.parquet")
        if not os.path.exists(path):
            st = self._initial_state()
            keys = np.arange(self.sizes.keys, dtype=np.int64)
            self._write_parquet(path, keys, st)
        return path

    def batch_path(self, i: int) -> str:
        path = os.path.join(self.dir, f"batch_{i:05d}.jsonl")
        if not os.path.exists(path) or not os.path.exists(self._npz(i)):
            st = self.state_after(i)
            env = self._make_batch(i, st)
            np.savez(self._npz(i), **env)
            self._write_jsonl(path, env)
        return path

    def batch_envelopes(self, i: int) -> dict:
        self.batch_path(i)
        with np.load(self._npz(i)) as z:
            return {k: z[k] for k in z.files}

    def _npz(self, i: int) -> str:
        return os.path.join(self.dir, f"batch_{i:05d}.npz")

    # -- oracle -----------------------------------------------------------------

    def _initial_state(self) -> State:
        n = self.sizes.keys
        rng = np.random.default_rng([self.seed, 0])
        st = State(n + 64 * self.sizes.batch)
        keys = np.arange(n, dtype=np.int64)
        st.live[:n] = True
        st.event[:n] = self._event_for(rng, keys)
        st.amount[:n] = rng.integers(1, 1000, n)
        st.device[:n] = rng.integers(0, len(DEVICES), n)
        st.seq[:n] = 0
        st.next_key = n
        return st

    def state_after(self, n_batches: int) -> State:
        """Oracle state after the first ``n_batches`` batches."""
        if self._state is None or self._state_batches > n_batches:
            self._state, self._state_batches = self._initial_state(), 0
        while self._state_batches < n_batches:
            env = self.batch_envelopes(self._state_batches)
            self._state.grow(int(env["key"].max()) + 1)
            self._state.apply(env)
            self._state_batches += 1
        return self._state

    # -- generation -------------------------------------------------------------

    def _recent(self, rng, st: State, n: int, exclude: np.ndarray) -> np.ndarray:
        """``n`` live keys skewed toward the newest, with repeats."""
        top = st.next_key
        out = []
        while sum(len(o) for o in out) < n:
            d = rng.exponential(self.sizes.recent_scale, 2 * n).astype(np.int64)
            k = top - 1 - d
            k = k[(k >= 0)]
            k = k[st.live[k] & ~np.isin(k, exclude)
                  & ~reserved(k, self.sizes.keys)]
            out.append(k)
        return np.concatenate(out)[:n]

    def _make_batch(self, i: int, st: State) -> dict:
        rng = np.random.default_rng([self.seed, i + 1])
        n = self.sizes.batch
        n_ins = int(n * 0.27)
        n_ins_upd = n - int(n * 0.97)  # insert followed by an update: 3%
        n_del = int(n * 0.10)
        n_late = int(n * 0.02) if i > 0 else 0
        n_upd = n - n_ins - n_ins_upd - n_del - n_late

        ins_keys = st.next_key + np.arange(n_ins, dtype=np.int64)
        del_keys = np.unique(self._recent(rng, st, n_del, ins_keys))
        while len(del_keys) < n_del:
            more = self._recent(rng, st, n_del, np.concatenate([ins_keys, del_keys]))
            del_keys = np.unique(np.concatenate([del_keys, more]))[:n_del]
        upd_keys = self._recent(rng, st, n_upd, ins_keys)
        upd_keys = np.concatenate([upd_keys, rng.choice(ins_keys, n_ins_upd)])
        touched = np.concatenate([ins_keys, upd_keys, del_keys])
        cand = st.live_keys()
        cand = cand[(st.seq[cand] >= 1) & ~np.isin(cand, touched)]
        late_keys = rng.choice(cand, min(n_late, len(cand)), replace=False)

        # seq order: inserts < updates < deletes, so within a batch a key's
        # insert precedes its update and a delete is the key's last op;
        # late images get a seq strictly below the key's stored one
        keys = np.concatenate([ins_keys, upd_keys, del_keys, late_keys])
        op = np.concatenate([
            np.full(len(ins_keys), INSERT, np.int8),
            np.full(len(upd_keys), UPDATE, np.int8),
            np.full(len(del_keys), DELETE, np.int8),
            np.full(len(late_keys), UPDATE, np.int8),
        ])
        n_fresh = len(ins_keys) + len(upd_keys) + len(del_keys)
        seq = np.empty(len(keys), np.int64)
        seq[:n_fresh] = st.next_seq + np.arange(n_fresh)
        seq[n_fresh:] = (rng.random(len(late_keys)) * st.seq[late_keys]).astype(np.int64)

        cap = int(keys.max()) + 1
        st.grow(cap)
        # about one update in five moves the row to another partition
        event = self._event_for(rng, keys)
        keep = (op != INSERT) & (rng.random(len(keys)) >= 0.2)
        event = np.where(keep, st.event[keys], event)
        amount = rng.integers(1, 1000, len(keys)).astype(np.int32)
        device = rng.integers(0, len(DEVICES), len(keys)).astype(np.int8)
        # a delete carries the key's before-image, as DMS sends it
        d = op == DELETE
        event[d], amount[d], device[d] = st.event[keys[d]], st.amount[keys[d]], st.device[keys[d]]
        perm = rng.permutation(len(keys))  # delivery order within the file
        return {"key": keys[perm], "op": op[perm], "seq": seq[perm],
                "event": event[perm].astype(np.int32), "amount": amount[perm],
                "device": device[perm]}

    def _write_jsonl(self, path: str, env: dict) -> None:
        keys = env["key"]
        ts = np.datetime_as_string(_op_ts(env["seq"]), unit="us").tolist()
        trans = np.datetime_as_string(trans_datetime(keys), unit="s").tolist()
        events = self.event_labels(env["event"]).tolist()
        ops = [OPS[o] for o in env["op"].tolist()]
        devices = [DEVICES[d] for d in env["device"].tolist()]
        lines = [
            f'{{"data": {{"trans_id": {k}, "customer_id": "{c}", "event": "{e}", '
            f'"sku": "{s}", "amount": {a}, "device": "{dv}", "trans_datetime": "{td}Z"}}, '
            f'"metadata": {{"timestamp": "{t}", "record-type": "data", "operation": "{o}", '
            f'"partition-key-type": "primary-key", "schema-name": "salesdb", '
            f'"table-name": "retail_trans", "transaction-id": {q}}}}}\n'
            for k, c, e, s, a, dv, td, t, o, q in zip(
                keys.tolist(), customer_ids(keys), events, skus(keys),
                env["amount"].tolist(), devices, trans, ts, ops, env["seq"].tolist())
        ]
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            f.writelines(lines)
        os.replace(tmp, path)

    def _write_parquet(self, path: str, keys: np.ndarray, st: State) -> None:
        table = pa.table({
            "trans_id": pa.array(keys, pa.int64()),
            "customer_id": pa.array(customer_ids(keys), pa.string()),
            "event": pa.array(self.event_labels(st.event[keys]).tolist(), pa.string()),
            "sku": pa.array(skus(keys), pa.string()),
            "amount": pa.array(st.amount[keys], pa.int32()),
            "device": pa.array([DEVICES[d] for d in st.device[keys].tolist()], pa.string()),
            "trans_datetime": pa.array(trans_datetime(keys).astype("datetime64[us]"),
                                       pa.timestamp("us", tz="UTC")),
            "_op_timestamp": pa.array(np.full(len(keys), BASE_TS),
                                      pa.timestamp("us", tz="UTC")),
            "_txn_id": pa.array(np.zeros(len(keys), np.int64), pa.int64()),
        })
        tmp = path + ".tmp"
        pq.write_table(table, tmp)
        os.replace(tmp, path)
