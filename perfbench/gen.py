"""Seeded input generators for the benchmark workloads.

Everything here is plain NumPy + PyArrow: the engine under test only ever
sees the parquet files these classes write. The same seed yields
byte-identical files, and every generator keeps its own count of what it
changed so the checks and the bytes-per-changed-row metric have an
independent denominator.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: first RecId of a generated table: D365 RecIds are large int64s
RECID_BASE = 5_637_144_576
#: constant PARTITION column value (FIXTURES.md B1)
PARTITION = 5_637_144_576
#: version spacing: ordinary modifications take multiples of this, so a
#: late row can be given an unused version below the watermark
VERSION_STEP = 1000
#: 2024-01-01T00:00:00 in microseconds since the epoch
EPOCH_US = 1_704_067_200_000_000
DAY_US = 86_400_000_000

CYCLE_KINDS = ("noop", "low", "high")
#: share of the window a low-change / high-change cycle modifies; fixed,
#: so a seed changes which rows change but not how many
LOW_CHANGE, HIGH_CHANGE = 0.02, 0.50


#: part files per source snapshot: several let Spark scan in parallel
SOURCE_FILES = 4


def write_parquet(table: pa.Table, path: str) -> int:
    """Write ``table`` as ``SOURCE_FILES`` row-range part files under the
    directory ``path``. Returns the bytes written."""
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    step = -(-n // SOURCE_FILES) if n else 1
    total = 0
    for i in range(SOURCE_FILES):
        part = table.slice(i * step, step)
        fn = os.path.join(path, f"part-{i:03d}.parquet")
        pq.write_table(part, fn, compression="snappy", row_group_size=1 << 20)
        total += os.path.getsize(fn)
    return total


def _ts(values_us: np.ndarray, null_mask: np.ndarray) -> pa.Array:
    return pa.array(values_us, type=pa.timestamp("us"), mask=null_mask)


# ---------------------------------------------------------------------------
# snapshot_resync: D365-shaped source tables (FIXTURES.md Part B1)


@dataclass(frozen=True)
class TableSpec:
    name: str
    rows: int
    #: the sync window: the last ``window`` RecIds must match
    window: int


#: two tables of different sizes, synced in parallel; the larger has a
#: window smaller than the table, so rows leave the window as new top
#: keys arrive, and the smaller is synced whole
RESYNC_TABLES = (
    TableSpec("SALESLINE", 100_000, 75_000),
    TableSpec("CUSTTRANS", 30_000, 30_000),
)

#: source-only / target-only columns: the schema intersection drops both
SRC_ONLY, TGT_ONLY = "SRC_ONLY_COL", "TGT_ONLY_COL"
#: the columns the target receives, in source order
SYNC_COLUMNS = (
    "RecId",
    "RECVERSION",
    "SysRowVersion",
    "CREATEDDATETIME",
    "MODIFIEDDATETIME",
    "DATAAREAID",
    "PARTITION",
    "AMOUNT",
    "STATUS",
)
_AREAS = np.array(["usmf", "dat"], dtype=object)
#: the schema Spark infers from a source snapshot, given up front so a
#: cycle's source reads start no schema-inference job
SOURCE_SCHEMA_DDL = (
    "RecId long, RECVERSION int, SysRowVersion long, CREATEDDATETIME timestamp_ntz, "
    "MODIFIEDDATETIME timestamp_ntz, DATAAREAID string, PARTITION long, AMOUNT double, "
    "STATUS int, SRC_ONLY_COL string"
)


@dataclass
class ChangeCounts:
    modified: int = 0
    deleted: int = 0
    inserted: int = 0
    late: int = 0

    @property
    def total(self) -> int:
        return self.modified + self.deleted + self.inserted + self.late


class SourceTable:
    """One evolving source table. State lives in NumPy columns; each
    ``mutate`` applies one cycle's changes and ``to_arrow`` snapshots it."""

    def __init__(self, spec: TableSpec, rng: np.random.Generator, versions: list[int]):
        self.spec = spec
        self.rng = rng
        #: shared, strictly increasing modification counter across tables
        self._versions = versions
        n = spec.rows
        # dense-ish ascending keys with gaps of 1..3 (gaps host late rows)
        gaps = rng.integers(1, 4, size=n)
        self.recid = RECID_BASE + np.cumsum(gaps).astype(np.int64)
        # initial versions follow a random modification order, not key order
        self.sysrowversion = self._next_versions(n)[rng.permutation(n)]
        rv = rng.integers(2, 50, size=n).astype(np.int32)
        rv[rng.random(n) < 0.10] = 1
        rv[rng.random(n) < 0.01] *= -1
        self.recversion = rv
        self.created = EPOCH_US + rng.integers(0, 365 * DAY_US, size=n)
        self.created_null = rng.random(n) < 0.05
        self.modified = self.created + rng.integers(0, 30 * DAY_US, size=n)
        self.modified_null = rng.random(n) < 0.05
        self.area = rng.integers(0, 2, size=n).astype(np.int8)
        self.amount = np.round(rng.normal(500.0, 250.0, size=n), 2)
        self.status = rng.integers(0, 5, size=n).astype(np.int32)

    def _next_versions(self, k: int) -> np.ndarray:
        start = self._versions[0]
        self._versions[0] = start + k
        return (np.arange(start + 1, start + k + 1, dtype=np.int64)) * VERSION_STEP

    @property
    def watermark(self) -> int:
        return int(self.sysrowversion.max())

    def _window_idx(self) -> np.ndarray:
        """Row positions of the sync window (keys are kept sorted)."""
        n = len(self.recid)
        return np.arange(max(0, n - self.spec.window), n)

    def _touch(self, idx: np.ndarray) -> None:
        k = len(idx)
        self.sysrowversion[idx] = self._next_versions(k)
        self.recversion[idx] = np.where(self.recversion[idx] == 1, 2, self.recversion[idx] + 1)
        self.modified[idx] = self.modified[idx] + self.rng.integers(1, DAY_US, size=k)
        self.modified_null[idx] = False
        self.amount[idx] = np.round(self.rng.normal(500.0, 250.0, size=k), 2)
        self.status[idx] = self.rng.integers(0, 5, size=k).astype(np.int32)

    def mutate(self, kind: str) -> ChangeCounts:
        """Apply one cycle's changes of the given kind."""
        counts = ChangeCounts()
        if kind == "noop":
            return counts
        rng = self.rng
        win = self._window_idx()
        if kind == "high":
            idx = rng.choice(win, size=int(HIGH_CHANGE * len(win)), replace=False)
            self._touch(np.sort(idx))
            counts.modified = len(idx)
            return counts
        if kind != "low":
            raise ValueError(f"unknown cycle kind {kind!r}")
        n_win = len(win)
        mod = rng.choice(win, size=max(1, int(LOW_CHANGE * n_win)), replace=False)
        self._touch(np.sort(mod))
        counts.modified = len(mod)
        # late rows: keys inside the window (in the RecId gaps) carrying
        # versions BELOW the watermark — the T4 late-data case
        n_late = max(1, n_win // 1000)
        keys = self.recid[win]
        holes = np.flatnonzero(np.diff(keys) > 1)
        pick = np.sort(rng.choice(holes, size=min(n_late, len(holes)), replace=False))
        late_keys = keys[pick] + 1
        wm = self.watermark // VERSION_STEP
        late_ver = (wm - rng.integers(1, max(2, wm // 2), size=len(pick))) * VERSION_STEP
        late_ver += rng.integers(1, VERSION_STEP, size=len(pick))
        # deletes (~0.5% of the window) among the rows not just modified,
        # drawn before the appends so no new row is deleted in the cycle
        # that creates it
        dele = rng.choice(np.setdiff1d(win, mod), size=max(1, n_win // 200), replace=False)
        keep = np.ones(len(self.recid), dtype=bool)
        keep[dele] = False
        counts.deleted = len(dele)
        # new top keys (~1% of the window)
        n_new = max(1, n_win // 100)
        top = int(self.recid.max())
        new_keys = top + np.cumsum(rng.integers(1, 4, size=n_new)).astype(np.int64)
        new_ver = self._next_versions(n_new)
        self._keep(keep)
        self._append(late_keys, late_ver)
        self._append(new_keys, new_ver)
        counts.late, counts.inserted = len(late_keys), len(new_keys)
        order = np.argsort(self.recid, kind="stable")
        self._take(order)
        return counts

    _COLS = (
        "recid",
        "sysrowversion",
        "recversion",
        "created",
        "created_null",
        "modified",
        "modified_null",
        "area",
        "amount",
        "status",
    )

    def _keep(self, mask: np.ndarray) -> None:
        for c in self._COLS:
            setattr(self, c, getattr(self, c)[mask])

    def _take(self, order: np.ndarray) -> None:
        for c in self._COLS:
            setattr(self, c, getattr(self, c)[order])

    def _append(self, keys: np.ndarray, versions: np.ndarray) -> None:
        k = len(keys)
        rng = self.rng
        created = EPOCH_US + rng.integers(0, 365 * DAY_US, size=k)
        extra = {
            "recid": keys.astype(np.int64),
            "sysrowversion": versions.astype(np.int64),
            "recversion": np.ones(k, dtype=np.int32),
            "created": created,
            "created_null": rng.random(k) < 0.05,
            "modified": created + rng.integers(0, DAY_US, size=k),
            "modified_null": rng.random(k) < 0.05,
            "area": rng.integers(0, 2, size=k).astype(np.int8),
            "amount": np.round(rng.normal(500.0, 250.0, size=k), 2),
            "status": rng.integers(0, 5, size=k).astype(np.int32),
        }
        for c in self._COLS:
            setattr(self, c, np.concatenate([getattr(self, c), extra[c]]))

    def to_arrow(self) -> pa.Table:
        return pa.table(
            {
                "RecId": pa.array(self.recid),
                "RECVERSION": pa.array(self.recversion),
                "SysRowVersion": pa.array(self.sysrowversion),
                "CREATEDDATETIME": _ts(self.created, self.created_null),
                "MODIFIEDDATETIME": _ts(self.modified, self.modified_null),
                "DATAAREAID": pa.array(_AREAS[self.area], type=pa.string()),
                "PARTITION": pa.array(np.full(len(self.recid), PARTITION, dtype=np.int64)),
                "AMOUNT": pa.array(self.amount),
                "STATUS": pa.array(self.status),
                SRC_ONLY: pa.array(_AREAS[self.area[::-1]], type=pa.string()),
            }
        )


class ResyncGenerator:
    """Per-cycle source snapshots for ``snapshot_resync``.

    ``snapshot(cycle)`` writes every table's current state to
    ``<root>/c<cycle>/<TABLE>/``; a no-change cycle reuses the previous
    cycle's files, exactly as an untouched source would look."""

    def __init__(self, root: str, seed: int, tables=RESYNC_TABLES):
        self.root = root
        rng = np.random.default_rng(seed)
        versions = [0]
        self.tables = {
            s.name: SourceTable(s, np.random.default_rng(rng.integers(1 << 62)), versions)
            for s in tables
        }
        self.paths: dict[str, str] = {}
        self.bytes: dict[str, int] = {}

    def snapshot(self, cycle: int, kind: str) -> dict[str, ChangeCounts]:
        counts = {}
        for name, t in self.tables.items():
            counts[name] = t.mutate(kind)
            if kind != "noop" or name not in self.paths:
                path = os.path.join(self.root, f"c{cycle:04d}", name)
                self.bytes[name] = write_parquet(t.to_arrow(), path)
                self.paths[name] = path
        return counts


def cycle_rounds(seed: int):
    """Endless measured rounds of cycle kinds: one no-change, one
    low-change and one high-change cycle each, in a seeded order."""
    rng = np.random.default_rng([seed, 7])
    while True:
        yield [str(k) for k in rng.permutation(CYCLE_KINDS)]


# ---------------------------------------------------------------------------
# cdc_stream: a base table plus staged event files

CDC_SCHEMA_DDL = (
    "RecId long, SysRowVersion long, ACCOUNT string, AMOUNT double, QTY int, "
    "MODIFIEDDATETIME timestamp_ntz, __deleted boolean"
)
CDC_VALUE_COLUMNS = ("RecId", "SysRowVersion", "ACCOUNT", "AMOUNT", "QTY", "MODIFIEDDATETIME")


@dataclass
class BatchCounts:
    events: int = 0
    updates: int = 0
    inserts: int = 0
    tombstones: int = 0
    duplicates: int = 0
    #: distinct keys the batch changes (the bytes-per-row denominator)
    keys: int = 0


@dataclass
class CdcGenerator:
    """Base table + micro-batch event files for ``cdc_stream``.

    Events per batch: updates skewed toward recent keys, inserts of new
    top keys, tombstones of live keys and extra (later) events for keys
    already in the batch. Every event carries a fresh, globally
    increasing SysRowVersion, so "last event per key" is both the
    highest version and the latest in processing order."""

    root: str
    seed: int
    base_rows: int = 20_000
    events_per_batch: int = 2_000
    live: np.ndarray = field(init=False)
    version: int = field(init=False, default=0)
    batches_written: int = field(init=False, default=0)

    def __post_init__(self) -> None:
        self.rng = np.random.default_rng([self.seed, 11])
        self.live = np.zeros(self.base_rows + 1, dtype=bool)  # index = RecId

    def _versions(self, k: int) -> np.ndarray:
        out = np.arange(self.version + 1, self.version + k + 1, dtype=np.int64)
        self.version += k
        return out

    def _rows(self, keys: np.ndarray, dead: np.ndarray) -> pa.Table:
        """Event rows for ``keys``; a tombstone (``dead``) carries only
        its key, version and marker."""
        k = len(keys)
        rng = self.rng
        acct = np.array([f"C{v:05d}" for v in rng.integers(0, 5000, size=k)], dtype=object)
        return pa.table(
            {
                "RecId": pa.array(keys.astype(np.int64)),
                "SysRowVersion": pa.array(self._versions(k)),
                "ACCOUNT": pa.array(acct, type=pa.string(), mask=dead),
                "AMOUNT": pa.array(np.round(rng.normal(100.0, 40.0, size=k), 2), mask=dead),
                "QTY": pa.array(rng.integers(1, 100, size=k).astype(np.int32), mask=dead),
                "MODIFIEDDATETIME": _ts(EPOCH_US + rng.integers(0, 365 * DAY_US, size=k), dead),
                "__deleted": pa.array(dead, type=pa.bool_()),
            }
        )

    def write_base(self) -> str:
        n = self.base_rows
        keys = np.arange(1, n + 1, dtype=np.int64)
        self.live[1:] = True
        path = os.path.join(self.root, "base")
        write_parquet(self._rows(keys, np.zeros(n, dtype=bool)), path)
        return path

    def _grow(self, top: int) -> None:
        if top >= len(self.live):
            grown = np.zeros(max(top + 1, 2 * len(self.live)), dtype=bool)
            grown[: len(self.live)] = self.live
            self.live = grown

    def _recent_live(self, k: int) -> np.ndarray:
        """``k`` distinct live keys, skewed toward the newest."""
        top = int(np.flatnonzero(self.live).max())
        out: list[int] = []
        seen: set[int] = set()
        scale = max(100.0, top / 20)
        while len(out) < k:
            cand = top - np.floor(self.rng.exponential(scale, size=2 * k)).astype(np.int64)
            for c in cand:
                if c >= 1 and self.live[c] and c not in seen:
                    seen.add(int(c))
                    out.append(int(c))
                    if len(out) == k:
                        break
        return np.array(out, dtype=np.int64)

    def write_batch(self, staging: str) -> BatchCounts:
        """Write the next micro-batch file into ``staging`` and return
        its counts. File modification times increase with the batch
        number, which is the order the file source drains them in."""
        rng = self.rng
        e = self.events_per_batch
        n_upd, n_ins, n_del = int(0.70 * e), int(0.15 * e), int(0.10 * e)
        n_dup = e - n_upd - n_ins - n_del
        upd = self._recent_live(n_upd)
        live_keys = np.flatnonzero(self.live)
        dele = rng.choice(np.setdiff1d(live_keys, upd, assume_unique=True), n_del, replace=False)
        top = int(live_keys.max()) if len(live_keys) else 0
        ins = top + np.arange(1, n_ins + 1, dtype=np.int64)
        first = np.concatenate([upd, ins, dele])
        dead = np.concatenate([np.zeros(n_upd + n_ins, bool), np.ones(n_del, bool)])
        # later events for keys already in this batch: updates, and some
        # tombstone-then-reinsert / update-then-tombstone pairs
        dup_idx = rng.choice(len(first), n_dup, replace=False)
        dup_keys = first[dup_idx]
        dup_dead = rng.random(n_dup) < 0.3
        keys = np.concatenate([first, dup_keys])
        dead = np.concatenate([dead, dup_dead])
        table = self._rows(keys, dead)
        # shuffle rows so the last event is not simply the last row
        table = table.take(pa.array(rng.permutation(len(keys))))
        # apply to the live set in version order
        self._grow(int(keys.max()))
        for k, d in zip(keys.tolist(), dead.tolist()):
            self.live[k] = not d
        os.makedirs(staging, exist_ok=True)
        fn = os.path.join(staging, f"batch-{self.batches_written:05d}.parquet")
        pq.write_table(table, fn, compression="snappy")
        # fixed, increasing mtimes: the drain order, and no wall clock in
        # the inputs
        mtime = EPOCH_US // 1_000_000 + self.batches_written
        os.utime(fn, (mtime, mtime))
        self.batches_written += 1
        return BatchCounts(
            events=len(keys),
            updates=n_upd,
            inserts=n_ins,
            tombstones=n_del + int(dup_dead.sum()),
            duplicates=n_dup,
            keys=len(np.unique(keys)),
        )

    def live_count(self) -> int:
        return int(self.live.sum())
