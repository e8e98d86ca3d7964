"""The generators: same seed, same bytes; and their own change counts
match what they wrote."""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq

from perfbench import gen

SMALL = (gen.TableSpec("BIG", 3_000, 2_000), gen.TableSpec("SMALL", 400, 400))
KINDS = ["low", "noop", "high", "low"]


def _digest(root: str) -> dict[str, str]:
    out = {}
    for d, _dirs, files in os.walk(root):
        for fn in files:
            path = os.path.join(d, fn)
            with open(path, "rb") as f:
                out[os.path.relpath(path, root)] = hashlib.sha256(f.read()).hexdigest()
    return out


def _resync(root: str, seed: int) -> gen.ResyncGenerator:
    g = gen.ResyncGenerator(root, seed, tables=SMALL)
    g.snapshot(0, "noop")
    for i, kind in enumerate(KINDS, start=1):
        g.snapshot(i, kind)
    return g


def _cdc(root: str, seed: int) -> gen.CdcGenerator:
    g = gen.CdcGenerator(root, seed, base_rows=2_000, events_per_batch=200)
    g.write_base()
    for _ in range(3):
        g.write_batch(os.path.join(root, "events"))
    return g


def test_same_seed_gives_identical_bytes(tmp_path):
    _resync(str(tmp_path / "a"), 5)
    _resync(str(tmp_path / "b"), 5)
    _cdc(str(tmp_path / "ca"), 5)
    _cdc(str(tmp_path / "cb"), 5)
    a, b = _digest(str(tmp_path / "a")), _digest(str(tmp_path / "b"))
    assert a and a == b
    ca, cb = _digest(str(tmp_path / "ca")), _digest(str(tmp_path / "cb"))
    assert ca and ca == cb
    mtimes = [
        os.stat(os.path.join(tmp_path, r, "events", f)).st_mtime
        for r in ("ca", "cb")
        for f in sorted(os.listdir(tmp_path / r / "events"))
    ]
    assert mtimes[:3] == mtimes[3:] and mtimes[:3] == sorted(set(mtimes[:3]))


def test_other_seed_gives_other_bytes(tmp_path):
    _resync(str(tmp_path / "a"), 5)
    _resync(str(tmp_path / "b"), 6)
    assert _digest(str(tmp_path / "a")) != _digest(str(tmp_path / "b"))


def _read(path: str) -> dict[int, int]:
    t = pq.read_table(path)
    return dict(zip(t["RecId"].to_pylist(), t["SysRowVersion"].to_pylist()))


def test_resync_counts_match_what_was_written(tmp_path):
    g = gen.ResyncGenerator(str(tmp_path), 9, tables=SMALL)
    g.snapshot(0, "noop")
    for cycle, kind in enumerate(KINDS, start=1):
        before = {n: _read(p) for n, p in g.paths.items()}
        counts = g.snapshot(cycle, kind)
        for name, spec in ((s.name, s) for s in SMALL):
            prev, cur = before[name], _read(g.paths[name])
            c = counts[name]
            changed = [k for k in prev.keys() & cur.keys() if prev[k] != cur[k]]
            added = cur.keys() - prev.keys()
            late = [k for k in added if k < max(prev) and cur[k] < max(prev.values())]
            assert len(changed) == c.modified, (name, kind)
            assert len(prev.keys() - cur.keys()) == c.deleted, (name, kind)
            assert len(added) == c.inserted + c.late, (name, kind)
            assert len(late) == c.late, (name, kind)
            window = sorted(prev)[-spec.window :]
            if kind == "high":
                assert c.modified >= 0.45 * len(window) - 1
            if kind == "noop":
                assert c.total == 0
            # every ordinary modification takes a version above the old watermark
            assert all(cur[k] > max(prev.values()) for k in changed)


def test_cdc_counts_match_what_was_written(tmp_path):
    g = gen.CdcGenerator(str(tmp_path), 3, base_rows=2_000, events_per_batch=200)
    base = pq.read_table(g.write_base())
    assert base.num_rows == 2_000 and g.live_count() == 2_000
    live = set(base["RecId"].to_pylist())
    staging = str(tmp_path / "events")
    top_version = max(base["SysRowVersion"].to_pylist())
    for i in range(3):
        c = g.write_batch(staging)
        t = pq.read_table(os.path.join(staging, f"batch-{i:05d}.parquet"))
        keys = np.array(t["RecId"].to_pylist())
        versions = t["SysRowVersion"].to_pylist()
        dead = t["__deleted"].to_pylist()
        assert t.num_rows == c.events
        assert sum(dead) == c.tombstones
        assert len(set(keys.tolist())) == c.keys
        assert min(versions) > top_version and len(set(versions)) == len(versions)
        top_version = max(versions)
        assert int((keys > max(live)).sum()) >= c.inserts
        # a tombstone carries no payload
        assert pc.all(pc.is_null(t.filter(t["__deleted"])["AMOUNT"])).as_py()
        last = {}
        for k, v, d in sorted(zip(keys.tolist(), versions, dead), key=lambda r: r[1]):
            last[k] = d
        for k, d in last.items():
            (live.discard if d else live.add)(k)
        assert g.live_count() == len(live)


def test_source_schema_matches_the_written_files(tmp_path):
    spark_type = {"int64": "long", "int32": "int", "timestamp[us]": "timestamp_ntz",
                  "string": "string", "double": "double"}
    g = gen.ResyncGenerator(str(tmp_path), 5, tables=SMALL)
    g.snapshot(0, "noop")
    for path in g.paths.values():
        schema = pq.read_schema(os.path.join(path, "part-000.parquet"))
        written = ", ".join(f"{f.name} {spark_type[str(f.type)]}" for f in schema)
        assert written == gen.SOURCE_SCHEMA_DDL
