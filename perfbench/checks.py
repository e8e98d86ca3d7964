"""Untimed correctness checks, computed independently of the engine in
DuckDB straight from the generated parquet files and the target's live
version directory."""

from __future__ import annotations

import os

import duckdb

KEY, VERSION, TOMBSTONE = "RecId", "SysRowVersion", "__deleted"


def live_dir(target_root: str) -> str | None:
    """The live version directory a target's ``_version`` pointer names."""
    try:
        with open(os.path.join(target_root, "_version"), encoding="utf-8") as f:
            path = os.path.join(target_root, f.read().strip())
    except FileNotFoundError:
        return None
    return path if os.path.isdir(path) else None


def _files(path: str) -> str:
    return os.path.join(path, "**", "*.parquet")


def _diff(con: duckdb.DuckDBPyConnection, expected: str, actual: str) -> tuple[int, int, int, int]:
    """(missing, unexpected, expected rows, actual rows): multiset
    differences of two queries over the same column list."""
    row = con.execute(
        f"""
        WITH e AS ({expected}), a AS ({actual})
        SELECT (SELECT count(*) FROM (SELECT * FROM e EXCEPT ALL SELECT * FROM a)),
               (SELECT count(*) FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM e)),
               (SELECT count(*) FROM e), (SELECT count(*) FROM a)
        """
    ).fetchone()
    return tuple(int(x) for x in row)


def _verdict(kind: str, counts: tuple[int, int, int, int]) -> tuple[bool, str]:
    missing, unexpected, n_exp, n_act = counts
    if missing == 0 and unexpected == 0:
        return True, ""
    return False, (
        f"{kind}: {missing} expected rows missing, {unexpected} unexpected rows "
        f"(expected {n_exp}, target has {n_act})"
    )


def check_last_n(
    con: duckdb.DuckDBPyConnection,
    source_dir: str,
    target_root: str,
    window: int,
    columns: list[str],
) -> tuple[bool, str]:
    """The engine's contract: the target holds exactly the last
    ``window`` source rows by key, on the synced columns."""
    live = live_dir(target_root)
    if live is None:
        return False, f"last-N: no live version under {target_root}"
    cols = ", ".join(f'"{c}"' for c in columns)
    expected = (
        f"SELECT {cols} FROM read_parquet('{_files(source_dir)}') "
        f'ORDER BY "{KEY}" DESC LIMIT {int(window)}'
    )
    actual = f"SELECT {cols} FROM read_parquet('{_files(live)}', hive_partitioning = false)"
    return _verdict("last-N", _diff(con, expected, actual))


def check_cdc_merge(
    con: duckdb.DuckDBPyConnection,
    event_dirs: list[str],
    target_root: str,
    columns: list[str],
) -> tuple[bool, str]:
    """The target equals the logical merge of every event so far (the
    base rows count as events): the last event per key by version, with
    tombstoned keys removed."""
    live = live_dir(target_root)
    if live is None:
        return False, f"cdc merge: no live version under {target_root}"
    cols = ", ".join(f'"{c}"' for c in columns)
    files = ", ".join(f"'{_files(d)}'" for d in event_dirs)
    expected = f"""
        SELECT {cols} FROM (
            SELECT *, row_number() OVER (PARTITION BY "{KEY}" ORDER BY "{VERSION}" DESC) AS rn
            FROM read_parquet([{files}], union_by_name = true)
        ) WHERE rn = 1 AND NOT coalesce("{TOMBSTONE}", false)
    """
    actual = f"SELECT {cols} FROM read_parquet('{_files(live)}', hive_partitioning = false)"
    return _verdict("cdc merge", _diff(con, expected, actual))
