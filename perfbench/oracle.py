"""DuckDB oracle: last-writer-wins over the same change parquet the engine read.

Winner per ``(conv_id, turn_idx)`` is the arg-max by ``(ts, lsn)``; a delete
winner is a tombstone, so the key is absent from the live state. Results are
compared by row count plus an order-independent hash (sum of per-row hashes),
computed by the same SQL on both sides.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd

PUBLIC_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]


def _files_sql(paths: list[str]) -> str:
    return "read_parquet([" + ", ".join(f"'{p}'" for p in paths) + "], union_by_name=true)"


def _row_hash(cols: list[str]) -> str:
    parts = [f"coalesce({c}::VARCHAR, '<null>')" if c != "ts" else "epoch_us(ts)::VARCHAR" for c in cols]
    return "hash(" + " || '|' || ".join(parts) + ")"


class Oracle:
    def __init__(self):
        self.con = duckdb.connect()

    def close(self) -> None:
        self.con.close()

    def live_state_sql(self, paths: list[str], where: str = "") -> str:
        return f"""
            SELECT * EXCLUDE (op, epoch, rn) FROM (
              SELECT *, row_number() OVER (
                PARTITION BY conv_id, turn_idx ORDER BY ts DESC, lsn DESC) AS rn
              FROM {_files_sql(paths)} {where}
            ) WHERE rn = 1 AND op <> 'D'"""

    def state_digest(self, paths: list[str], cols: list[str]) -> tuple[int, int]:
        row = self.con.execute(
            f"SELECT count(*), coalesce(sum({_row_hash(cols)}), 0)::HUGEINT "
            f"FROM ({self.live_state_sql(paths)})"
        ).fetchone()
        return int(row[0]), int(row[1])

    def frame_digest(self, df: pd.DataFrame, cols: list[str]) -> tuple[int, int]:
        self.con.register("got_frame", df)
        try:
            row = self.con.execute(
                f"SELECT count(*), coalesce(sum({_row_hash(cols)}), 0)::HUGEINT FROM got_frame"
            ).fetchone()
        finally:
            self.con.unregister("got_frame")
        return int(row[0]), int(row[1])

    def scan_checksum(self, paths: list[str]) -> tuple[int, int, int, int]:
        """The same four sums ``workloads.scan_checksum`` asks Spark for."""
        row = self.con.execute(
            f"SELECT count(*), coalesce(sum(turn_idx), 0), coalesce(sum(epoch(ts)::BIGINT), 0), "
            f"coalesce(sum(length(coalesce(text, ''))), 0) FROM ({self.live_state_sql(paths)})"
        ).fetchone()
        return tuple(int(v) for v in row)

    def lookup_rows(self, paths: list[str], conv_ids: list[str]) -> dict[str, list[tuple]]:
        """Live rows per conv_id as sorted ``(turn_idx, role, text, tool, ts_us)``."""
        keys = ", ".join(f"'{k}'" for k in sorted(set(conv_ids)))
        rows = self.con.execute(
            f"SELECT conv_id, turn_idx, role, text, tool, epoch_us(ts) FROM "
            f"({self.live_state_sql(paths, where=f'WHERE conv_id IN ({keys})')})"
        ).fetchall()
        out: dict[str, list[tuple]] = {k: [] for k in conv_ids}
        for r in rows:
            out[r[0]].append(tuple(r[1:]))
        return {k: sorted(v) for k, v in out.items()}

    def most_deleted(self, paths: list[str], k: int) -> list[str]:
        """The ``k`` conversations whose events are most often deletes."""
        rows = self.con.execute(
            f"SELECT conv_id FROM {_files_sql(paths)} GROUP BY conv_id "
            f"ORDER BY avg((op = 'D')::INT) DESC, count(*) DESC, conv_id LIMIT {k}"
        ).fetchall()
        return [r[0] for r in rows]

    def query_result(self, sql: str, tables: dict[str, str]) -> pd.DataFrame:
        for name, path in tables.items():
            self.con.execute(f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM '{path}'")
        return self.con.execute(sql).df()


def canon(df: pd.DataFrame) -> pd.DataFrame:
    """Order- and dtype-insensitive canonical form of a query result (numerics
    rounded to 6 places, timestamps at microsecond resolution)."""
    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        s = df[c]
        if s.dtype == object:
            df[c] = s.map(lambda v: tuple(np.round(v, 6)) if isinstance(v, (list, np.ndarray)) else v)
        elif np.issubdtype(s.dtype, np.number):
            df[c] = pd.to_numeric(s, errors="coerce").astype("float64").round(6)
        elif np.issubdtype(s.dtype, np.datetime64):
            df[c] = s.astype("datetime64[us]")
    return df.sort_values(list(df.columns), ignore_index=True, key=lambda s: s.astype(str)).astype(str)


def same_result(got: pd.DataFrame, exp: pd.DataFrame) -> bool:
    if len(got) != len(exp) or sorted(got.columns) != sorted(exp.columns):
        return False
    return canon(got).equals(canon(exp))
