"""Independent DuckDB oracles for the benchmark's outputs.

The engine's final table must equal a plain SQL last-writer-wins fold over
the very WAL files the engine ingested: per ``(conv_id, turn_idx)`` keep the
event with the greatest ``(ts, lsn)`` and drop the key if that event is a
delete. Results are compared by row count and by an order-independent digest
(sum of a per-row hash computed by DuckDB over both sides), so a single wrong
row, missing row or extra row is caught.
"""

from __future__ import annotations

import datetime
import decimal
import math

import duckdb

COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts", "tool_args"]


def _row_expr(alias: str = "") -> str:
    p = f"{alias}." if alias else ""
    return (f"{p}conv_id, {p}turn_idx::INTEGER, {p}role, {p}text, {p}tool, "
            f"epoch_us({p}ts), {p}tool_args")


class Oracle:
    def __init__(self, wal_files: list[str]):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        files = ", ".join(f"'{f}'" for f in wal_files)
        self.con.execute(
            f"""CREATE TABLE expect AS
            SELECT {', '.join(COLS)} FROM (
              SELECT *, row_number() OVER (
                PARTITION BY conv_id, turn_idx ORDER BY ts DESC, lsn DESC) AS rn
              FROM read_parquet([{files}], union_by_name = true))
            WHERE rn = 1 AND op <> 'D'"""
        )

    def digest(self, relation: str) -> tuple[int, int]:
        n, h = self.con.execute(
            f"SELECT count(*), coalesce(sum(hash({_row_expr()})), 0) FROM {relation}"
        ).fetchone()
        return int(n), int(h)

    def check_table(self, arrow_table) -> bool:
        """True iff the engine's public rows (an Arrow table) equal the
        oracle's by count and digest."""
        if sorted(arrow_table.column_names) != sorted(COLS):
            return False
        self.con.register("actual", arrow_table)
        try:
            return self.digest("actual") == self.digest("expect")
        finally:
            self.con.unregister("actual")

    def rows_for(self, conv_ids: list[str]) -> dict[str, list[tuple]]:
        """Expected live rows per conv_id, each row as the tuple
        ``(turn_idx, role, text, tool, ts_epoch_us, tool_args)``, sorted."""
        out: dict[str, list[tuple]] = {k: [] for k in conv_ids}
        if not conv_ids:
            return out
        self.con.execute("CREATE OR REPLACE TEMP TABLE probe (k VARCHAR)")
        self.con.executemany("INSERT INTO probe VALUES (?)", [(k,) for k in set(conv_ids)])
        for row in self.con.execute(
            "SELECT conv_id, turn_idx, role, text, tool, epoch_us(ts), tool_args "
            "FROM expect JOIN probe ON conv_id = k"
        ).fetchall():
            out[row[0]].append(tuple(row[1:]))
        for v in out.values():
            v.sort()
        return out

    def close(self) -> None:
        self.con.close()


def _norm(v):
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    return v


def same_result(got: list[tuple], want: list[tuple]) -> bool:
    """True iff two query results hold the same rows in any order. Rows are
    paired by their non-float values; floats may differ by a cent, the most
    that summing in another order moves a sum rounded to two places."""
    if len(got) != len(want):
        return False

    def key(row):
        return tuple("" if v is None else str(v) for v in row if not isinstance(v, float))

    got = sorted((tuple(map(_norm, r)) for r in got), key=key)
    want = sorted((tuple(map(_norm, r)) for r in want), key=key)
    for a, b in zip(got, want):
        if len(a) != len(b):
            return False
        for x, y in zip(a, b):
            if isinstance(x, float) and isinstance(y, float):
                if not math.isclose(x, y, rel_tol=1e-9, abs_tol=0.0101):
                    return False
            elif x != y:
                return False
    return True
