"""Output checks: canonical row hashes and the DuckDB oracles.

Each measured query's rows are collected inside the timed region (the
client receives its result); everything here runs outside it.
"""

from __future__ import annotations

import hashlib
import math
import os


def _cell(v) -> str:
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.6f}"
    return str(v)


def row_hash(columns: list[str], rows: list[tuple]) -> str:
    """Order-independent hash of a result: columns sorted by lower-cased
    name, cells normalized as the repo's oracle sweep does (floats to 6
    places), rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i].lower())
    canon = sorted(tuple(_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for row in canon:
        h.update("\x1f".join(row).encode("utf-8"))
        h.update(b"\x1e")
    return h.hexdigest()


class Oracle:
    """DuckDB views over one generated ``sf_dir``; answers each query's
    registered oracle SQL as a row hash."""

    def __init__(self, sf_dir: str) -> None:
        import duckdb

        self.con = duckdb.connect()
        for f in sorted(os.listdir(sf_dir)):
            if f.endswith(".parquet"):
                self.con.execute(
                    f"CREATE VIEW {f[:-8]} AS "
                    f"SELECT * FROM '{os.path.join(sf_dir, f)}'"
                )

    def hash(self, sql: str) -> str:
        res = self.con.execute(sql)
        return row_hash([d[0] for d in res.description], res.fetchall())

    def close(self) -> None:
        self.con.close()


def report_numbers(model: dict) -> dict:
    """The numbers of a report model, in ``ClickLog.expected_report``'s
    shape: clicks per service and per-(service, dimension, value)."""
    return {
        "overall": {e["service"]: e["clicks"] for e in model["overall"]},
        "dims": {
            (s["service"], dim, value): cnt
            for s in model["services"]
            for dim, rows in s["histograms"].items()
            for value, cnt, _ in rows
        },
    }


def report_total(model: dict) -> int:
    return sum(e["clicks"] for e in model["overall"])
