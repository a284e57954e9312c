"""Output check: canonical result digests and the DuckDB oracle.

Results are canonicalized exactly as tools/driver_sim.py does (its
``norm`` per value, columns sorted by name, rows sorted), so a result
that passes here passes the driver-contract simulation and vice versa.
"""

from __future__ import annotations

import hashlib
import importlib.util
import os


def _load_driver_sim():
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tools",
        "driver_sim.py",
    )
    spec = importlib.util.spec_from_file_location("driver_sim", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


norm = _load_driver_sim().norm


def canonical(rows: list[dict]) -> tuple[list[str], list[tuple]]:
    cols = sorted(rows[0].keys()) if rows else []
    return cols, sorted(tuple(norm(r[c]) for c in cols) for r in rows)


def digest(canon: tuple[list[str], list[tuple]]) -> str:
    return hashlib.sha1(repr(canon).encode()).hexdigest()


def collect(df) -> tuple[list[str], list[tuple]]:
    return canonical(df.toArrow().to_pylist())


class Oracle:
    """DuckDB views over the same parquet files the engine reads."""

    def __init__(self, sf_dir: str, tables: tuple[str, ...]):
        import duckdb

        self.con = duckdb.connect()
        for t in tables:
            p = os.path.join(sf_dir, f"{t}.parquet")
            if os.path.exists(p):
                self.con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')"
                )

    def run(self, sql: str) -> tuple[list[str], list[tuple]]:
        return canonical(self.con.execute(sql).arrow().to_pylist())

    def close(self) -> None:
        self.con.close()
