"""DuckDB oracle: each query's ``ORACLES`` SQL over the same generated
files, compared with the Spark result the way ``tools/check.py`` does
(same canonicalization, imported rather than copied)."""

from __future__ import annotations

import duckdb

from inputs import table_path
from tools.check import TABLES, rows_canon


class Oracle:
    def __init__(self, data_dir: str, threads: int, temp_dir: str):
        self.con = duckdb.connect()
        self.con.execute(f"SET threads TO {int(threads)}")
        self.con.execute(f"SET temp_directory = '{temp_dir}'")
        for t in TABLES:
            p = table_path(data_dir, t)
            if p is not None:
                self.con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')"
                )

    def expected(self, sql: str) -> tuple[list[str], list[tuple]]:
        """(columns, canonical rows) of the oracle SQL. Materialized via
        Arrow, like the gate: DuckDB HUGEINT surfaces as decimal there."""
        tbl = self.con.execute(sql).arrow()
        cols = list(tbl.column_names)
        rows = list(zip(*[c.to_pylist() for c in tbl.columns])) if cols else []
        return cols, rows_canon(cols, rows, duck=True)

    def close(self) -> None:
        self.con.close()


def mismatch(expected: tuple[list[str], list[tuple]], cols, rows) -> str | None:
    """Why a Spark result (``cols``, raw ``rows``) differs from the
    oracle's, or None when it matches exactly after canonicalization."""
    ecols, erows = expected
    if sorted(cols) != sorted(ecols):
        return f"columns spark={sorted(cols)} oracle={sorted(ecols)}"
    if len(rows) != len(erows):
        return f"row count spark={len(rows)} oracle={len(erows)}"
    got = rows_canon(list(cols), [tuple(r) for r in rows])
    if got != erows:
        first = next(i for i, (a, b) in enumerate(zip(got, erows)) if a != b)
        return f"row {first} differs: spark={got[first]} oracle={erows[first]}"
    return None
