"""Output checks for every benchmark op.

Registered queries are compared with their DuckDB oracles through
``tests/parity.py``'s own ``compare``; lookups are compared with the same
predicate run in DuckDB over the seeded parquet.  A mismatch or an
exception counts as a failed op in ``Tally``.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import parity  # tests/ is on sys.path (see run.py)


class Collected:
    """Rows already collected from Spark, shaped like the DataFrame that
    ``parity.compare`` expects, so the timed collect is the checked one."""

    def __init__(self, columns: list[str], rows: list):
        self.columns = list(columns)
        self._rows = rows

    def collect(self) -> list:
        return self._rows


@dataclass
class Tally:
    attempted: int = 0
    failed: int = 0
    problems: list[tuple[str, list[str]]] = field(default_factory=list)

    def record(self, name: str, problems: list[str]) -> bool:
        """Count one op; returns True when it passed."""
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems.append((name, problems[:3]))
        return not problems


class Checker:
    def __init__(self, sf_dir: str, oracles: dict[str, str]):
        self.con = parity.duck_con(sf_dir)
        self.oracles = oracles

    def query(self, name: str, columns: list[str], rows: list) -> list[str]:
        """Compare a registered query's collected rows with its oracle."""
        return self.sql(name, columns, rows, self.oracles[name])

    def sql(self, name: str, columns: list[str], rows: list, oracle_sql: str) -> list[str]:
        return parity.compare(name, Collected(columns, rows), oracle_sql, self.con)

    def close(self) -> None:
        self.con.close()
