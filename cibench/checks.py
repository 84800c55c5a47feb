"""Output checks, run after the timed region on the rows each timed call
already returned (no op is executed a second time).

Registry ops go through the repository's DuckDB oracle harness
(``tests/oracle_harness.compare``); the oracle query runs once per entry and
is reused for every pass. Entries without an oracle twin get a row-count
check. The ingest workload is checked against a DuckDB last-write-wins model
of its seeded batches and deletes.
"""

from __future__ import annotations

import threading
from collections import Counter

import duckdb

from tests import oracle_harness


class Collected:
    """The parts of a DataFrame ``oracle_harness.compare`` reads, holding
    the rows the timed call returned instead of executing again."""

    def __init__(self, schema, rows):
        self.schema = schema
        self.columns = [f.name for f in schema.fields]
        self.dtypes = [(f.name, f.dataType.simpleString()) for f in schema.fields]
        self._rows = rows

    def collect(self):
        return self._rows


class _Result:
    def __init__(self, description, rows, frame):
        self.description, self._rows, self._frame = description, rows, frame

    def fetchall(self):
        return self._rows

    def df(self):
        return self._frame


class CachedOracle:
    """A DuckDB connection over the run's input tables that answers each
    oracle query once. ``fixture_root`` replaces the engine-hash fixture
    root the registry's oracle SQL names (the run keeps its fixtures in its
    own temp dir)."""

    def __init__(self, data_dir: str, fixture_root: str, default_root: str):
        self.con = oracle_harness.duck_connection(data_dir)
        self.fixture_root, self.default_root = fixture_root, default_root
        self._cache: dict[str, _Result] = {}
        self._thread: threading.Thread | None = None

    def prefetch(self, sqls: list[str]) -> None:
        """Answer ``sqls`` in a background thread (DuckDB releases the GIL);
        ``join`` before any other use of the connection. A query that fails
        here is retried, and raises, on its first ``execute``."""

        def work():
            for sql in sqls:
                try:
                    self._answer(sql)
                except duckdb.Error:
                    pass

        self._thread = threading.Thread(target=work, daemon=True)
        self._thread.start()

    def join(self) -> None:
        if self._thread is not None:
            self._thread.join()
            self._thread = None

    def execute(self, sql: str) -> _Result:
        self.join()
        return self._answer(sql)

    def _answer(self, sql: str) -> _Result:
        if sql not in self._cache:
            name = f"oracle_{len(self._cache)}"
            self.con.execute(f"CREATE TEMP TABLE {name} AS "
                             + sql.replace(self.default_root, self.fixture_root))
            cur = self.con.execute(f"SELECT * FROM {name}")
            desc, rows = cur.description, cur.fetchall()
            self._cache[sql] = _Result(desc, rows, self.con.execute(f"SELECT * FROM {name}").df())
        return self._cache[sql]

    def close(self) -> None:
        self.join()
        self.con.close()


def check_registry_op(name: str, got: Collected, oracle_sql: str | None,
                      oracle: CachedOracle, expected_rows: dict[str, int]) -> list[str]:
    """Problems with one registry op's output (empty list = correct)."""
    if oracle_sql is not None:
        return oracle_harness.compare(got, oracle, oracle_sql, name)
    n = len(got.collect())
    first = expected_rows.setdefault(name, n)
    if n == 0 or n != first:
        return [f"{name}: row count {n} (first pass {first})"]
    return []


def same_rows(name: str, got: list[tuple], want: list[tuple]) -> list[str]:
    """Multiset equality of two row lists."""
    g, w = Counter(got), Counter(want)
    if g == w:
        return []
    missing, extra = w - g, g - w
    return [f"{name}: {sum(missing.values())} rows missing, {sum(extra.values())} unexpected; "
            f"e.g. missing {list(missing)[:2]} unexpected {list(extra)[:2]}"]


class LwwModel:
    """Last-write-wins model of the ingest table in DuckDB: a batch replaces
    every row whose key it carries with its latest-``ts_us`` row, a delete
    removes keys."""

    def __init__(self, initial):
        self.con = duckdb.connect()
        self.con.register("initial", initial)
        self.con.execute("CREATE TABLE model AS SELECT * FROM initial")
        self.con.unregister("initial")

    def merge(self, batch) -> None:
        self.con.register("batch", batch)
        self.con.execute("DELETE FROM model WHERE event_id IN (SELECT event_id FROM batch)")
        self.con.execute(
            "INSERT INTO model SELECT * EXCLUDE (rn) FROM (SELECT *, row_number() OVER "
            "(PARTITION BY event_id ORDER BY ts_us DESC) AS rn FROM batch) WHERE rn = 1")
        self.con.unregister("batch")

    def delete(self, keys: list[int]) -> None:
        self.con.execute("DELETE FROM model WHERE event_id IN (SELECT unnest(?))", [keys])

    def rows(self, columns: list[str]) -> list[tuple]:
        return self.con.execute(f"SELECT {', '.join(columns)} FROM model").fetchall()

    def arrow(self):
        return self.con.execute("SELECT * FROM model").arrow()

    def close(self) -> None:
        self.con.close()
