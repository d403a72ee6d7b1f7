"""Output checks: query results against the DuckDB oracle, and the
ingest consistency rule (everything acked is committed exactly once, in
gapless per-partition sequence order)."""

from __future__ import annotations

import ast
import functools
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@functools.cache
def _canon():
    """``canon`` from tools/driver_sim.py, the canonicalisation the
    driver-contract simulator uses. That module runs its whole
    simulation at import time, so only the function definition is
    compiled from its source."""
    path = os.path.join(REPO, "tools", "driver_sim.py")
    with open(path) as fh:
        tree = ast.parse(fh.read(), path)
    fn = next(n for n in tree.body if isinstance(n, ast.FunctionDef) and n.name == "canon")
    ns: dict = {}
    exec(compile(ast.Module(body=[fn], type_ignores=[]), path, "exec"), ns)
    return ns["canon"]


def rows_match(spark_cols, spark_rows, oracle_cols, oracle_rows) -> bool:
    """Same column set and the same multiset of rows, compared on the
    canonical string form (column order and row order do not matter)."""
    canon = _canon()
    return canon(spark_cols, spark_rows) == canon(oracle_cols, oracle_rows)


class Oracle:
    """DuckDB views over a fixture directory, answering ``oracle_sql()``."""

    def __init__(self, fixture_dir: str, tables):
        import duckdb

        self.con = duckdb.connect()
        for t in tables:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{fixture_dir}/{t}.parquet'"
            )

    def rows(self, sql: str):
        res = self.con.execute(sql)
        return [d[0] for d in res.description], res.fetchall()

    def close(self) -> None:
        self.con.close()


def ingest_consistent(acked: int, repeats: int, partitions) -> tuple[bool, str]:
    """``partitions``: (partition, rows, min_seq, max_seq, distinct_seq)
    per committed partition. Committed rows must equal acked events less
    the repeated idempotency keys, and each partition's sequences must
    run 1..n with no gap or duplicate."""
    committed = sum(p[1] for p in partitions)
    if committed != acked - repeats:
        return False, f"committed {committed} != acked {acked} - repeats {repeats}"
    for part, n, lo, hi, distinct in partitions:
        if not (lo == 1 and hi == n == distinct):
            return False, f"partition {part}: n={n} min={lo} max={hi} distinct={distinct}"
    return True, ""
