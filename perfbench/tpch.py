"""tpch_headline: the 19 TPC-H-shaped registry queries of
``queries/tpch_suite.py``, one op per query (``fn(spark, dir).collect()``),
each pass in a seeded order. Read-only: the manifest, transforms and
streaming layers do nothing here.

Every result is checked against the query's registered DuckDB oracle,
computed once in set-up over the same generated parquet files: row
count plus an order-insensitive hash, as ``tools/oracle_check.py``
compares them.
"""

from __future__ import annotations

import hashlib
import os
import random
import time
from decimal import Decimal

import tpch_data

SCALE = 1.0  # about 60 000 lineitem rows
FIXTURE_REPEATS = 3
WARMUP_PASSES = 1
PASS_SECONDS = 10.0  # nominal length of one warm pass on 4 cores


def _cell(v) -> str:
    if v is None or (isinstance(v, float) and v != v):
        return "∅"
    if isinstance(v, (float, Decimal)) or (isinstance(v, int) and not isinstance(v, bool)):
        return f"{float(v):.12g}"
    return str(v)


def _rows(columns: list[str], rows) -> list[tuple[str, ...]]:
    """Rows as text cells, columns ordered by name, rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted(tuple(_cell(r[i]) for i in order) for r in rows)


def fingerprint(columns: list[str], rows) -> tuple[int, str]:
    """(row count, order-insensitive hash), as ``tools/oracle_check.py``
    computes them."""
    lines = ["\x1f".join(r) for r in _rows(columns, rows)]
    return len(lines), hashlib.sha256("\x1e".join(lines).encode()).hexdigest()[:16]


def _decimals(cell: str) -> int:
    return len(cell.split(".")[1]) if "." in cell and "e" not in cell else 0


def _last_digit_apart(a: str, b: str) -> bool:
    """Both cells are numbers rounded to the same grain that differ by
    exactly one unit in their last decimal place: the two engines broke
    a rounding tie differently (Spark rounds the shortest decimal form
    of a double half-up, DuckDB the binary value)."""
    try:
        x, y = float(a), float(b)
    except ValueError:
        return False
    unit = 10.0 ** -max(_decimals(a), _decimals(b), 1)
    return abs(abs(x - y) - unit) < unit * 1e-3


def rounding_ties(got: list[tuple[str, ...]], want: list[tuple[str, ...]]) -> int | None:
    """How many rows differ from the oracle only by a rounding tie;
    None when any other difference exists. Rows are paired by their
    cells without a decimal point, which must identify them."""

    def key(row):
        return tuple(c for c in row if "." not in c)

    if len(got) != len(want):
        return None
    by_key = {}
    for row in want:
        by_key.setdefault(key(row), []).append(row)
    ties = 0
    for row in got:
        match = [w for w in by_key.get(key(row), []) if w == row]
        if match:
            by_key[key(row)].remove(match[0])
            continue
        cands = by_key.get(key(row), [])
        near = [
            w for w in cands
            if all(c == d or _last_digit_apart(c, d) for c, d in zip(row, w))
        ]
        if len(cands) != 1 or not near:
            return None
        cands.remove(near[0])
        ties += 1
    return ties


class Workload:
    name = "tpch_headline"

    def __init__(self, ctx):
        self.ctx = ctx
        self.queries: dict = {}
        self.expected: dict[str, tuple[int, str]] = {}
        self.oracle_rows: dict[str, list[tuple[str, ...]]] = {}
        # rows per result that differ from the oracle only by a rounding tie
        self.rounding_ties: dict[str, int] = {}
        self.data_dir = ""

    def setup(self) -> None:
        import duckdb

        from olap_project_spark.queries import QUERY_REGISTRY, _import_all

        _import_all()
        self.queries = {
            n: q for n, q in QUERY_REGISTRY.items() if q.fn.__module__.endswith(".tpch_suite")
        }
        if len(self.queries) != 19:
            raise RuntimeError(f"expected 19 tpch_suite queries, found {len(self.queries)}")
        # The fixture is built FIXTURE_REPEATS times (set-up time is
        # reported as the median build); the last build is used.
        for i in range(FIXTURE_REPEATS):
            t0 = time.time()
            data_dir = os.path.join(self.ctx.run_dir, "data", f"tpch{i}")
            tpch_data.generate(data_dir, self.ctx.seed, SCALE)
            con = duckdb.connect()
            try:
                for t in tpch_data.TABLES:
                    path = os.path.join(data_dir, f"{t}.parquet")
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
                expected, oracle_rows = {}, {}
                for n, q in self.queries.items():
                    cur = con.execute(q.oracle)
                    cols = [d[0] for d in cur.description]
                    rows = cur.fetchall()
                    expected[n] = fingerprint(cols, rows)
                    oracle_rows[n] = _rows(cols, rows)
            finally:
                con.close()
            self.ctx.fixture_times.append(time.time() - t0)
        self.data_dir, self.expected, self.oracle_rows = data_dir, expected, oracle_rows

    def _pass(self, rng: random.Random, timed: bool) -> None:
        names = sorted(self.queries)
        rng.shuffle(names)
        for n in names:
            self.ctx.run_op("read", n, lambda n=n: self._query(n), timed)

    def _query(self, name: str) -> bool:
        tr = self.ctx.tracer
        with tr.span("queries.build"):
            df = self.queries[name].fn(self.ctx.spark, self.data_dir)
        with tr.span("queries.collect"):
            rows = df.collect()
        if fingerprint(df.columns, rows) == self.expected[name]:
            return True
        ties = rounding_ties(_rows(df.columns, rows), self.oracle_rows[name])
        if ties is None:
            return False
        self.rounding_ties[name] = ties
        return True

    def warmup(self) -> None:
        rng = random.Random(f"warmup-{self.ctx.seed}")
        for _ in range(WARMUP_PASSES):
            self._pass(rng, timed=False)

    def run(self) -> None:
        rng = random.Random(f"timed-{self.ctx.seed}")
        for _ in range(max(1, round(self.ctx.seconds / PASS_SECONDS))):
            self._pass(rng, timed=True)
            self.ctx.end_cycle()

    def extra(self) -> dict:
        return {"detail": {"oracle_rounding_ties": self.rounding_ties}}
