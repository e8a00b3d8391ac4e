"""lakehouse_dml: SQL read-modify-write through
``export/lakehouse_sql.LakehouseSQL`` on one keyed manifest table
(``KEYS`` rows, created by CTAS in set-up from a seeded parquet file).

The load is a fixed cycle of statements, repeated, each cycle ending in
``OPTIMIZE``: aggregate ``SELECT``s between a ``MERGE INTO`` upsert, a
``DELETE FROM … WHERE`` and an ``UPDATE … WHERE``. Tombstones pile up
within a cycle and every ``SELECT`` folds them until ``OPTIMIZE``
rewrites the table; runs are timed in whole cycles, so the latency mix
does not depend on where a run stops.

An in-process model of the table (numpy arrays indexed by key) checks
each statement's reported effect and each ``SELECT`` result exactly.
"""

from __future__ import annotations

import os
import random
import time

import numpy as np

from harness import mean, tree_bytes

KEYS = 100_000
MERGE_ROWS = 100  # source rows per MERGE, a fifth of them new keys
RANGE_ROWS = 50  # key range of each DELETE and UPDATE
CYCLE = ("select", "merge", "select", "delete", "select", "update", "select", "optimize")
CYCLE_SECONDS = 10.0  # nominal length of one warm cycle on 4 cores
# ops_per_s is a median over cycles; four of them (about 40 s) let it
# pass over a cycle stalled by the host and average out slower drifts
MIN_TIMED_CYCLES = 4
FIXTURE_REPEATS = 3
WARMUP_CYCLES = 1
VERBS = ("select", "merge", "delete", "update", "optimize")
BUCKETS = 10


class Model:
    """The expected table: ``alive[k]`` marks live keys, ``g`` and
    ``cents`` hold their values."""

    def __init__(self, rng: np.random.Generator, capacity: int):
        self.alive = np.zeros(capacity, dtype=bool)
        self.alive[:KEYS] = True
        self.g = np.zeros(capacity, dtype=np.int64)
        self.cents = np.zeros(capacity, dtype=np.int64)
        self.g[:KEYS] = rng.integers(0, 1000, KEYS)
        self.cents[:KEYS] = rng.integers(0, 100_000, KEYS)
        self.next_key = KEYS

    def select(self) -> list[tuple[int, int, int]]:
        live = self.alive
        b = self.g[live] % BUCKETS
        n = np.bincount(b, minlength=BUCKETS)
        s = np.bincount(b, weights=self.cents[live], minlength=BUCKETS)
        return [(i, int(n[i]), int(s[i])) for i in range(BUCKETS) if n[i]]

    def in_range(self, lo: int, hi: int) -> np.ndarray:
        idx = np.arange(lo, hi + 1)
        return idx[self.alive[idx]]


class Workload:
    name = "lakehouse_dml"

    def __init__(self, ctx):
        self.ctx = ctx
        self.lh = None
        self.table = ""
        self.model: Model | None = None
        self.rng = random.Random(f"dml-{ctx.seed}")

    # ---------------------------------------------------------- set-up
    def setup(self) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        from olap_project_spark.export.lakehouse_sql import LakehouseSQL

        cycles = WARMUP_CYCLES + self._timed_cycles()
        capacity = KEYS + cycles * MERGE_ROWS
        self.model = Model(np.random.default_rng(self.ctx.seed), capacity)
        src = os.path.join(self.ctx.run_dir, "data", "dml_source.parquet")
        m = self.model
        pq.write_table(
            pa.table(
                {
                    "k": pa.array(np.arange(KEYS, dtype=np.int64)),
                    "g": pa.array(m.g[:KEYS].astype(np.int32)),
                    "cents": pa.array(m.cents[:KEYS]),
                }
            ),
            src,
        )
        self.lh = LakehouseSQL(self.ctx.spark, os.path.join(self.ctx.run_dir, "data", "lakehouse"))
        # The fixture is built FIXTURE_REPEATS times (set-up time is
        # reported as the median build); the last table is used.
        for i in range(FIXTURE_REPEATS):
            t0 = time.time()
            self.table = f"t{i}"
            row = self.lh.sql(f"CREATE TABLE {self.table} AS SELECT * FROM parquet.`{src}`").collect()[0]
            self.ctx.fixture_times.append(time.time() - t0)
            if int(row["rows"]) != KEYS:
                self.ctx.run_failures.append(f"CTAS reported {row['rows']} rows, expected {KEYS}")

    def _timed_cycles(self) -> int:
        return max(MIN_TIMED_CYCLES, round(self.ctx.seconds / CYCLE_SECONDS))

    # ------------------------------------------------------ statements
    def _sql(self, verb: str, statement: str):
        with self.ctx.tracer.span(f"lakehouse_sql.{verb}"):
            return self.lh.sql(statement).collect()

    def _select(self) -> bool:
        self.ctx.tracer.count("manifest_sink.live_tombstones", self._live_tombstones)
        rows = self._sql(
            "select",
            f"SELECT g % {BUCKETS} AS b, COUNT(*) AS n, SUM(cents) AS s "
            f"FROM {self.table} GROUP BY g % {BUCKETS}",
        )
        got = sorted((int(r["b"]), int(r["n"]), int(r["s"])) for r in rows)
        return got == self.model.select()

    def _merge(self) -> bool:
        m, rng = self.model, self.rng
        live = np.flatnonzero(m.alive)
        n_new = MERGE_ROWS // 5
        old = [int(live[rng.randrange(len(live))]) for _ in range(MERGE_ROWS - n_new)]
        keys = list(dict.fromkeys(old)) + list(range(m.next_key, m.next_key + n_new))
        rows = [(k, rng.randrange(1000), rng.randrange(100_000)) for k in keys]
        values = ", ".join(f"({k}, {g}, {c})" for k, g, c in rows)
        r = self._sql(
            "merge",
            f"MERGE INTO {self.table} USING (SELECT * FROM VALUES {values} AS s(k, g, cents)) "
            "ON (k) WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *",
        )[0]
        m.next_key += n_new
        for k, g, c in rows:
            m.alive[k], m.g[k], m.cents[k] = True, g, c
        return int(r["n_updates"]) == len(rows)

    def _range(self) -> tuple[int, int]:
        lo = self.rng.randrange(self.model.next_key - RANGE_ROWS)
        return lo, lo + RANGE_ROWS - 1

    def _delete(self) -> bool:
        lo, hi = self._range()
        victims = self.model.in_range(lo, hi)
        r = self._sql("delete", f"DELETE FROM {self.table} WHERE k BETWEEN {lo} AND {hi}")[0]
        self.model.alive[victims] = False
        return int(r["matched_keys"]) == len(victims)

    def _update(self) -> bool:
        lo, hi = self._range()
        delta = self.rng.randrange(1, 1000)
        hit = self.model.in_range(lo, hi)
        r = self._sql(
            "update",
            f"UPDATE {self.table} SET cents = cents + {delta} WHERE k BETWEEN {lo} AND {hi}",
        )[0]
        self.model.cents[hit] += delta
        return int(r["n_updated"]) == len(hit)

    def _optimize(self) -> bool:
        self._sql("optimize", f"OPTIMIZE {self.table}")
        return True

    def _live_tombstones(self) -> int:
        from olap_project_spark.export.manifest_sink import table_history

        n = 0
        for h in table_history(self.lh.path(self.table)):
            if h["kind"] == "rewrite":
                n = 0
            elif h["kind"] in ("delete", "merge"):
                n += 1
        return n

    def _cycles(self, count: int, timed: bool) -> None:
        ops = {
            "select": self._select,
            "merge": self._merge,
            "delete": self._delete,
            "update": self._update,
            "optimize": self._optimize,
        }
        for _ in range(count):
            for verb in CYCLE:
                kind = "read" if verb == "select" else "write"
                self.ctx.run_op(kind, verb, ops[verb], timed)
            if timed:
                self.ctx.end_cycle()

    def warmup(self) -> None:
        self._cycles(WARMUP_CYCLES, timed=False)

    def run(self) -> None:
        self._cycles(self._timed_cycles(), timed=True)

    # -------------------------------------------------------- results
    def extra(self) -> dict:
        from olap_project_spark.export.manifest_sink import table_history

        path = self.lh.path(self.table)
        live = int(self.model.alive.sum())
        detail = {"table_bytes_per_row": tree_bytes(path) / live, "live_rows": live}
        tr = self.ctx.tracer
        if not tr.enabled:
            return {"detail": detail}
        history = table_history(path)
        layer = {
            "manifest_sink.files_per_commit": mean([h["n_files"] for h in history]),
            "manifest_sink.log_versions": float(len(history)),
            "manifest_sink.live_tombstones": mean(tr.counts.get("manifest_sink.live_tombstones", [])),
            "manifest_sink.bytes_per_row": detail["table_bytes_per_row"],
        }
        for verb in VERBS:
            layer[f"lakehouse_sql.{verb}_ms"] = mean(tr.span_ms(f"lakehouse_sql.{verb}"))
            layer[f"lakehouse_sql.{verb}_jobs"] = mean(tr.span_jobs(f"lakehouse_sql.{verb}"))
        return {"detail": detail, "layer": layer}
