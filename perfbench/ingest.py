"""ingest_lakehouse: the paper's pipeline. The seeded
``sources/pos_datasource`` stream (a fixed ``ROWS_PER_BATCH`` events
per micro-batch) runs through Structured Streaming ``foreachBatch``;
each batch is cleaned, routed and committed with ``save_manifest`` to
the ``valid``, ``fraud`` and ``error`` tables (one write op per batch).
After every ``REFRESH_EVERY`` batches a dashboard refresh runs the ten
``queries/transactions.py`` questions, each over a fresh
``read_committed(valid)`` (one read op per question), so reads plan
against a log that grows with every batch.

Checks: q0's grand-total ``n_txns`` equals the rows ``save_manifest``
reported for ``valid``; at the end, ``read_committed`` counts of all
three tables equal the rows ``save_manifest`` reported.
"""

from __future__ import annotations

import os

from harness import mean, tree_bytes

ROWS_PER_BATCH = 4000
REFRESH_EVERY = 2
WARMUP_CYCLES = 1
CYCLE_SECONDS = 6.0  # nominal: REFRESH_EVERY batches plus one refresh, 4 cores
TABLES = ("valid", "fraud", "error")
PROCESSED_AT = "2024-01-22 00:00:00"

_PROGRESS = {
    "streaming.latest_offset_ms": "latestOffset",
    "streaming.get_batch_ms": "getBatch",
    "streaming.query_planning_ms": "queryPlanning",
    "streaming.wal_commit_ms": "walCommit",
    "streaming.add_batch_ms": "addBatch",
    "streaming.trigger_ms": "triggerExecution",
}


def _questions():
    from olap_project_spark.queries import transactions as t

    return [
        t.q0_merchant_rollup,
        t.q1_busiest_hours,
        t.q2_top_cities_by_value,
        t.q3_top_merchants,
        t.q4_fraud_rate_by,
        t.q5_rapid_transactions,
        t.q6_large_txn_profile,
        t.q7_fraud_trend,
        t.q8_weekend_comparison,
        t.q9_above_avg_flag_users,
    ]


class Workload:
    name = "ingest_lakehouse"

    def __init__(self, ctx):
        self.ctx = ctx
        self.questions = _questions()
        self.root = os.path.join(ctx.run_dir, "data", "ingest")
        self.warmup_batches = WARMUP_CYCLES * REFRESH_EVERY
        self.batches = self.warmup_batches + REFRESH_EVERY * max(
            1, round(ctx.seconds / CYCLE_SECONDS)
        )
        self.committed = dict.fromkeys(TABLES, 0)
        self.schema = None
        self.query = None
        self.timed_progress: list[dict] = []

    def path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def setup(self) -> None:
        from olap_project_spark.sources.pos_datasource import PosSimulatorDataSource

        # no fixture beyond the source: the tables are born by the
        # stream's first commit
        self.ctx.spark.dataSource.register(PosSimulatorDataSource)

    # ------------------------------------------------------------ ops
    def _commit(self, batch_df) -> bool:
        from olap_project_spark.export.manifest_sink import save_manifest
        from olap_project_spark.transforms.clean import clean
        from olap_project_spark.transforms.route import route

        tr = self.ctx.tracer
        with tr.span("transforms.clean_route"):
            cleaned = clean(batch_df, processed_at=PROCESSED_AT)
            routed = route(cleaned)
        cleaned.persist()
        try:
            for table in TABLES:
                with tr.span("manifest_sink.save"):
                    r = save_manifest(routed[table], self.path(table))
                self.committed[table] += r["n_rows"]
                tr.count("manifest_sink.files_per_commit", r["n_files"])
            self.schema = routed["valid"].schema
        finally:
            cleaned.unpersist()
        return True

    def _question(self, q) -> bool:
        from olap_project_spark.export.manifest_sink import read_committed

        tr = self.ctx.tracer
        with tr.span("manifest_sink.read_plan"):
            valid = read_committed(self.ctx.spark, self.path("valid"), self.schema)
        with tr.span("queries.build"):
            df = q(valid)
        with tr.span("queries.collect"):
            rows = df.collect()
        if q.__name__ != "q0_merchant_rollup":
            return True
        grand = [r for r in rows if r["Merchant_Name"] is None and r["Year"] is None]
        return len(grand) == 1 and grand[0]["n_txns"] == self.committed["valid"]

    def _on_batch(self, batch_df, batch_id: int) -> None:
        ctx = self.ctx
        timed = batch_id >= self.warmup_batches
        group = ctx.spark.sparkContext.getLocalProperty("spark.jobGroup.id")
        ctx.run_op("write", "batch", lambda: self._commit(batch_df), timed, group)
        if (batch_id + 1) % REFRESH_EVERY == 0:
            for q in self.questions:
                ctx.run_op("read", q.__name__, lambda q=q: self._question(q), timed, group)
            if timed:
                ctx.end_cycle()
        if batch_id == self.warmup_batches - 1:
            ctx.end_warmup()
        if batch_id == self.batches - 1:
            ctx.end_window()

    def warmup(self) -> None:
        """Start the one stream and return once its warm-up batches are
        committed; ``run`` drains the rest."""
        spark = self.ctx.spark
        self.query = (
            spark.readStream.format("pos_simulator")
            .option("seed", self.ctx.seed)
            .option("rows_per_batch", ROWS_PER_BATCH)
            .option("rows", ROWS_PER_BATCH * self.batches)
            .load()
            .writeStream.foreachBatch(self._on_batch)
            .option("checkpointLocation", self.path("_checkpoint"))
            .trigger(processingTime="0 seconds")
            .start()
        )
        self.ctx.wait_warmup(self.query)

    def run(self) -> None:
        try:
            self.query.processAllAvailable()
        finally:
            self.query.stop()
        if self.query.exception() is not None:
            raise RuntimeError(f"stream failed: {self.query.exception()}")
        self.timed_progress = [
            p for p in self.query.recentProgress if p["batchId"] >= self.warmup_batches
        ]

    # -------------------------------------------------------- results
    def extra(self) -> dict:
        from olap_project_spark.export.manifest_sink import read_committed, table_history

        ctx, tr = self.ctx, self.ctx.tracer
        for table in TABLES:
            n = read_committed(ctx.spark, self.path(table), self.schema).count()
            if n != self.committed[table]:
                ctx.run_failures.append(
                    f"{table}: read_committed has {n} rows, save_manifest reported "
                    f"{self.committed[table]}"
                )
        live = sum(self.committed.values())
        size = sum(tree_bytes(self.path(t)) for t in TABLES)
        detail = {
            "events_per_s": ROWS_PER_BATCH * (self.batches - self.warmup_batches) / ctx.window_s,
            "table_bytes_per_row": size / max(live, 1),
            "rows_committed": self.committed,
        }
        if not tr.enabled:
            return {"detail": detail}
        history = [h for t in TABLES for h in table_history(self.path(t))]
        progress = self.timed_progress
        layer = {
            name: sum(p["durationMs"].get(key, 0) for p in progress) / max(len(progress), 1)
            for name, key in _PROGRESS.items()
        }
        layer.update(
            {
                "transforms.clean_route_ms": mean(tr.span_ms("transforms.clean_route")),
                "manifest_sink.save_ms": mean(tr.span_ms("manifest_sink.save")),
                "manifest_sink.commit_driver_ms": mean(
                    tr.span_outside_jobs_ms("manifest_sink.save")
                ),
                "manifest_sink.files_per_commit": mean(
                    tr.counts.get("manifest_sink.files_per_commit", [])
                ),
                "manifest_sink.log_versions": float(len(history)),
                "manifest_sink.read_plan_ms": mean(tr.span_ms("manifest_sink.read_plan")),
                "manifest_sink.bytes_per_row": detail["table_bytes_per_row"],
            }
        )
        return {"detail": detail, "layer": layer}
