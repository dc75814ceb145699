"""Workload ``analytics``: registry queries and event streams over
seeded tables.

Each pass runs, in this order:

- single-plan relational queries, where scan, shuffle and Catalyst
  planning do the work;
- an iterative graph query, which spends its time in an eager fixpoint,
  ``localCheckpoint`` and many small jobs;
- two streams drained with ``maxFilesPerTrigger=1`` (AvailableNow) from
  seeded event files: ``ewma_stateful`` keeps its state in Python
  (``applyInPandasWithState``) and ``tumbling_agg`` in the JVM state
  store.

Queries come from ``__spark_entry__.queries()`` and are checked against
their ``oracle_sql()`` on DuckDB with ``scripts/check_parity.py``'s row
comparison. Streams are checked against their batch twins
(``operators.timeseries.ewma_smooth`` and batch ``tumbling_agg``).
"""

from __future__ import annotations

import json
import os
import statistics
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from tables import write_tables

RELATIONAL = ("pricing_summary", "reconciliation")
ITERATIVE = ("pagerank",)
STREAMS = ("ewma_stateful", "tumbling_agg")

STREAM_SCHEMA = ("event_id long, user_id long, ts timestamp, x_units long, "
                 "event_type string, value double")


def write_stream_files(out_dir: str, seed: int, n_files: int, rows_per_file: int,
                       n_users: int) -> None:
    """Time-ordered event files: file k holds the k-th slice of one
    event-time line, so no row arrives behind the watermark."""
    rng = np.random.default_rng(seed + 1)
    os.makedirs(out_dir)
    n = n_files * rows_per_file
    ts = np.datetime64("2024-01-01", "us").astype(np.int64) + np.cumsum(
        rng.integers(1, 4_000_000, n))
    table = pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "user_id": pa.array(rng.integers(0, n_users, n).astype(np.int64)),
        "ts": pa.array(ts.astype("datetime64[us]"), type=pa.timestamp("us")),
        "x_units": pa.array(rng.integers(0, 100_000, n).astype(np.int64)),
        "event_type": pa.array(np.array(["click", "error", "purchase", "signup", "view"],
                                        dtype=object)[rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.lognormal(3.5, 1.2, n), 2)),
    })
    for k in range(n_files):
        pq.write_table(table.slice(k * rows_per_file, rows_per_file),
                       os.path.join(out_dir, f"part-{k:03d}.parquet"))


def result_problem(got, want) -> str | None:
    """Compare (columns, rows) pairs the way scripts/check_parity.py does:
    same columns, and the same multiset of normalized rows."""
    from scripts.check_parity import _key

    (cols, rows), (want_cols, want_rows) = got, want
    if cols != want_cols:
        return f"columns {cols} != {want_cols}"
    if sorted(map(_key, rows)) != sorted(map(_key, want_rows)):
        return f"{len(rows)} rows differ from the {len(want_rows)} expected"
    return None


def _sorted_rows(df):
    cols = sorted(df.columns)
    return cols, [tuple(r[c] for c in cols) for r in df.select(*cols).collect()]


class Analytics:
    name = "analytics"
    SPAN_METRICS = {
        f"operators.{q}": ("jobs", "shuffle_bytes", "share_pct", "build_pct", "driver_gap_pct")
        for q in RELATIONAL + ITERATIVE
    }
    COUNT_METRICS = tuple(
        (f"streaming.{s}.{stat}", unit)
        for s in STREAMS
        for stat, unit in (("batches", "count"), ("rows_per_s", "1/s"),
                           ("planning_pct", "%"), ("commit_pct", "%"),
                           ("state_rows", "count"), ("state_bytes", "bytes"))
    )

    def __init__(self, work: str, seed: int, smoke: bool):
        self.work, self.seed = work, seed
        self.sf = 0.001 if smoke else 0.01
        self.stream_files = 2
        self.stream_rows = 500 if smoke else 1_500
        self.max_passes = 2 if smoke else 4
        self.tables = os.path.join(work, "tables")
        self.events = os.path.join(work, "events")

    def prepare(self) -> None:
        write_tables(self.tables, self.sf, self.seed)
        write_stream_files(self.events, self.seed, self.stream_files, self.stream_rows,
                           n_users=200)

    def _stream(self, spark, name: str, i: int):
        from smartbots_etl_facturas_spark.streaming.timeseries import ewma_stateful
        from smartbots_etl_facturas_spark.streaming.windows import tumbling_agg

        src = (spark.readStream.schema(STREAM_SCHEMA)
               .option("maxFilesPerTrigger", "1").parquet(self.events))
        if name == "ewma_stateful":
            out, mode = ewma_stateful(src.withWatermark("ts", "0 seconds"),
                                      tie_col="event_id"), "append"
        else:
            out, mode = tumbling_agg(src), "complete"
        table = f"perfbench_{name}_{i}"
        return table, (out.writeStream.format("memory").queryName(table)
                       .outputMode(mode)
                       .option("checkpointLocation",
                               os.path.join(self.work, "checkpoints", table))
                       .trigger(availableNow=True).start())

    def run_pass(self, spark, tracer, i: int) -> dict:
        import __spark_entry__ as entry

        qs = entry.queries()
        results, progress = {}, {}
        for name in RELATIONAL + ITERATIVE + STREAMS:
            if name in STREAMS:
                with tracer.span(f"streaming.{name}", "streaming") as sp:
                    table, query = self._stream(spark, name, i)
                    tracer.bind_group(str(query.runId), sp)
                    query.awaitTermination()
                    results[name] = _sorted_rows(spark.table(table))
                progress[name] = [json.loads(p.json) for p in query.recentProgress]
                spark.catalog.dropTempView(table)
            else:
                with tracer.span(f"operators.{name}", "operators") as sp:
                    df = qs[name](spark, self.tables)
                    sp.attrs["built"] = time.time()
                    results[name] = _sorted_rows(df)
        return {"results": results, "progress": progress}

    def check(self, spark, tracer, outputs: list[dict]) -> tuple[int, list[str]]:
        import __spark_entry__ as entry
        from scripts.check_parity import run_duckdb

        from smartbots_etl_facturas_spark.operators.timeseries import ewma_smooth
        from smartbots_etl_facturas_spark.streaming.windows import tumbling_agg

        expected = {}
        oracles = entry.oracle_sql()
        for name in RELATIONAL + ITERATIVE:
            expected[name] = run_duckdb(oracles[name], self.tables)
        with tracer.span("check.stream_twins", "check"):
            batch = spark.read.schema(STREAM_SCHEMA).parquet(self.events)
            twin = ewma_smooth(batch, ts_col="ts", tie_col="event_id").drop("event_id")
            expected["ewma_stateful"] = _sorted_rows(twin)
            expected["tumbling_agg"] = _sorted_rows(tumbling_agg(batch))
        problems = [f"pass {i} {name}: {problem}"
                    for i, out in enumerate(outputs)
                    for name, got in out["results"].items()
                    if (problem := result_problem(got, expected[name]))]
        return sum(len(o["results"]) for o in outputs), problems

    def layer_counts(self, tracer, passes, outputs: list[dict]) -> dict:
        """Stream statistics from each query's progress reports, per warm pass."""
        walls = {}
        for sp in tracer.spans:
            if sp.layer == "streaming":
                walls.setdefault(sp.name, []).append(sp.wall)
        per: dict[str, list[float]] = {}
        for i, out in enumerate(outputs[1:], start=1):
            for s, progress in out["progress"].items():
                trigger = sum(p["durationMs"].get("triggerExecution", 0) for p in progress)
                planning = sum(p["durationMs"].get("queryPlanning", 0) for p in progress)
                commit = sum(p["durationMs"].get("walCommit", 0)
                             + p["durationMs"].get("commitOffsets", 0) for p in progress)
                state = [op for p in progress[-1:] for op in p.get("stateOperators", [])]
                for stat, value in (
                    ("batches", len(progress)),
                    ("rows_per_s", sum(p["numInputRows"] for p in progress)
                     / walls[f"streaming.{s}"][i]),
                    ("planning_pct", 100.0 * planning / trigger),
                    ("commit_pct", 100.0 * commit / trigger),
                    ("state_rows", sum(op["numRowsTotal"] for op in state)),
                    ("state_bytes", sum(op["memoryUsedBytes"] for op in state)),
                ):
                    per.setdefault(f"streaming.{s}.{stat}", []).append(value)
        return {k: statistics.median(v) for k, v in per.items()}
