"""Workload ``invoice_inbox``: the reference's cron job.

Each pass is one cron run over one inbox batch: the distributed XLSX
grid scan (``sources.xlsx``), the set-based extraction
(``plans.extract``) and the per-file consolidation
(``plans.consolidation``: validation, first-wins dedup, insert-only
upsert, reconciliation, ``sinks.audit`` and the staged publish of
``sinks.staged``) into one published base. This is the only workload
that writes.
"""

from __future__ import annotations

import os
import statistics
import time
from decimal import Decimal

from inbox import N_COLS, make_inbox
from pyspark.sql import functions as F

from smartbots_etl_facturas_spark.plans.consolidation import EXPECTED_COLUMNS, consolidate
from smartbots_etl_facturas_spark.plans.extract import extract_invoice_files
from smartbots_etl_facturas_spark.sinks.audit import AuditWriter
from smartbots_etl_facturas_spark.sinks.staged import current_version, read_published
from smartbots_etl_facturas_spark.sources.xlsx import read_xlsx_grid_distributed


def tree_size(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``."""
    size = files = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(dirpath, n))
            files += 1
    return size, files


def batch_problems(batch, report) -> list[str]:
    """A batch must be a SUCCESS that inserts and rejects exactly the
    rows the generator planted."""
    got = (report.status, report.inserted, report.validation_errors)
    want = ("SUCCESS", batch.new_rows, batch.validation_errors)
    if got == want:
        return []
    return [f"{os.path.basename(batch.path)}: (status, inserted, validation errors) = "
            f"{got}, want {want}" + (f"; {report.messages}" if report.messages else "")]


def published_problems(batches, rows: int, total) -> list[str]:
    """The published base holds every valid line once, with its amount."""
    want = (sum(b.new_rows for b in batches), sum((b.new_total for b in batches), Decimal(0)))
    if (rows, total) == want:
        return []
    return [f"published (rows, total) = {(rows, total)}, want {want}"]


class InvoiceInbox:
    name = "invoice_inbox"
    SPAN_METRICS = {
        "plans.extract": ("jobs", "share_pct", "build_pct"),
        "plans.consolidation": ("jobs_per_file", "share_pct", "driver_gap_pct", "busy_pct"),
    }
    COUNT_METRICS = (
        ("sources.xlsx_rows", "count"),
        ("sources.xlsx_bytes", "bytes"),
        ("sinks.bytes_written", "bytes"),
        ("sinks.files_written", "count"),
        ("sinks.write_amplification", "ratio"),
        ("sinks.bytes_stored_per_input_byte", "ratio"),
        ("sinks.readback_pct", "%"),
    )

    def __init__(self, work: str, seed: int, smoke: bool):
        self.work, self.seed = work, seed
        self.base = os.path.join(work, "consolidated")
        self.audit_dir = os.path.join(work, "audit")
        # one new workbook per cron run keeps a run inside the time budget;
        # the consolidation costs about the same per file at any row count
        self.files_per_batch = 2 if smoke else 1
        self.rows_per_file = 20 if smoke else 150
        self.max_passes = 2 if smoke else 4
        self.written: list[tuple[int, int]] = []

    def prepare(self) -> None:
        self.batches = make_inbox(os.path.join(self.work, "inbox"), self.seed,
                                  self.max_passes, self.files_per_batch,
                                  self.rows_per_file)

    def run_pass(self, spark, tracer, i: int) -> dict:
        batch = self.batches[i]
        before = [tree_size(self.base), tree_size(self.audit_dir)]
        audit = AuditWriter(spark, self.audit_dir)
        with tracer.span("sources.xlsx", "sources"):
            raw = read_xlsx_grid_distributed(spark, os.path.join(batch.path, "*.xlsx"),
                                             n_cols=N_COLS)
        with tracer.span("plans.extract", "plans") as sp:
            valid, _ = extract_invoice_files(raw)
            sp.attrs["built"] = time.time()
            names = sorted(r.source_file for r in
                           valid.select("source_file").distinct().collect())
            files = [
                (n.rsplit("/", 1)[-1], str(os.path.getmtime(n.removeprefix("file:"))),
                 valid.filter(F.col("source_file") == n).select(*EXPECTED_COLUMNS))
                for n in names
            ]
        with tracer.span("plans.consolidation", "plans", files=len(files)):
            report = consolidate(spark, files, self.base, audit)
        after = [tree_size(self.base), tree_size(self.audit_dir)]
        self.written.append((sum(a[0] - b[0] for a, b in zip(after, before)),
                             sum(a[1] - b[1] for a, b in zip(after, before))))
        return {"batch": batch, "report": report, "raw": raw}

    def check(self, spark, tracer, outputs: list[dict]) -> tuple[int, list[str]]:
        with tracer.span("sinks.readback", "sinks"):
            row = read_published(spark, self.base).agg(
                F.count(F.lit(1)).alias("n"), F.sum("total_amount").alias("t")).collect()[0]
        problems = [p for o in outputs for p in batch_problems(o["batch"], o["report"])]
        problems += published_problems([o["batch"] for o in outputs], row.n, row.t)
        return len(outputs) + 1, problems

    def layer_counts(self, tracer, passes, outputs: list[dict]) -> dict:
        """Per-layer numbers measured outside the event log, per warm pass."""
        warm = outputs[1:]
        input_bytes = sum(o["batch"].input_bytes for o in outputs)
        written = sum(w[0] for w in self.written)
        version_bytes, _ = tree_size(os.path.join(self.base, current_version(self.base)))
        stored = version_bytes + tree_size(self.audit_dir)[0]
        readback = next(s for s in tracer.spans if s.name == "sinks.readback")
        pass_s = statistics.median(p.wall for p in passes[1:])
        return {
            "sources.xlsx_rows": statistics.median(o["raw"].count() for o in warm),
            "sources.xlsx_bytes": statistics.median(o["batch"].input_bytes for o in warm),
            "sinks.bytes_written": statistics.median(w[0] for w in self.written[1:]),
            "sinks.files_written": statistics.median(w[1] for w in self.written[1:]),
            "sinks.write_amplification": written / version_bytes,
            "sinks.bytes_stored_per_input_byte": stored / input_bytes,
            "sinks.readback_pct": 100.0 * readback.wall / pass_s,
        }
