"""Seeded invoice inbox: XLSX workbooks plus the ground truth a correct
consolidation must publish.

Every workbook is one of the reference's two layouts:

- simple: a header row (``N° Factura`` ...) after ten blank rows, one
  invoice line per row, money in CL, US or EU notation and dates in
  one of several formats, closed by a blank row and a summary row;
- mixed: fixed cells (C6 carrier, C8 invoice number, G3 date ...) above
  a service-detail table keyed by ``Órdenes de Embarque``, with money
  components and an optional ``Total Servicio ($)``, closed by a
  summary row.

Strings are written inline or through the shared-string table, in
turn. Some rows are invalid: unparseable money is rejected by the
extraction, and a total that does not add up is rejected by the
consolidation's validation. The first batch starts with a mixed
workbook; every later batch starts with a simple workbook that re-sends
earlier lines with their original amounts, so any two batches hold
both layouts and both string encodings. With two or more files per
batch, the last file of a batch is a byte-exact re-send of a file from
the batch before. Primary keys are
unique outside re-sends, so reconciliation holds for every file and
every batch must end in ``SUCCESS``.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass, field
from decimal import Decimal

from smartbots_etl_facturas_spark.plans.extract import (
    MIXED_KNOWN_HEADERS,
    MONEY_COMPONENT_COLS,
    SIMPLE_KNOWN_HEADERS,
    TOTAL_COL,
)
from smartbots_etl_facturas_spark.sources.xlsx import write_xlsx

# widest layout: mixed = 6 known headers + 7 components + total + notes
N_COLS = 16

CARRIERS = ("Transportes Andes", "Logistica Sur", "CargoNorte", "RutaPacifico")


@dataclass
class Sheet:
    """One workbook's grid and what it contributes."""

    grid: list[list]
    new_rows: int = 0
    new_total: Decimal = Decimal(0)
    validation_errors: int = 0
    # (invoice, reference, carrier, total) of every valid line
    lines: list[tuple[str, str, str, Decimal]] = field(default_factory=list)


@dataclass
class Batch:
    """One inbox delivery: a directory of workbooks."""

    path: str
    input_bytes: int = 0
    new_rows: int = 0
    new_total: Decimal = Decimal(0)
    validation_errors: int = 0


def _money(rng: random.Random, amount: Decimal) -> str:
    """Render a whole-peso ``amount`` in a notation parse_money accepts."""
    whole = int(amount)
    style = rng.choice(("cl", "us", "eu", "plain"))
    if style == "cl":
        return "$" + f"{whole:,}".replace(",", ".")
    if style == "us":
        return f"{whole:,}.00"
    if style == "eu":
        return f"{whole:,}".replace(",", ".") + ",00"
    return f"{whole}.00"


def _date(rng: random.Random) -> str:
    d, m, y = rng.randint(1, 28), rng.randint(1, 12), rng.randint(2023, 2026)
    return rng.choice((
        f"{d:02d}-{m:02d}-{y}",
        f"{y}-{m:02d}-{d:02d}",
        f"{d:02d}/{m:02d}/{y}",
        f"{y}-{m:02d}-{d:02d}T08:30:00",
    ))


def _simple_sheet(rng: random.Random, first_pk: int, n_rows: int,
                  resend: list[tuple[str, str, str, Decimal]]) -> Sheet:
    sheet = Sheet([[None] * 7 for _ in range(10)])
    sheet.grid.append(list(SIMPLE_KNOWN_HEADERS))
    for inv, ref, carrier, total in resend:  # same key, same amount: no insert
        sheet.grid.append([inv, ref, carrier, _money(rng, total), _money(rng, Decimal(0)),
                           _money(rng, total), _date(rng)])
    for k in range(n_rows):
        pk = first_pk + k
        net = Decimal(rng.randint(1_000, 5_000_000))
        tax = (net * Decimal("0.19")).quantize(Decimal(1))
        total = net + tax
        inv, ref, carrier = f"F-{pk:07d}", f"R-{pk % 97:03d}", rng.choice(CARRIERS)
        row = [inv, ref, carrier, _money(rng, net), _money(rng, tax), _money(rng, total),
               _date(rng)]
        roll = rng.random()
        if roll < 0.03:  # rejected by the extraction: unparseable money
            row[3] = "n/a"
        elif roll < 0.06:  # rejected by validation: total != net + tax
            row[5] = _money(rng, total + 500)
            sheet.validation_errors += 1
        else:
            sheet.new_rows += 1
            sheet.new_total += total
            sheet.lines.append((inv, ref, carrier, total))
        sheet.grid.append(row)
    sheet.grid.append([None] * 7)  # the first blank invoice ends the table
    sheet.grid.append(["TOTAL", None, None, None, None, None, None])
    return sheet


def _mixed_sheet(rng: random.Random, pk: int, n_rows: int) -> Sheet:
    sheet = Sheet([[None] * N_COLS for _ in range(11)])
    grid = sheet.grid
    inv, carrier = f"M-{pk:07d}", rng.choice(CARRIERS)
    grid[2][6] = _date(rng)          # G3 fecha_emision
    grid[3][5] = "Encargado"         # F4 responsable
    grid[5][2] = carrier             # C6 empresa_transporte
    grid[5][7] = "MV Pacifico"       # H6 nave
    grid[6][7] = "Valparaiso"        # H7 puerto_embarque
    grid[7][2] = inv                 # C8 numero_factura
    grid.append([*MIXED_KNOWN_HEADERS, *MONEY_COMPONENT_COLS, TOTAL_COL, "Observaciones"])
    for k in range(n_rows):
        comps = [Decimal(rng.randint(0, 400_000)) for _ in MONEY_COMPONENT_COLS]
        total = sum(comps, Decimal(0))
        ref = f"OE-{k:05d}"
        row = [ref, _date(rng), f"U{k % 9}", "Conductor", f"CONT{k:05d}", f"G-{k:05d}",
               *[_money(rng, c) for c in comps], None, "ok"]
        if rng.random() < 0.5:  # explicit total; otherwise derived from components
            row[13] = _money(rng, total)
        if rng.random() < 0.03:
            row[6] = "sin dato"
        else:
            sheet.new_rows += 1
            sheet.new_total += total
            sheet.lines.append((inv, ref, carrier, total))
        grid.append(row)
    grid.append([None] * 12 + ["TOTAL", None, None, None])
    return sheet


def make_inbox(root: str, seed: int, n_batches: int, files_per_batch: int,
               rows_per_file: int, resend_rows: int = 8) -> list[Batch]:
    """Write ``n_batches`` directories of workbooks under ``root`` and
    return what each batch must add to the published base."""
    rng = random.Random(seed)
    next_pk = 1
    published: list[tuple[str, str, str, Decimal]] = []
    sheets: dict[str, Sheet] = {}
    previous: list[str] = []
    batches = []
    n_file = 0
    for b in range(n_batches):
        batch = Batch(os.path.join(root, f"batch{b:02d}"))
        os.makedirs(batch.path)
        written = []
        for f in range(files_per_batch):
            path = os.path.join(batch.path, f"inv_{b:02d}_{f:02d}.xlsx")
            if previous and f == files_per_batch - 1 and f > 0:
                original = rng.choice(previous)
                with open(original, "rb") as src, open(path, "wb") as dst:
                    dst.write(src.read())
                sheet = sheets[original]
            else:
                if previous and f == 0:
                    resend = rng.sample(published, min(resend_rows, len(published)))
                    sheet = _simple_sheet(rng, next_pk, rows_per_file, resend)
                    next_pk += rows_per_file
                elif (b, f) != (0, 0) and rng.random() < 0.5:
                    sheet = _simple_sheet(rng, next_pk, rows_per_file, [])
                    next_pk += rows_per_file
                else:
                    sheet = _mixed_sheet(rng, next_pk, rows_per_file)
                    next_pk += 1
                write_xlsx(path, {"Hoja1": sheet.grid},
                           use_shared_strings=(seed + n_file) % 2 == 0)
                batch.new_rows += sheet.new_rows
                batch.new_total += sheet.new_total
                published.extend(sheet.lines)
            sheets[path] = sheet
            n_file += 1
            batch.validation_errors += sheet.validation_errors
            batch.input_bytes += os.path.getsize(path)
            written.append(path)
        previous = written
        batches.append(batch)
    return batches
