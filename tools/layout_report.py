"""Per-family, per-column byte layout of one lake table snapshot.

    python tools/layout_report.py <table> [--snapshot N]

Reads only the parquet footers of the files the snapshot references (its
current and history families, plus pending merge-on-read delta files)
and prints, per family and per column: compressed bytes, rows, bytes per
row and the parquet physical type (with the timestamp encoding spelled
out, e.g. ``INT64 TIMESTAMP(MICROS,UTC)`` or legacy ``INT96``). Runs no
Spark job. Without ``--snapshot`` it reports the table's current
snapshot.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
from collections import defaultdict

import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from tpc_di_spark.lake.table import LakeTable  # noqa: E402


def type_label(col) -> str:
    """Physical type, plus the timestamp unit and UTC flag when the
    column carries a Timestamp logical type."""
    if col.logical_type.type != "TIMESTAMP":
        return col.physical_type
    lt = json.loads(col.logical_type.to_json())
    unit = {"milliseconds": "MILLIS", "microseconds": "MICROS", "nanoseconds": "NANOS"}
    utc = "UTC" if lt["isAdjustedToUTC"] else "local"
    return f"{col.physical_type} TIMESTAMP({unit[lt['timeUnit']]},{utc})"


def snapshot_families(table: LakeTable, snapshot_id: int | None = None) -> dict[str, list[str]]:
    """Table-relative data-file paths of one snapshot, per family."""
    snap = table.snapshot if snapshot_id is None else table.read_snapshot(snapshot_id)
    deltas = snap.properties.get("delta_batches", [])
    fams = {
        "current": [rel for fl in snap.files.values() for rel in fl],
        "history": [rel for fl in snap.hist_files.values() for rel in fl],
        "delta": [rel for b in deltas for fl in b["files"].values() for rel in fl],
    }
    return {f: rels for f, rels in fams.items() if rels}


def layout(path: str, snapshot_id: int | None = None) -> dict[str, dict[str, dict]]:
    """``{family: {column: {"bytes", "rows", "types"}}}`` summed over the
    snapshot's files from their footers; ``types`` is the sorted set of
    encodings seen (two when a family mixes old and new files)."""
    table = LakeTable.load(None, path)
    out: dict[str, dict[str, dict]] = {}
    for fam, rels in snapshot_families(table, snapshot_id).items():
        cols: dict[str, dict] = defaultdict(lambda: {"bytes": 0, "rows": 0, "types": set()})
        for rel in rels:
            md = pq.ParquetFile(os.path.join(table.path, rel)).metadata
            for i in range(md.num_columns):
                c = cols[md.schema.column(i).path]
                c["types"].add(type_label(md.schema.column(i)))
                c["rows"] += md.num_rows
                c["bytes"] += sum(
                    md.row_group(g).column(i).total_compressed_size
                    for g in range(md.num_row_groups)
                )
        out[fam] = {
            name: {**c, "types": sorted(c["types"])} for name, c in cols.items()
        }
    return out


def render(report: dict[str, dict[str, dict]]) -> str:
    lines = [f"{'family':<8} {'column':<16} {'bytes':>12} {'rows':>10} {'B/row':>7}  type"]
    for fam, cols in report.items():
        for name, c in cols.items():
            per_row = c["bytes"] / c["rows"] if c["rows"] else 0.0
            lines.append(
                f"{fam:<8} {name:<16} {c['bytes']:>12,} {c['rows']:>10,} {per_row:>7.2f}"
                f"  {' + '.join(c['types'])}"
            )
        total = sum(c["bytes"] for c in cols.values())
        lines.append(f"{fam:<8} {'(all)':<16} {total:>12,}")
    return "\n".join(lines)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("table", help="lake table root directory")
    p.add_argument("--snapshot", type=int, default=None, help="snapshot id (default: current)")
    args = p.parse_args(argv)
    print(render(layout(args.table, args.snapshot)))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
