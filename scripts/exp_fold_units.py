#!/usr/bin/env python
"""Does folding batch units recover the global pruning bound? (round 14)

The batch-keyed ingest lake (streaming_clustered_ingest: one
``batch=<id>`` unit per micro-batch, idempotent overwrite-by-batch-id)
pays the same per-batch tiling tax exp_zorder_incremental measured for
mode="append" — each unit is clustered among itself, so the kept
fraction sits at the per-BATCH bound, not the global one. The fold
compactor (``compact_ingest_units``) claims to recover the global
bound for the folded span without touching the hot tail. This measures
that claim with the same deterministic footer geometry, same predicate
box, same row-group budget as the sibling experiments:

- ``batch_lake`` — 10 hash-disjoint batches landed as batch=0..9 units
  sharing one edge snapshot (the ingest query's exact discipline)
- ``folded``     — the same lake after compact_ingest_units(keep_last=1):
  batches 0..8 folded into one re-clustered unit, batch=9 untouched
- ``global``     — one clustering pass over all rows (the upper bound)

Expected: batch_lake ≈ the per-batch bound, folded ≈ global (the one
unfolded hot unit keeps it a hair above), identical row multisets.

Usage: python scripts/exp_fold_units.py [sf_dir] [out_root] [batches]
Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

ROW_GROUP_BYTES = 256 * 1024
NUM_FILES = 8

PRED = {"l_discount": (0.06, 0.08), "l_quantity": (None, 10.0)}
COLS = ["l_shipdate", "l_discount", "l_quantity"]


def main(argv: list[str]) -> int:
    sf_dir = argv[1] if len(argv) > 1 else "/root/testdata/sf0.1"
    out_root = argv[2] if len(argv) > 2 else "/tmp/sparkgraft-fold-units"
    batches = int(argv[3]) if len(argv) > 3 else 10

    from pyspark.sql import functions as F

    from aind_protein_data_transformation_spark.catalog import load_table
    from aind_protein_data_transformation_spark.operators.layout import (
        compact_ingest_units,
        layout_scan_fraction,
        save_edge_snapshot,
        zorder_layout,
    )
    from aind_protein_data_transformation_spark.session import get_spark

    spark = get_spark("exp-fold-units")
    li = load_table(spark, sf_dir, "lineitem")
    lake = os.path.join(out_root, "lake")
    global_path = os.path.join(out_root, "global")
    shutil.rmtree(out_root, ignore_errors=True)

    zorder_layout(li, COLS, global_path, bits=6, num_files=NUM_FILES,
                  row_group_bytes=ROW_GROUP_BYTES, curve="hilbert")

    edges = None
    for b in range(batches):
        batch = li.filter(
            F.pmod(F.xxhash64("l_orderkey", "l_linenumber"), F.lit(batches))
            == b
        )
        edges = zorder_layout(
            batch, COLS, f"{lake}/batch={b}", bits=6, num_files=1,
            row_group_bytes=ROW_GROUP_BYTES, curve="hilbert",
            mode="overwrite", edges=edges,
        )
        if b == 0:
            save_edge_snapshot(lake, edges, spark)

    geometry = {"global": layout_scan_fraction(global_path, PRED),
                "batch_lake": layout_scan_fraction(lake, PRED)}
    report = compact_ingest_units(
        lake, COLS, spark, bits=6, num_files=NUM_FILES,
        row_group_bytes=ROW_GROUP_BYTES, curve="hilbert", keep_last=1,
    )
    # measured right after the fold: layout_scan_fraction walks only
    # the live units (folded unit + hot tail), not the retained ones
    geometry["folded"] = layout_scan_fraction(lake, PRED)
    rows = {k: g["rows"] for k, g in geometry.items()}
    assert len(set(rows.values())) == 1, f"arms lost rows: {rows}"
    for k, g in geometry.items():
        print(f"  {k}: {g['row_groups_kept']}/{g['row_groups']} groups, "
              f"{g['fraction_rows_kept']:.3f} kept",
              file=sys.stderr, flush=True)
    print(json.dumps({
        "experiment": "fold_units",
        "sf_dir": sf_dir,
        "batches": batches,
        "row_group_bytes": ROW_GROUP_BYTES,
        "folded_units": report["folded"],
        "folded_unit_name": report["unit"],
        "geometry": geometry,
    }))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv))
