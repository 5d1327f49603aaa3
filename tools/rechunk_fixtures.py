#!/usr/bin/env python3
"""Rewrite the sf fixture parquet files with MULTIPLE ROW GROUPS,
content-identical (same rows, same order, same schema), each written
with snappy compression whatever the original used.

Why (r17, VERDICT r16 item 2): the driver-provided fixtures are single
parquet files with ONE row group each. A row group is Spark's minimum
split unit, so every scan stage — and all map work Spark fuses into it
(broadcast-join probes, partial aggregates, tokenization, hash folds) —
runs in ONE task regardless of core count. That serializes the scan leg
of every query at local[32] AND blinds the driver's 8-vs-32-core scaling
probe (every ratio reads ~1.0, `suspect_cpus_ignored` fires).

Each table must stay a single regular FILE (the DuckDB oracle reads
'{sf_dir}/{t}.parquet' as one path; a directory would break it), so the
fix is row_group_size: ~32 groups for the large tables, floor 4096 rows
per group so small tables keep sane group sizes.

The rewrite is verified in-process: the new file is read back and must
satisfy pyarrow Table.equals against the original (schema + every value
in order) before it replaces the original. Originals are backed up next
to the data dir first.

Usage: python3 tools/rechunk_fixtures.py <sf_dir> [<sf_dir> ...]
"""
import sys
import os
import shutil
import pyarrow.parquet as pq

TABLES = ["customer", "documents", "embeddings", "events", "lineitem",
          "nation", "orders", "part", "region", "supplier"]


def rechunk(sf_dir: str) -> None:
    backup = sf_dir.rstrip("/") + ".orig_rg1"
    os.makedirs(backup, exist_ok=True)
    for t in TABLES:
        src = os.path.join(sf_dir, f"{t}.parquet")
        if not os.path.isfile(src):
            continue
        f = pq.ParquetFile(src)
        rows = f.metadata.num_rows
        if f.metadata.num_row_groups > 1:
            print(f"{t}: already {f.metadata.num_row_groups} row groups, skip")
            continue
        rg = max(4096, (rows + 31) // 32)
        if rows <= 4096:
            print(f"{t}: {rows} rows <= 4096, skip")
            continue
        bpath = os.path.join(backup, f"{t}.parquet")
        if not os.path.exists(bpath):
            shutil.copy2(src, bpath)
        orig = pq.read_table(src)
        tmp = src + ".tmp"
        pq.write_table(orig, tmp, row_group_size=rg, compression="snappy")
        new = pq.read_table(tmp)
        if not new.equals(orig):
            os.remove(tmp)
            raise SystemExit(f"REFUSING: rewrite of {src} is not content-identical")
        os.replace(tmp, src)
        nf = pq.ParquetFile(src)
        print(f"{t}: {rows} rows -> {nf.metadata.num_row_groups} row groups "
              f"({rg} rows/group), verified equal")


if __name__ == "__main__":
    for d in sys.argv[1:]:
        print(f"== {d}")
        rechunk(d)
