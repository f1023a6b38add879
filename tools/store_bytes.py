#!/usr/bin/env python3
"""Where a store table's bytes go, read from its parquet footers.

For each table directory given (a warehouse table such as
<warehouse>/stmts, partition subdirectories included) prints the data
file count, the compression codecs of its column chunks, the compressed
bytes of each column with its share of the table, and the remainder:
file bytes outside every column chunk (footers, bloom filters, column
and offset indexes, the parquet magic).

    python3 tools/store_bytes.py <table dir> [<table dir> ...]
"""
import os
import sys
from collections import defaultdict

import pyarrow.parquet as pq


def data_files(table_dir):
    """The parquet data files under `table_dir`, skipping hidden and
    `_`-prefixed entries (Spark's markers and staging directories)."""
    for d, dirs, files in os.walk(table_dir):
        dirs[:] = sorted(x for x in dirs if not x.startswith((".", "_")))
        for f in sorted(files):
            if f.endswith(".parquet") and not f.startswith((".", "_")):
                yield os.path.join(d, f)


def table_bytes(table_dir):
    """(file count, codecs, {column: compressed bytes}, total bytes)."""
    files, codecs, cols, total = 0, set(), defaultdict(int), 0
    for path in data_files(table_dir):
        files += 1
        total += os.path.getsize(path)
        meta = pq.ParquetFile(path).metadata
        for g in range(meta.num_row_groups):
            rg = meta.row_group(g)
            for c in range(rg.num_columns):
                chunk = rg.column(c)
                codecs.add(chunk.compression)
                cols[chunk.path_in_schema] += chunk.total_compressed_size
    return files, codecs, cols, total


def main(argv):
    if not argv:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    for table_dir in argv:
        files, codecs, cols, total = table_bytes(table_dir)
        name = os.path.basename(os.path.normpath(table_dir))
        print(f"{name}: {files} files, {total:,} bytes, "
              f"codecs {', '.join(sorted(codecs)) or 'none'}")
        if not files:
            continue
        for col, n in sorted(cols.items(), key=lambda kv: -kv[1]):
            print(f"  {col:<24} {n:>12,}  {100.0 * n / total:5.1f}%")
        rest = total - sum(cols.values())
        print(f"  {'(footer, bloom, index)':<24} {rest:>12,}  "
              f"{100.0 * rest / total:5.1f}%")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
