#!/usr/bin/env python3
"""Per-file and per-column layout of parquet data files.

    python3 tools/parquet_layout.py PATH... [--expect-codec ZSTD]

Each PATH is a parquet file or a directory, searched recursively for
`*.parquet`. A snapshot table's metadata is skipped: anything under a
`_log`, `_staging` or `_dv` (deletion-vector sidecar) directory.

For each file it prints the row and row-group counts, then per column
the codecs, the encodings, and the compressed and uncompressed bytes
summed over the file's row groups. A last table totals the bytes per
column over all files, with the compression ratio.

With --expect-codec the tool exits 1 when any column chunk uses another
codec and lists those chunks; without it, it always exits 0 once every
file was read.
"""
import argparse
import os
import sys
from collections import OrderedDict

import pyarrow.parquet as pq

SKIP_DIRS = {"_log", "_staging", "_dv"}


def data_files(paths):
    for path in paths:
        if os.path.isfile(path):
            yield path
            continue
        for root, dirs, files in os.walk(path):
            dirs[:] = sorted(d for d in dirs if d not in SKIP_DIRS)
            for name in sorted(files):
                if name.endswith(".parquet"):
                    yield os.path.join(root, name)


def layout(path):
    """(rows, row groups, {column: [codecs, encodings, compressed, uncompressed]})."""
    meta = pq.ParquetFile(path).metadata
    cols = OrderedDict()
    for g in range(meta.num_row_groups):
        group = meta.row_group(g)
        for c in range(group.num_columns):
            chunk = group.column(c)
            entry = cols.setdefault(chunk.path_in_schema, [set(), set(), 0, 0])
            entry[0].add(chunk.compression)
            entry[1].update(chunk.encodings)
            entry[2] += chunk.total_compressed_size
            entry[3] += chunk.total_uncompressed_size
    return meta.num_rows, meta.num_row_groups, cols


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("paths", nargs="+", metavar="PATH")
    ap.add_argument("--expect-codec", metavar="CODEC",
                    help="exit 1 if any column chunk uses another codec (e.g. ZSTD)")
    args = ap.parse_args(argv)
    expect = args.expect_codec.upper() if args.expect_codec else None

    files = list(data_files(args.paths))
    if not files:
        print("no parquet data files under " + " ".join(args.paths), file=sys.stderr)
        return 2
    totals = OrderedDict()
    wrong = []
    for f in files:
        rows, groups, cols = layout(f)
        print(f"{f}  rows={rows} row_groups={groups}")
        print(f"  {'column':<24} {'codec':<10} {'compressed':>11} {'uncompressed':>13}  encodings")
        for name, (codecs, encodings, comp, uncomp) in cols.items():
            codec = ",".join(sorted(codecs))
            print(f"  {name:<24} {codec:<10} {comp:>11} {uncomp:>13}  {','.join(sorted(encodings))}")
            t = totals.setdefault(name, [0, 0])
            t[0] += comp
            t[1] += uncomp
            if expect:
                wrong += [(f, name, c) for c in sorted(codecs) if c != expect]
    print(f"\ntotal over {len(files)} files")
    print(f"  {'column':<24} {'compressed':>11} {'uncompressed':>13} {'ratio':>6}")
    all_comp = all_uncomp = 0
    for name, (comp, uncomp) in totals.items():
        all_comp += comp
        all_uncomp += uncomp
        print(f"  {name:<24} {comp:>11} {uncomp:>13} {uncomp / max(comp, 1):>6.2f}")
    print(f"  {'(all columns)':<24} {all_comp:>11} {all_uncomp:>13} {all_uncomp / max(all_comp, 1):>6.2f}")
    if wrong:
        print(f"\n{len(wrong)} column chunk(s) not {expect}:", file=sys.stderr)
        for f, name, c in wrong:
            print(f"  {f}  {name}: {c}", file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
