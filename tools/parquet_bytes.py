#!/usr/bin/env python
"""Where the bytes of a written parquet dataset go, read from the footers.

Usage: python tools/parquet_bytes.py DIR

DIR is one dataset directory as Spark writes it (the data files sit
directly in it; ``_SUCCESS``, ``.crc`` and other ``_``/``.`` files are
skipped). Prints the row and data-file counts, the set of codecs over
every column chunk, the compressed bytes per row of each column
(pages, page headers and dictionaries, summed over row groups) and the
non-column bytes per row: everything else in the files, i.e. footers,
page indexes and magic bytes. Nothing but the footers is read.
"""

from __future__ import annotations

import os
import sys


def data_files(path: str) -> list[str]:
    return sorted(
        os.path.join(path, f)
        for f in os.listdir(path)
        if not f.startswith(("_", "."))
        and os.path.isfile(os.path.join(path, f))
    )


def summarize(path: str) -> dict:
    """Rows, files, codecs, per-column and non-column bytes of DIR."""
    import pyarrow.parquet as pq

    files = data_files(path)
    rows = 0
    total = 0
    codecs: set[str] = set()
    columns: dict[str, int] = {}
    for f in files:
        total += os.path.getsize(f)
        md = pq.ParquetFile(f).metadata
        rows += md.num_rows
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            for c in range(rg.num_columns):
                chunk = rg.column(c)
                codecs.add(chunk.compression)
                columns[chunk.path_in_schema] = (
                    columns.get(chunk.path_in_schema, 0)
                    + chunk.total_compressed_size
                )
    return {
        "rows": rows,
        "files": len(files),
        "bytes": total,
        "codecs": sorted(codecs),
        "column_bytes": columns,
        "non_column_bytes": total - sum(columns.values()),
    }


def main(argv: list[str]) -> int:
    if len(argv) != 1:
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        return 2
    s = summarize(argv[0])
    per_row = max(s["rows"], 1)
    print(f"rows        {s['rows']}")
    print(f"data files  {s['files']}")
    print(f"codecs      {','.join(s['codecs']) or '-'}")
    print("bytes/row   (compressed)")
    for name, b in s["column_bytes"].items():
        print(f"  {name:<20} {b / per_row:8.2f}")
    print(f"  {'(non-column)':<20} {s['non_column_bytes'] / per_row:8.2f}")
    print(f"  {'total':<20} {s['bytes'] / per_row:8.2f}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
