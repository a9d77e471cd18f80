"""Where an index's bytes go, read from its Parquet footers.

    python scripts/index_bytes.py <index root or URI> [--json]

Prints the bytes of every top-level entry of the index (a directory's
files summed, hidden temp files skipped), then, for each directory that
holds Parquet files, every column's compressed and uncompressed bytes
summed over its files and row groups, with the codecs, the encodings
and the share of column chunks that carry a dictionary page. The rest
of a table's file bytes (footers, page indexes) is its ``(footer)`` row.
Only pyarrow reads; no Spark session starts. ``--json`` prints the same
numbers as one JSON object.
"""
from __future__ import annotations

import argparse
import json
import os
import posixpath
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyarrow import fs as pafs  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

from openaleph_search_spark.index.fsio import resolve  # noqa: E402


def _files(fs, root: str) -> list[pafs.FileInfo]:
    sel = pafs.FileSelector(root, recursive=True)
    return [i for i in fs.get_file_info(sel)
            if i.type == pafs.FileType.File
            and not i.base_name.startswith(".")]


def index_bytes(index: str) -> dict:
    """→ ``{"entries": {name: bytes}, "tables": {dir: {"files", "bytes",
    "columns": {column: {...}}}}}``."""
    fs, root = resolve(index.rstrip("/"))
    entries: dict[str, int] = {}
    tables: dict[str, dict] = {}
    for info in _files(fs, root):
        top = posixpath.relpath(info.path, root).split("/")[0]
        entries[top] = entries.get(top, 0) + info.size
        if not info.base_name.endswith(".parquet"):
            continue
        t = tables.setdefault(top, {"files": 0, "bytes": 0, "columns": {}})
        t["files"] += 1
        t["bytes"] += info.size
        with fs.open_input_file(info.path) as f:
            md = pq.read_metadata(f)
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            for j in range(rg.num_columns):
                c = rg.column(j)
                col = t["columns"].setdefault(c.path_in_schema, {
                    "compressed": 0, "uncompressed": 0, "chunks": 0,
                    "dict_chunks": 0, "codecs": [], "encodings": []})
                col["compressed"] += c.total_compressed_size
                col["uncompressed"] += c.total_uncompressed_size
                col["chunks"] += 1
                col["dict_chunks"] += int(c.has_dictionary_page)
                if c.compression not in col["codecs"]:
                    col["codecs"].append(c.compression)
                for e in c.encodings:
                    if e not in col["encodings"]:
                        col["encodings"].append(e)
    return {"index": index, "total": sum(entries.values()),
            "entries": dict(sorted(entries.items())),
            "tables": dict(sorted(tables.items()))}


def _print(rep: dict) -> None:
    total = rep["total"] or 1
    print(f"{rep['index']}: {rep['total']:,} bytes")
    print(f"  {'entry':<24} {'bytes':>12} {'share':>7}")
    for name, b in rep["entries"].items():
        print(f"  {name:<24} {b:>12,} {b / total:>7.1%}")
    for name, t in rep["tables"].items():
        print(f"\n{name}: {t['files']} parquet files, {t['bytes']:,} bytes")
        print(f"  {'column':<24} {'compressed':>12} {'raw':>12} "
              f"{'dict':>7}  codec / encodings")
        cols = t["columns"]
        for cname, c in sorted(cols.items(),
                               key=lambda kv: -kv[1]["compressed"]):
            print(f"  {cname:<24} {c['compressed']:>12,} "
                  f"{c['uncompressed']:>12,} "
                  f"{c['dict_chunks']:>3}/{c['chunks']:<3}  "
                  f"{'+'.join(c['codecs'])} / {','.join(c['encodings'])}")
        rest = t["bytes"] - sum(c["compressed"] for c in cols.values())
        print(f"  {'(footer)':<24} {rest:>12,}")


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("index", help="index root (path or URI)")
    ap.add_argument("--json", action="store_true",
                    help="print one JSON object instead of tables")
    args = ap.parse_args(argv)
    rep = index_bytes(args.index)
    if args.json:
        print(json.dumps(rep))
    else:
        _print(rep)


if __name__ == "__main__":
    main()
