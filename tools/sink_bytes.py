#!/usr/bin/env python3
"""Where the bytes of parquet trees go, read from the files' footers.

usage: tools/sink_bytes.py [--top N] <dir>...

Each parquet file under a <dir> belongs to a tree: the path up to and
including a `_sink=` directory (the pipeline's store and publish trees),
else the path up to its first `key=value` directory (one `_batch_id`
state table per directory), else `.`. Per tree it prints the file count,
the bytes on disk, the footer overhead (file bytes not in any column
chunk: footer, magic and length words) and the N columns with the most
compressed bytes, each with its share of the tree's bytes and its
codec(s). Footers are read through DuckDB's `parquet_metadata`.
"""
import argparse
import collections
import os

import duckdb


def tree_of(rel):
    parts = rel.split(os.sep)[:-1]
    for i, p in enumerate(parts):
        if p.startswith("_sink="):
            return os.path.join(*parts[:i + 1])
        if "=" in p:
            return os.path.join(*parts[:i]) if i else "."
    return os.path.join(*parts) if parts else "."


def parquet_files(root):
    for d, _, names in os.walk(root):
        for n in names:
            if n.endswith(".parquet") and not n.startswith((".", "_")):
                yield os.path.join(d, n)


def report(root, top):
    files = sorted(parquet_files(root))
    if not files:
        print(f"== {root}: no parquet files")
        return
    trees = collections.defaultdict(list)
    for f in files:
        trees[tree_of(os.path.relpath(f, root))].append(f)
    con = duckdb.connect()
    total_files = total_bytes = 0
    for tree, fs in sorted(trees.items()):
        size = sum(os.path.getsize(f) for f in fs)
        rows = con.execute(
            "SELECT path_in_schema, sum(total_compressed_size), "
            "string_agg(DISTINCT compression, '/') "
            "FROM parquet_metadata(?) GROUP BY 1 ORDER BY 2 DESC", [fs]).fetchall()
        chunks = sum(r[1] for r in rows)
        total_files += len(fs)
        total_bytes += size
        print(f"== {os.path.join(root, tree)}: {len(fs)} files, {size} B, "
              f"footer overhead {size - chunks} B ({(size - chunks) / size:.1%})")
        for path, b, codecs in rows[:top]:
            name = path.replace(", ", ".")  # a nested column's path
            print(f"   {name:28s} {b:12d} B  {b / size:6.1%}  {codecs}")
    print(f"== {root}: {total_files} files, {total_bytes} B in {len(trees)} trees")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--top", type=int, default=5,
                    help="columns listed per tree (default 5)")
    ap.add_argument("dirs", nargs="+")
    a = ap.parse_args()
    for d in a.dirs:
        report(d, a.top)


if __name__ == "__main__":
    main()
