"""The shared table of `share_http`: the fixture `lineitem` re-laid into
range files.

The file set depends only on its source, so a checkout writes it once and
every run reuses it; the benchmark seed varies only the operation order
and parameters.
"""
import json
import os

import numpy as np
import pyarrow.parquet as pq

# Files the sharing server lists for the table (README "Sizes").
N_FILES = 32


def _write_atomic(table, path):
    tmp = path + ".tmp"
    pq.write_table(table, tmp, row_group_size=len(table) or 1, compression="snappy")
    os.replace(tmp, path)


def ensure_share(src_dir, out_dir):
    """`lineitem` of `src_dir` re-laid into `N_FILES` files of disjoint,
    contiguous `l_orderkey` ranges, plus `manifest.json`: per file its
    size, row count, key range and the compressed bytes of each column
    chunk, read back from the written footer. Column types are kept as
    the source has them."""
    src = os.path.join(src_dir, "lineitem.parquet")
    manifest = os.path.join(out_dir, "manifest.json")
    if os.path.exists(manifest):
        with open(manifest) as fh:
            if json.load(fh)["source"] == src:
                return out_dir
    os.makedirs(out_dir, exist_ok=True)
    li = pq.read_table(src)
    li = li.sort_by([("l_orderkey", "ascending"), ("l_linenumber", "ascending"),
                     ("l_partkey", "ascending"), ("l_suppkey", "ascending")])
    keys = li.column("l_orderkey").to_numpy()
    # cut at key boundaries so no key spans two files
    cuts = [0]
    for f in range(1, N_FILES):
        cuts.append(int(np.searchsorted(keys, keys[len(keys) * f // N_FILES], "left")))
    cuts.append(len(keys))
    files = []
    for f in range(N_FILES):
        part = li.slice(cuts[f], cuts[f + 1] - cuts[f])
        name = f"part-{f:05d}.parquet"
        path = os.path.join(out_dir, name)
        _write_atomic(part, path)
        rg = pq.ParquetFile(path).metadata.row_group(0)
        files.append({
            "name": name, "size": os.path.getsize(path), "rows": len(part),
            "min_key": int(keys[cuts[f]]), "max_key": int(keys[cuts[f + 1] - 1]),
            "column_bytes": {rg.column(c).path_in_schema: rg.column(c).total_compressed_size
                             for c in range(rg.num_columns)}})
    with open(manifest + ".tmp", "w") as fh:
        json.dump({"source": src, "files": files}, fh)
    os.replace(manifest + ".tmp", manifest)
    return out_dir
