#!/usr/bin/env python3
"""Compare the seeded tables of inputs.py with a directory of the testdata
of TESTDATA.md at the same scale, column by column.

  python3 perfbench/match_testdata.py <testdata dir, e.g. .../sf0.1> <sf> [seed]

Prints, per table, the row counts and, per column, the parquet type
(physical and logical, so timestamp units show) and a value profile of
each side: min, median, mean, max and distinct count for numbers, range
and distinct count for timestamps, distinct count for strings. For
documents it adds the near-copy count and the words per text; for
embeddings the mean cosine within and across labels. Exit status 1 when a row count or a column type differs.
The replica is written under .perfbench/match-<sf>-<seed>/.
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import inputs  # noqa: E402


def profile(col):
    ty = col.type
    if pa.types.is_list(ty):
        return f"lists of {pc.list_value_length(col).to_numpy().mean():g}"
    ndv = pc.count_distinct(col).as_py()
    mm = pc.min_max(col)
    if pa.types.is_integer(ty) or pa.types.is_floating(ty):
        med = pc.quantile(col, q=0.5)[0].as_py()
        return (f"min {mm['min'].as_py():.6g} median {med:.6g} mean {pc.mean(col).as_py():.6g} "
                f"max {mm['max'].as_py():.6g} ndv {ndv}")
    if pa.types.is_timestamp(ty):
        return f"{mm['min']} .. {mm['max']} ndv {ndv}"
    return f"ndv {ndv}"


def extras(table, t):
    if table == "documents":
        texts = t.column("text").to_pylist()
        words = [len(x.split()) for x in texts]
        return [f"near-copies {sum(x.endswith(' dup') for x in texts)}, "
                f"words/text {min(words)}..{max(words)} mean {np.mean(words):.2f}"]
    if table == "embeddings":
        v = np.array(t.column("embedding").to_pylist(), dtype=np.float64)
        lab = np.array(t.column("label").to_pylist())
        cos = v @ v.T
        same = (lab[:, None] == lab[None, :]) & ~np.eye(len(v), dtype=bool)
        diff = lab[:, None] != lab[None, :]
        return [f"mean cosine same label {cos[same].mean():+.5f}, other label {cos[diff].mean():+.5f}"]
    return []


def main(drv_dir, sf, seed):
    rep_dir = os.path.join(os.getcwd(), ".perfbench", f"match-{sf:g}-{seed}")
    inputs.write(rep_dir, sf, seed)
    same = True
    for table in inputs.TABLES:
        fd = pq.ParquetFile(os.path.join(drv_dir, f"{table}.parquet"))
        fr = pq.ParquetFile(os.path.join(rep_dir, f"{table}.parquet"))
        td, tr = fd.read(), fr.read()
        same = same and td.num_rows == tr.num_rows
        print(f"== {table}: rows {td.num_rows} testdata, {tr.num_rows} replica")
        types = {}
        for f in (fd, fr):
            for i in range(len(f.schema)):
                c = f.schema.column(i)
                types.setdefault(c.path.split(".")[0], []).append(f"{c.physical_type}/{c.logical_type}")
        for name in td.column_names:
            td_type, tr_type = (types.get(name, []) + ["missing", "missing"])[:2]
            same = same and td_type == tr_type and name in tr.column_names
            prof = profile(tr.column(name)) if name in tr.column_names else "missing"
            print(f"  {name}: {td_type}{'' if td_type == tr_type else ' vs ' + tr_type}\n"
                  f"    testdata {profile(td.column(name))}\n    replica  {prof}")
        for a, b in zip(extras(table, td), extras(table, tr)):
            print(f"  testdata {a}\n  replica  {b}")
    print("row counts and column types match" if same else "row counts or column types DIFFER")
    return 0 if same else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], float(sys.argv[2]), int(sys.argv[3]) if len(sys.argv) > 3 else 1))
