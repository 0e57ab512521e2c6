"""Compare the generated sf0.1 base with the driver-generated test data.

    python3 perfbench/check_base.py TESTDATA_SF01_DIR [.perfbench_data/base]

For every table it compares the parquet schema (physical and logical types)
and the row count, and for every column the null count and the distinct
count (within 2%). A column of at most 100 distinct values must hold the
same set of values; a numeric or temporal column must have its 1st, 50th
and 99th percentiles within 2% of the reference's 1st-99th percentile range.
Free text is compared by distinct count only. Prints one line per difference
and exits 1 when there is any. The benchmark itself never reads the test
data.
"""

from __future__ import annotations

import os
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq


QUANTILES = [0.01, 0.5, 0.99]


def _flat(col: pa.ChunkedArray) -> pa.ChunkedArray:
    if pa.types.is_list(col.type):
        col = pc.list_flatten(col)
    if pa.types.is_temporal(col.type):
        col = col.cast(pa.int64())
    return col


def compare_column(where: str, ref: pa.ChunkedArray, got: pa.ChunkedArray) -> list[str]:
    ref, got = _flat(ref), _flat(got)
    diffs = []
    if ref.null_count != got.null_count:
        diffs.append(f"{where}: {got.null_count} nulls != {ref.null_count}")
    ndv_r, ndv_g = pc.count_distinct(ref).as_py(), pc.count_distinct(got).as_py()
    if abs(ndv_r - ndv_g) > 0.02 * ndv_r:
        diffs.append(f"{where}: {ndv_g} distinct values != {ndv_r}")
    if ndv_r <= 100:
        want, have = set(pc.unique(ref).to_pylist()), set(pc.unique(got).to_pylist())
        if want != have:
            diffs.append(f"{where}: values {sorted(have ^ want, key=str)[:5]} not shared")
    elif pa.types.is_integer(ref.type) or pa.types.is_floating(ref.type):
        qr = pc.quantile(ref, q=QUANTILES).to_pylist()
        qg = pc.quantile(got, q=QUANTILES).to_pylist()
        tol = 0.02 * (qr[-1] - qr[0])
        if any(abs(a - b) > tol for a, b in zip(qr, qg)):
            diffs.append(f"{where}: percentiles {qg} != {qr}")
    return diffs


def compare(ref_dir: str, base_dir: str) -> list[str]:
    diffs = []
    for fname in sorted(os.listdir(ref_dir)):
        name, ext = os.path.splitext(fname)
        if ext != ".parquet":
            continue
        ref, got = (pq.ParquetFile(os.path.join(d, fname)) for d in (ref_dir, base_dir))
        if not ref.schema.equals(got.schema):
            diffs.append(f"{name}: schema {got.schema_arrow} != {ref.schema_arrow}")
            continue
        if ref.metadata.num_rows != got.metadata.num_rows:
            diffs.append(f"{name}: {got.metadata.num_rows} rows != {ref.metadata.num_rows}")
        rt, gt = ref.read(), got.read()
        for col in rt.column_names:
            diffs.extend(compare_column(f"{name}.{col}", rt[col], gt[col]))
    return diffs


if __name__ == "__main__":
    ref_dir = sys.argv[1]
    base_dir = sys.argv[2] if len(sys.argv) > 2 else os.path.join(".perfbench_data", "base")
    found = compare(ref_dir, base_dir)
    print("\n".join(found) if found else "generated base matches the reference")
    sys.exit(1 if found else 0)
