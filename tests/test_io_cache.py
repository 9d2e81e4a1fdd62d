"""Schema-cache invalidation (r14 verdict item 7 / ADVICE).

_FILE_SCHEMA_CACHE is keyed on realpath with the (mtime_ns, size) the
schema was inferred at: a file rewritten in-process must be re-inferred,
not read with the stale cached schema, and the rewrite must replace the
path's entry rather than add one.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq

from cobradb_spark.io import _FILE_SCHEMA_CACHE, load_table


def test_rewritten_file_reinfers_schema(spark, tmp_path):
    sf_dir = str(tmp_path)
    path = os.path.join(sf_dir, "customer.parquet")

    pq.write_table(
        pa.table({"c_custkey": pa.array([1, 2], pa.int64()),
                  "c_name": pa.array(["a", "b"], pa.string())}),
        path,
    )
    df1 = load_table(spark, sf_dir, "customer")
    assert [f.name for f in df1.schema.fields] == ["c_custkey", "c_name"]

    # rewrite with a different schema; force a distinct mtime_ns in case
    # the two writes land inside one clock tick
    pq.write_table(
        pa.table({"c_custkey": pa.array([1], pa.int64()),
                  "c_name": pa.array(["a"], pa.string()),
                  "c_extra": pa.array([7], pa.int64())}),
        path,
    )
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))

    df2 = load_table(spark, sf_dir, "customer")
    assert [f.name for f in df2.schema.fields] == [
        "c_custkey", "c_name", "c_extra",
    ], "rewritten parquet must be re-inferred, not served a stale schema"
    assert df2.count() == 1
    # the rewrite replaced the path's entry instead of adding a second one
    real = os.path.realpath(path)
    assert [v[2].names for k, v in _FILE_SCHEMA_CACHE.items() if k == real] == [
        ["c_custkey", "c_name", "c_extra"]
    ]
