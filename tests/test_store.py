"""TableStore versions: every commit publishes through one step that
records the directory's read-back schema and the stats of its fresh files.

- the DERIVED read-back schema (zero-job replacement for the write-time
  inference pass) must be byte-identical to what inference returns,
  across the full supported type matrix, and must FALL BACK to real
  inference for anything outside the proven-safe set;
- every write path (overwrite, append, selective overwrite, DML, bucketed)
  records a schema that later reads plan from without a Spark job;
- DML and selective-overwrite commits read footers and value sets only
  for the files they wrote, carrying linked files' entries forward.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest
from pyspark.sql import types as T

from projectone_spark.store import TableStore


def _roundtrip(spark, df, tmpdir):
    from projectone_spark.store import _derived_readback_schema

    derived = _derived_readback_schema(df.schema)
    path = str(tmpdir)
    df.write.mode("overwrite").parquet(path)
    inferred = spark.read.parquet(path).schema.json()
    return derived, inferred


def test_derived_readback_schema_full_type_matrix(spark, tmp_path):
    df = spark.sql("""
      SELECT * FROM VALUES
        (CAST(2 AS TINYINT), CAST(3 AS SMALLINT), CAST(4 AS INT),
         CAST(5 AS BIGINT), CAST(6.5 AS FLOAT), CAST(7.5 AS DOUBLE),
         'x', CAST('ab' AS BINARY), true,
         DATE'2024-01-01', TIMESTAMP'2024-01-01 10:00:00',
         TIMESTAMP_NTZ'2024-01-01 10:00:00',
         CAST(1.25 AS DECIMAL(10,2)), array(1.5D, 2.5D),
         named_struct('a', 1L, 'b', array('s')), map('k', 1L))
      t(ty, sh, i, l, f, d, s, bin, bo, dt, ts, tsn, dec, arr, st, mp)""")
    derived, inferred = _roundtrip(spark, df, tmp_path)
    assert derived == inferred


def test_derived_readback_schema_forces_nullability(spark, tmp_path):
    """Non-nullable writer schemas (VALUES inline tables, explicit DDL)
    read back all-nullable from parquet; the derived schema must apply
    the same forcing recursively (array containsNull, map
    valueContainsNull, nested struct fields)."""
    schema = T.StructType([
        T.StructField("a", T.LongType(), False),
        T.StructField("b", T.ArrayType(T.DoubleType(), False), False),
        T.StructField("c", T.StructType(
            [T.StructField("x", T.StringType(), False)]), False),
        T.StructField("m", T.MapType(
            T.StringType(), T.ArrayType(T.LongType(), False), False), False),
    ])
    df = spark.createDataFrame([(1, [1.0], ("s",), {"k": [2]})], schema)
    derived, inferred = _roundtrip(spark, df, tmp_path)
    assert derived == inferred


def test_derived_readback_schema_zero_rows(spark, tmp_path):
    df = spark.createDataFrame([], "a bigint, b array<double>")
    derived, inferred = _roundtrip(spark, df, tmp_path)
    assert derived == inferred


def test_derived_readback_schema_falls_back_on_unprovable(spark):
    from projectone_spark.store import _derived_readback_schema

    # calendar intervals have no parquet read-back story at all
    iv = spark.sql("SELECT INTERVAL '1' YEAR AS y")
    assert _derived_readback_schema(iv.schema) is None
    # char/varchar ride field METADATA whose round-trip is not proven —
    # any non-empty metadata must route to real inference
    cv = T.StructType([T.StructField(
        "c", T.StringType(), True,
        metadata={"__CHAR_VARCHAR_TYPE_STRING": "char(4)"})])
    assert _derived_readback_schema(cv) is None


def test_store_write_records_derived_schema_and_reads_back(spark, tmp_path):
    """End-to-end: an unpartitioned store write records the derived
    schema in the manifest, and the recorded string equals what
    inference would have recorded (so reads plan identically)."""
    from projectone_spark.store import TableStore

    store = TableStore(str(tmp_path / "store"))
    df = spark.range(5).select(F.col("id").alias("k"),
                               (F.col("id") * 2.0).alias("v"))
    store.overwrite(spark, df, "t")
    m = store.manifest("t")
    [(d, recorded)] = list(m["schemas"].items())
    assert recorded == spark.read.parquet(d).schema.json()
    got = store.read(spark, "t")
    assert got.schema.json() == recorded
    assert got.count() == 5


def _jobs_run(spark, action) -> int:
    """Spark jobs submitted while ``action()`` runs (the status store is
    fed asynchronously, so the listener bus is drained on both sides)."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    before = sc.statusStore().jobsList(None).size()
    action()
    sc.listenerBus().waitUntilEmpty()
    return sc.statusStore().jobsList(None).size() - before


def _keyed(spark, keys, tag):
    return spark.createDataFrame(
        [(k, f"p{k % 2}", f"{tag}{k}") for k in keys],
        "k long, part string, s string")


def _merge(store, spark):
    from projectone_spark.store.dml import merge_into

    merge_into(store, spark, "t", _keyed(spark, [1, 2, 5], "m"), ["k"])


def _delete(store, spark):
    from projectone_spark.store.dml import delete_where

    delete_where(store, spark, "t", [("k", "<=", 2)])


def _update(store, spark):
    from projectone_spark.store.dml import update_where

    update_where(store, spark, "t", [("k", "<=", 2)], {"s": "upper(s)"})


def _selective(store, spark):
    store.selective_overwrite(spark, _keyed(spark, [0, 2], "w"), "t",
                              partition_values={"part": ["p0"]})


@pytest.mark.parametrize("op", [_merge, _delete, _update, _selective],
                         ids=["merge_into", "delete_where", "update_where",
                              "selective_overwrite"])
def test_read_after_rewrite_submits_no_job(spark, tmp_path, op):
    """A rewrite commit that links untouched files records its dir's
    read-back schema, so opening the table afterwards plans from the
    manifest with zero Spark jobs — and the recorded schema is what
    inference over the committed dir returns."""
    store = TableStore(str(tmp_path / "store"))
    part = ["part"] if op is _selective else None
    store.overwrite(spark, _keyed(spark, range(8), "a").coalesce(1), "t",
                    partition_by=part, stats_columns=["k"])
    store.append(spark, _keyed(spark, range(10, 18), "b").coalesce(1), "t",
                 partition_by=part)
    op(store, spark)
    m = store.manifest("t")
    assert m["metrics"].get("files_linked", 1) >= 1
    assert _jobs_run(spark, lambda: store.read(spark, "t")) == 0
    [d] = m["dirs"]
    reader = spark.read.option("basePath", d) if part else spark.read
    assert m["schemas"][d] == reader.parquet(d).schema.json()


def test_dml_commit_reads_stats_of_fresh_files_only(spark, tmp_path,
                                                     monkeypatch):
    """On a table with set_columns, a DML commit opens the footers and
    value sets of the files it wrote and of no file it hard-linked; the
    linked files' entries (min/max and value sets) carry forward with
    their paths remapped."""
    import os

    import pyarrow.parquet as pq

    from projectone_spark.store import skipping
    from projectone_spark.store.dml import delete_where

    store = TableStore(str(tmp_path / "store"))
    df = _keyed(spark, range(40), "a")
    store.overwrite(spark, df.repartitionByRange(4, "k"), "t",
                    stats_columns=["k"], set_columns=["part"])
    before = {os.path.basename(f["path"]): f
              for f in store.manifest("t")["files"]}
    opened, valued = set(), set()
    real_file, real_vals = pq.ParquetFile, skipping.value_set_stats

    def parquet_file(path, *a, **kw):
        opened.add(path)
        return real_file(path, *a, **kw)

    def value_sets(path, *a, **kw):
        valued.add(path)
        return real_vals(path, *a, **kw)

    monkeypatch.setattr(pq, "ParquetFile", parquet_file)
    monkeypatch.setattr(skipping, "value_set_stats", value_sets)
    delete_where(store, spark, "t", [("k", "==", 0)])
    m = store.manifest("t")
    fresh = set(m["metrics"]["changed_new"])
    linked = {f["path"] for f in m["files"]} - fresh
    assert m["metrics"]["files_linked"] == len(linked) >= 2
    assert valued == fresh
    assert not opened & linked
    for f in m["files"]:
        if f["path"] in linked:
            assert f == {**before[os.path.basename(f["path"])],
                         "path": f["path"]}
    got = sorted(r["k"] for r in store.read(spark, "t").collect())
    assert got == list(range(1, 40))


def test_selective_overwrite_keeps_partitions_of_every_commit_dir(
        spark, tmp_path):
    """An untouched partition present in several commit dirs is re-linked
    from each of them: rows appended to it by a later commit survive."""
    store = TableStore(str(tmp_path / "store"))
    store.append(spark, _keyed(spark, [0, 1], "a"), "t", partition_by=["part"])
    store.append(spark, _keyed(spark, [2, 3], "b"), "t", partition_by=["part"])
    store.selective_overwrite(spark, _keyed(spark, [4], "w"), "t",
                              partition_values={"part": ["p0"]})
    got = sorted((r["k"], r["s"]) for r in store.read(spark, "t").collect())
    assert got == [(1, "a1"), (3, "b3"), (4, "w4")]


def test_selective_overwrite_nested_partitions(spark, tmp_path):
    """Replacing a value of the second partition column replaces exactly
    the leaf partitions carrying it, under every first-level value."""
    store = TableStore(str(tmp_path / "store"))
    rows = [(1, "a1", "x"), (2, "a1", "y"), (3, "a2", "x"), (4, "a2", "y")]
    store.overwrite(spark, spark.createDataFrame(
        rows, "k long, a string, b string"), "t", partition_by=["a", "b"])
    store.selective_overwrite(
        spark, spark.createDataFrame([(9, "a1", "x")],
                                     "k long, a string, b string"),
        "t", partition_values={"b": ["x"]})
    got = sorted(tuple(r) for r in
                 store.read(spark, "t").select("k", "a", "b").collect())
    assert got == [(2, "a1", "y"), (4, "a2", "y"), (9, "a1", "x")]


def test_bucketed_write_records_readback_schema(spark, tmp_path):
    from projectone_spark.store.bucketing import write_bucketed

    store = TableStore(str(tmp_path / "store"))
    write_bucketed(store, spark, _keyed(spark, range(8), "a"), "t", ["k"], 2)
    [(d, recorded)] = store.manifest("t")["schemas"].items()
    assert recorded == spark.read.parquet(d).schema.json()


def test_timestamp_ntz_readback_with_ntz_inference_disabled(spark, tmp_path):
    """With ``spark.sql.parquet.inferTimestampNTZ.enabled=false`` a
    timestamp_ntz column still reads back as timestamp_ntz: inference
    takes the Spark schema embedded in the footer, so the derived record
    (unpartitioned) and the inferred one (partitioned) both match it."""
    key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        store = TableStore(str(tmp_path / "store"))
        df = spark.sql("SELECT 1L AS k, 'p' AS part, "
                       "TIMESTAMP_NTZ'2024-01-01 10:00:00' AS ts")
        for name, part in (("flat", None), ("parted", ["part"])):
            store.overwrite(spark, df, name, partition_by=part)
            [(d, recorded)] = store.manifest(name)["schemas"].items()
            reader = spark.read.option("basePath", d) if part else spark.read
            inferred = reader.parquet(d).schema
            assert recorded == inferred.json()
            assert inferred["ts"].dataType == T.TimestampNTZType()
    finally:
        spark.conf.set(key, old)
