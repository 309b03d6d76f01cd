"""Edge inputs for the sliced stream stager (streaming/bounded.py): an
empty source, a one-row source and a source whose rows all fall in one
slice. Each must stage exactly ``n_slices`` files (one per micro-batch,
zero-row files for empty slices), hold each slice's rows in its own file,
replay the source through the returned stream, and never read a staged
table back on the driver."""

import glob
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyarrow.parquet as pq  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from reddit_etl_pipeline_spark.streaming import bounded  # noqa: E402

N_SLICES = 3


def _source(spark, sf_dir, kind):
    # one column per arrow type family an empty slice's zero-row file
    # must reproduce: bigint, double, string, decimal, TIMESTAMP, NTZ
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey",
        "l_partkey",
        "l_quantity",
        "l_returnflag",
        F.col("l_extendedprice").cast("decimal(12,2)").alias("price"),
        F.col("l_shipdate").cast("timestamp").alias("ship_ts"),
        F.col("l_shipdate").cast("timestamp_ntz").alias("ship_ntz"),
    )
    if kind == "empty":
        return li.filter(F.lit(False))
    if kind == "one_row":
        return li.orderBy("l_orderkey", "l_partkey").limit(1)
    return li.filter(F.col("l_orderkey") % N_SLICES == 1)  # all in slice 1


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("kind", ["empty", "one_row", "one_slice"])
def test_sliced_stager_edge_sources(spark, sf_dir, kind, monkeypatch):
    df = _source(spark, sf_dir, kind)
    slice_col = F.col("l_orderkey") % N_SLICES
    prefix = f"stager_edge_{kind}_"

    def no_driver_read(*_a, **_k):
        raise AssertionError("stager read a staged table on the driver")

    with monkeypatch.context() as m:
        m.setattr(pq, "read_table", no_driver_read)
        m.setattr(pq, "read_schema", no_driver_read)
        stream = bounded.stage_sliced_stream(df, slice_col, N_SLICES, prefix=prefix)

    (stream_dir,) = glob.glob(f"{bounded._SCRATCH_ROOT}/{prefix}*")
    staged = sorted(p for p in os.listdir(stream_dir) if p.endswith(".parquet"))
    assert staged == [f"{i}.parquet" for i in range(N_SLICES)]
    for i in range(N_SLICES):
        n = pq.read_metadata(f"{stream_dir}/{i}.parquet").num_rows
        assert n == df.filter(slice_col == i).count(), f"slice {i}"

    assert stream.isStreaming and stream.schema == df.schema
    drained = bounded.run_stream_to_batch(stream, spark, output_mode="append")
    assert _rows(drained) == _rows(df)


def test_sliced_stager_refuses_a_split_slice(spark, sf_dir):
    # a session-wide maxRecordsPerFile splits a slice into several files,
    # which would replay as several micro-batches: refuse, never stage it
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").limit(20)
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "2")
    try:
        with pytest.raises(RuntimeError, match="one micro-batch must be one file"):
            bounded.stage_sliced_stream(li, F.col("l_orderkey") % 2, 2)
    finally:
        spark.conf.unset("spark.sql.files.maxRecordsPerFile")
