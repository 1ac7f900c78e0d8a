"""`catalog.load_table`'s data-proportional ``parallelize`` width must
follow the data for a directory dataset (a ``df.write.parquet`` output),
not the directory inode's size."""

from __future__ import annotations

import os

from ai_powered_data_pipeline_assistant_spark.catalog import _local_bytes, load_table


def test_parallelize_width_sums_part_files_of_directory_dataset(
    spark, sf_dir, tmp_path
):
    out = tmp_path / "documents.parquet"
    load_table(spark, sf_dir, "documents").coalesce(1).write.parquet(str(out))
    parts = [
        os.path.getsize(out / n)
        for n in os.listdir(out)
        if n.startswith("part-")
    ]
    nbytes = sum(parts)
    assert _local_bytes(str(out)) == nbytes
    # a shard size just over half the data wants two shards; the
    # directory's own size (~4 KiB) would have asked for one
    per_part = nbytes // 2 + 1
    assert per_part > os.path.getsize(out)
    df = load_table(
        spark, str(tmp_path), "documents", parallelize=True,
        min_shard_bytes=per_part,
    )
    assert df.rdd.getNumPartitions() == min(
        2, spark.sparkContext.defaultParallelism
    )
