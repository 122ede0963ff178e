"""Warehouse layout writer: partitioned parquet with small-files control
and row-group clustering.

The reference's only sink is the Loki push endpoint (``src/insert.rs``);
a 100 TB pipeline also needs the other direction — landing curated
tables as partitioned parquet a downstream engine can prune. Three layout
decisions dominate read cost at that scale, and this helper makes each an
explicit argument:

1. **Partition columns** (``partition_by``) become Hive-style directories
   (``lang=en/``): equality/IN filters on them prune whole directories at
   planning time (``PartitionFilters`` in the scan, zero I/O for pruned
   values).
2. **Files per partition** (``files_per_partition``): a naive
   ``df.write.partitionBy(...)`` emits one file per (task × value) — at
   1000 executors that's the small-files problem. Repartitioning by the
   partition columns first gives exactly one file per value; a deterministic
   salt widens that to N when a single value is too large for one task
   (skew — same reasoning as [skew.salted_join]).
3. **Cluster columns** (``cluster_by``): sorting within the write tasks
   groups similar values into the same parquet row groups, so min/max
   statistics prune row groups for range predicates on non-partition
   columns (the classic sort-key / z-order-lite layout).

Determinism: the salt is ``xxhash64 mod N`` of the cluster (or all)
columns — replayable, no RNG.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from datafusion_loki_spark.functions.checkpoints import release


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_by: list[str],
    cluster_by: list[str] | None = None,
    codec: str = "zstd",
    files_per_partition: int = 1,
    mode: str = "overwrite",
) -> None:
    """Write ``df`` as Hive-partitioned parquet with a controlled layout.

    One output file per partition value by default; ``files_per_partition``
    > 1 salts the repartition for values too large for a single task.

    Overwrites are always *dynamic*: only the partition directories present
    in ``df`` are replaced. Under Spark's default static overwrite, writing
    a pre-filtered df (e.g. compacting one dirty partition) would silently
    delete every other partition of the table — set per-write here so the
    guarantee doesn't depend on session conf.
    """
    if files_per_partition < 1:
        raise ValueError("files_per_partition must be >= 1")
    keys = [F.col(c) for c in partition_by]
    if files_per_partition > 1:
        salt_cols = [F.col(c) for c in (cluster_by or df.columns)]
        keys.append(F.abs(F.xxhash64(*salt_cols)) % files_per_partition)
    out = df.repartition(*keys)
    if cluster_by:
        out = out.sortWithinPartitions(*partition_by, *cluster_by)
    (
        out.write.mode(mode)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_by)
        .option("compression", codec)
        .parquet(path)
    )


def compact_partitions(
    spark,
    path: str,
    partition_by: list[str],
    cluster_by: list[str] | None = None,
    files_per_partition: int = 1,
    codec: str = "zstd",
    where: str | None = None,
) -> int:
    """Rewrite a Hive-partitioned parquet table to the target file count
    per partition value — the periodic housekeeping job for tables that
    accreted small files from streaming/micro-batch appends (e.g. the
    foreachBatch rollup view, or a 1000-executor append job).

    Reads the whole table once, rewrites it through write_partitioned
    (same layout guarantees: one-or-N files per value, cluster sort for
    row-group pruning), and returns the row count for audit. The rewrite
    lands in-place via a staged overwrite: Spark's dynamic-overwrite
    semantics replace each partition directory atomically per partition.
    At 100 TB you run this per-partition-predicate (``where="lang='en'"``,
    compacting only the partitions a manifest marks dirty) — safe because
    write_partitioned's overwrite is dynamic, so untouched partition
    directories are never deleted. The full-table form is the worst case."""
    df = spark.read.parquet(path)
    if where is not None:
        df = df.where(where)
    n = df.count()
    staged = df.localCheckpoint(eager=True)  # sever lineage from the files
    # being overwritten — Spark cannot read and overwrite the same path
    # in one job otherwise
    write_partitioned(
        staged,
        path,
        partition_by=partition_by,
        cluster_by=cluster_by,
        files_per_partition=files_per_partition,
        codec=codec,
    )
    release(staged)  # the rewrite was its only consumer
    return n


def atomic_manifest_commit(
    spark, dir_path: str, final_name: str, payload: dict
) -> None:
    """Commit a JSON manifest file via create-temp + rename — the shared
    commit primitive of both snapshot protocols (the streaming ingest
    fold's ``manifest-v{N}.json`` and the whole-index
    ``index-manifest-v{M}.json``), factored so the two hand-rolled
    copies can never drift on the race rules:

    - the temp name is unique PER ATTEMPT, not per version: two
      concurrent committers targeting the same version must never share
      a temp — ``fs.create(overwrite)`` would let the loser clobber the
      winner's content BEFORE the rename, committing the loser's body
      under the winner's name (round-9 review). With a nonce'd temp the
      rename is the only shared resource.
    - NO delete-before-rename: a complete ``final_name`` on disk means a
      CONCURRENT committer won the version — fail loudly rather than
      race it (the optimistic-commit rule table formats use). The rename
      is atomic on HDFS/local; on S3-class stores swap this for a
      conditional PUT.
    """
    import json
    import uuid

    jvm = spark._jvm
    fs = jvm.org.apache.hadoop.fs.Path(dir_path).getFileSystem(
        spark._jsc.hadoopConfiguration()
    )
    tmp = jvm.org.apache.hadoop.fs.Path(
        f"{dir_path}/.{final_name}.{uuid.uuid4().hex}.tmp"
    )
    final = jvm.org.apache.hadoop.fs.Path(f"{dir_path}/{final_name}")
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(json.dumps(payload).encode("utf-8")))
    finally:
        out.close()
    if not fs.rename(tmp, final):
        fs.delete(tmp, False)
        raise IOError(
            "manifest commit failed: either a concurrent committer "
            f"committed {final} first (version already exists), or this "
            f"attempt's temp {tmp} was swept by another run's GC (only "
            "possible if the attempt outlived the GC age gate)"
        )


def read_json_file(spark, path: str) -> dict:
    """Read a small JSON file through the Hadoop FileSystem API (works on
    any store the session can reach, not just the local FS)."""
    import json

    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    stream = fs.open(jpath)
    try:
        text = jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()
    return json.loads(text)


def count_parquet_files(spark, path: str) -> int:
    """Recursive ``.parquet``-file count under ``path`` (0 if absent) —
    the before/after audit stat every compaction job reports. One
    definition (round-9 review: the ingest and members compactors each
    carried a private copy; a listing fix applied to one would silently
    diverge the other's stats)."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(jpath):
        return 0
    n = 0
    it = fs.listFiles(jpath, True)
    while it.hasNext():
        if it.next().getPath().getName().endswith(".parquet"):
            n += 1
    return n
