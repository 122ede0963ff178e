"""Partitioned-parquet layout writer: directory pruning, small-files
control, and row-group clustering (functions/layout.py)."""

from __future__ import annotations

import glob
import os

import pyspark.sql.functions as F

from datafusion_loki_spark.functions.layout import write_partitioned


def _docs(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


def _files(path, lang):
    return glob.glob(os.path.join(path, f"lang={lang}", "*.parquet"))


def test_one_file_per_partition_value(spark, sf_dir, tmp_path):
    docs = _docs(spark, sf_dir)
    out = str(tmp_path / "docs")
    write_partitioned(docs, out, partition_by=["lang"], cluster_by=["n_chars"])
    langs = [r.lang for r in docs.select("lang").distinct().collect()]
    assert langs
    for lang in langs:
        files = _files(out, lang)
        assert len(files) == 1, f"lang={lang}: {len(files)} files (want 1)"
    # round-trip: nothing lost or duplicated
    assert spark.read.parquet(out).count() == docs.count()


def test_salted_layout_bounds_files_per_partition(spark, sf_dir, tmp_path):
    docs = _docs(spark, sf_dir)
    out = str(tmp_path / "docs_salted")
    write_partitioned(
        docs, out, partition_by=["lang"], cluster_by=["doc_id"],
        files_per_partition=3,
    )
    for lang in [r.lang for r in docs.select("lang").distinct().collect()]:
        n = len(_files(out, lang))
        assert 1 <= n <= 3, f"lang={lang}: {n} files (want 1..3)"
    assert spark.read.parquet(out).count() == docs.count()


def test_partition_filter_prunes_directories(spark, sf_dir, tmp_path):
    docs = _docs(spark, sf_dir)
    out = str(tmp_path / "docs_pruned")
    write_partitioned(docs, out, partition_by=["lang"], cluster_by=["n_chars"])
    back = spark.read.parquet(out).where(F.col("lang") == "en")
    plan = back._jdf.queryExecution().executedPlan().toString()
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf and any("lang" in l for l in pf), plan
    # a non-partition range predicate still reaches the scan as a pushed
    # filter (row-group min/max pruning benefits from the cluster sort)
    ranged = spark.read.parquet(out).where(F.col("n_chars") > 500)
    rplan = ranged._jdf.queryExecution().executedPlan().toString()
    assert any(
        "n_chars" in l for l in rplan.splitlines() if "PushedFilters" in l
    ), rplan
    assert back.count() == docs.where(F.col("lang") == "en").count()


def test_compact_partitions_merges_small_files(spark, sf_dir, tmp_path):
    import glob
    import os

    from datafusion_loki_spark.functions.checkpoints import persistent_rdd_ids
    from datafusion_loki_spark.functions.layout import compact_partitions

    docs = _docs(spark, sf_dir)
    out = str(tmp_path / "docs_fragmented")
    # simulate micro-batch accretion: many small appends → many files
    for chunk in range(4):
        (
            docs.where(F.col("doc_id") % 4 == chunk)
            .repartition(3)
            .write.mode("append")
            .partitionBy("lang")
            .parquet(out)
        )
    before = {
        lang_dir: len(glob.glob(os.path.join(out, lang_dir, "*.parquet")))
        for lang_dir in os.listdir(out)
        if lang_dir.startswith("lang=")
    }
    assert any(n > 3 for n in before.values()), before  # fragmented
    expected = docs.count()
    pre = persistent_rdd_ids(spark)
    n = compact_partitions(spark, out, partition_by=["lang"], cluster_by=["n_chars"])
    assert n == expected
    # the whole-table staging checkpoint is released once rewritten
    assert not persistent_rdd_ids(spark) - pre
    after = {
        lang_dir: len(glob.glob(os.path.join(out, lang_dir, "*.parquet")))
        for lang_dir in os.listdir(out)
        if lang_dir.startswith("lang=")
    }
    assert all(n == 1 for n in after.values()), after  # compacted
    assert spark.read.parquet(out).count() == expected  # no data loss


def test_compact_filtered_subset_preserves_other_partitions(spark, sf_dir, tmp_path):
    # Regression: under Spark's default STATIC overwrite, compacting a
    # pre-filtered subset would delete every partition absent from the df.
    # write_partitioned forces dynamic overwrite per-write, so a targeted
    # compaction must leave the untouched partitions' data intact.
    import glob
    import os

    from datafusion_loki_spark.functions.layout import compact_partitions

    docs = _docs(spark, sf_dir)
    out = str(tmp_path / "docs_subset")
    for chunk in range(3):
        (
            docs.where(F.col("doc_id") % 3 == chunk)
            .repartition(2)
            .write.mode("append")
            .partitionBy("lang")
            .parquet(out)
        )
    langs = [r.lang for r in docs.select("lang").distinct().collect()]
    assert len(langs) >= 2, "need multiple partitions for this test"
    target = sorted(langs)[0]
    per_lang_before = {
        lang: docs.where(F.col("lang") == lang).count() for lang in langs
    }
    n = compact_partitions(
        spark,
        out,
        partition_by=["lang"],
        cluster_by=["n_chars"],
        where=f"lang = '{target}'",
    )
    assert n == per_lang_before[target]
    back = spark.read.parquet(out)
    for lang in langs:  # every partition still has all its rows
        assert back.where(F.col("lang") == lang).count() == per_lang_before[lang]
    # and the targeted partition really was compacted to one file
    files = glob.glob(os.path.join(out, f"lang={target}", "*.parquet"))
    assert len(files) == 1, files


def test_corpus_export_end_to_end(spark, sf_dir, tmp_path):
    # The full pipeline deliverable landed on disk: quality ∧ keep-list
    # admitted docs written as Hive-partitioned parquet (partitioned by
    # lang, clustered by doc_id for row-group pruning), read back intact.
    import pyspark.sql.functions as F

    from datafusion_loki_spark.catalog import load_table
    from datafusion_loki_spark.functions.layout import write_partitioned
    from datafusion_loki_spark.operators.dedup import dedup_keep_list
    from datafusion_loki_spark.operators.text import text_quality_filter

    docs = load_table(spark, sf_dir, "documents")
    quality = text_quality_filter(spark, sf_dir).select("doc_id", "n_tokens")
    keep = dedup_keep_list(spark, sf_dir).where(
        F.col("status") == "keep"
    ).select("doc_id")
    admitted = (
        quality.join(keep, "doc_id")
        .join(docs.select("doc_id", "lang", "source", "text"), "doc_id")
    )
    out = str(tmp_path / "corpus")
    write_partitioned(admitted, out, partition_by=["lang"], cluster_by=["doc_id"])

    back = spark.read.parquet(out)
    assert back.count() == admitted.count() > 0
    # every admitted doc round-trips with its text intact
    diff = (
        admitted.select("doc_id", "text")
        .exceptAll(back.select("doc_id", "text"))
        .count()
    )
    assert diff == 0
    # one file per lang partition (small-files control)
    import os

    for d in os.listdir(out):
        if d.startswith("lang="):
            files = [
                f
                for f in os.listdir(os.path.join(out, d))
                if f.endswith(".parquet")
            ]
            assert len(files) == 1, (d, files)


def test_scratch_index_dir_keys_on_absolute_path_and_session(spark):
    # Same-basename datasets must never share an index directory, and
    # the path must be deterministic within a session (build-then-query
    # relies on it); the applicationId component isolates concurrent
    # sessions from racing one directory's overwrite against another's
    # scan.
    from datafusion_loki_spark.operators.similarity import scratch_index_dir

    a = scratch_index_dir(spark, "/x/a/sf0.1", "ivf")
    b = scratch_index_dir(spark, "/x/b/sf0.1", "ivf")
    assert a != b
    assert scratch_index_dir(spark, "/x/a/sf0.1", "ivf") == a
    assert scratch_index_dir(spark, "/x/a/sf0.1", "semdedup") != a
    assert spark.sparkContext.applicationId in a
