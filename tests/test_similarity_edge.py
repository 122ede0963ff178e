"""Differential pins for the out-of-data-model embedding rows the QA
operators must survive (round-7 review): a zero-norm vector (NaN cosine)
and an empty embedding list. The fixtures contain neither, so these
craft a corpus and run the exact Spark-vs-DuckDB comparison the driver
harness performs."""

from __future__ import annotations

import duckdb
import pyspark.sql.functions as F


def _crafted_dir(spark, tmp_path, rows):
    df = spark.createDataFrame(
        rows, "vec_id: long, embedding: array<float>, label: string"
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        f"{tmp_path}/embeddings.parquet"
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM read_parquet("
        f"'{tmp_path}/embeddings.parquet/*.parquet')"
    )
    return str(tmp_path), con


def test_pandas_topk_fails_loudly_on_zero_norm_like_sql(spark, tmp_path):
    # A zero-norm vector has no cosine direction. The SQL path fails
    # loudly under ANSI (DIVIDE_BY_ZERO); before the guard the pandas
    # path's NaN row silently fell out of np.lexsort's local cut — a
    # SILENT batch-vs-SQL divergence on exactly the degenerate rows
    # emb_norm_distribution exists to surface. Both paths must now
    # refuse the corpus; a cleaned corpus must agree rank-for-rank.
    import pytest

    from datafusion_loki_spark.operators.similarity import (
        sim_topk_cosine,
        sim_topk_pandas,
    )

    rows = []
    for i in range(8):
        v = [0.0] * 8
        v[i % 8] = 1.0 + 0.1 * i
        rows.append((i, v, "a"))
    rows.append((8, [0.0] * 8, "a"))  # the zero-norm hazard row
    sf, _con = _crafted_dir(spark, tmp_path, rows)
    with pytest.raises(Exception, match="zero-norm|DIVIDE_BY_ZERO"):
        sim_topk_pandas(spark, sf).collect()
    with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
        sim_topk_cosine(spark, sf).collect()
    # drop the degenerate row: the two paths agree rank-for-rank
    sf2, _ = _crafted_dir(spark, tmp_path / "clean", rows[:-1])
    pandas_ranks = {
        (r.query_id, r.rank): r.cand_id
        for r in sim_topk_pandas(spark, sf2).collect()
    }
    sql_ranks = {
        (r.query_id, r.rank): r.cand_id
        for r in sim_topk_cosine(spark, sf2)
        .select("query_id", "rank", "cand_id")
        .collect()
    }
    assert pandas_ranks == sql_ranks and pandas_ranks


def test_matryoshka_fails_loudly_on_zero_prefix_norm(spark, tmp_path):
    # A vector whose FIRST d dims are all zero (much likelier than a
    # fully-zero vector) has no cosine direction at matryoshka level d:
    # unguarded, Spark's NULL-on-zero-divide silently dropped the row
    # from the per-dim window while DuckDB's IEEE NaN sorted it FIRST —
    # a silent engine-vs-oracle top-k divergence (round-9 ADVICE). Both
    # engines must now refuse the corpus; a cleaned corpus must match
    # hash-for-hash.
    import duckdb as _duckdb

    import pytest

    from datafusion_loki_spark.operators.similarity import (
        ORACLES,
        emb_matryoshka_recall,
    )
    from tests.parity import compare

    rows = []
    for i in range(10):
        v = [0.0] * 64
        v[i % 8] = 1.0 + 0.1 * i
        v[32 + (i % 16)] = 0.5
        rows.append((i, v, "a"))
    hazard = [0.0] * 64
    hazard[40] = 2.0  # first 8/16/32 dims all zero; full norm fine
    rows.append((10, hazard, "a"))
    sf, con = _crafted_dir(spark, tmp_path, rows)
    with pytest.raises(Exception, match="zero-norm"):
        emb_matryoshka_recall(spark, sf).collect()
    with pytest.raises(_duckdb.Error, match="zero-norm"):
        con.execute(ORACLES["emb_matryoshka_recall"]).fetchall()
    # cleaned corpus: full driver-style comparison passes
    sf2, con2 = _crafted_dir(spark, tmp_path / "clean", rows[:-1])
    ok, detail = compare(
        emb_matryoshka_recall(spark, sf2),
        ORACLES["emb_matryoshka_recall"],
        con2,
    )
    assert ok, detail


def test_arrow_stats_survive_empty_embedding(spark, tmp_path):
    # An EMPTY list produces no parent index in the Arrow group-by;
    # before the fix the kernel zipped misaligned columns and raised on
    # exactly the malformed row this QA scan exists to surface. The SQL
    # twin answers NULL min/max — the Arrow path must match it.
    from datafusion_loki_spark.operators.similarity import (
        ORACLE_EMB_STATS_ARROW,
        emb_stats_arrow,
    )
    from tests.parity import compare

    rows = [
        (0, [1.0, -2.0, 3.0], "a"),
        (1, [], "a"),  # the hazard row
        (2, [0.5, 0.5, -0.5], "a"),
    ]
    sf, con = _crafted_dir(spark, tmp_path, rows)
    out = emb_stats_arrow(spark, sf)
    ok, detail = compare(out, ORACLE_EMB_STATS_ARROW, con)
    assert ok, detail
    empty = out.where(F.col("vec_id") == 1).collect()[0]
    assert empty.dim == 0
    assert empty.min_el is None and empty.max_el is None


def test_compact_ivf_members_folds_append_files_value_identically(
    spark, tmp_path
):
    # Round-9 VERDICT #5: the batch append path accretes parquet files
    # per cluster partition (one set per append_ivf_index call) with no
    # fold path. compact_ivf_members must cut the file count back to
    # files_per_partition per cluster and leave the probe path's results
    # BIT-IDENTICAL — rows never change cluster (the persisted codebook
    # fixes assignment), so the in-place dynamic overwrite needs no
    # manifest.
    import pyspark.sql.functions as F

    from datafusion_loki_spark.operators.similarity import (
        IVF_APPEND_OFFSET,
        _TO_DOUBLE,
        append_ivf_index,
        build_ivf_index,
        compact_ivf_members,
        query_ivf_index,
    )

    sf = "/root/testdata/sf0.001"
    index_dir = str(tmp_path / "idx")
    build_ivf_index(spark, sf, index_dir)
    emb_d = (
        spark.read.parquet(f"{sf}/embeddings.parquet")
        .select("vec_id", F.expr(_TO_DOUBLE.format(a="embedding")).alias("e"))
    )
    for i in (1, 2, 3):
        append_ivf_index(
            spark,
            index_dir,
            emb_d.limit(30).select(
                (F.col("vec_id") + IVF_APPEND_OFFSET * i).alias("vec_id"), "e"
            ),
        )

    def probe_rows():
        return sorted(
            (r.query_id, r.rank, r.cand_id, r.cluster_id, round(r.cosine, 12))
            for r in query_ivf_index(spark, sf, index_dir).collect()
        )

    before = probe_rows()
    n_members = spark.read.parquet(f"{index_dir}/members.parquet").count()
    stats = compact_ivf_members(spark, index_dir)
    assert stats["rows"] == n_members
    assert stats["files_after"] < stats["files_before"]
    assert (
        spark.read.parquet(f"{index_dir}/members.parquet").count()
        == n_members
    )
    assert probe_rows() == before
    # idempotent: a second run is a no-op fold at the same file count
    stats2 = compact_ivf_members(spark, index_dir)
    assert stats2["files_after"] == stats["files_after"]
    assert probe_rows() == before


def test_replay_canary_runs_per_value_sample(spark, monkeypatch):
    # The pre-JDK-19 stringification canary is cached per (application,
    # sampled values), not per application: a later fit whose values sit
    # in a different regime (exponent-notation shortest reprs) must run
    # its own one-job canary instead of reusing the first fit's verdict.
    from types import SimpleNamespace

    import numpy as np

    from datafusion_loki_spark.operators import similarity

    class _PreJdk19Session:
        # forces the canary branch on any JVM and counts canary jobs
        def __init__(self, inner):
            self.sparkContext = inner.sparkContext
            self._jvm = SimpleNamespace(
                java=SimpleNamespace(
                    lang=SimpleNamespace(
                        System=SimpleNamespace(getProperty=lambda _k: "17")
                    )
                )
            )
            self._inner = inner
            self.canary_jobs = 0

        def range(self, *args):
            self.canary_jobs += 1
            return self._inner.range(*args)

    monkeypatch.setattr(similarity, "_REPLAY_CANARY_OK", {})
    session = _PreJdk19Session(spark)
    plain = np.array([[0.5, 1.25, -3.75], [2.0, 0.125, 7.5]])
    tiny = np.array([[1.5e-7, -2.25e-9, 3.0e-6], [4.0e-8, 5.5e-10, -6.0e-7]])
    assert similarity._decimal_replay_safe(session, plain) is True
    assert session.canary_jobs == 1
    assert similarity._decimal_replay_safe(session, tiny) is True
    assert session.canary_jobs == 2
    # the same values again reuse the cached verdict: no third job
    assert similarity._decimal_replay_safe(session, plain.copy()) is True
    assert session.canary_jobs == 2
