"""Physical-plan quality gates: the 100 TB design assertions.

Each test pins a property of the executed plan that matters at scale —
broadcast vs shuffle join choice, filter pushdown reaching the parquet
scan, TakeOrdered instead of a global sort for top-k, and the absence of
cartesian products. A regression here means a query silently degraded to
a plan that works at sf0.1 but dies at 1000 executors.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod

_QUERIES = entrymod.queries()


def _plan(spark, sf_dir, name) -> str:
    df = _QUERIES[name](spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(spark, sf_dir, name) -> str:
    df = _QUERIES[name](spark, sf_dir)
    return df._jdf.queryExecution().optimizedPlan().toString()


def _strip_fanout(plan: str) -> str:
    """Drop the adaptive scan fan-out exchange (catalog.scan_fanout:
    round-robin REPARTITION_BY_NUM over a small single-split read,
    OPTIMIZATION_r15 change 1) from a plan dump so the pre-existing
    shuffle invariants stay pinned verbatim. Only that exact node is
    stripped — hash/range exchanges and AQE reads remain visible to
    every assertion, and test_scan_fanout_shape pins the stripped
    node's own contract (round-robin only, never above a kernel)."""
    return "\n".join(
        ln
        for ln in plan.splitlines()
        if not (
            "Exchange RoundRobinPartitioning" in ln
            and "REPARTITION_BY_NUM" in ln
        )
    )


@pytest.mark.parametrize(
    "name",
    [
        "q3_shipping_priority",
        "q5_local_supplier_volume",
        "q10_returned_items",
        "q8_market_share",
        "q21_waiting_suppliers",
    ],
)
def test_dim_joins_broadcast(spark, sf_dir, name):
    plan = _plan(spark, sf_dir, name)
    assert "BroadcastHashJoin" in plan, f"{name}: no broadcast join in\n{plan}"


@pytest.mark.parametrize(
    "name",
    ["q3_shipping_priority", "q10_returned_items", "q21_waiting_suppliers"],
)
def test_topk_uses_take_ordered(spark, sf_dir, name):
    # ORDER BY + LIMIT must compile to TakeOrderedAndProject — a global
    # Sort would shuffle the full aggregate output at scale.
    plan = _plan(spark, sf_dir, name)
    assert "TakeOrderedAndProject" in plan, f"{name}:\n{plan}"


@pytest.mark.parametrize(
    "name",
    [
        "log_label_eq",
        "log_time_range",
        "log_conjunctive",
        "q1_pricing_summary",
        "q6_forecast_revenue",
    ],
)
def test_filters_pushed_to_scan(spark, sf_dir, name):
    plan = _plan(spark, sf_dir, name)
    assert "PushedFilters: [" in plan, f"{name}: no pushed filters\n{plan}"
    pushed = [
        line for line in plan.splitlines() if "PushedFilters" in line
    ]
    assert any("PushedFilters: []" not in line for line in pushed), (
        f"{name}: pushed filter list is empty\n{plan}"
    )


def test_projection_prunes_scan_columns(spark, sf_dir):
    # SELECT ts, props must not read the other 4 event columns.
    plan = _plan(spark, sf_dir, "log_projection")
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read_schema, plan
    line = read_schema[0]
    assert "ts" in line and "props" in line
    for col in ("event_id", "user_id", "event_type", "value"):
        assert col not in line, f"unpruned column {col}: {line}"


@pytest.mark.parametrize(
    "name",
    [
        "q3_shipping_priority",
        "q5_local_supplier_volume",
        "dedup_minhash_lsh",
        "dedup_minhash_estimate",
        "dedup_embedding_cosine",
        "sim_lsh_candidates",
        "sim_ivf_topk",
        "log_events_by_nation",
        "q2_min_cost_supplier",
        "q8_market_share",
        "q20_excess_inventory_suppliers",
        "q21_waiting_suppliers",
    ],
)
def test_no_cartesian_products(spark, sf_dir, name):
    plan = _plan(spark, sf_dir, name)
    assert "CartesianProduct" not in plan, f"{name}:\n{plan}"


@pytest.mark.parametrize("name", ["dedup_minhash_lsh", "dedup_chunks"])
def test_tokenizer_plan_computes_split_once(spark, sf_dir, name):
    # Regression guard for the CollapseProject / InferFiltersFromGenerate
    # expression blow-up: the optimized plan must contain exactly one
    # tokenizing split() of the normalized text per side.
    s = _optimized(spark, sf_dir, name)
    assert s.count("split(") <= 1, f"split() re-inlined {s.count('split(')}x:\n{s}"


def test_unit_norm_not_inlined_per_element(spark, sf_dir):
    # The norm aggregate must stay in its own projection, not get inlined
    # into the per-element division lambda. Case-insensitive: the plan
    # printer emits `SQRT` (physical) or `sqrt` (logical) depending on
    # the node — the original lowercase-only match let a regression
    # through silently.
    for name in ("sim_topk_cosine", "dedup_embedding_cosine"):
        s = _optimized(spark, sf_dir, name).replace("\n", " ").lower()
        assert "/ sqrt(aggregate(" not in s, name
    # sim_ivf_topk: the two scalar cell-coordinate divisions per side get
    # the norm aggregate inlined (ColumnPruning re-merges projections
    # through the repartition barrier). That is a bounded 2-fold per ROW —
    # benign, unlike the per-ELEMENT (64×) blowup this gate guards. Pin it
    # so it can't grow.
    s = _optimized(spark, sf_dir, "sim_ivf_topk").replace("\n", " ").lower()
    assert s.count("/ sqrt(aggregate(") <= 4, "sim_ivf_topk cell-inline grew"


def test_q13_two_hash_shuffles(spark, sf_dir):
    # Q13 is join + groupBy(c_custkey) + groupBy(c_count). The two
    # aggregations need one hashpartitioning exchange each; the join must
    # not add a third (broadcast at small SF, exchange-reuse with SMJ at
    # scale since the join key equals the first grouping key).
    plan = _plan(spark, sf_dir, "q13_customer_distribution")
    n = plan.count("Exchange hashpartitioning")
    assert n <= 2, f"q13: {n} hash exchanges\n{plan}"


def test_exact_dedup_single_shuffle(spark, sf_dir):
    # One Exchange (for the fingerprint groupBy) — a second would mean an
    # unnecessary repartition in the plan.
    plan = _strip_fanout(_plan(spark, sf_dir, "dedup_exact_docs"))
    assert plan.count("Exchange") <= 2, plan  # hashpartitioning + AQE read


@pytest.mark.parametrize(
    "name",
    [
        "sample_events_uniform",
        "sample_docs_stratified",
        "sample_docs_hash_split",
        "text_lang_id_ngram",
        "text_repetition",
        "log_scrub_pii",
    ],
)
def test_scan_speed_ops_have_no_shuffle(spark, sf_dir, name):
    # Deterministic sampling and trigram lang-id are pure filter/project
    # pipelines — any Exchange beyond the adaptive scan fan-out would
    # mean they stopped running at scan speed.
    plan = _strip_fanout(_plan(spark, sf_dir, name))
    assert plan.count("Exchange") == 0, f"{name}:\n{plan}"


@pytest.mark.parametrize(
    "name", ["log_rolling_range", "q_window_lead_lag", "dedup_bow"]
)
def test_single_hash_exchange(spark, sf_dir, name):
    # All window functions share one window spec (one exchange + sort);
    # bow dedup shuffles once on the fingerprint. A second hash exchange
    # would mean the shared partitioning was broken.
    plan = _plan(spark, sf_dir, name)
    n = plan.count("Exchange hashpartitioning")
    assert n == 1, f"{name}: {n} hash exchanges\n{plan}"


def test_funnel_single_user_shuffle(spark, sf_dir):
    # Conditional-MIN funnel must shuffle the fact table exactly once
    # (on user_id) — the naive 3-way self-join shape would show three.
    plan = _plan(spark, sf_dir, "log_funnel")
    n = plan.count("Exchange hashpartitioning")
    assert n == 1, f"log_funnel: {n} hash exchanges\n{plan}"


def test_grouping_sets_one_expand_one_shuffle(spark, sf_dir):
    # GROUPING SETS = Expand + ONE aggregation shuffle, however many sets.
    plan = _plan(spark, sf_dir, "q_grouping_sets")
    assert "Expand" in plan, plan
    n = plan.count("Exchange hashpartitioning")
    assert n == 1, f"q_grouping_sets: {n} hash exchanges\n{plan}"


def test_pivot_broadcasts_dims(spark, sf_dir):
    # The pivot plan must broadcast both dimension joins and stay a
    # conditional aggregation (no per-priority scans, no cartesian).
    plan = _plan(spark, sf_dir, "q_pivot")
    assert plan.count("BroadcastHashJoin") >= 1, plan
    assert "CartesianProduct" not in plan, plan
    n = plan.count("Exchange hashpartitioning")
    assert n <= 2, f"q_pivot: {n} hash exchanges\n{plan}"


def test_gap_fill_joins_rollup_not_facts(spark, sf_dir):
    # The spine join must happen ABOVE the daily aggregation: exactly one
    # hash exchange may touch fact-table cardinality (the daily groupBy);
    # the spine/type joins are broadcast.
    plan = _plan(spark, sf_dir, "log_gap_fill")
    assert plan.count("BroadcastHashJoin") >= 1, plan
    n = plan.count("Exchange hashpartitioning")
    assert n <= 2, f"log_gap_fill: {n} hash exchanges\n{plan}"


def test_hll_within_error_bound(spark, sf_dir):
    # approx_count_distinct at rsd=0.02 must land within the 3-sigma bound
    # on every group. The query now folds the check into a within_bound
    # bit that the driver hash-verifies against a constant TRUE oracle;
    # this test pins the same bit locally (plus rows-nonempty).
    rows = _QUERIES["log_approx_users"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.within_bound, f"{r.event_type}: sketch outside 3*rsd of exact"


def test_pandas_topk_ranking_matches_sql_path(spark, sf_dir):
    # Pin the cross-path contract: the pandas path ranks on the cosine
    # QUANTIZED to a 1e-9 grid (round-6 ADVICE fix) while the SQL path
    # ranks on the exact shared-fold value, so the two may legitimately
    # swap candidates ONLY inside a grid tie. Assert rank-for-rank
    # agreement everywhere else, and that every disagreement is a pair
    # whose SQL-path cosines round to the same grid point.
    sql_rows = _QUERIES["sim_topk_cosine"](spark, sf_dir).collect()
    pd_rows = _QUERIES["sim_topk_pandas"](spark, sf_dir).collect()
    key = lambda rows: {(r.query_id, r.rank): r.cand_id for r in rows}
    sql_map, pd_map = key(sql_rows), key(pd_rows)
    assert sql_map.keys() == pd_map.keys()
    cos = {(r.query_id, r.cand_id): r.cosine for r in sql_rows}
    for qr in sql_map:
        a, b = sql_map[qr], pd_map[qr]
        if a == b:
            continue
        qid = qr[0]
        assert (qid, a) in cos and (qid, b) in cos, (
            f"{qr}: candidate sets diverge beyond the top-k boundary "
            f"({a} vs {b})"
        )
        assert round(cos[(qid, a)], 9) == round(cos[(qid, b)], 9), (
            f"{qr}: rank swap between non-tied candidates {a} and {b}"
        )


def test_simhash_recalls_exact_duplicates(spark, sf_dir):
    # dedup_simhash is the other rows-only op. Simhash is a CANDIDATE
    # generator: random 16-bit collisions are expected (precision comes
    # from a verify stage), but RECALL on true duplicates is a hard
    # contract — two docs with identical normalized text must always
    # share a simhash.
    import pyspark.sql.functions as F

    from datafusion_loki_spark.operators.dedup import simhash_docs

    dupes = (
        _QUERIES["dedup_exact_docs"](spark, sf_dir)
        .where(F.col("n_copies") >= 2)
        .collect()
    )
    if not dupes:  # tiny SF can legitimately have no duplicates
        return
    sh = simhash_docs(spark, sf_dir).select("doc_id", "simhash")
    from datafusion_loki_spark.catalog import load_table
    from datafusion_loki_spark.operators.text import _NORM_SPARK

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.expr(f"md5({_NORM_SPARK})").alias("fingerprint")
    )
    n_hashes = (
        docs.join(sh, "doc_id")
        .groupBy("fingerprint")
        .agg(
            F.countDistinct("simhash").alias("n_hashes"),
            F.count("*").alias("n_docs"),
        )
        .where(F.col("n_docs") >= 2)
        .collect()
    )
    assert n_hashes and all(r.n_hashes == 1 for r in n_hashes)


def test_lsh_bucket_cap_bounds_pair_generation(spark, sf_dir, monkeypatch):
    # The row_number cap must actually gate pair generation: with cap=1
    # every bucket keeps a single doc, so NO pairs can be emitted; with the
    # default cap the same data yields candidates. Guards against the cap
    # silently decoupling from the pair-gen path (the unbounded-k²-explode
    # regression at scale).
    from datafusion_loki_spark.operators import dedup

    assert dedup.dedup_minhash_lsh(spark, sf_dir).count() > 0
    monkeypatch.setattr(dedup, "LSH_BUCKET_CAP", 1)
    assert dedup.dedup_minhash_lsh(spark, sf_dir).count() == 0


def test_asof_join_single_user_shuffle(spark, sf_dir):
    # The union+window as-of composition must shuffle ONCE on user_id —
    # a join-based as-of would exchange both sides and explode hot users.
    from datafusion_loki_spark.plans.logs import log_asof_join

    plan = (
        log_asof_join(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange") == 1, plan


def test_asof_chunked_matches_plain(spark, sf_dir):
    # The two-phase skew-proof variant must be EXACTLY the single-window
    # semantics, row for row (they also share one oracle).
    from datafusion_loki_spark.plans.logs import log_asof_join, log_asof_join_chunked

    key = lambda rows: sorted(
        (r.purchase_id, r.user_id, r.purchase_ts, r.click_ts, r.click_id, r.gap_sec)
        for r in rows
    )
    assert key(log_asof_join_chunked(spark, sf_dir).collect()) == key(
        log_asof_join(spark, sf_dir).collect()
    )


def test_asof_chunked_partitions_by_slice(spark, sf_dir):
    # The fact-table window must partition on (user_id, slice) — the whole
    # point: a hot user's timeline is spread across day tasks. The carry
    # frame is FACT-derived (users × active days), so it must carry NO
    # forced broadcast hint: at 100 TB a forced hint OOMs the driver in
    # exactly the scenario this variant exists for, while the co-partitioned
    # shuffle join is nearly free (AQE still broadcasts when it truly fits).
    plan = _plan(spark, sf_dir, "log_asof_join_chunked")
    assert "CartesianProduct" not in plan, plan
    assert "hashpartitioning(user_id" in plan, plan
    import re

    assert re.search(r"hashpartitioning\(user_id#\d+L, slice", plan), plan
    opt = _optimized(spark, sf_dir, "log_asof_join_chunked")
    assert "strategy=broadcast" not in opt, opt


def test_cc_edge_list_is_materialized(spark, sf_dir):
    # The CC fixpoint loop (and dedup_keep_list's composition) must run
    # over a MATERIALIZED edge list: _symmetric_edges localCheckpoints, so
    # its plan is a bare in-memory scan. A parquet relation here means
    # every CC round would re-execute the whole MinHash/LSH DAG — the
    # 100 TB scale regression this pins out.
    from datafusion_loki_spark.operators import dedup

    s = (
        dedup._symmetric_edges(spark, sf_dir)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert "LogicalRDD" in s, s
    assert "parquet" not in s.lower(), s


def test_cosine_norm_single_eval_per_side(spark, sf_dir):
    # The L2-norm fold must appear exactly once per join side (in its
    # projection). Before nrm was made non-nullable, the inferred
    # isnotnull(nrm) constraint re-ran the 64-element fold inside a Filter
    # on both sides (4 instances).
    s = _optimized(spark, sf_dir, "dedup_embedding_cosine").lower()
    assert s.count("sqrt(aggregate") == 2, s.count("sqrt(aggregate")


def test_normed_embeddings_null_vector_fails_loudly(spark):
    # A NULL embedding must raise, not silently become nrm=0 (which turns
    # every cosine against it into NaN/Inf). nrm must still be typed
    # non-nullable — that's the whole point of the coalesce wrapper.
    import pytest

    from datafusion_loki_spark.operators.similarity import normed_embeddings

    bad = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, None)], "vec_id: long, embedding: array<double>"
    )
    out = normed_embeddings(bad, "vid")
    assert not out.schema["nrm"].nullable
    with pytest.raises(Exception, match="non-null invariant"):
        out.collect()
    good = normed_embeddings(bad.where("embedding IS NOT NULL"), "vid")
    assert good.select("nrm").collect()[0].nrm > 0


def test_kmeans_assignment_is_broadcast_projection(spark, sf_dir):
    # The final assignment must stay a single zero-shuffle pass over the
    # corpus scan — never a cartesian or a fact-side shuffle.
    # OPTIMIZATION_r15: the 1-row-codebook broadcast projection
    # (BroadcastNestedLoopJoin + interpreted array_min/aggregate lambdas,
    # ~1 ms/row) became an Arrow-batched MapInPandas kernel with the
    # codebook collected driver-side (bounded: ONE row of K structs) —
    # so the plan now carries a MapInPandas node and NO join at all.
    # Still zero hash exchanges at any scale.
    plan = _plan(spark, sf_dir, "emb_kmeans_assign")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "MapInPandas" in plan, plan
    n = plan.count("Exchange hashpartitioning")
    assert n == 0, f"{n} hash exchanges\n{plan}"


def test_kmeans_assign_kernel_matches_fold(spark, sf_dir):
    # The r15 Arrow assignment kernel must replay the old interpreted
    # fold BIT-FOR-BIT: ascending-dimension double accumulation and the
    # lexicographic (d2, cid) tie-break. Compare kernel output against
    # the original Catalyst expression on the real corpus with the real
    # trained codebook — zero rows may differ in cid OR d2 (exact double
    # equality via IS DISTINCT FROM).
    from pyspark.sql import functions as F

    from datafusion_loki_spark.catalog import load_table
    from datafusion_loki_spark.operators import similarity as S

    emb = load_table(spark, sf_dir, "embeddings")
    emb_d = emb.select(
        "vec_id", F.expr(S._TO_DOUBLE.format(a="embedding")).alias("e")
    )
    assigned, cents = S._kmeans_fit(
        emb_d, emb_d.where(F.expr(S._TRAIN_PRED_SPARK))
    )
    old = (
        emb_d.crossJoin(F.broadcast(cents))
        .withColumn("best", F.expr(S._KM_BEST))
        .select(
            "vec_id",
            F.col("best.cid").alias("cid"),
            F.col("best.d").alias("d2"),
        )
    )
    new = assigned.select("vec_id", "cid", "d2")
    diff = (
        new.alias("n")
        .join(old.alias("o"), "vec_id")
        .where("n.cid IS DISTINCT FROM o.cid OR n.d2 IS DISTINCT FROM o.d2")
        .count()
    )
    assert diff == 0
    assert new.count() == emb_d.count()


def test_kmeans_local_fit_matches_distributed(spark, sf_dir):
    # OPTIMIZATION_r15 change 9: the scale-gated driver-side Lloyd
    # replay must be BIT-identical to the distributed loop — same
    # assignment doubles (exact equality via IS DISTINCT FROM) and the
    # same codebook doubles — on the real corpus with the real
    # md5-bucket train sample, for both seeding paths (the default
    # vec_id < K filter and retrain's ordered-limit seeds).
    from pyspark.sql import functions as F

    from datafusion_loki_spark.catalog import load_table
    from datafusion_loki_spark.operators import similarity as S

    emb = load_table(spark, sf_dir, "embeddings")
    emb_d = emb.select(
        "vec_id", F.expr(S._TO_DOUBLE.format(a="embedding")).alias("e")
    )
    train = emb_d.where(F.expr(S._TRAIN_PRED_SPARK))
    seeds = emb_d.orderBy("vec_id").limit(S.KMEANS_K)
    for seeds_d in (None, seeds):
        spark.conf.set(S._KMEANS_LOCAL_FIT_CONF, "0")
        try:
            a_dist, c_dist = S._kmeans_fit(emb_d, train, seeds_d=seeds_d)
            c_dist_rows = c_dist.collect()
        finally:
            spark.conf.unset(S._KMEANS_LOCAL_FIT_CONF)
        a_loc, c_loc = S._kmeans_fit(emb_d, train, seeds_d=seeds_d)
        loc_plan = c_loc._jdf.queryExecution().executedPlan().toString()
        # r16: the local codebook is an Arrow LocalTableScan (was r15's
        # literal expression over Range(0,1)); either way no collect_list
        assert "LocalTableScan" in loc_plan and "collect_list" not in loc_plan, (
            f"local fit did not take the driver-side path\n{loc_plan}"
        )
        assert c_loc.collect() == c_dist_rows  # Row equality is exact
        diff = (
            a_loc.alias("l")
            .join(a_dist.alias("d"), "vec_id")
            .where(
                "l.cid IS DISTINCT FROM d.cid OR l.d2 IS DISTINCT FROM d.d2"
            )
            .count()
        )
        assert diff == 0
        assert a_loc.count() == emb_d.count()


def test_pq_local_fit_matches_distributed(spark, sf_dir):
    # OPTIMIZATION_r15 change 12: the PQ fused training's driver-side
    # replay (per-subspace _local_lloyd over the collected sample) must
    # yield the identical query output to the distributed chain — exact
    # Row equality including every cosine double.
    from datafusion_loki_spark.operators import similarity as S

    spark.conf.set(S._KMEANS_LOCAL_FIT_CONF, "0")
    try:
        dist = sorted(
            map(tuple, S.sim_pq_adc_topk(spark, sf_dir).collect())
        )
    finally:
        spark.conf.unset(S._KMEANS_LOCAL_FIT_CONF)
    loc = sorted(map(tuple, S.sim_pq_adc_topk(spark, sf_dir).collect()))
    assert loc == dist
    assert len(loc) > 0


def test_kmeans_sample_fit_trains_on_sample_assigns_full(spark):
    # Sample-fit contract (round 6): the iteration (mean-update) passes
    # see ONLY train_d, while the returned assignment covers every emb_d
    # row — an outlier excluded from the sample cannot move any centroid,
    # but is still assigned to its nearest (sample-trained) cell. This is
    # the 100 TB shape: codebooks fit on a bounded sample, the corpus is
    # touched once by the final assignment.
    from pyspark.sql import functions as F

    from datafusion_loki_spark.operators.similarity import _kmeans_fit

    rows = [(i, [float(i % 4), float((i * 7) % 5)]) for i in range(11)]
    rows.append((11, [1000.0, 1000.0]))  # the outlier
    emb_d = spark.createDataFrame(rows, "vec_id long, e array<double>")
    assigned, cents = _kmeans_fit(emb_d, emb_d.where(F.col("vec_id") != 11))
    assert assigned.count() == 12  # full coverage: the outlier IS assigned
    sample_cents = cents.collect()[0].cents
    assert all(abs(v) < 50 for c in sample_cents for v in c.vec)
    # whereas the full-corpus fit pulls a centroid toward the outlier
    _, cents_full = _kmeans_fit(emb_d)
    full_cents = cents_full.collect()[0].cents
    assert any(v > 50 for c in full_cents for v in c.vec)


def test_quantize_grid_is_single_row_broadcast(spark, sf_dir):
    # The per-dim min/max grid must reach the encode pass as a 1-row
    # broadcast; the corpus itself never shuffles (one dim-sized agg
    # exchange only).
    plan = _plan(spark, sf_dir, "emb_quantize_int8")
    assert "CartesianProduct" not in plan, plan
    assert plan.count("BroadcastNestedLoopJoin") == 1, plan
    n = plan.count("Exchange hashpartitioning")
    assert n <= 1, f"{n} hash exchanges\n{plan}"


def test_outlier_grid_is_single_row_broadcast(spark, sf_dir):
    # The per-dim (mu, sd) grid must reach the scoring pass as a 1-row
    # broadcast over the corpus scan (same SQ8 two-pass shape as
    # emb_quantize_int8): one dim-keyed agg exchange, no per-vector
    # shuffle, no cartesian.
    plan = _plan(spark, sf_dir, "emb_outlier_zscore")
    assert "CartesianProduct" not in plan, plan
    assert plan.count("BroadcastNestedLoopJoin") == 1, plan
    n = plan.count("Exchange hashpartitioning")
    assert n <= 1, f"{n} hash exchanges\n{plan}"


def test_pack_sequences_single_shuffle(spark, sf_dir):
    # Packing must be shard-parallel: the cumulative window and the
    # per-shard rollup share ONE exchange on the shard key (the rollup
    # reuses the window's partitioning), and the token-count projection
    # runs at scan speed before the shuffle.
    plan = _plan(spark, sf_dir, "mix_pack_sequences")
    assert "CartesianProduct" not in plan, plan
    n = plan.count("Exchange hashpartitioning")
    assert n == 1, f"{n} hash exchanges\n{plan}"


def test_pack_greedy_single_shuffle_pandas_group(spark, sf_dir):
    # The stateful no-split packer: one exchange on the shard key feeding
    # the Arrow-batched pandas group walk — no second shuffle, no
    # cartesian; the token projection runs before the exchange.
    plan = _plan(spark, sf_dir, "mix_pack_greedy")
    assert "FlatMapGroupsInPandas" in plan, plan
    assert "CartesianProduct" not in plan, plan
    n = plan.count("Exchange hashpartitioning")
    assert n == 1, f"{n} hash exchanges\n{plan}"


def test_cross_source_overlap_joins_are_candidate_sized(spark, sf_dir):
    # The source-labeling joins run over the checkpointed candidate-sized
    # frames (Scan ExistingRDD), never the corpus: the only FileScan in
    # the final plan is the doc->source projection pruned by the
    # broadcast semi-join before its checkpoint.
    plan = _plan(spark, sf_dir, "dedup_cross_source_overlap")
    assert "CartesianProduct" not in plan, plan
    assert "Scan ExistingRDD" in plan, plan
    assert "FileScan" not in plan, plan


def test_mm_chunk_dedup_merge_join_pairs(spark, sf_dir):
    # Decode-free binary near-dup (round-7 final shape): pair generation
    # is a capped self-join on the chunk key PINNED to sort-merge — the
    # static size estimate under mapInPandas would otherwise broadcast
    # the whole capped chunk stream through the driver (the
    # dedup_repeated_ngrams grams-broadcast trap; also measured 2x
    # slower than SMJ at sf0.1). Two chunker passes (lineage recompute
    # over a corpus-sized materialization), bounded exchanges, no
    # cartesian; payloads never shuffle (only 3-long chunk rows).
    plan = _plan(spark, sf_dir, "mm_chunk_dedup")
    assert plan.count("FileScan") == 2, plan
    assert "SortMergeJoin" in plan, plan
    assert "BroadcastHashJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    n = plan.count("Exchange hashpartitioning")
    assert n <= 3, f"{n} hash exchanges\n{plan}"
    for ln in plan.splitlines():
        if "Exchange hashpartitioning" in ln:
            assert "payload" not in ln, ln


def test_mm_phash_neardup_merge_join_no_payload_shuffle(spark, sf_dir):
    # Perceptual near-dup (round-9): the fingerprint frame is
    # localCheckpointed (Scan ExistingRDD, zero FileScan in the executed
    # plan — the byte kernel ran once at checkpoint time), band pairing
    # is a capped self-join PINNED to sort-merge (the mapInPandas
    # stat-less broadcast trap), hamming is xor+bit_count codegen, and
    # no exchange ever carries payload bytes.
    plan = _plan(spark, sf_dir, "mm_phash_neardup")
    assert "SortMergeJoin" in plan, plan
    assert "BroadcastHashJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "Scan ExistingRDD" in plan, plan
    assert "FileScan" not in plan, plan
    n = plan.count("Exchange hashpartitioning")
    assert n <= 3, f"{n} hash exchanges\n{plan}"
    for ln in plan.splitlines():
        if "Exchange hashpartitioning" in ln:
            assert "payload" not in ln, ln


def test_histogram_drift_two_pass_broadcast_bounds(spark, sf_dir):
    # Exactly two corpus passes (bounds agg, then the bucketing pass with
    # the 1-row bounds frame riding a broadcast), bounded exchanges, no
    # cartesian — the stream collapses to (type, bucket, half) before any
    # window.
    plan = _plan(spark, sf_dir, "log_histogram_drift")
    assert plan.count("FileScan") == 2, plan
    assert plan.count("BroadcastNestedLoopJoin") == 1, plan
    assert "CartesianProduct" not in plan, plan
    n = plan.count("Exchange hashpartitioning")
    assert n <= 2, f"{n} hash exchanges\n{plan}"


def test_burn_alerts_window_runs_on_bucket_table(spark, sf_dir):
    # The unpartitioned trailing window is legal ONLY because its input
    # is the 5-minute bucket rollup, not the raw stream: one
    # map-side-combined agg exchange, then the single-partition window
    # over O(time-range) rows.
    plan = _plan(spark, sf_dir, "log_burn_alerts")
    assert "CartesianProduct" not in plan, plan
    n = plan.count("Exchange hashpartitioning")
    assert n <= 1, f"{n} hash exchanges\n{plan}"


def test_transition_matrix_exchanges_bounded(spark, sf_dir):
    # lag needs one shuffle on user_id; the pair rollup and the
    # per-prev-type normalizing window run over types^2 rows
    plan = _plan(spark, sf_dir, "log_transition_matrix")
    assert "CartesianProduct" not in plan, plan
    n = plan.count("Exchange hashpartitioning")
    assert n <= 3, f"{n} hash exchanges\n{plan}"


def test_tfidf_topk_prunes_with_window_group_limit(spark, sf_dir):
    # The per-doc top-k must carry WindowGroupLimit (rank pre-buffer
    # pruning) and the N scalar must ride a broadcast, not a cartesian.
    plan = _plan(spark, sf_dir, "text_tfidf_topk")
    assert "CartesianProduct" not in plan, plan
    assert "WindowGroupLimit" in plan, plan
    n = plan.count("Exchange hashpartitioning")
    assert n <= 4, f"{n} hash exchanges\n{plan}"


def test_rate_anomaly_no_forced_broadcast(spark, sf_dir):
    # The per-type stats frame is fact-derived — no forced hint (AQE may
    # still broadcast it); everything downstream of the first agg is
    # minute-scale.
    opt = _optimized(spark, sf_dir, "log_rate_anomaly")
    assert "strategy=broadcast" not in opt, opt
    plan = _plan(spark, sf_dir, "log_rate_anomaly")
    assert "CartesianProduct" not in plan, plan
    n = plan.count("Exchange hashpartitioning")
    assert n <= 3, f"{n} hash exchanges\n{plan}"


def test_ivf_kmeans_probe_side_broadcasts(spark, sf_dir):
    # The learned-cell IVF: the probe frame (queries × IVF_PROBES rows)
    # must reach the member lists via broadcast hash join — the corpus
    # side clusters on cluster_id and never reshuffles for the probe; the
    # 1-row centroid frames ride BroadcastNestedLoop; per-query top-k is
    # WindowGroupLimit-pruned.
    plan = _plan(spark, sf_dir, "sim_ivf_kmeans_topk")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "WindowGroupLimit" in plan, plan


def test_simhash_hamming_no_distinct_no_cartesian(spark, sf_dir):
    # The probe join emits each pair exactly once by construction — the
    # plan must stay probe-explode + ONE equi-join, with no post-join
    # dedup aggregation and no cartesian fallback; the two cap windows
    # must reuse the join's exchanges (≤2 hash exchanges total).
    plan = _plan(spark, sf_dir, "dedup_simhash_hamming")
    assert "CartesianProduct" not in plan, plan
    assert "HashAggregate" not in plan, plan
    n = plan.count("Exchange hashpartitioning")
    assert n <= 2, f"{n} hash exchanges\n{plan}"


def test_simhash_hamming_cap_bounds_pair_generation(spark, sf_dir, monkeypatch):
    # Degenerate-bucket guard (same contract as the LSH cap): with cap=1
    # each fingerprint keeps ONE exact-side participant, so hamming-0
    # pairs (two docs sharing a fingerprint) cannot be emitted; the
    # default cap yields them on this data.
    import pyspark.sql.functions as F

    from datafusion_loki_spark.operators import dedup

    assert (
        dedup.dedup_simhash_hamming(spark, sf_dir)
        .where(F.col("hamming") == 0)
        .count()
        > 0
    )
    monkeypatch.setattr(dedup, "LSH_BUCKET_CAP", 1)
    assert (
        dedup.dedup_simhash_hamming(spark, sf_dir)
        .where(F.col("hamming") == 0)
        .count()
        == 0
    )


def test_temperature_sampling_corpus_never_shuffles(spark, sf_dir):
    # The per-language rate table must reach the corpus via broadcast; the
    # only hash exchanges belong to the tiny lang histogram — the corpus
    # itself stays a filter-at-scan-speed pipeline.
    plan = _plan(spark, sf_dir, "sample_docs_temperature")
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_retention_cohorts_no_forced_broadcast(spark, sf_dir):
    # The first-day cohort map is keyed by user_id — unbounded cardinality
    # for a log store — so it must NOT carry a forced broadcast hint (AQE
    # broadcasts at runtime when it truly fits; a forced hint OOMs at
    # scale). Exchange budget: join repartition + user groupBy + the
    # two-phase distinct-count chain.
    plan = _plan(spark, sf_dir, "log_retention_cohorts")
    assert "CartesianProduct" not in plan, plan
    opt = _optimized(spark, sf_dir, "log_retention_cohorts")
    assert "strategy=broadcast" not in opt, opt
    n = plan.count("Exchange hashpartitioning")
    assert n <= 5, f"{n} hash exchanges\n{plan}"


def test_mix_token_budget_single_agg_shuffle(spark, sf_dir):
    # One per-language aggregation exchange + the single-partition total;
    # the budget arithmetic runs over a #languages-row frame.
    plan = _plan(spark, sf_dir, "mix_token_budget")
    assert "CartesianProduct" not in plan, plan
    assert plan.count("Exchange hashpartitioning") <= 2, plan


def test_spread_conf_gate_bypasses_rdd_probe(spark, sf_dir):
    # Cluster deployments disable the local scan-split widener so plans
    # stay clean of the per-invocation RDD-conversion probe; the gate must
    # return the input frame untouched.
    from datafusion_loki_spark.catalog import load_table
    from datafusion_loki_spark.operators import dedup

    docs = load_table(spark, sf_dir, "documents")
    spark.conf.set("spark_graft.spread.enabled", "false")
    try:
        assert dedup._spread(docs, "doc_id") is docs
    finally:
        spark.conf.set("spark_graft.spread.enabled", "true")


def test_cc_groups_labels_are_consistent(spark, sf_dir):
    # Every LSH edge's endpoints must share a cluster label (fixpoint
    # reached), and each cluster's label is its minimum member id.
    from datafusion_loki_spark.operators.dedup import (
        dedup_cc_groups,
        dedup_minhash_lsh,
    )

    labels = {r.doc_id: r.cluster_id for r in dedup_cc_groups(spark, sf_dir).collect()}
    edges = dedup_minhash_lsh(spark, sf_dir).collect()
    assert edges, "expected candidate pairs at this SF"
    for e in edges:
        assert labels[e.doc_a] == labels[e.doc_b], (e.doc_a, e.doc_b)
    clusters = {}
    for doc, lbl in labels.items():
        clusters.setdefault(lbl, []).append(doc)
    for lbl, members in clusters.items():
        assert lbl == min(members)


def test_cc_local_matches_distributed(spark, sf_dir):
    # OPTIMIZATION_r15 change 7: the scale gate sends candidate-scale
    # edge lists through driver-side union-find; this pins the two paths
    # bit-identical on the real LSH graph — and keeps the DISTRIBUTED
    # fixpoint loop exercised now that every test-scale graph takes the
    # local path
    from datafusion_loki_spark.operators.dedup import dedup_cc_groups

    local = sorted(map(tuple, dedup_cc_groups(spark, sf_dir).collect()))
    spark.conf.set("spark_graft.cc.local_labels.max_edges", "0")
    try:
        dist = sorted(map(tuple, dedup_cc_groups(spark, sf_dir).collect()))
    finally:
        spark.conf.unset("spark_graft.cc.local_labels.max_edges")
    assert local and local == dist


def test_overlap_helper_order_kill_switch_and_errors(spark):
    # OPTIMIZATION_r15 change 8: results come back in thunk order
    # (concurrent and sequential), the conf kill switch forces the
    # sequential path, and a thunk's exception propagates unchanged
    from datafusion_loki_spark.functions.overlap import (
        materialize_concurrently,
    )

    def boom():
        raise ValueError("boom")

    assert materialize_concurrently(
        spark, lambda: 1, lambda: 2, lambda: 3
    ) == (1, 2, 3)
    spark.conf.set("spark_graft.overlap.enabled", "false")
    try:
        assert materialize_concurrently(
            spark, lambda: "a", lambda: "b"
        ) == ("a", "b")
    finally:
        spark.conf.unset("spark_graft.overlap.enabled")
    with pytest.raises(ValueError):
        materialize_concurrently(spark, lambda: 1, boom)


def test_overlap_threads_keep_caller_job_group(spark):
    # jobs started on the overlap helper's threads must stay in the
    # caller's job group, or cancelJobGroup leaves them running
    from datafusion_loki_spark.functions.overlap import (
        materialize_concurrently,
    )

    sc = spark.sparkContext
    group = "overlap-inherits-group"

    def job(n):
        return spark.range(n).count(), sc.getLocalProperty("spark.jobGroup.id")

    sc.setJobGroup(group, "overlap job-group inheritance")
    try:
        got = materialize_concurrently(spark, lambda: job(10), lambda: job(20))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        sc.setLocalProperty("spark.job.interruptOnCancel", None)
    assert got == ((10, group), (20, group))
    assert len(sc.statusTracker().getJobIdsForGroup(group)) >= 2


def test_overlap_cancel_job_group_cancels_every_thunk(spark):
    # cancelling the caller's job group must cancel the jobs the overlap
    # helper's threads started, not leave them running to completion
    import threading
    import time

    from datafusion_loki_spark.functions.overlap import (
        materialize_concurrently,
    )

    sc = spark.sparkContext
    group = "overlap-cancel"
    raised, outcome = [], []

    def slow(n):
        # one task that counts far past any test's lifetime
        try:
            return spark.range(0, 10**13, 1, 1).where(f"id % 7 != {n}").count()
        except Exception as e:
            raised.append(e)
            raise

    def caller():
        sc.setJobGroup(group, "overlap cancellation", interruptOnCancel=True)
        try:
            outcome.append(
                materialize_concurrently(spark, lambda: slow(1), lambda: slow(2))
            )
        except Exception as e:
            outcome.append(e)

    def running():
        st = sc.statusTracker()
        return [
            j
            for j in st.getJobIdsForGroup(group)
            if (info := st.getJobInfo(j)) is not None
            and info.status == "RUNNING"
        ]

    t = threading.Thread(target=caller, daemon=True)
    t.start()
    deadline = time.monotonic() + 120
    while len(running()) < 2 and time.monotonic() < deadline:
        time.sleep(0.2)
    assert len(running()) == 2, "both thunks' jobs should be active"
    sc.cancelJobGroup(group)
    t.join(timeout=120)
    assert not t.is_alive(), "the cancelled composition did not return"
    assert len(raised) == 2, raised
    assert len(outcome) == 1 and isinstance(outcome[0], Exception), outcome
    # the status store trails the scheduler; give it a moment to settle
    deadline = time.monotonic() + 30
    while running() and time.monotonic() < deadline:
        time.sleep(0.2)
    assert running() == []


def test_release_frees_only_its_own_checkpoint(spark):
    # a checkpoint is freed by its own frame, so a second live
    # checkpoint (another thread's, say) is never touched
    from datafusion_loki_spark.functions.checkpoints import release

    a = spark.range(100).localCheckpoint(eager=True)
    b = spark.range(50).localCheckpoint(eager=True)
    release(a)
    assert b.count() == 50
    with pytest.raises(Exception, match="CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND"):
        a.count()
    # a derived frame has no checkpoint of its own
    with pytest.raises(ValueError):
        release(b.select("*"))
    release(b)


def test_ship_card_distributed_cc_under_overlap(spark, sf_dir):
    # corpus_ship_card runs its text and media halves on overlap
    # threads; with the distributed CC loop forced (the path of every
    # graph above the local cap) each CC round must free only its own
    # checkpoint, never the other thread's live ones
    from datafusion_loki_spark.operators.multimodal import corpus_ship_card

    base = sorted(map(tuple, corpus_ship_card(spark, sf_dir).collect()))
    spark.conf.set("spark_graft.cc.local_labels.max_edges", "0")
    try:
        dist = sorted(map(tuple, corpus_ship_card(spark, sf_dir).collect()))
    finally:
        spark.conf.unset("spark_graft.cc.local_labels.max_edges")
    assert base and base == dist


def test_overlap_kill_switch_matches_concurrent(spark, sf_dir):
    # change 8 changes WHEN the eager sub-DAGs run, never what they
    # compute: the sequential (kill-switch) composition must emit the
    # identical keep-list
    from datafusion_loki_spark.operators.dedup import dedup_keep_list

    conc = sorted(map(tuple, dedup_keep_list(spark, sf_dir).collect()))
    spark.conf.set("spark_graft.overlap.enabled", "false")
    try:
        seq = sorted(map(tuple, dedup_keep_list(spark, sf_dir).collect()))
    finally:
        spark.conf.unset("spark_graft.overlap.enabled")
    assert conc and conc == seq


def test_value_histogram_single_shuffle(spark, sf_dir):
    # Bucketing is a codegen'd projection; the only exchange is the one
    # map-side-combined agg on the bounded (type × bucket) key.
    plan = _plan(spark, sf_dir, "log_value_histogram")
    n = plan.count("Exchange hashpartitioning")
    assert n == 1, f"log_value_histogram: {n} hash exchanges\n{plan}"
    assert "CartesianProduct" not in plan, plan


def test_templates_bounded_shuffles(spark, sf_dir):
    # Masking is a scan-speed regex projection; COUNT(DISTINCT user_id)
    # legitimately costs a second (expanded-key) exchange — anything more
    # means the vocabulary-key rollup degraded.
    plan = _plan(spark, sf_dir, "log_templates")
    n = plan.count("Exchange hashpartitioning")
    assert n <= 2, f"log_templates: {n} hash exchanges\n{plan}"
    assert "CartesianProduct" not in plan, plan


def test_heavy_hitters_candidate_join_broadcasts(spark, sf_dir):
    # The exact second pass must reach the corpus through a broadcast of
    # the bounded candidate frame — a SortMergeJoin here would mean the
    # operator re-acquired the full-shuffle cost the sketch exists to
    # avoid. The total-count frame rides a 1-row broadcast.
    plan = _plan(spark, sf_dir, "log_heavy_hitters")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_bigram_lm_no_cartesian_no_forced_count_broadcast(spark, sf_dir):
    # The two corpus-count joins are fact-scale on vocabulary keys — no
    # forced hint (AQE broadcasts when the vocab fits); the only explicit
    # broadcast is the 1-row vocab-size frame.
    plan = _plan(spark, sf_dir, "text_bigram_lm")
    assert "CartesianProduct" not in plan, plan
    opt = _optimized(spark, sf_dir, "text_bigram_lm")
    assert opt.count("strategy=broadcast") <= 1, opt
    # one tokenizer run per consumer branch (scored-bigrams, c2-bigrams,
    # uni-join, uni-vocab) and NOT ALSO once per pushed/inferred Filter —
    # explode_outer keeps InferFiltersFromGenerate out (was 10 split()s,
    # the 4 here are the Catalyst-no-subtree-reuse floor)
    assert opt.count("split(") <= 4, f"{opt.count('split(')} split()s:\n{opt}"


def test_pq_adc_encode_is_single_pass(spark, sf_dir):
    # Codebooks (4× 1-row) and the query set ride broadcasts over ONE
    # corpus scan — the naive per-subspace assignment join would show a
    # SortMergeJoin per subspace; the per-query top-k must prune through
    # WindowGroupLimit.
    plan = _plan(spark, sf_dir, "sim_pq_adc_topk")
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "WindowGroupLimit" in plan, plan


def test_pca_iteration_aggs_are_dim_scale(spark, sf_dir):
    # Power iteration: v rides 1-row broadcasts (BroadcastNestedLoop over
    # a single row), per-iteration reductions are hash aggs on pos — no
    # SortMergeJoin, no cartesian anywhere.
    plan = _plan(spark, sf_dir, "emb_pca_project")
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_corpus_manifest_composes_without_cartesian(spark, sf_dir):
    # The end-to-end composition must keep every sub-pipeline's plan
    # discipline: no cartesian, and the final (source × lang) rollup is
    # a hash aggregate.
    plan = _plan(spark, sf_dir, "corpus_build_manifest")
    assert "CartesianProduct" not in plan, plan
    assert "HashAggregate" in plan, plan


def test_no_registry_query_has_cartesian_product(spark, sf_dir):
    # Blanket gate over the ENTIRE registry (the curated per-operator
    # gates above pin specific shapes; this one guarantees no NEW query
    # can ever ship an accidental cross product — the canonical
    # dies-at-scale plan). Every intentional cross join in the repo rides
    # a broadcast (BroadcastNestedLoopJoin), which this does not match.
    import __spark_entry__ as e

    offenders = []
    for name, fn in e.queries().items():
        plan = fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        if "CartesianProduct" in plan:
            offenders.append(name)
    assert offenders == [], offenders


def test_pca_projection_is_single_scan(spark, sf_dir):
    # emb_pca_project (round 7): training is sample-fit and materialized
    # into one checkpointed (v, mu·v) row, so the returned plan must be
    # exactly ONE corpus FileScan joined to a Scan ExistingRDD — if the
    # power-iteration DAG leaks back in, every projection re-trains.
    plan = _plan(spark, sf_dir, "emb_pca_project")
    assert plan.count("FileScan parquet") == 1, plan
    assert "Scan ExistingRDD" in plan, plan
    # and the per-row fold must run on the raw scan column (linearity
    # rewrite) — no zip_with centering array in the projection plan
    assert "zip_with" not in plan, plan


def test_pagerank_rounds_reuse_materialized_edges(spark, sf_dir):
    # Every PageRank round must consume the checkpointed edge list (bare
    # ExistingRDD scans) — if the MinHash/LSH DAG leaks back into the
    # per-round plan, training cost multiplies by iteration count (the
    # same regression the CC gate pins).
    plan = _plan(spark, sf_dir, "graph_pagerank_dups")
    assert "Scan ExistingRDD" in plan, plan
    assert "FileScan parquet" not in plan, plan


def test_repeated_ngrams_census_has_partial_agg(spark, sf_dir):
    # The span census must be a groupBy (map-side partial aggregation
    # compresses boilerplate hot spans to one row per task BEFORE the
    # shuffle), never a count-over-window that would pool every copy of a
    # hot span into a single task. Exactly two tokenize chains — one per
    # consumer branch (census + join-back); lineage recompute is the
    # documented trade — and no inferred-filter clone beyond those.
    plan = _plan(spark, sf_dir, "dedup_repeated_ngrams")
    assert "partial_count" in plan, plan
    assert "Window" not in plan, plan
    s = _optimized(spark, sf_dir, "dedup_repeated_ngrams")
    assert s.count("split(") == 2, f"split() x{s.count('split(')}:\n{s}"


def test_repeated_ngrams_join_back_never_broadcasts_grams(spark, sf_dir):
    # Catalyst's static size estimate under the exploded gram frame is so
    # low it would BROADCAST the token-scale grams side of the join-back
    # (driver OOM at scale; measured 2x slower at x64). The merge hint
    # pins a sort-merge join — spill-safe even when the census itself is
    # huge — and must hold at every SF.
    plan = _plan(spark, sf_dir, "dedup_repeated_ngrams")
    assert "SortMergeJoin" in plan, plan
    assert "BroadcastHashJoin" not in plan, plan


def test_remove_repeated_spans_inherits_span_family_plan_rules(spark, sf_dir):
    # The removal op reuses the audit's census + join-back topology and
    # must inherit its pins: both span joins merge-pinned (the stat-less
    # explode underneath would otherwise broadcast a token-scale side),
    # no inferred generate-filter cloning the tokenizer into the scan,
    # and the covered-position distinct keeps map-side partial
    # aggregation (two HashAggregates around its exchange).
    plan = _plan(spark, sf_dir, "text_remove_repeated_spans")
    assert plan.count("SortMergeJoin") == 2, plan
    assert "BroadcastHashJoin" not in plan, plan
    opt = _optimized(spark, sf_dir, "text_remove_repeated_spans")
    # one tokenize chain per branch (census/occ/tokpos) — lineage
    # recompute is the documented trade; anything above 3 means a chain
    # got cloned into a Filter or re-inlined per column
    assert opt.count("split(") <= 3, f"split() x{opt.count('split(')}:\n{opt}"


def test_benchmark_decontam_merge_pinned_two_tokenize_chains(spark, sf_dir):
    # Same span-family rules as the audit: the gram join merge-pinned
    # (never broadcast a side fed by a stat-less explode), and exactly
    # one tokenize chain per consumer branch (bench set + train grams =
    # 2; more means the span lambda got re-inlined per column)
    plan = _plan(spark, sf_dir, "text_benchmark_decontam")
    assert "SortMergeJoin" in plan, plan
    assert "BroadcastHashJoin" not in plan, plan
    opt = _optimized(spark, sf_dir, "text_benchmark_decontam")
    assert opt.count("split(") <= 2, f"split() x{opt.count('split(')}:\n{opt}"


def test_split_leakage_safe_one_scan_one_shuffle_no_join(spark, sf_dir):
    # leakage is a window MAX over the fingerprint partition — a val-vs-
    # train self-join would re-execute the scan+md5 DAG per branch
    plan = _strip_fanout(_plan(spark, sf_dir, "mix_split_leakage_safe"))
    assert plan.count("Scan parquet") + plan.count("FileScan") >= 1
    assert "Join" not in plan, plan
    assert plan.count("Exchange") == 1, plan
    assert "Window" in plan, plan
    opt = _optimized(spark, sf_dir, "mix_split_leakage_safe")
    assert opt.count("md5(") <= 2, f"md5() x{opt.count('md5(')}:\n{opt}"


def test_split_neardup_safe_single_lsh_pass_no_cartesian(spark, sf_dir):
    # the leaked-val set derives from the capped LSH pair stream with the
    # bucket predicate evaluated in place — documents scans at most twice
    # (LSH signatures + the per-doc frame), never a third time for a
    # split-side join, and no pair explosion beyond the capped buckets
    plan = _plan(spark, sf_dir, "mix_split_neardup_safe")
    assert "CartesianProduct" not in plan, plan
    n_scans = plan.count("Scan parquet") or plan.count("FileScan")
    assert n_scans <= 2, plan


def test_matryoshka_one_pair_pass_checkpointed_topk(spark, sf_dir):
    # every prefix cosine comes from ONE broadcast pair pass (corpus
    # scans <= 2: query side + candidate side), and the tiny top-k frame
    # is materialized before its two consumers (ranking + truth) — a
    # FileScan in the truth branch would mean the pair scoring
    # re-executes per branch
    plan = _plan(spark, sf_dir, "emb_matryoshka_recall")
    assert "Scan ExistingRDD" in plan, plan
    n_scans = plan.count("Scan parquet") or plan.count("FileScan")
    assert n_scans == 0, plan  # topk checkpoint feeds BOTH branches
    assert "CartesianProduct" not in plan, plan


def test_within_repeats_inherits_span_family_plan_rules(spark, sf_dir):
    # same pins as the cross-doc removal op: both span joins merge-pinned
    # (stat-less explode underneath), no broadcast, bounded tokenize
    # chains (occ/dup share one, tokpos re-derives — <= 3 split chains)
    plan = _plan(spark, sf_dir, "text_remove_within_repeats")
    assert plan.count("SortMergeJoin") == 2, plan
    assert "BroadcastHashJoin" not in plan, plan
    opt = _optimized(spark, sf_dir, "text_remove_within_repeats")
    assert opt.count("split(") <= 3, f"split() x{opt.count('split(')}:\n{opt}"


def test_within_keep_first_inherits_span_family_plan_rules(spark, sf_dir):
    # the keep-first variant (round-9) carries min(start) through the
    # census but must keep the exact plan shape of its remove-all
    # sibling: both span joins merge-pinned, no broadcast, <= 3
    # tokenize chains
    plan = _plan(spark, sf_dir, "text_dedup_within_keep_first")
    assert plan.count("SortMergeJoin") == 2, plan
    assert "BroadcastHashJoin" not in plan, plan
    opt = _optimized(spark, sf_dir, "text_dedup_within_keep_first")
    assert opt.count("split(") <= 3, f"split() x{opt.count('split(')}:\n{opt}"


def test_scrub_pii_pure_projection(spark, sf_dir):
    # the corpus PII scrub is a regex projection: one scan, zero
    # exchanges, zero joins — anything else means the rule cascade
    # stopped being scan-speed
    plan = _strip_fanout(_plan(spark, sf_dir, "text_scrub_pii"))
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan
    n_scans = plan.count("Scan parquet") or plan.count("FileScan")
    assert n_scans == 1, plan


def test_bpe_vocab_iterates_at_vocab_scale(spark, sf_dir):
    # the merge table face never re-reads the corpus (zero FileScans —
    # the one tokenize happened inside the training gate) and never
    # joins wide: at test scale the batches are driver-trained local
    # relations (OPTIMIZATION_r15 change 5 — LocalTableScan), above the
    # vocab cap they are checkpointed RDDs (Scan ExistingRDD)
    plan = _plan(spark, sf_dir, "text_bpe_vocab")
    n_scans = plan.count("Scan parquet") or plan.count("FileScan")
    assert n_scans == 0, plan
    assert "LocalTableScan" in plan or "Scan ExistingRDD" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_bpe_vocab_distributed_path_iterates_at_vocab_scale(spark, sf_dir):
    # the web-scale (above-cap) loop keeps its round-14 shape: vocab
    # state is checkpointed RDDs, zero corpus re-reads, argmax rides a
    # broadcast — pinned with the local gate disabled so the
    # distributed path stays plan-tested now that every test corpus
    # trains driver-side
    spark.conf.set("spark_graft.bpe.local_train.max_vocab", "0")
    try:
        plan = _plan(spark, sf_dir, "text_bpe_vocab")
    finally:
        spark.conf.unset("spark_graft.bpe.local_train.max_vocab")
    n_scans = plan.count("Scan parquet") or plan.count("FileScan")
    assert n_scans == 0, plan
    assert "Scan ExistingRDD" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_tokenize_bpe_vocab_join_never_broadcasts_corpus(spark, sf_dir):
    # the apply is ONE corpus tokenize joined to the vocab segmentation
    # on the word key. Since round 13 the vocab side is the STAGED
    # artifact read back from parquet (the oracle-decoupling contract),
    # a plain FileScan with real size stats — so the join strategy is
    # UNPINNED (OPTIMIZATION_r15 change 5b, the _subtract_tombstones
    # stats-are-trustworthy rule): at test scale Catalyst broadcasts
    # the ARTIFACT side (BuildRight — never the stat-less exploded
    # corpus), at 100 TB the artifact outgrows the threshold and the
    # plan degrades to SMJ. Two parquet sources either way.
    plan = _plan(spark, sf_dir, "text_tokenize_bpe")
    if "BroadcastHashJoin" in plan:
        assert "BuildRight" in plan, plan  # broadcast side = artifact
    else:
        assert "SortMergeJoin" in plan, plan
    n_scans = plan.count("Scan parquet") or plan.count("FileScan")
    assert n_scans == 2, plan  # corpus read + staged-vocab artifact read


def test_data_card_single_expand_and_tokenize(spark, sf_dir):
    # CUBE(source, lang) must be ONE Expand feeding one aggregation (the
    # key-space x4, not the data x4), and the stats side keeps the
    # shared-toks barrier: one tokenizing split() in the whole plan.
    plan = _plan(spark, sf_dir, "corpus_data_card")
    assert plan.count("Expand") >= 1, plan
    s = _optimized(spark, sf_dir, "corpus_data_card")
    assert s.count("Expand") == 1, s
    assert s.count("split(") <= 2, f"split() x{s.count('split(')}:\n{s}"


def test_ivf_index_query_prunes_partitions_at_scan(spark, sf_dir):
    # The persisted-index read path must prune unprobed IVF cells at the
    # SCAN (PartitionFilters carries the probed-cell isin), not post-read
    # — touching probes/K of the on-disk bytes is the point of the index.
    plan = _plan(spark, sf_dir, "sim_ivf_index_topk")
    import re

    m = re.search(r"PartitionFilters: \[cluster_id#\d+ IN \(", plan)
    assert m, plan


def test_snapshot_reads_keep_partition_pruning(spark, sf_dir):
    # Resolving the base dir through the index manifest (round-12
    # snapshot protocol) must not cost the index its point: the query
    # through a RETRAINED snapshot still prunes unprobed cells at the
    # scan, and the tombstone anti-join stays cell-local (same gates as
    # the flat-layout lifecycle entries).
    plan = _plan(spark, sf_dir, "sim_ivf_snapshot_reads")
    import re

    m = re.search(r"PartitionFilters: \[cluster_id#\d+ IN \(", plan)
    assert m, plan
    # the scan reads the COMMITTED snapshot, not the flat legacy layout
    # (the plan's Location string is elided, so check the resolver)
    from datafusion_loki_spark.operators.similarity import (
        resolve_index_base,
        scratch_index_dir,
    )

    index_dir = scratch_index_dir(spark, sf_dir, "ivf_snapshot")
    base = resolve_index_base(spark, index_dir)
    # any committed version: a prior run of the query in this session
    # (the parity suite) already retrained the scratch index once, and
    # each retrain bumps the manifest version — the gate pins that the
    # scan went through A committed snapshot, not which one
    assert "/base-v" in base, base


def test_semantic_dedup_rides_the_persisted_index(spark, sf_dir):
    # dedup_semantic_cluster pays the k-means fit ONCE in the index build;
    # the returned frame must read only the persisted member table — no
    # embeddings.parquet scan (which would mean a consumer branch silently
    # re-runs the training DAG) and no norm re-fold (c_nrm is persisted).
    # The verdict join-back must be a COLUMN-PRUNED member scan: vec_id
    # plus the partition column only, no embedding bytes moving twice.
    s = _optimized(spark, sf_dir, "dedup_semantic_cluster")
    assert "embeddings.parquet" not in s, s
    assert s.count("sqrt(aggregate") == 0, s
    plan = _plan(spark, sf_dir, "dedup_semantic_cluster")
    import re

    assert re.search(r"FileScan parquet \[vec_id#\d+L?,cluster_id#\d+\]", plan), plan
    # the pair stage spreads the K~8 test-scale cells across salted
    # sub-keys (same reducer-starvation fix as dedup_embedding_cosine),
    # and the pair join executes ONCE: both keep-rule directions ride one
    # explode over the join output, not a two-branch union that re-runs
    # the join (count the cosine fold — one join side each, one filter)
    assert "salt" in s.lower(), s
    assert s.count("zip_with") == 1, s.count("zip_with")


def test_bpe_merge_pairs_vocab_scale_and_takeordered(spark, sf_dir):
    # Pair statistics must be computed over the DISTINCT-TOKEN vocabulary
    # (one tokenizing split() in the whole plan — the corpus is touched by
    # exactly one explode+groupBy), and the top-N must be TakeOrdered on
    # the symbol-pair frame, never a global Sort+Limit shuffle.
    s = _optimized(spark, sf_dir, "text_bpe_merge_pairs")
    assert s.count("split(") == 1, f"split() x{s.count('split(')}:\n{s}"
    plan = _plan(spark, sf_dir, "text_bpe_merge_pairs")
    assert "TakeOrderedAndProject" in plan, plan


def test_ivf_append_idempotent_merged_index(spark, sf_dir):
    # The append lifecycle must be idempotent per invocation (the build
    # overwrites the member table before the single append — a second
    # run may not double the appended generation), the merged index must
    # actually surface appended candidates in the top-k (not a vacuous
    # union), and the read path keeps the probe-driven PARTITION pruning
    # of the plain persisted-index query.
    import re

    from pyspark.sql import functions as F

    from datafusion_loki_spark.operators.similarity import IVF_APPEND_OFFSET

    first = {
        (r.query_id, r.rank): r.cand_id
        for r in _QUERIES["sim_ivf_index_append"](spark, sf_dir).collect()
    }
    second = {
        (r.query_id, r.rank): r.cand_id
        for r in _QUERIES["sim_ivf_index_append"](spark, sf_dir).collect()
    }
    assert first == second
    assert any(c >= IVF_APPEND_OFFSET for c in first.values())
    plan = _plan(spark, sf_dir, "sim_ivf_index_append")
    assert re.search(r"PartitionFilters: \[cluster_id#\d+ IN \(", plan), plan


def test_probe_curve_scores_corpus_once(spark, sf_dir):
    # The sweep must score candidates ONCE at the widest probe level and
    # replay ranks into levels (explode of small ints) — never one
    # corpus join per nprobe. Two cosine folds total: the IVF scoring
    # join and the brute-force truth side.
    s = _optimized(spark, sf_dir, "sim_probe_recall_curve")
    assert s.count("zip_with") <= 2, f"zip_with x{s.count('zip_with')}:\n{s}"
    plan = _plan(spark, sf_dir, "sim_probe_recall_curve")
    assert "CartesianProduct" not in plan, plan


def test_snapshot_diff_fingerprints_at_scan(spark, sf_dir):
    # The diff join must carry only (doc_id, source, fingerprint) — the
    # md5 content fingerprint is computed in the scan-side projection,
    # so document TEXT never crosses an exchange.
    # (the adaptive scan fan-out is exempt: it exists only when the
    # input is too small to fill the cluster, so the text bytes it
    # moves are bounded by that same smallness — at scale it is absent)
    plan = _strip_fanout(_plan(spark, sf_dir, "corpus_snapshot_diff"))
    assert "CartesianProduct" not in plan, plan
    for ln in plan.splitlines():
        if "Exchange" in ln:
            assert "text" not in ln, ln


def test_containment_verify_is_candidate_scale(spark, sf_dir):
    # The containment verify must ride the SAME candidate-pruned shingle
    # frame as the Jaccard verify: the corpus tokenizes zero times in
    # the returned plan (the pruned shingle frame and the pair list are
    # localCheckpoint-materialized — Scan ExistingRDD, no FileScan), and
    # both measures are expressions on one pair join, not two.
    s = _optimized(spark, sf_dir, "dedup_shingle_containment")
    assert "FileScan" not in s, s
    plan = _plan(spark, sf_dir, "dedup_shingle_containment")
    assert "CartesianProduct" not in plan, plan


def test_mm_semantic_dedup_pair_space_is_cell_bounded(spark, sf_dir):
    # the re-encode catcher rides the persisted IVF index: no
    # embeddings.parquet re-scan in the returned plan (the k-means fit
    # happened in the index build), the pair stage is the salted
    # within-cell join (never a cartesian), and the media-link joins are
    # merge-pinned — the pair frame and the id frame are both stat-less,
    # so an unpinned plan would broadcast a corpus-scale side.
    s = _optimized(spark, sf_dir, "mm_semantic_dedup")
    assert "embeddings.parquet" not in s, s
    assert "salt" in s.lower(), s
    plan = _plan(spark, sf_dir, "mm_semantic_dedup")
    assert "CartesianProduct" not in plan, plan


def test_quality_classifier_vocab_join_merge_pinned(spark, sf_dir):
    # scoring joins the corpus token explode to the vocab stats frame:
    # merge-pinned (the corpus side sits under a stat-less explode — the
    # family broadcast trap), with the stats side read back from the
    # training pass's checkpoint (Scan ExistingRDD). The totals ride
    # exactly ONE broadcast (the 1-row crossJoin); the scoring plan
    # re-reads the corpus exactly once.
    plan = _plan(spark, sf_dir, "text_quality_classifier")
    assert "SortMergeJoin" in plan, plan
    assert "Scan ExistingRDD" in plan, plan
    assert plan.count("BroadcastExchange") == 1, plan
    n_scans = plan.count("Scan parquet") or plan.count("FileScan")
    assert n_scans == 1, plan


def test_ivf_delete_prunes_cells_then_anti_joins_tombstones(spark, sf_dir):
    # the tombstoned query path: partition pruning must still reach the
    # member SCAN (the anti-join sits ABOVE the pruned read, so unprobed
    # cells never pay it), exactly one LEFT ANTI join subtracts the
    # tombstones, and nothing goes cartesian
    import re

    plan = _plan(spark, sf_dir, "sim_ivf_index_delete")
    assert re.search(r"PartitionFilters: \[cluster_id#\d+ IN \(", plan), plan
    assert plan.count("LeftAnti") == 1, plan
    assert "CartesianProduct" not in plan, plan


def test_winnowing_gram_hash_in_codegen_and_capped_join(spark, sf_dir):
    # the k-gram md5 must be a codegen'd COLUMN expression on the
    # exploded frame, never a per-element lambda (no aggregate/transform
    # wrapping md5); the fingerprint self-join is merge-pinned (both
    # sides sit under window/distinct — stat-less) and never cartesian
    s = _optimized(spark, sf_dir, "dedup_winnowing")
    assert "transform(" not in s and "aggregate(" not in s, s
    plan = _plan(spark, sf_dir, "dedup_winnowing")
    assert "SortMergeJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_decode_ops_scan_speed_no_shuffle(spark, sf_dir):
    # the decode twins are embarrassingly parallel: one parquet scan
    # into an Arrow-batched kernel, emitting 6 narrow columns — payload
    # bytes must never cross an exchange (the family rule); a shuffle
    # appearing here means something upstream re-partitioned data-scale
    # binary payloads
    for name in ("mm_decode_ppm", "mm_decode_png", "mm_decode_bmp",
                 "mm_decode_wav", "mm_decode_tiff", "mm_decode_tiff_lzw",
                 "mm_audio_features", "mm_frame_sample_real",
                 "mm_audio_windows", "mm_audio_spectra",
                 "mm_decode_tiff_palette", "mm_decode_adpcm",
                 "mm_decode_webp", "mm_decode_video", "mm_decode_g711",
                 "mm_decode_msadpcm", "mm_decode_tiff_tiled",
                 "mm_decode_tiff_jpeg", "mm_decode_webp_anim",
                 "mm_decode_apng", "mm_decode_au", "mm_decode_pnm",
                 "mm_resize_pixels", "mm_decode_bmp_rle"):
        plan = _plan(spark, sf_dir, name)
        stripped = _strip_fanout(plan)
        assert "Exchange" not in stripped, f"{name}:\n{plan}"
        assert "MapInPandas" in plan, f"{name}:\n{plan}"
        # the fan-out exchange (if present) must sit BELOW the kernel:
        # in a formatted tree dump parents print first, so an exchange
        # printing before MapInPandas would mean decoded output is
        # being re-partitioned — the family's actual no-shuffle rule
        if "Exchange" in plan:
            assert plan.index("MapInPandas") < plan.index("Exchange"), (
                f"{name}: exchange above the kernel\n{plan}"
            )


def test_scan_fanout_shape(spark, sf_dir, monkeypatch):
    # the adaptive scan fan-out (catalog.scan_fanout, OPTIMIZATION_r15
    # change 1): a single-split documents read gains exactly ONE
    # round-robin exchange sized to the default parallelism; the
    # kill-switch conf and the at-scale estimate both leave the scan
    # untouched — so at 100 TB (thousands of scan tasks) payloads still
    # never cross an exchange
    from datafusion_loki_spark import catalog

    df = catalog.load_table(spark, sf_dir, "documents", fanout=True)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "RoundRobinPartitioning" in plan and "REPARTITION_BY_NUM" in plan
    assert (
        df.rdd.getNumPartitions()
        == spark.sparkContext.defaultParallelism
    )
    # default: opted out, plan untouched
    assert (
        "Exchange"
        not in catalog.load_table(spark, sf_dir, "documents")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # kill switch: plan untouched even when the site opts in
    spark.conf.set("spark_graft.scan_fanout.enabled", "false")
    try:
        off = catalog.load_table(spark, sf_dir, "documents", fanout=True)
        assert (
            "Exchange"
            not in off._jdf.queryExecution().executedPlan().toString()
        )
    finally:
        spark.conf.set("spark_graft.scan_fanout.enabled", "true")
    # at-scale estimate (scan already fills the cluster): no-op
    monkeypatch.setattr(
        catalog, "_est_scan_tasks", lambda path: 10_000
    )
    big = catalog.load_table(spark, sf_dir, "documents", fanout=True)
    assert (
        "Exchange"
        not in big._jdf.queryExecution().executedPlan().toString()
    )


def test_est_scan_tasks_split_math(tmp_path):
    # one task per started 128 MB of each file, minimum one per file;
    # None ("can't tell") on anything the local FS cannot list
    from datafusion_loki_spark.catalog import _est_scan_tasks

    a = tmp_path / "a.parquet"
    b = tmp_path / "b.parquet"
    a.write_bytes(b"x" * 10)
    b.write_bytes(b"y" * 10)
    assert _est_scan_tasks(str(a)) == 1
    assert _est_scan_tasks(str(tmp_path)) == 2
    assert _est_scan_tasks(str(tmp_path / "missing")) is None
    # file:// is a local path: estimated like the bare path
    assert _est_scan_tasks(a.as_uri()) == 1
    assert _est_scan_tasks(tmp_path.as_uri()) == 2
    assert _est_scan_tasks("file://localhost" + str(tmp_path)) == 2
    assert _est_scan_tasks("file:" + str(tmp_path)) == 2
    assert _est_scan_tasks((tmp_path / "missing").as_uri()) is None
    assert _est_scan_tasks("file://nfs-host" + str(tmp_path)) is None
    assert _est_scan_tasks("s3://bucket/corpus/documents") is None
    assert _est_scan_tasks("hdfs://nn:8020/warehouse/docs") is None
    assert _est_scan_tasks("abfss://c@acct.dfs.example.net/docs") is None


def test_scan_fanout_fails_closed_on_unlistable_path(spark, sf_dir, monkeypatch):
    # VERDICT r15 item 2: when the size estimate is unavailable (remote
    # URI, unlistable dir) the fan-out must NOT add an exchange — at
    # 100 TB a blind repartition would shuffle every payload byte
    from datafusion_loki_spark import catalog

    monkeypatch.setattr(catalog, "_est_scan_tasks", lambda path: None)
    df = catalog.load_table(spark, sf_dir, "documents", fanout=True)
    assert (
        "Exchange" not in df._jdf.queryExecution().executedPlan().toString()
    )


def test_retrain_query_prunes_partitions_no_cartesian(spark, sf_dir):
    # the retrained index must serve queries exactly like a fresh build:
    # probed-cell partition pruning at the scan, no cartesian anywhere
    import re

    plan = _plan(spark, sf_dir, "sim_ivf_index_retrain")
    assert re.search(r"PartitionFilters: \[cluster_id#\d+ IN \(", plan), plan
    assert "CartesianProduct" not in plan, plan


def test_remove_winnow_spans_merge_pinned_no_reexplode(spark, sf_dir):
    # the rebuild join must be the merge-pinned doc_id join (per_doc is
    # stat-less under two windows — the family broadcast trap), and the
    # gram DAG must stay behind the spans checkpoint: zero parquet scans
    # of documents beyond the ONE normalized-text rebuild side
    plan = _plan(spark, sf_dir, "text_remove_winnow_spans")
    assert "SortMergeJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert plan.count("Scan parquet") == 1, plan


def test_winnowing_gram_dag_materialized_once(spark, sf_dir):
    # round-11 fix of the round-10 `weak`: the selected-fingerprint frame
    # is capped ONCE (single row_number window) and localCheckpointed
    # before the self-join, so the 36M-row gram-explode+window DAG runs
    # exactly once. The returned plan must therefore contain ZERO parquet
    # scans (both join sides read the checkpointed RDD) and only ONE
    # row_number cap can survive upstream — pinned here as: no
    # "Scan parquet" and no Window node in the post-checkpoint plan.
    plan = _plan(spark, sf_dir, "dedup_winnowing")
    assert "Scan parquet" not in plan, plan
    assert "Scan ExistingRDD" in plan, plan
    assert "Window" not in plan, plan


def test_gif_frames_decode_scan_speed_no_shuffle(spark, sf_dir):
    # the animated-GIF face keeps the decode-family shape: one scan into
    # the Arrow kernel (3 rows out per item), zero exchanges — payload
    # bytes never shuffle
    plan = _plan(spark, sf_dir, "mm_decode_gif_frames")
    assert "Exchange" not in _strip_fanout(plan), plan
    assert "MapInPandas" in plan, plan
    if "Exchange" in plan:
        assert plan.index("MapInPandas") < plan.index("Exchange"), plan


def test_mm_funnel_is_one_pass_over_keep_list(spark, sf_dir):
    # the funnel adds exactly ONE global rollup over the keep-list DAG
    # (map-side partials into a single-partition exchange), and the
    # decode admission gate's kernel is actually IN the plan (round-13:
    # the gate is consumed, not recomputed elsewhere)
    plan = _plan(spark, sf_dir, "mm_pipeline_funnel")
    # the CC labels enter as a driver-materialized frame (r16: an Arrow
    # LocalTableScan — the pickled Scan ExistingRDD shape before); the
    # decode gate's kernel is LIVE in the plan (its verdict is computed,
    # not cached)
    assert "MapInPandas" in plan, plan
    assert "LocalTableScan" in plan or "Scan ExistingRDD" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "HashAggregate" in plan, plan


def test_mm_corpus_manifest_narrow_joins_small_agg(spark, sf_dir):
    # the media manifest (round 14) joins the keep-list to doc metadata
    # and the admission verdict on doc_id — narrow (id, status/pixels)
    # rows only; payloads must never cross an exchange on the ADDED
    # joins, the rollup is a 3-row conditional aggregate, and nothing
    # degenerates to a cartesian
    plan = _plan(spark, sf_dir, "mm_corpus_manifest")
    assert "CartesianProduct" not in plan, plan
    assert "HashAggregate" in plan, plan
    # admission verdict is live but MATERIALIZED ONCE (OPTIMIZATION_r15:
    # the validate kernel previously executed twice in this DAG — once
    # under the keep-list's undecodable gate, once for kept_pixels; it
    # now enters as a localCheckpointed narrow frame consumed by both)
    assert "Scan ExistingRDD[doc_id" in plan and "n_pixels" in plan, plan
    # the aggregate keys on media_type only (3 groups)
    assert "media_type" in plan, plan


def test_corpus_ship_card_union_no_cartesian(spark, sf_dir):
    # the round-15 ship card unions the text-manifest gates (left-join
    # over the full documents universe) with the media manifest's
    # rows; every added join is doc_id-keyed narrow rows, the rollup
    # keys are vocabulary-bounded (source / media_type), and nothing
    # may degenerate to a cartesian
    plan = _plan(spark, sf_dir, "corpus_ship_card")
    assert "CartesianProduct" not in plan, plan
    assert "Union" in plan, plan
    assert "HashAggregate" in plan, plan
    # admission verdict live but materialized once (see the manifest
    # gate above — OPTIMIZATION_r15 single-execution of the validate
    # kernel per DAG)
    assert "Scan ExistingRDD[doc_id" in plan and "n_pixels" in plan, plan
