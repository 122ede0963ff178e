"""Similarity search over embedding columns (north-star extension).

Three tiers, trading recall for scan cost:

- brute-force cosine top-k      exact; per-query linear scan
- hyperplane LSH buckets        sub-linear candidates at 100 TB: vectors
                                sharing an 8-bit signature land in one
                                bucket; self-join inside buckets only
- Arrow/pandas vectorized scan  the same brute-force math through numpy
                                batch kernels (mapInPandas) — the shape
                                used when the scoring fn isn't expressible
                                in SQL (learned metrics, rerankers)

Determinism: dot products are sequential folds (bit-identical Spark vs
DuckDB, verified); LSH planes are ±1 constants derived from md5 at module
load (no RNG), inlined into both the Spark expression and the oracle SQL.

100 TB posture: queries are broadcast (a query set is small by
definition); the corpus side never shuffles for brute-force scoring — the
only exchange is the final per-query top-k (rows ≤ k × #partitions after
partial filtering). LSH shuffles once on the signature key.
"""

from __future__ import annotations

import hashlib
import re
import uuid

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from datafusion_loki_spark.catalog import load_table

N_PLANES = 8
DIM = 64
TOP_K = 3
N_QUERIES = 5  # query set = vec_id < 5


def _plane_sign(p: int, i: int) -> float:
    """Deterministic ±1 from md5 — reproducible across engines/runs."""
    h = hashlib.md5(f"{p}:{i}".encode()).hexdigest()
    return 1.0 if int(h[0], 16) % 2 == 0 else -1.0


PLANES = [[_plane_sign(p, i) for i in range(DIM)] for p in range(N_PLANES)]

_DOT_SPARK = (
    "aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * cast(y as double)),"
    " 0.0d, (acc, v) -> acc + v)"
)
# per-pair hot path: cast the float embedding to array<double> ONCE per row
# (materialized at the shuffle/broadcast boundary) so the per-pair
# interpreted lambda is a bare multiply-fold — float->double is exact, so
# output is bit-identical, measured ~15% faster on pair-heavy plans
_TO_DOUBLE = "transform({a}, x -> cast(x as double))"
_DOT_RAW = "aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0.0d, (acc, v) -> acc + v)"
_NORM2_SPARK = (
    "aggregate(transform({a}, x -> cast(x as double) * cast(x as double)),"
    " 0.0d, (acc, v) -> acc + v)"
)
_DOT_DUCK = (
    "list_sum(list_transform(generate_series(1, len({a})),"
    " i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
)
_NORM2_DUCK = (
    "list_sum(list_transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"
)


def normed_embeddings(emb: DataFrame, id_alias: str, *extra: str) -> DataFrame:
    """(id, *extra, embedding, nrm): raw vector + scalar L2 norm per ROW.

    Pairwise cosine = dot(emb_a, emb_b) / (nrm_a * nrm_b): still exactly
    ONE fold per pair, but with NO per-element division anywhere. The
    earlier unit-vector formulation paid 64 divisions per row AND kept
    getting its norm aggregate re-inlined into the division lambda by
    CollapseProject — references inside higher-order-function lambdas do
    not count for the rule's multi-reference exemption, so the "also
    select nrm" trick cannot protect a `transform(e, x -> x / nrm)`
    projection. A scalar nrm next to the raw array has no lambda to inline
    into. Mirrored exactly by _normed_duck_cte — same IEEE ops in the same
    sequential fold order → bit-identical.

    The coalesce wrapper makes nrm NON-NULLABLE, which stops
    InferFiltersFromConstraints from deriving an ``isnotnull(nrm)``
    constraint that predicate-pushdown then inlines through this
    projection — re-running the whole 64-element fold inside a Filter on
    every join side (measured: 4 SQRT(aggregate) instances in the
    dedup_embedding_cosine plan without it, 2 with). Embeddings are never
    NULL in the data model; for non-null input coalesce short-circuits at
    the sqrt, so the oracle SQL needs no mirror. If the invariant is ever
    violated, the middle raise_error branch fires — a LOUD per-row failure
    instead of the silent nrm=0 → NaN/Inf cosine a bare 0.0 fallback would
    produce; the trailing 0.0d literal exists only to keep the coalesce
    typed non-nullable (raise_error is nullable-typed) and is unreachable."""
    n2 = _NORM2_SPARK.format(a="embedding")
    sentinel = (
        "cast(raise_error('embeddings.embedding is NULL — violates the"
        " non-null invariant normed_embeddings depends on') as double)"
    )
    return emb.select(
        F.col("vec_id").alias(id_alias), *extra, "embedding",
        F.expr(f"coalesce(sqrt({n2}), {sentinel}, 0.0d)").alias("nrm"),
    )


def _normed_duck_cte(*extra: str) -> str:
    cols = ", ".join(("vec_id",) + extra)
    n2 = _NORM2_DUCK.format(a="embedding")
    return f"SELECT {cols}, embedding, sqrt({n2}) AS nrm FROM embeddings"


def sim_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: for each query vector (vec_id < 5), the 3
    nearest corpus vectors. The baseline every ANN variant is measured
    against."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = normed_embeddings(emb.where(F.col("vec_id") < N_QUERIES), "query_id").select(
        "query_id",
        F.expr(_TO_DOUBLE.format(a="embedding")).alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    # repartition by the unique id: a sub-row-group parquet file is ONE
    # scan split, and the broadcast join adds no exchange — without this
    # every corpus×query dot product runs in a single task. At real scale
    # the scan has many splits and this exchange folds into normal I/O.
    c = normed_embeddings(emb.repartition(F.col("vec_id")), "cand_id").select(
        "cand_id",
        F.expr(_TO_DOUBLE.format(a="embedding")).alias("c_emb"),
        F.col("nrm").alias("c_nrm"),
    )
    scored = (
        c.join(F.broadcast(q))
        .where(F.col("cand_id") != F.col("query_id"))
        .withColumn(
            "cosine",
            F.expr(_DOT_RAW.format(a="q_emb", b="c_emb"))
            / (F.col("q_nrm") * F.col("c_nrm")),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
        .select("query_id", "cand_id", "cosine", "rank")
    )


ORACLE_SIM_TOPK = f"""
WITH u AS ({_normed_duck_cte()}),
q AS (SELECT vec_id AS query_id, embedding AS q_emb, nrm AS q_nrm
      FROM u WHERE vec_id < {N_QUERIES}),
scored AS (
  SELECT q.query_id, c.vec_id AS cand_id,
         {_DOT_DUCK.format(a='q.q_emb', b='c.embedding')} / (q.q_nrm * c.nrm)
           AS cosine
  FROM q CROSS JOIN u c
  WHERE c.vec_id != q.query_id
)
SELECT query_id, cand_id, cosine, rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, cand_id ASC) AS rank
  FROM scored
) WHERE rank <= {TOP_K}
"""


def _signature_spark(emb_col: str) -> str:
    bits = []
    for p in range(N_PLANES):
        plane = "array(" + ", ".join(f"{v}D" for v in PLANES[p]) + ")"
        dot = _DOT_SPARK.format(a=emb_col, b=plane)
        bits.append(f"if({dot} >= 0, '1', '0')")
    return "concat(" + ", ".join(bits) + ")"


def _signature_duck(emb_col: str) -> str:
    bits = []
    for p in range(N_PLANES):
        plane = "[" + ", ".join(f"CAST({v} AS DOUBLE)" for v in PLANES[p]) + "]"
        dot = _DOT_DUCK.format(a=emb_col, b=plane)
        bits.append(f"CASE WHEN {dot} >= 0 THEN '1' ELSE '0' END")
    return " || ".join(bits)


def sim_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH bucketing: 8-bit signature per vector →
    bucket histogram. The scale path for ANN: at 100 TB candidates come
    from one shuffle on the signature instead of a cross join; more planes
    and multi-probe tighten recall without changing the topology."""
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.withColumn("signature", F.expr(_signature_spark("embedding")))
        .groupBy("signature")
        .agg(F.count("*").alias("n_vectors"), F.min("vec_id").alias("min_vec_id"))
    )


ORACLE_SIM_LSH = f"""
SELECT {_signature_duck('embedding')} AS signature,
       COUNT(*) AS n_vectors, MIN(vec_id) AS min_vec_id
FROM embeddings
GROUP BY 1
"""


def sim_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate pairs + exact cosine refine — the end-to-end ANN
    pipeline (bucket → pair inside bucket → exact verify)."""
    emb = load_table(spark, sf_dir, "embeddings")
    # repartition: signature computation is 8 dots/row and must not run
    # on the single local scan split; the bucket join then shuffles on
    # signature (256 keys) which is the scale topology anyway
    sig = normed_embeddings(emb.repartition(F.col("vec_id")), "vec_id").withColumn(
        "signature", F.expr(_signature_spark("embedding"))
    )
    a = sig.select(
        F.col("vec_id").alias("id_a"),
        F.expr(_TO_DOUBLE.format(a="embedding")).alias("e_a"),
        F.col("nrm").alias("nrm_a"), "signature",
    )
    b = sig.select(
        F.col("vec_id").alias("id_b"),
        F.expr(_TO_DOUBLE.format(a="embedding")).alias("e_b"),
        F.col("nrm").alias("nrm_b"), "signature",
    )
    return (
        a.join(b, "signature")
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cosine",
            F.expr(_DOT_RAW.format(a="e_a", b="e_b"))
            / (F.col("nrm_a") * F.col("nrm_b")),
        )
        .select("signature", "id_a", "id_b", "cosine")
    )


ORACLE_SIM_LSH_CAND = f"""
WITH u AS ({_normed_duck_cte()}),
sig AS (
  SELECT vec_id, embedding, nrm,
         {_signature_duck('embedding')} AS signature FROM u
)
SELECT a.signature AS signature, a.vec_id AS id_a, b.vec_id AS id_b,
       {_DOT_DUCK.format(a='a.embedding', b='b.embedding')} / (a.nrm * b.nrm)
         AS cosine
FROM sig a JOIN sig b ON a.signature = b.signature AND a.vec_id < b.vec_id
"""


def sim_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH top-k: each query probes its own signature bucket
    PLUS all 8 single-bit-flip neighbor buckets, then refines with exact
    cosine — the standard recall remedy for signature boundaries without
    changing the bucket-join topology (probe count is a constant factor on
    the tiny query side only; the corpus still shuffles/buckets once).

    A candidate has exactly one signature and the 9 probes are distinct
    strings, so no dedup is needed after the join."""
    emb = load_table(spark, sf_dir, "embeddings")
    sig = normed_embeddings(emb.repartition(F.col("vec_id")), "vec_id").withColumn(
        "signature", F.expr(_signature_spark("embedding"))
    )
    flip = (
        f"transform(sequence(0, {N_PLANES}), i -> if(i = 0, signature, "
        "concat(substring(signature, 1, i - 1), "
        "if(substring(signature, i, 1) = '1', '0', '1'), "
        f"substring(signature, i + 1, {N_PLANES} - i))))"
    )
    q = (
        sig.where(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.expr(_TO_DOUBLE.format(a="embedding")).alias("q_emb"),
            F.col("nrm").alias("q_nrm"),
            F.explode(F.expr(flip)).alias("probe"),
        )
    )
    cand = sig.select(
        F.col("vec_id").alias("cand_id"),
        F.expr(_TO_DOUBLE.format(a="embedding")).alias("c_emb"),
        F.col("nrm").alias("c_nrm"), "signature",
    )
    scored = (
        cand.join(F.broadcast(q), cand.signature == q.probe)
        .where(F.col("cand_id") != F.col("query_id"))
        .withColumn(
            "cosine",
            F.expr(_DOT_RAW.format(a="q_emb", b="c_emb"))
            / (F.col("q_nrm") * F.col("c_nrm")),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
        .select("query_id", "cand_id", "cosine", "rank")
    )


def _oracle_multiprobe() -> str:
    flip = (
        f"list_transform(generate_series(0, {N_PLANES}), i -> "
        "CASE WHEN i = 0 THEN signature ELSE "
        "substring(signature, 1, i - 1) || "
        "(CASE WHEN substring(signature, i, 1) = '1' THEN '0' ELSE '1' END) || "
        f"substring(signature, i + 1, {N_PLANES} - i) END)"
    )
    return f"""
WITH u AS ({_normed_duck_cte()}),
sig AS (
  SELECT vec_id, embedding, nrm,
         {_signature_duck('embedding')} AS signature FROM u
),
q AS (
  SELECT vec_id AS query_id, embedding AS q_emb, nrm AS q_nrm,
         unnest({flip}) AS probe
  FROM sig WHERE vec_id < {N_QUERIES}
),
scored AS (
  SELECT q.query_id, c.vec_id AS cand_id,
         {_DOT_DUCK.format(a='q.q_emb', b='c.embedding')} / (q.q_nrm * c.nrm)
           AS cosine
  FROM q JOIN sig c ON c.signature = q.probe
  WHERE c.vec_id != q.query_id
)
SELECT query_id, cand_id, cosine, rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, cand_id ASC) AS rank
  FROM scored
) WHERE rank <= {TOP_K}
"""


_N_CELLS_PER_DIM = 4  # coarse grid resolution → up to 8×8 cells on dims 1-2


def _cell_spark(emb_col: str, nrm_col: str) -> str:
    """Coarse IVF cell id: quantize the first two unit-sphere coordinates
    (raw coordinate / scalar norm — two divisions per row, no unit-vector
    materialization) onto a fixed grid. Deterministic and SQL-portable
    (no trained k-means), which keeps the oracle exact; a production IVF
    swaps this for learned centroids without changing the query topology."""
    c1 = (
        f"cast(floor(cast(element_at({emb_col}, 1) as double) / {nrm_col}"
        f" * {_N_CELLS_PER_DIM}) as int)"
    )
    c2 = (
        f"cast(floor(cast(element_at({emb_col}, 2) as double) / {nrm_col}"
        f" * {_N_CELLS_PER_DIM}) as int)"
    )
    return f"concat({c1}, ':', {c2})"


def _cell_duck(emb_col: str, nrm_col: str) -> str:
    c1 = (
        f"CAST(floor(CAST({emb_col}[1] AS DOUBLE) / {nrm_col}"
        f" * {_N_CELLS_PER_DIM}) AS INT)"
    )
    c2 = (
        f"CAST(floor(CAST({emb_col}[2] AS DOUBLE) / {nrm_col}"
        f" * {_N_CELLS_PER_DIM}) AS INT)"
    )
    return f"{c1} || ':' || {c2}"


def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style cell-probe ANN: vectors are partitioned into coarse cells;
    each query scores ONLY its own cell's inverted list. The second scale
    path next to hyperplane LSH — at 100 TB the corpus shuffles once on
    cell id (or is written bucketed by it) and a query touches one cell's
    worth of vectors instead of the full corpus. Recall is traded at cell
    boundaries (multi-probe of neighboring cells is the standard remedy
    and keeps the same plan shape)."""
    emb = load_table(spark, sf_dir, "embeddings")
    # the repartition sits BETWEEN the norm projection and the cell
    # projection: it spreads the single local scan split for parallel
    # scoring (see sim_topk_cosine) AND is an optimizer barrier that stops
    # CollapseProject from inlining the norm aggregate into the two cell-
    # coordinate divisions (re-summing the vector per coordinate)
    u = normed_embeddings(emb, "vec_id").repartition(F.col("vec_id"))
    cells = u.select(
        "vec_id",
        F.expr(_TO_DOUBLE.format(a="embedding")).alias("demb"),
        "nrm",
        F.expr(_cell_spark("embedding", "nrm")).alias("cell"),
    )
    q = cells.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("demb").alias("q_emb"),
        F.col("nrm").alias("q_nrm"), "cell",
    )
    scored = (
        cells.join(F.broadcast(q), "cell")
        .where(F.col("vec_id") != F.col("query_id"))
        .withColumn(
            "cosine",
            F.expr(_DOT_RAW.format(a="q_emb", b="demb"))
            / (F.col("q_nrm") * F.col("nrm")),
        )
        .select("query_id", F.col("vec_id").alias("cand_id"), "cell", "cosine")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
        .select("query_id", "cand_id", "cell", "cosine", "rank")
    )


ORACLE_SIM_IVF = f"""
WITH u AS ({_normed_duck_cte()}),
cells AS (
  SELECT vec_id, embedding, nrm,
         {_cell_duck('embedding', 'nrm')} AS cell FROM u
),
q AS (SELECT vec_id AS query_id, embedding AS q_emb, nrm AS q_nrm, cell
      FROM cells WHERE vec_id < {N_QUERIES}),
scored AS (
  SELECT q.query_id, c.vec_id AS cand_id, c.cell,
         {_DOT_DUCK.format(a='q.q_emb', b='c.embedding')} / (q.q_nrm * c.nrm)
           AS cosine
  FROM q JOIN cells c ON q.cell = c.cell
  WHERE c.vec_id != q.query_id
)
SELECT query_id, cand_id, cell, cosine, rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, cand_id ASC) AS rank
  FROM scored
) WHERE rank <= {TOP_K}
"""


def sim_topk_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force top-k through the Arrow/numpy path (mapInPandas): the
    corpus streams through in Arrow batches, each scored against the
    broadcast query matrix with one BLAS matmul, and only each batch's
    local top-k survives to the final exact window — the pattern for
    non-SQL scoring functions. The returned frame is integer-only (the
    BLAS-computed score never leaves the plan), so the SQL top-k oracle
    checks it value-for-value.

    Ranking determinism: the BLAS matmul and the oracle's SQL fold sum
    the same products in different orders, so two near-equal cosines can
    disagree within ~1 ulp of accumulated error and rank-flip between
    engines (round-6 ADVICE). Both sides therefore QUANTIZE the cosine
    to a 1e-9 grid before ranking (np.round here, ROUND(...,9) in the
    oracle): the ~1e-15 summation error vanishes into the grid, and
    grid-equal scores fall to the shared cand_id ASC tie-break."""
    import numpy as np
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings")
    q_rows = (
        emb.where(F.col("vec_id") < N_QUERIES)
        .select("vec_id", "embedding")
        .collect()
    )
    q_ids = [r.vec_id for r in q_rows]
    q_mat = np.array([r.embedding for r in q_rows], dtype=np.float64)
    q_norm = q_mat / np.linalg.norm(q_mat, axis=1, keepdims=True)
    bq_ids = spark.sparkContext.broadcast(q_ids)
    bq = spark.sparkContext.broadcast(q_norm)

    def score(batches):
        for pdf in batches:
            ids = pdf["vec_id"].to_numpy()
            mat = np.array(list(pdf["embedding"]), dtype=np.float64)
            nrm = np.linalg.norm(mat, axis=1, keepdims=True)
            # a zero-norm row has no cosine direction: the SQL twin
            # fails loudly under ANSI (DIVIDE_BY_ZERO), and before this
            # guard the NaN row silently fell out of np.lexsort's local
            # cut — a SILENT batch-vs-SQL divergence. Match the family's
            # fail-loudly contract (normed_embeddings' null invariant).
            if not nrm.all():
                bad = ids[(nrm == 0).ravel()][:3]
                raise ValueError(
                    f"zero-norm embedding rows (vec_id {bad.tolist()}…) "
                    "have no cosine direction; filter degenerate vectors "
                    "first (see emb_norm_distribution)"
                )
            mat = mat / nrm
            # quantize BEFORE any ranking decision (local cut and final
            # window both see the same grid value — see docstring)
            cos = np.round(mat @ bq.value.T, 9)  # (batch, nq)
            out = []
            for qi, qid in enumerate(bq_ids.value):
                col = cos[:, qi]
                mask = ids != qid
                # local top-k per batch: global top-k is a superset join.
                # lexsort keys: primary -score desc, secondary cand_id asc —
                # the same tie-break as the final window, so equal-score
                # candidates at the cut don't drop nondeterministically
                take = min(TOP_K, mask.sum())
                idx = np.lexsort((ids[mask], -col[mask]))[:take]
                sel_ids = ids[mask][idx]
                out.append(
                    pd.DataFrame(
                        {
                            "query_id": qid,
                            "cand_id": sel_ids,
                            "cosine": col[mask][idx],
                        }
                    )
                )
            if out:
                yield pd.concat(out)

    scored = emb.select("vec_id", "embedding").mapInPandas(
        score, "query_id long, cand_id long, cosine double"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
        .select("query_id", "cand_id", "rank")
    )


def emb_centroid_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid (element-wise mean) — the training
    step behind IVF cells / k-means: posexplode to (label, pos, val) rows,
    aggregate per coordinate.

    Determinism contract WITHOUT group buffering: each value is cast to
    DECIMAL(38,20) and summed — decimal addition is associative and
    commutative, so the result is identical under any partition/merge
    order (the property a plain SUM(double) lacks), with full map-side
    partial aggregation. Previous versions bought determinism with a
    sorted collect_list fold, which buffers whole groups in one
    aggregation buffer — a scale-killer this plan removes.

    Cross-engine exactness detail: Spark's double→decimal cast goes
    through the double's SHORTEST decimal repr (BigDecimal.valueOf), not
    its exact binary expansion; the DuckDB oracle mirrors it by casting
    double→VARCHAR→DECIMAL (verified exact-equal on all 640 groups).

    100 TB posture: explode pipelines with the scan; ONE exchange on
    (label, pos); constant-size aggregation state per group."""
    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select("label", F.posexplode("embedding").alias("pos", "val"))
    # DECIMAL(38,20) leaves 18 integer digits for the per-(label,pos) sum —
    # |val| × n_vecs_per_group < 1e18 never overflows at any realistic
    # group size (an earlier (38,30) variant capped groups at ~1e7 vectors
    # per label). Scale 20 can round the LAST shortest-repr digit of
    # sub-1e-3 elements; both engines round half-away-from-zero on the same
    # decimal string, so the rounded values — and therefore the sums —
    # stay bit-identical (verified on testdata elements down to 8e-6).
    g = ex.groupBy("label", "pos").agg(
        F.count("*").alias("n_vecs"),
        F.sum(F.col("val").cast("double").cast("decimal(38,20)")).alias("sum_dec"),
    )
    return g.select(
        "label",
        "pos",
        "n_vecs",
        (F.col("sum_dec").cast("double") / F.col("n_vecs")).alias("centroid_val"),
    )


ORACLE_EMB_CENTROID = """
WITH ex AS (
  SELECT label,
         unnest(generate_series(0, len(embedding) - 1)) AS pos,
         unnest(list_transform(embedding,
            x -> CAST(CAST(CAST(x AS DOUBLE) AS VARCHAR) AS DECIMAL(38,20)))) AS val
  FROM embeddings
)
SELECT label, pos, COUNT(*) AS n_vecs,
       CAST(CAST(SUM(val) AS VARCHAR) AS DOUBLE) / COUNT(*) AS centroid_val
FROM ex GROUP BY label, pos
"""


def emb_vector_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector element statistics — the embedding-QA scan run before
    indexing (dimension check, norm, range, dead-dimension count). Pure
    array-function projection: size / array_min / array_max / sequential
    folds, no shuffle, scan-speed at any scale."""
    emb = load_table(spark, sf_dir, "embeddings")
    n2 = _NORM2_SPARK.format(a="embedding")
    return emb.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.expr(f"sqrt({n2})").alias("l2_norm"),
        F.expr("cast(array_min(embedding) as double)").alias("min_el"),
        F.expr("cast(array_max(embedding) as double)").alias("max_el"),
        F.expr("size(filter(embedding, x -> x >= 0))").alias("n_nonneg"),
    )


ORACLE_EMB_STATS = f"""
SELECT vec_id,
       len(embedding) AS dim,
       sqrt({_NORM2_DUCK.format(a='embedding')}) AS l2_norm,
       CAST(list_min(embedding) AS DOUBLE) AS min_el,
       CAST(list_max(embedding) AS DOUBLE) AS max_el,
       len(list_filter(embedding, x -> x >= 0)) AS n_nonneg
FROM embeddings
"""


def emb_stats_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same vector-QA scan through mapInArrow — zero-copy Arrow
    batches into pyarrow.compute kernels, no pandas materialization (the
    newest and leanest Python-integration API; completes the family next
    to mapInPandas / pandas UDAF / applyInPandasWithState / UDTF).

    Oracle-exact on purpose: only order-insensitive per-vector reductions
    (size, min, max, count) — no floating-point summation whose kernel
    fold order could differ from SQL. Embarrassingly parallel, one Arrow
    round-trip per batch, no shuffle."""
    import pyarrow as pa
    import pyarrow.compute as pc

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")

    def stats(batches):
        for batch in batches:
            vecs = batch.column("embedding")
            flat = pc.list_flatten(vecs)
            lens = pc.list_value_length(vecs).cast(pa.int32())
            # per-list reductions via group-by on the parent indices.
            # EMPTY and NULL lists produce NO parent index, so the agg
            # has fewer rows than the batch — align through a left join
            # on the full row-index spine (missing groups → NULL, the
            # same answer the SQL twin and the oracle give) instead of
            # zipping misaligned columns, which raised on exactly the
            # malformed rows this QA scan exists to surface.
            parent = pc.list_parent_indices(vecs)
            tbl = pa.table({"i": parent, "x": flat})
            agg = tbl.group_by("i").aggregate([("x", "min"), ("x", "max")])
            nonneg = (
                pa.table({"i": parent, "nn": pc.greater_equal(flat, 0.0)})
                .group_by("i")
                .aggregate([("nn", "sum")])
            )
            spine = pa.table(
                {"i": pa.array(range(len(batch)), type=parent.type)}
            )
            joined = (
                spine.join(agg, keys="i", join_type="left outer")
                .join(nonneg, keys="i", join_type="left outer")
                .sort_by("i")
            )
            yield pa.record_batch(
                {
                    "vec_id": batch.column("vec_id"),
                    "dim": lens,
                    # joins yield ChunkedArrays; record_batch needs
                    # contiguous Arrays
                    "min_el": pc.cast(joined.column("x_min"), pa.float64()).combine_chunks(),
                    "max_el": pc.cast(joined.column("x_max"), pa.float64()).combine_chunks(),
                    # the SQL twin's len(list_filter(...)) is 0 for an
                    # EMPTY list but NULL for a NULL list — fill the
                    # missing-group NULL with 0 only where the list
                    # itself exists (dim non-null)
                    "n_nonneg": pc.if_else(
                        pc.is_valid(lens),
                        pc.fill_null(
                            pc.cast(joined.column("nn_sum").combine_chunks(), pa.int32()),
                            0,
                        ),
                        pa.scalar(None, pa.int32()),
                    ),
                }
            )

    return emb.mapInArrow(
        stats,
        "vec_id long, dim int, min_el double, max_el double, n_nonneg int",
    )


ORACLE_EMB_STATS_ARROW = """
SELECT vec_id,
       len(embedding) AS dim,
       CAST(list_min(embedding) AS DOUBLE) AS min_el,
       CAST(list_max(embedding) AS DOUBLE) AS max_el,
       len(list_filter(embedding, x -> x >= 0)) AS n_nonneg
FROM embeddings
"""


def emb_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar int8 quantization of the embedding column — the 4× storage /
    bandwidth compression step ANN indexes run before sharding (per-dim
    min-max scale to [-128, 127], the classic symmetric-range SQ8).

    Shape: per-dimension (min, max) is a 64-row aggregate (posexplode →
    groupBy(pos), map-side combined), collapsed into ONE row of
    pos-ordered min/span arrays and broadcast back onto the corpus scan
    as a 1-row cross join; the quantize + reconstruction-error pass is
    then a pure projection — scan-speed at any scale, no per-vector
    shuffle. The deliberate two-pass structure (stats pass + encode pass)
    is how SQ8 training works at 100 TB; the stats frame is O(dim), never
    O(corpus).

    Cross-engine exactness: codes come from exactly-rounded IEEE ops
    ((x−mn)/span·255, both engines round half-away-from-zero on the same
    binary double), and the per-vector MSE is the same sequential
    index-fold both sides. Output pins the code array via order-robust
    scalars (sum/min/max) plus the reconstruction MSE — arrays stay out
    of the driver hash on purpose."""
    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select(F.posexplode("embedding").alias("pos", "val"))
    dims = ex.groupBy("pos").agg(
        F.min(F.col("val").cast("double")).alias("mn"),
        F.max(F.col("val").cast("double")).alias("mx"),
    )
    grid = dims.agg(
        F.expr(
            "transform(array_sort(collect_list(struct(pos, mn))), s -> s.mn)"
        ).alias("mins"),
        F.expr(
            "transform(array_sort(collect_list(struct(pos, mx))), s -> s.mx)"
        ).alias("maxs"),
    )
    code_i = (
        "case when maxs[i] = mins[i] then 0 else"
        " cast(round((cast(embedding[i] as double) - mins[i])"
        " / (maxs[i] - mins[i]) * 255.0d) - 128 as int) end"
    )
    recon_i = (
        "case when maxs[i] = mins[i] then mins[i] else"
        f" (cast({code_i} as double) + 128.0d) / 255.0d"
        " * (maxs[i] - mins[i]) + mins[i] end"
    )
    codes = f"transform(sequence(0, size(embedding) - 1), i -> {code_i})"
    sq_err_i = (
        f"(cast(embedding[i] as double) - ({recon_i}))"
        f" * (cast(embedding[i] as double) - ({recon_i}))"
    )
    mse = (
        f"aggregate(sequence(0, size(embedding) - 1), 0.0d,"
        f" (acc, i) -> acc + {sq_err_i}) / cast(size(embedding) as double)"
    )
    return (
        emb.crossJoin(F.broadcast(grid))
        .withColumn("codes", F.expr(codes))
        .select(
            "vec_id",
            F.size("codes").alias("n_dims"),
            F.expr(
                "aggregate(codes, 0L, (acc, c) -> acc + cast(c as bigint))"
            ).alias("code_sum"),
            F.expr("array_min(codes)").alias("code_min"),
            F.expr("array_max(codes)").alias("code_max"),
            F.expr(mse).alias("mse"),
        )
    )


_Q_CODE_I = (
    "CASE WHEN maxs[i] = mins[i] THEN 0 ELSE"
    " CAST(round((CAST(embedding[i] AS DOUBLE) - mins[i])"
    " / (maxs[i] - mins[i]) * 255.0) - 128 AS INT) END"
)
_Q_RECON_I = (
    "CASE WHEN maxs[i] = mins[i] THEN mins[i] ELSE"
    f" (CAST({_Q_CODE_I} AS DOUBLE) + 128.0) / 255.0"
    " * (maxs[i] - mins[i]) + mins[i] END"
)
ORACLE_EMB_QUANTIZE = f"""
WITH ex AS (
  SELECT unnest(generate_series(1, len(embedding))) AS pos,
         unnest(embedding) AS val
  FROM embeddings
), dims AS (
  SELECT pos, MIN(CAST(val AS DOUBLE)) AS mn, MAX(CAST(val AS DOUBLE)) AS mx
  FROM ex GROUP BY pos
), grid AS (
  SELECT list(mn ORDER BY pos) AS mins, list(mx ORDER BY pos) AS maxs
  FROM dims
), coded AS (
  SELECT vec_id,
         list_transform(generate_series(1, len(embedding)),
                        i -> {_Q_CODE_I}) AS codes,
         list_sum(list_transform(generate_series(1, len(embedding)),
           i -> (CAST(embedding[i] AS DOUBLE) - ({_Q_RECON_I}))
              * (CAST(embedding[i] AS DOUBLE) - ({_Q_RECON_I}))))
           / CAST(len(embedding) AS DOUBLE) AS mse
  FROM embeddings CROSS JOIN grid
)
SELECT vec_id,
       len(codes) AS n_dims,
       CAST(list_sum(list_transform(codes, c -> CAST(c AS BIGINT))) AS BIGINT)
         AS code_sum,
       CAST(list_min(codes) AS INT) AS code_min,
       CAST(list_max(codes) AS INT) AS code_max,
       mse
FROM coded
"""


def emb_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-half centroid drift per label: cut the corpus into two
    deterministic md5 halves, compute each half's per-label centroid
    (the decimal-exact mean contract of emb_centroid_by_label), and
    report the L2 distance between the halves — the mixture/drift check
    run when a corpus is appended to: two embedding models mixed under
    one label produce a large split distance even when the POOLED
    centroid looks unremarkable (the halves land on opposite sides of
    it). Labels with an empty half drop out (inner join) — mirrored by
    the oracle.

    100 TB posture: one posexplode → (label, half, dim) map-side-combined
    agg (output is labels × 2 × dim rows, never corpus-scale); the tiny
    centroid frame is materialized once (localCheckpoint) because both
    the A and B sides consume it — without the barrier each side would
    re-run the corpus agg; the distance join runs over labels rows."""
    emb = load_table(spark, sf_dir, "embeddings")
    half = "substring(md5(cast(vec_id as string)), 1, 1) < '8'"
    ex = emb.select(
        "label",
        F.expr(half).alias("in_a"),
        F.posexplode(F.expr(_TO_DOUBLE.format(a="embedding"))).alias(
            "pos", "val"
        ),
    )
    m = ex.groupBy("label", "in_a", "pos").agg(
        (
            F.sum(F.col("val").cast("decimal(38,20)")).cast("double")
            / F.count("*")
        ).alias("mv"),
        F.count("*").alias("n"),
    )
    vecs = (
        m.groupBy("label", "in_a")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(pos, mv))), s -> s.mv)"
            ).alias("vec"),
            F.max("n").alias("n"),
        )
        .localCheckpoint(eager=True)  # labels×2 rows, consumed twice
    )
    a = vecs.where(F.col("in_a")).select(
        "label", F.col("vec").alias("vec_a"), F.col("n").alias("n_a")
    )
    b = vecs.where(~F.col("in_a")).select(
        "label", F.col("vec").alias("vec_b"), F.col("n").alias("n_b")
    )
    dist = (
        "sqrt(aggregate(sequence(0, size(vec_a) - 1), 0.0d,"
        " (acc, i) -> acc + (vec_a[i] - vec_b[i]) * (vec_a[i] - vec_b[i])))"
    )
    return a.join(b, "label").select(
        "label", "n_a", "n_b", F.expr(dist).alias("drift_l2")
    )


ORACLE_EMB_DRIFT = """
WITH ed AS (
  SELECT vec_id, label,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e,
         substring(md5(CAST(vec_id AS VARCHAR)), 1, 1) < '8' AS in_a
  FROM embeddings
), ex AS (
  SELECT label, in_a,
         unnest(generate_series(1, len(e))) AS pos,
         unnest(list_transform(e,
           x -> CAST(CAST(x AS VARCHAR) AS DECIMAL(38,20)))) AS val
  FROM ed
), m AS (
  SELECT label, in_a, pos,
         CAST(CAST(SUM(val) AS VARCHAR) AS DOUBLE) / COUNT(*) AS mv,
         COUNT(*) AS n
  FROM ex GROUP BY 1, 2, 3
), vecs AS (
  SELECT label, in_a, list(mv ORDER BY pos) AS vec, MAX(n) AS n
  FROM m GROUP BY 1, 2
)
SELECT a.label, CAST(a.n AS BIGINT) AS n_a, CAST(b.n AS BIGINT) AS n_b,
       sqrt(list_sum(list_transform(generate_series(1, len(a.vec)),
         i -> (a.vec[i] - b.vec[i]) * (a.vec[i] - b.vec[i])))) AS drift_l2
FROM vecs a JOIN vecs b ON a.label = b.label AND a.in_a AND NOT b.in_a
"""


EMB_Z_HOT = 3.0  # |z| above this marks a "hot" dimension
EMB_Z_OUTLIER = 4.0  # max |z| above this flags the vector


def emb_outlier_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension z-score outlier screen — the embedding-QA twin of
    emb_norm_distribution: fit a diagonal Gaussian over the corpus
    (per-dim mean and std), then flag vectors whose worst dimension sits
    far outside it (a truncated/garbage encode, a different model's
    output mixed in, or an adversarial row — the things you want out
    before they seed k-means cells or PQ codebooks).

    Same two-pass shape as emb_quantize_int8: the stats pass is a
    posexplode → per-dim agg whose output is O(dim) rows, collapsed to a
    1-row (mu[], sd[]) grid and broadcast back onto the corpus scan; the
    scoring pass is a pure scan-speed projection — no per-vector shuffle
    at any scale.

    Cross-engine exactness: means and E[x²] use the DECIMAL(38,20)
    summation contract of emb_centroid_by_label (associative — identical
    under any partitioning/merge order), the variance is the same fixed
    expression (m2 − mu², clamped at 0) on both engines, and max / count
    over the per-dim z values are order-independent reductions."""
    emb = load_table(spark, sf_dir, "embeddings")
    emb_d = emb.select(
        "vec_id", F.expr(_TO_DOUBLE.format(a="embedding")).alias("e")
    )
    ex = emb_d.select(F.posexplode("e").alias("pos", "val"))
    dims = ex.groupBy("pos").agg(
        (
            F.sum(F.col("val").cast("decimal(38,20)")).cast("double")
            / F.count("*")
        ).alias("mu"),
        (
            F.sum(F.expr("cast(val * val as decimal(38,20))")).cast("double")
            / F.count("*")
        ).alias("m2"),
    )
    stats = dims.select(
        "pos", "mu", F.expr("sqrt(greatest(m2 - mu * mu, 0.0d))").alias("sd")
    )
    grid = stats.agg(
        F.expr(
            "transform(array_sort(collect_list(struct(pos, mu))), s -> s.mu)"
        ).alias("mu"),
        F.expr(
            "transform(array_sort(collect_list(struct(pos, sd))), s -> s.sd)"
        ).alias("sd"),
    )
    z_i = "case when sd[i] = 0.0d then 0.0d else abs(e[i] - mu[i]) / sd[i] end"
    return (
        emb_d.crossJoin(F.broadcast(grid))
        .select(
            "vec_id",
            F.expr(
                f"aggregate(sequence(0, size(e) - 1), 0.0d,"
                f" (acc, i) -> greatest(acc, {z_i}))"
            ).alias("max_z"),
            F.expr(
                f"aggregate(sequence(0, size(e) - 1), 0L,"
                f" (acc, i) -> acc + if({z_i} > {EMB_Z_HOT}d, 1L, 0L))"
            ).alias("n_hot_dims"),
        )
        .withColumn("is_outlier", F.col("max_z") > F.lit(EMB_Z_OUTLIER))
    )


_Z_I_DUCK = (
    "CASE WHEN sd[i] = 0.0 THEN 0.0 ELSE abs(e[i] - mu[i]) / sd[i] END"
)

ORACLE_EMB_OUTLIER = f"""
WITH ed AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
), ex AS (
  SELECT unnest(list_transform(e,
           x -> CAST(CAST(x AS VARCHAR) AS DECIMAL(38,20)))) AS val,
         unnest(list_transform(e,
           x -> CAST(CAST(x * x AS VARCHAR) AS DECIMAL(38,20)))) AS val2,
         unnest(generate_series(1, len(e))) AS pos
  FROM ed
), dims AS (
  SELECT pos,
         CAST(CAST(SUM(val) AS VARCHAR) AS DOUBLE) / COUNT(*) AS mu,
         CAST(CAST(SUM(val2) AS VARCHAR) AS DOUBLE) / COUNT(*) AS m2
  FROM ex GROUP BY pos
), stats AS (
  SELECT pos, mu, sqrt(greatest(m2 - mu * mu, 0.0)) AS sd FROM dims
), grid AS (
  SELECT list(mu ORDER BY pos) AS mu, list(sd ORDER BY pos) AS sd
  FROM stats
)
SELECT vec_id,
       COALESCE(list_max(list_transform(generate_series(1, len(e)),
         i -> {_Z_I_DUCK})), 0.0) AS max_z,
       CAST(COALESCE(list_sum(list_transform(generate_series(1, len(e)),
         i -> CASE WHEN {_Z_I_DUCK} > {EMB_Z_HOT} THEN 1 ELSE 0 END)), 0)
         AS BIGINT) AS n_hot_dims,
       COALESCE(list_max(list_transform(generate_series(1, len(e)),
         i -> {_Z_I_DUCK})), 0.0) > {EMB_Z_OUTLIER} AS is_outlier
FROM ed CROSS JOIN grid
"""


KMEANS_K = 8
KMEANS_ITERS = 2

# squared L2 distance between the pre-cast double embedding `e` and a
# centroid struct `c` (array<double> in c.vec) — indexed sequential fold so
# the DuckDB mirror (1-based generate_series) lands on identical doubles
_KM_D2 = (
    "aggregate(sequence(0, size(e) - 1), 0.0d,"
    " (s, i) -> s + (e[i] - c.vec[i]) * (e[i] - c.vec[i]))"
)
# per-vector argmin: score every centroid, take the lexicographic min of
# (d2, cid) — min distance, ties to the lowest cid, same rule as the
# oracle's ROW_NUMBER(ORDER BY d2, cid)
_KM_BEST = f"array_min(transform(cents, c -> named_struct('d', {_KM_D2}, 'cid', c.cid)))"


def _kmeans_assign(emb_d: DataFrame, cents_row: DataFrame) -> DataFrame:
    """One Lloyd's assignment pass: (vec_id, e, cid, d2).

    OPTIMIZATION_r15: the original crossJoin + ``array_min(transform(
    cents, c -> aggregate(...)))`` projection priced at ~1 ms/row —
    Catalyst evaluates higher-order-function lambdas INTERPRETED, per
    element, so every row paid K×D (~512) boxed lambda steps (the
    guide's §4.2 "do the heavy lifting in native code"; the verify
    skill's ~2 µs/element pair-generation rule). The K-row codebook is
    bounded (collect of ONE row of K structs — the same driver-side
    bound the localCheckpoint rule already put on it), so it now ships
    into an Arrow-batched kernel whose accumulation replays the fold
    BIT-FOR-BIT: for each row the fold computed
    ``s_{i+1} = s_i + (e[i]-c[i])*(e[i]-c[i])`` in ascending i with
    double arithmetic; the kernel accumulates ``acc += diff*diff`` one
    dimension at a time (ascending i, one IEEE-double add per step per
    row — numpy does not fuse or reassociate), so every d2 double is
    identical, and ``np.argmin``'s first-minimum rule over the
    cid-sorted codebook is exactly array_min's lexicographic (d2, cid)
    tie-break. Pinned by test_kmeans_assign_kernel_matches_fold.
    Zero shuffles at any scale, as before; an EMPTY codebook yields
    NULL cid/d2 rows, as array_min(transform([])) did."""

    rows = cents_row.collect()  # 1 row of K centroid structs — bounded
    cents = list(rows[0]["cents"]) if rows and rows[0]["cents"] else []
    cid_arr = [int(c["cid"]) for c in cents]
    vec_arr = [list(map(float, c["vec"])) for c in cents]
    return _kmeans_assign_arrays(emb_d, cid_arr, vec_arr)


def _kmeans_assign_arrays(
    emb_d: DataFrame, cid_arr: list, vec_arr: list
) -> DataFrame:
    """_kmeans_assign over an ALREADY-COLLECTED codebook (cid list +
    centroid vectors) — the local-fit path (see _kmeans_fit) computes
    the codebook driver-side and ships it straight into the kernel,
    skipping the collect job the DataFrame wrapper above pays."""

    def kernel(batches):
        import numpy as np
        import pandas as pd

        cids = np.asarray(cid_arr, dtype=np.int64)
        cvecs = np.asarray(vec_arr, dtype=np.float64)

        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            if cids.size == 0:
                yield pd.DataFrame(
                    {
                        "vec_id": pdf["vec_id"],
                        "e": pdf["e"],
                        "cid": pd.array([None] * n, dtype="Int64"),
                        "d2": pd.array([None] * n, dtype="Float64"),
                    }
                )
                continue
            E = np.array([np.asarray(v, dtype=np.float64)
                          for v in pdf["e"]])
            acc = np.zeros((n, cids.size), dtype=np.float64)
            for i in range(E.shape[1]):
                diff = E[:, i : i + 1] - cvecs[None, :, i][0]
                acc += diff * diff
            best = np.argmin(acc, axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "e": pdf["e"],
                    "cid": cids[best],
                    "d2": acc[np.arange(n), best],
                }
            )

    return emb_d.mapInPandas(
        kernel, "vec_id long, e array<double>, cid long, d2 double"
    )


def _kmeans_cents_row(cdf: DataFrame) -> DataFrame:
    """Collapse a (cid, vec) centroid frame into ONE row holding the
    cid-sorted array of centroid structs (deterministic regardless of
    collect_list arrival order)."""
    return cdf.agg(
        F.expr("array_sort(collect_list(struct(cid, vec)))").alias("cents")
    )


def emb_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means over the embedding corpus, K=8, a fixed 2
    iterations, fully deterministic — the IVF-cell / corpus-clustering
    trainer (the step that turns emb_centroid_by_label's per-label means
    into LEARNED cells for sim_ivf_topk-style routing).

    Determinism contract: seeds are the K lowest vec_ids (no RNG);
    assignment ties break to the lowest cid (lexicographic min over
    (d2, cid)); centroid means use the DECIMAL(38,20) summation from
    emb_centroid_by_label, so every float in every iteration is
    bit-identical to the unrolled DuckDB oracle. The iteration count is
    fixed (not run-to-convergence) precisely so the oracle stays
    SQL-expressible; a production run loops the same two building blocks
    from the driver until movement < ε — the per-iteration plan is what
    matters at scale, and it is: ONE zero-shuffle assignment projection
    (centroids ride a 1-row broadcast, the MLlib topology) + ONE
    map-side-combined (cid, pos) aggregation whose output is K×dim rows.
    Nothing driver-side ever holds more than K centroids. Empty clusters
    drop out identically on both engines (no re-seed rule needed for the
    fixed unroll).

    Output: (vec_id, cluster_id, dist2) after the final assignment."""
    emb = load_table(spark, sf_dir, "embeddings")
    emb_d = emb.select(
        "vec_id", F.expr(_TO_DOUBLE.format(a="embedding")).alias("e")
    )
    assigned, _cents = _kmeans_fit(emb_d)
    return assigned.select(
        "vec_id", F.col("cid").alias("cluster_id"), F.col("d2").alias("dist2")
    )


# Index-training sample (round 6): the learned-index consumers
# (sim_ivf_kmeans_topk, sim_pq_adc_topk) fit their codebooks on a
# deterministic md5-bucket sample of the corpus instead of every row —
# at 100 TB, Lloyd's KMEANS_ITERS full-corpus passes were the one
# non-scalable step of index training (the standard recipe fits on a
# sample and touches the full corpus exactly ONCE, in the final
# assignment / encode pass, which is the index build itself). The rate
# is a compile-time constant so the DuckDB oracle mirrors the predicate
# in lockstep, same contract as operators/sampling.py. 75% here because
# the test corpora are only ~50-5000 rows; production uses a far
# smaller fraction — the PLAN (sampled training passes + one full
# assignment) is what survives the scale-up, not the rate.
KMEANS_TRAIN_BUCKET = "c000"  # 75% of the 16^4 md5-prefix space
_TRAIN_PRED_SPARK = (
    f"substring(md5(cast(vec_id as string)), 1, 4) < '{KMEANS_TRAIN_BUCKET}'"
)
_TRAIN_PRED_DUCK = (
    f"substring(md5(CAST(vec_id AS VARCHAR)), 1, 4)"
    f" < '{KMEANS_TRAIN_BUCKET}'"
)


# OPTIMIZATION_r15 change 9 — scale-gated driver-side k-means fit.
# The training STATE is bounded the same way the change-5 BPE vocabulary
# and the change-4/6 codebooks are: the iteration passes fold a train
# SAMPLE of (vec_id, e) rows into K centroids. When that sample fits the
# cap, the whole Lloyd loop replays driver-side — one collect replaces
# the per-iteration assignment-kernel + decimal-agg + checkpoint jobs —
# and the replay is BIT-FOR-BIT the distributed arithmetic:
#   - assignment: the UNCHANGED numpy kernel code on the collected
#     matrix (ascending-dimension `acc += diff*diff`, np.argmin
#     first-minimum over the cid-sorted codebook);
#   - means: Spark's `cast(val as decimal(38,20))` goes through Java's
#     shortest-roundtrip Double.toString (BigDecimal.valueOf) — replayed
#     as Decimal(repr(x)).quantize(1e-20, HALF_UP), which this round was
#     verified value-identical on every embedding double of all three
#     test SFs; the decimal sum is exact (order-free), float(Decimal) is
#     the same correctly-rounded cast as BigDecimal.doubleValue, and the
#     final `/ count` is one IEEE double division either way.
# Above the cap the distributed loop runs UNCHANGED — that is the
# 100 TB path; the gate costs one bounded limit(cap+1) collect of the
# sample. 0 disables (kill switch). Pinned bit-exact by
# tests/test_plans.py::test_kmeans_local_fit_matches_distributed.
_KMEANS_LOCAL_FIT_CONF = "spark_graft.kmeans.local_fit.max_train"
_KMEANS_LOCAL_FIT_DEFAULT = 100_000


_DEC20_EXP = None  # lazily-built Decimal(1e-20) quantum (import-light module)


def _dec20(x: float):
    """Replay Spark's double→decimal(38,20) cast: shortest-roundtrip
    decimal string, HALF_UP at the 20th fraction digit.

    Fast path (r15 VERDICT next-#6): when repr(x) is plain decimal
    notation with ≤ 20 fraction digits, Decimal(repr(x)) already IS the
    quantized value (quantize would only re-scale the exponent, and
    Decimal addition is exponent-agnostic in value) — skip the quantize.
    Values in exponent notation or with deeper fractions (|x| ≲ 1e-4
    carries up to ~21+ fraction digits at 17 significant digits) take
    the exact HALF_UP path unchanged.

    JVM caveat (r15 ADVICE): repr() is Python's shortest-roundtrip
    string; Java's Double.toString is only guaranteed shortest on
    JDK 19+ (JDK-4511638). _decimal_replay_safe gates every local-fit
    use of this replay on a per-session canary when the JVM is older."""
    from decimal import ROUND_HALF_UP, Decimal

    s = repr(x)
    dot = s.find(".")
    if dot >= 0 and "e" not in s and len(s) - dot - 1 <= 20:
        return Decimal(s)
    global _DEC20_EXP
    if _DEC20_EXP is None:
        _DEC20_EXP = Decimal(1).scaleb(-20)
    return Decimal(s).quantize(_DEC20_EXP, rounding=ROUND_HALF_UP)


# decimal(38,20) holds 18 integer digits; a train sample whose absolute
# row count × max|value| stays under 1e18 can never overflow ANY partial
# sum of the distributed decimal aggregation — the bound under which the
# local replay and the distributed loop are provably the same arithmetic
_DEC20_SUM_BOUND = 10.0**18

# verdict cache of the JVM-stringification canary below, keyed by
# (applicationId, digest of the sampled values)
_REPLAY_CANARY_OK: dict = {}


def _decimal_replay_safe(spark: SparkSession, E) -> bool:
    """Guards ahead of the driver-side decimal replay (r15 ADVICE, all
    three): returns False — caller falls through to the UNCHANGED
    distributed loop — when the collected sample could diverge from the
    distributed arithmetic:

    (a) non-finite values: Decimal('nan').quantize raises and repr()
        would emit unparseable literals, where the distributed cast
        maps NaN → NULL and skips it;
    (b) magnitudes whose decimal(38,20) partial sums can exceed 38
        digits: the distributed sum overflows to NULL, the local replay
        (prec=60) returns a finite mean;
    (c) pre-JDK-19 JVMs: Spark's cast stringifies via Double.toString,
        which is only guaranteed shortest-roundtrip (== repr) on 19+ —
        on older JVMs run a ONE-JOB canary comparing Spark's own
        double→decimal(38,20)→string cast against _dec20 on a bounded
        deterministic subsample (extremes + strides) of the actual
        values, cached per (application, sample) — a later fit whose
        values sample differently runs its own canary. Sampled, not
        exhaustive — the bit-exactness pins in tests/ verify full
        equality on the test corpora; the canary catches a
        systematically divergent JVM."""
    import numpy as np

    if E.size == 0:
        return True
    if not np.isfinite(E).all():
        return False
    if float(np.abs(E).max()) * E.shape[0] >= _DEC20_SUM_BOUND:
        return False
    jvm_spec = spark._jvm.java.lang.System.getProperty(
        "java.specification.version"
    )
    try:
        if float(jvm_spec) >= 19:
            return True
    except (TypeError, ValueError):
        pass
    import hashlib

    flat = E.ravel()
    idx = np.unique(
        np.concatenate(
            [
                np.arange(0, flat.size, max(1, flat.size // 509)),
                [int(np.argmin(flat)), int(np.argmax(flat))],
            ]
        )
    )
    values = np.unique(flat[idx]).astype(np.float64)
    key = (
        spark.sparkContext.applicationId,
        hashlib.blake2b(values.tobytes(), digest_size=16).digest(),
    )
    ok = _REPLAY_CANARY_OK.get(key)
    if ok is None:
        sample = [float(v) for v in values]
        cols = [
            F.lit(v).cast("decimal(38,20)").cast("string") for v in sample
        ]
        jvm_strs = list(spark.range(1).select(*cols).first())
        from decimal import Decimal

        # value comparison (Decimal == ignores exponent/format), so a
        # notation difference between BigDecimal.toString and Python's
        # Decimal.__str__ can never masquerade as a replay divergence
        ok = all(
            s is not None and Decimal(s) == _dec20(v)
            for v, s in zip(sample, jvm_strs)
        )
        _REPLAY_CANARY_OK[key] = ok
        if len(_REPLAY_CANARY_OK) > 64:  # long-lived driver hygiene
            _REPLAY_CANARY_OK.pop(next(iter(_REPLAY_CANARY_OK)))
    return ok


def _local_lloyd(train_es: list, seed_cents: list) -> list:
    """The distributed iteration loop of _kmeans_fit replayed driver-side
    over the collected train sample: KMEANS_ITERS-1 rounds of (assign to
    nearest centroid, decimal-exact per-(cid, pos) means). ``train_es``
    is a list of per-row double lists; ``seed_cents`` a cid-sorted list
    of (cid, vec). Returns the final cid-sorted [(cid, vec)] codebook —
    empty clusters drop out exactly as the groupBy did."""
    from decimal import localcontext

    import numpy as np

    cents = list(seed_cents)
    # accepts a prebuilt (n, dim) matrix too (no-copy through asarray) —
    # callers build it once for the _decimal_replay_safe guards
    E = np.asarray(train_es, dtype=np.float64)
    if E.ndim != 2:
        E = E.reshape((0, 0))
    n = E.shape[0]
    for _ in range(KMEANS_ITERS - 1):
        if not cents or n == 0:
            return []  # empty assignment → empty collect_list → []
        cids = np.asarray([c[0] for c in cents], dtype=np.int64)
        cvecs = np.asarray([c[1] for c in cents], dtype=np.float64)
        # the assignment kernel's exact accumulation (see
        # _kmeans_assign_arrays): one IEEE add per dimension step,
        # first-minimum argmin over the cid-sorted codebook
        acc = np.zeros((n, cids.size), dtype=np.float64)
        for i in range(E.shape[1]):
            diff = E[:, i : i + 1] - cvecs[None, :, i][0]
            acc += diff * diff
        best = cids[np.argmin(acc, axis=1)]
        new_cents = []
        with localcontext() as ctx:
            ctx.prec = 60  # decimal(38,20) sums are exact far past these
            for cid in sorted(set(best.tolist())):
                cols = E[best == cid].T.tolist()  # Python floats, C-speed
                vec = [
                    float(sum(map(_dec20, col))) / len(col) for col in cols
                ]
                new_cents.append((cid, vec))
        cents = new_cents
    return cents


def _cents_local_df(spark: SparkSession, cents: list) -> DataFrame:
    """The 1-row codebook frame (same shape _kmeans_cents_row yields)
    from a driver-side [(cid, vec)] list — an Arrow-backed local
    relation (r16): a plain createDataFrame(list) becomes a pickled-
    Python RDD whose every consumer action (the centroid write, the
    probe cross-join) pays a Python-worker round-trip — that is why r15
    built LITERAL expressions here. But the literal form re-codegens a
    ~15 KB expression per consumer JOB; the pandas+Arrow path plans as a
    pure-JVM LocalTableScan and measured faster on every consumer
    (build 20 vs 87 ms, first() 29 vs 86, centroid write 120 vs 236,
    probe-join count 257 vs 311; collected rows identical). Exactness:
    doubles cross as IEEE float64 bits end to end — no string round-trip
    at all, strictly stronger than the literal path's repr() argument."""
    import pandas as pd

    return spark.createDataFrame(
        pd.DataFrame(
            {"cents": [[(int(c), [float(x) for x in v]) for c, v in cents]]}
        ),
        schema="cents array<struct<cid:bigint,vec:array<double>>>",
    )


def _kmeans_fit(
    emb_d: DataFrame,
    train_d: DataFrame | None = None,
    seeds_d: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Run the fixed-iteration Lloyd's loop over (vec_id, e) and return
    (final assignment frame, final 1-row centroid frame) — shared by the
    clustering operator and the learned-cell IVF index below.

    ``train_d`` (default: the full frame) is what the ITERATION passes
    see — the sample-fit path; the returned assignment always covers all
    of ``emb_d``. ``seeds_d`` (default: rows with vec_id < KMEANS_K —
    exact on the embeddings corpus, whose ids are dense from 0) supplies
    the initial centroids; retraining passes the K LOWEST LIVE vec_ids
    explicitly, because a fixed id filter over a view that deletes can
    shrink — or with ids 0..K-1 all deleted, EMPTY — the codebook
    (round-11 review).

    The FINAL centroid row is materialized via localCheckpoint ("train
    once, persist the codebook"): both returned frames depend on it, and
    a consumer that uses the assignment AND the centroids (the IVF index:
    member lists + probe routing) would otherwise execute the whole
    training DAG once per branch — Catalyst has no common-subtree reuse
    across broadcast boundaries. The checkpointed frame is one row of
    K centroid structs, so the materialization cost is nil."""
    if train_d is None:
        train_d = emb_d
    if seeds_d is None:
        seeds_d = emb_d.where(F.col("vec_id") < KMEANS_K)
    spark = emb_d.sparkSession
    cap = int(
        spark.conf.get(
            _KMEANS_LOCAL_FIT_CONF, str(_KMEANS_LOCAL_FIT_DEFAULT)
        )
    )
    if cap > 0:
        import numpy as np

        # bounded gate probe, NARROW first (r15 ADVICE #3): the probe
        # ships one constant per row instead of the full embedding
        # vectors, so an above-cap sample costs nothing but the row
        # count — the full-vector collect runs only when the sample
        # provably fits. CollectLimit (len of a bounded collect), NOT
        # limit().count(): the count form plans a LocalLimit→single-
        # partition-Exchange→GlobalLimit chain (measured 305 ms vs
        # 121 ms warm at sf0.1), while CollectLimit scans partitions
        # incrementally and stops at cap+1 rows at any scale
        n_train = len(
            train_d.select(F.lit(1).alias("one")).limit(cap + 1).collect()
        )
        if n_train <= cap:
            train_rows = train_d.select("e").limit(cap + 1).collect()
            try:
                E = np.asarray(
                    [list(r["e"]) for r in train_rows], dtype=np.float64
                )
            except (TypeError, ValueError):  # ragged/NULL rows — the
                E = None  # distributed loop owns those
            seed_rows = sorted(
                (
                    (int(r["cid"]), [float(x) for x in r["vec"]])
                    for r in seeds_d.select(
                        F.col("vec_id").alias("cid"),
                        F.col("e").alias("vec"),
                    ).collect()
                ),
                key=lambda cv: cv[0],
            )
            # degenerate empty seeding and replay-unsafe samples (non-
            # finite values, decimal-overflow magnitudes, divergent JVM
            # stringification) keep the distributed path
            if seed_rows and E is not None and _decimal_replay_safe(spark, E):
                fitted = _local_lloyd(E, seed_rows)
                return (
                    _kmeans_assign_arrays(
                        emb_d,
                        [c for c, _ in fitted],
                        [v for _, v in fitted],
                    ),
                    _cents_local_df(spark, fitted),
                )
    cents = _kmeans_cents_row(
        seeds_d.select(F.col("vec_id").alias("cid"), F.col("e").alias("vec"))
    )
    for _ in range(KMEANS_ITERS - 1):
        assigned = _kmeans_assign(train_d, cents)
        ex = assigned.select("cid", F.posexplode("e").alias("pos", "val"))
        m = ex.groupBy("cid", "pos").agg(
            (
                F.sum(F.col("val").cast("decimal(38,20)")).cast("double")
                / F.count("*")
            ).alias("mv")
        )
        cents = _kmeans_cents_row(
            m.groupBy("cid").agg(
                F.expr(
                    "transform(array_sort(collect_list(struct(pos, mv))), s -> s.mv)"
                ).alias("vec")
            )
        )
    cents = cents.localCheckpoint()
    return _kmeans_assign(emb_d, cents), cents


IVF_PROBES = 2

# L2 norm over an already-double array (no float cast — `e` is pre-cast)
_NRM_E_SPARK = "sqrt(aggregate(transform({a}, x -> x * x), 0.0d, (acc, v) -> acc + v))"
_NRM_E_DUCK = "sqrt(list_sum(list_transform({a}, x -> x * x)))"


def sim_ivf_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN over LEARNED cells: the k-means fit above becomes the IVF
    coarse index (the production architecture — sim_ivf_topk's fixed grid
    is the zero-training stand-in). Each query probes its IVF_PROBES
    nearest centroids (multi-probe recall remedy built in) and scores
    exact cosine only against those cells' member lists.

    100 TB posture: train once on the deterministic md5-bucket SAMPLE
    (KMEANS_TRAIN_BUCKET — the iteration passes never touch the full
    corpus; per iteration: one zero-shuffle assignment projection + one
    K×dim agg over the sample), then the full corpus is scanned exactly
    once by the final assignment, and the index IS the cluster_id
    column: the corpus shuffles once on cluster_id (or
    is written bucketed by it) and a query touches probes/K of the data.
    The probe frame is queries × IVF_PROBES rows — broadcast by
    construction, so the candidate join adds no corpus shuffle beyond the
    cluster_id clustering. K=8 here is a test-scale constant; production
    sizes K ≈ √N so cells stay task-sized — same plan, bigger constant."""
    emb = load_table(spark, sf_dir, "embeddings")
    emb_d = emb.select(
        "vec_id", F.expr(_TO_DOUBLE.format(a="embedding")).alias("e")
    )
    # sample-fit: the codebook trains on the md5-bucket sample, the full
    # corpus is scanned once (final assignment = the index build)
    assigned, cents = _kmeans_fit(
        emb_d, emb_d.where(F.expr(_TRAIN_PRED_SPARK))
    )
    return _ivf_probe_and_score(
        emb_d.where(F.col("vec_id") < N_QUERIES),
        cents,
        _members_projection(assigned),
    )


def _members_projection(assigned: DataFrame) -> DataFrame:
    """The persisted-index member schema contract — (vec_id, cluster_id,
    e, c_nrm) — derived from a k-means assignment frame. The ONE
    projection shared by the fit-inline operators, the index build, the
    batch append, and (plus its gen column) the streaming ingest: the
    schema every read path depends on must not live in five hand-written
    copies."""
    return assigned.select(
        "vec_id",
        F.col("cid").alias("cluster_id"),
        "e",
        F.expr(_NRM_E_SPARK.format(a="e")).alias("c_nrm"),
    )


_SCRATCH_ROOT = "/tmp/spark_graft_indexes"
_SCRATCH_TTL_SECONDS = 6 * 3600


def _sweep_stale_scratch() -> None:
    """Best-effort removal of scratch index dirs whose session is long
    gone (mtime older than _SCRATCH_TTL_SECONDS): the applicationId
    keying that isolates concurrent sessions also guarantees no reuse,
    so without a sweep every session leaks a corpus-sized copy. Errors
    are swallowed — a sweep racing another sweep (or a zombie session)
    must never fail the build that triggered it."""
    import os
    import shutil
    import time

    cutoff = time.time() - _SCRATCH_TTL_SECONDS
    try:
        for family in os.listdir(_SCRATCH_ROOT):
            fam_dir = os.path.join(_SCRATCH_ROOT, family)
            for app in os.listdir(fam_dir):
                app_dir = os.path.join(fam_dir, app)
                if os.path.getmtime(app_dir) < cutoff:
                    shutil.rmtree(app_dir, ignore_errors=True)
    except OSError:
        pass


def scratch_index_dir(spark: SparkSession, sf_dir: str, family: str) -> str:
    """Scratch directory for a registry query's persisted index: keyed
    by the ABSOLUTE dataset path (two datasets whose basenames collide —
    .../a/sf0.1 vs .../b/sf0.1 — must never share an index) and by the
    Spark application id (two concurrent sessions — parallel pytest
    workers, a bench run beside a driver run — must never race one
    directory's overwrite against the other's scan). Deterministic
    within a session, which is all the build-then-query lifecycle needs;
    every build overwrites, so cross-session reuse was never real —
    which is why each call also sweeps sessions staler than the TTL."""
    import os

    _sweep_stale_scratch()
    key = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:8]
    return os.path.join(
        _SCRATCH_ROOT,
        family,
        spark.sparkContext.applicationId,
        f"{os.path.basename(sf_dir.rstrip('/') or 'sf')}-{key}",
    )


def _ivf_probes(queries_d: DataFrame, cents: DataFrame) -> DataFrame:
    """(query_id, q_emb, q_nrm, cluster_id): each query routed to its
    IVF_PROBES nearest centroids — queries × probes rows, broadcast-sized
    by construction."""
    return (
        queries_d.crossJoin(F.broadcast(cents))
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("e").alias("q_emb"),
            F.expr(_NRM_E_SPARK.format(a="e")).alias("q_nrm"),
            F.explode(
                F.expr(
                    "slice(array_sort(transform(cents,"
                    f" c -> named_struct('d', {_KM_D2}, 'cid', c.cid))),"
                    f" 1, {IVF_PROBES})"
                )
            ).alias("pr"),
        )
        .select("query_id", "q_emb", "q_nrm", F.col("pr.cid").alias("cluster_id"))
    )


def _ivf_probe_and_score(
    queries_d: DataFrame, cents: DataFrame, members: DataFrame,
    probes: DataFrame | None = None,
) -> DataFrame:
    """The IVF read path, shared by the fit-inline operator and the
    persisted-index query: probe routing → broadcast candidate join
    against the probed cells' members → exact cosine → per-query top-k.
    ``members`` must carry (vec_id, cluster_id, e, c_nrm). A caller
    that already evaluated the probe frame (query_ivf_index collects
    the probed-cell set for partition pruning) passes it in so the
    routing cross-join and the query-side scan run once, not once per
    consumer."""
    if probes is None:
        probes = _ivf_probes(queries_d, cents)
    scored = (
        members.join(F.broadcast(probes), "cluster_id")
        .where(F.col("vec_id") != F.col("query_id"))
        .withColumn(
            "cosine",
            F.expr(_DOT_RAW.format(a="q_emb", b="e"))
            / (F.col("q_nrm") * F.col("c_nrm")),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("cand_id"))
    return (
        scored.select(
            "query_id", F.col("vec_id").alias("cand_id"), "cluster_id", "cosine"
        )
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
        .select("query_id", "rank", "cand_id", "cluster_id", "cosine")
    )


def build_ivf_index(spark: SparkSession, sf_dir: str, index_dir: str) -> None:
    """Materialize the IVF index to disk — the production lifecycle
    (build once, query many) that the fit-inline operators amortize away
    at test scale. Writes:

    - ``{base}/centroids.parquet`` — the 1-row codebook (K centroid
      structs), exactly the localCheckpoint'd training output;
    - ``{base}/members.parquet`` — (vec_id, e, c_nrm) PARTITIONED BY
      cluster_id, so each IVF cell is its own partition directory;

    where ``base`` is the resolved snapshot dir (resolve_index_base):
    ``index_dir`` itself for a fresh index (flat legacy layout, no
    manifest), or the manifest's base-v dir when rebuilding over a
    retrained index.

    100 TB posture: the build pays the sample-fit training plus ONE full
    corpus pass (assignment) and one corpus write clustered by cell —
    after which every query reads only its probed cells (see
    sim_ivf_index_topk) instead of re-deriving the fit. The member rows
    persist the precomputed norm so the read path never re-folds it."""
    emb = load_table(spark, sf_dir, "embeddings")
    emb_d = emb.select(
        "vec_id", F.expr(_TO_DOUBLE.format(a="embedding")).alias("e")
    )
    assigned, cents = _kmeans_fit(
        emb_d, emb_d.where(F.expr(_TRAIN_PRED_SPARK))
    )
    # a fresh index has no manifest and resolves to the flat root; a
    # REBUILD over a retrained index overwrites its current snapshot
    # in place (build is the from-scratch verb, not a new generation).
    # Build-is-from-scratch also means the snapshot's MAINTENANCE state
    # dies with the old contents: stale tombstones would hide freshly
    # built rows whose (cluster_id, vec_id, gen) keys still match, and
    # stale ingest generations would resurrect rows the rebuild never
    # saw (round-12 ADVICE). Delete them FIRST — a crash mid-build then
    # leaves a partial clean-slate snapshot a re-run repairs, never a
    # new index haunted by the old one's deletes.
    base_dir = resolve_index_base(spark, index_dir)
    for stale in ("tombstones.parquet", "members_ingest.parquet"):
        _, fs, jpath = _index_fs(spark, f"{base_dir}/{stale}")
        if fs.exists(jpath):
            fs.delete(jpath, True)
    _write_index(assigned, cents, base_dir)


def _write_index(assigned: DataFrame, cents: DataFrame, base_dir: str):
    """The ONE index write contract (overwrite layout, partitioning,
    paths) shared by build and retrain — two hand-written copies were
    drifting on write ORDER (round-11 review). Centroids commit FIRST:
    a crash between the writes leaves the new codebook over the old
    members — for BUILD (flat layout, no manifest) that is a
    recall-degraded but duplicate-free index a re-run repairs;
    members-first would leave assignments no codebook explains. For
    RETRAIN the pair lands in an unreferenced base-v dir and readers
    see nothing until the index-manifest commit (the whole-index
    snapshot protocol above) — the mixed state is no longer readable."""
    cents.write.mode("overwrite").parquet(f"{base_dir}/centroids.parquet")
    (
        _members_projection(assigned)
        .write.mode("overwrite")
        .partitionBy("cluster_id")
        .parquet(f"{base_dir}/members.parquet")
    )


def query_ivf_index(
    spark: SparkSession, sf_dir: str, index_dir: str
) -> DataFrame:
    """ANN top-k against a PERSISTED IVF index (see build_ivf_index).

    The probed cell ids are collected driver-side — a bounded
    queries × IVF_PROBES list, the same legitimacy class as the
    broadcast query set — and applied as an isin() PARTITION filter on
    the cluster_id-partitioned member table, so unprobed cells are
    pruned at the SCAN (PartitionFilters in the plan), not post-read:
    the query touches probes/K of the corpus bytes on disk, which is the
    entire point of building the index. Scoring is the shared
    _ivf_probe_and_score read path, bit-identical to the fit-inline
    operator.

    Bounded GC-race retry (round-12 Next #3): a retrain's post-commit GC
    can sweep the base a reader resolved between the reader's manifest
    resolution and its file reads. The eager work inside this function
    (centroids read, probe checkpoint, member-file listing) is wrapped
    in ONE retry on missing-path failures — the re-resolve lands on the
    newly committed snapshot, so the race degrades to a second
    resolution instead of a user-visible error. Files swept AFTER the
    returned frame's listing (mid-action) still fail loud-transient —
    true wait-for-readers needs leases (PERF_NOTES stance)."""
    try:
        return _query_ivf_index_once(spark, sf_dir, index_dir)
    except Exception as e:  # noqa: BLE001 — filtered just below
        if not _is_missing_path_error(e):
            raise
        return _query_ivf_index_once(spark, sf_dir, index_dir)


def _is_missing_path_error(e: Exception) -> bool:
    """Does this exception look like 'a file/dir vanished under the
    reader' (the GC-race class), as opposed to a genuine data error?
    Matched on the JVM exception text because pyspark surfaces all of
    them as generic AnalysisException/Py4JJavaError wrappers."""
    msg = str(e)
    return any(
        s in msg
        for s in (
            "PATH_NOT_FOUND",
            "Path does not exist",
            "FileNotFoundException",
            "No such file or directory",
        )
    )


def query_ivf_index_eager(
    spark: SparkSession,
    sf_dir: str,
    index_dir: str,
    max_attempts: int = 3,
    _pre_action_hook=None,
) -> DataFrame:
    """Whole-ACTION bounded retry (round 14 — closes the round-13
    honest limit: 'a base swept mid-ACTION, after file listing, still
    fails loud-transient'). query_ivf_index's retry covers its EAGER
    work, but the frame it returns is lazy — a retrain's age-gated GC
    can sweep the resolved base between the frame's file LISTING and
    the caller's action reading those files. This entry point
    materializes the result (a bounded queries x k frame — an eager
    localCheckpoint, so post-return GC can't touch it either) inside a
    retry loop KEYED BY THE MANIFEST VERSION: on a vanished-path
    failure it re-resolves, and retries only if the snapshot actually
    moved — the same failure with an UNMOVED manifest is real missing
    data and raises (never spin on corruption). Lease-free by design:
    bounded re-read of a bounded result instead of reader bookkeeping
    (the PERF_NOTES leases-vs-retry stance, resolved in favor of
    retry).

    ``_pre_action_hook`` is a TEST-ONLY injection point, called once
    between plan construction and materialization, so the crash-window
    test can run a retrain + GC deterministically inside the window
    (tests/test_index_snapshot.py)."""

    def snapshot_key():
        manifest = read_index_manifest(spark, index_dir)
        return None if manifest is None else manifest["base"]

    last: Exception | None = None
    for _ in range(max_attempts):
        key = snapshot_key()
        frame = query_ivf_index(spark, sf_dir, index_dir)
        if _pre_action_hook is not None:
            hook, _pre_action_hook = _pre_action_hook, None
            hook()
        try:
            return frame.localCheckpoint(eager=True)
        except Exception as e:  # noqa: BLE001 — filtered just below
            if not _is_missing_path_error(e):
                raise
            if snapshot_key() == key:
                # nothing was committed over us: the files are missing
                # for a non-GC reason — surface it
                raise
            last = e
    assert last is not None
    raise last


def _query_ivf_index_once(
    spark: SparkSession, sf_dir: str, index_dir: str
) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries_d = emb.select(
        "vec_id", F.expr(_TO_DOUBLE.format(a="embedding")).alias("e")
    ).where(F.col("vec_id") < N_QUERIES)
    base_dir = resolve_index_base(spark, index_dir)
    cents = spark.read.parquet(f"{base_dir}/centroids.parquet")
    # materialize the probe frame ONCE (queries x IVF_PROBES rows): both
    # the driver-side probed-cell set below and the scorer's broadcast
    # side read it. r16: COLLECT it (bounded by construction — the same
    # legitimacy class as the probed-cell set it feeds) and re-inject as
    # an Arrow LocalTableScan instead of localCheckpoint + a separate
    # distinct().collect(): one job instead of a checkpoint job plus a
    # distinct shuffle, and the scorer's broadcast side gets a local
    # relation with REAL size stats. Doubles survive the round trip
    # bit-exactly (Arrow float64 end to end, no string conversion).
    import pandas as pd

    probes_plan = _ivf_probes(queries_d, cents)
    probe_rows = probes_plan.collect()
    probes = spark.createDataFrame(
        pd.DataFrame(
            [
                (r.query_id, list(r.q_emb), r.q_nrm, r.cluster_id)
                for r in probe_rows
            ],
            columns=["query_id", "q_emb", "q_nrm", "cluster_id"],
        ),
        schema=probes_plan.schema,
    )
    probed = {r.cluster_id for r in probe_rows}
    members = (
        _read_members(spark, base_dir)
        .where(F.col("cluster_id").isin(*probed))
        .select("vec_id", "cluster_id", "e", "c_nrm")
    )
    # pending deletes: the anti-join applies AFTER the partition filter,
    # so pruned cells never pay it; an index with no tombstones gets the
    # identical plan as before the delete path existed
    members = _subtract_tombstones(spark, base_dir, members)
    return _ivf_probe_and_score(queries_d, cents, members, probes=probes)


def sim_ivf_index_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The registry face of the persisted-index lifecycle: build the IVF
    index to a scratch directory, then answer the standard query set
    THROUGH the on-disk index. Training is deterministic (md5-bucket
    sample, fixed seeds and iterations — no RNG), so the result is
    value-identical to sim_ivf_kmeans_topk and shares its oracle; what
    this entry adds to the correctness gate is the round-trip itself:
    codebook serde, partitioned member layout, probe-driven partition
    pruning, and norm persistence all sit between the scan and the
    answer."""
    index_dir = scratch_index_dir(spark, sf_dir, "ivf")
    build_ivf_index(spark, sf_dir, index_dir)
    return query_ivf_index(spark, sf_dir, index_dir)


def _km_d2_duck(a: str) -> str:
    """Squared L2 between double-list column `a` and centroid `c.vec`
    (1-based indexed fold — DuckDB's half of _KM_D2)."""
    return (
        f"list_sum(list_transform(generate_series(1, len({a})),"
        f" i -> ({a}[i] - c.vec[i]) * ({a}[i] - c.vec[i])))"
    )


def _km_ctes(
    sfx: str,
    dim_lo: int | None = None,
    dim_hi: int | None = None,
    train_pred: str | None = None,
    emb_sql: str | None = None,
    seeds_sql: str | None = None,
) -> str:
    """The unrolled 2-iteration Lloyd's chain as a DuckDB CTE block —
    parameterized by a name suffix, an optional 1-based inclusive
    dimension slice (so the product-quantization oracle can instantiate
    one independent chain per subspace), an optional training-sample
    predicate over vec_id (the iteration passes see only matching rows;
    the FINAL assignment always covers the corpus — the exact mirror of
    ``_kmeans_fit(train_d=...)``), and an optional ``emb_sql`` override
    for the fit INPUT (must select ``vec_id, e`` — the retrain oracle
    fits over the live member view instead of the embeddings table).
    ``_km_ctes("")`` is the full-vector full-corpus chain of the
    clustering oracle."""
    base = "list_transform(embedding, x -> CAST(x AS DOUBLE))"
    if dim_lo is not None:
        base = f"({base})[{dim_lo}:{dim_hi}]"
    train_where = f"WHERE {train_pred}" if train_pred else ""
    emb_body = (
        emb_sql
        if emb_sql is not None
        else f"SELECT vec_id, {base} AS e\n  FROM embeddings"
    )
    seeds_body = (
        seeds_sql
        if seeds_sql is not None
        else f"SELECT vec_id AS cid, e AS vec FROM emb{sfx}"
        f" WHERE vec_id < {KMEANS_K}"
    )
    return f"""emb{sfx} AS (
  {emb_body}
), cents0{sfx} AS (
  {seeds_body}
), scored1{sfx} AS (
  SELECT emb{sfx}.vec_id, c.cid, {_km_d2_duck(f'emb{sfx}.e')} AS d2
  FROM emb{sfx} CROSS JOIN cents0{sfx} c
  {train_where}
), assign1{sfx} AS (
  SELECT vec_id, cid, d2,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cid ASC) AS rn
  FROM scored1{sfx}
), a1{sfx} AS (
  SELECT vec_id, cid FROM assign1{sfx} WHERE rn = 1
), ex1{sfx} AS (
  SELECT a1{sfx}.cid,
         unnest(generate_series(1, len(emb{sfx}.e))) AS pos,
         unnest(list_transform(emb{sfx}.e,
            x -> CAST(CAST(x AS VARCHAR) AS DECIMAL(38,20)))) AS val
  FROM emb{sfx} JOIN a1{sfx} USING (vec_id)
), m1{sfx} AS (
  SELECT cid, pos,
         CAST(CAST(SUM(val) AS VARCHAR) AS DOUBLE) / COUNT(*) AS mv
  FROM ex1{sfx} GROUP BY cid, pos
), cents1{sfx} AS (
  SELECT cid, list(mv ORDER BY pos) AS vec FROM m1{sfx} GROUP BY cid
), scored2{sfx} AS (
  SELECT emb{sfx}.vec_id, c.cid, {_km_d2_duck(f'emb{sfx}.e')} AS d2
  FROM emb{sfx} CROSS JOIN cents1{sfx} c
), assign2{sfx} AS (
  SELECT vec_id, cid, d2,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cid ASC) AS rn
  FROM scored2{sfx}
)"""


# the unrolled 2-iteration Lloyd's chain: the clustering oracle trains
# full-corpus (it IS the exact-Lloyd's demonstrator); the learned-index
# oracle mirrors the sample-fit predicate of sim_ivf_kmeans_topk
_KMEANS_CTES = _km_ctes("")
_KMEANS_CTES_SAMPLED = _km_ctes("", train_pred=_TRAIN_PRED_DUCK)

ORACLE_EMB_KMEANS = f"""
WITH {_KMEANS_CTES}
SELECT vec_id, cid AS cluster_id, d2 AS dist2 FROM assign2 WHERE rn = 1
"""

ORACLE_SIM_IVF_KMEANS = f"""
WITH {_KMEANS_CTES_SAMPLED},
nq AS (
  SELECT vec_id AS query_id, e AS q_emb,
         {_NRM_E_DUCK.format(a='e')} AS q_nrm
  FROM emb WHERE vec_id < {N_QUERIES}
), probes AS (
  SELECT query_id, q_emb, q_nrm, cid AS cluster_id FROM (
    SELECT nq.query_id, nq.q_emb, nq.q_nrm, c.cid,
           ROW_NUMBER() OVER (PARTITION BY nq.query_id
                              ORDER BY {_km_d2_duck('nq.q_emb')} ASC,
                                       c.cid ASC) AS rn
    FROM nq CROSS JOIN cents1 c
  ) WHERE rn <= {IVF_PROBES}
), members AS (
  SELECT emb.vec_id, a2.cid AS cluster_id, emb.e,
         {_NRM_E_DUCK.format(a='emb.e')} AS c_nrm
  FROM (SELECT vec_id, cid FROM assign2 WHERE rn = 1) a2
  JOIN emb USING (vec_id)
), ivf_scored AS (
  SELECT p.query_id, m.vec_id AS cand_id, m.cluster_id,
         list_sum(list_transform(generate_series(1, len(p.q_emb)),
            i -> p.q_emb[i] * m.e[i])) / (p.q_nrm * m.c_nrm) AS cosine
  FROM probes p JOIN members m USING (cluster_id)
  WHERE m.vec_id != p.query_id
)
SELECT query_id, rank, cand_id, cluster_id, cosine FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, cand_id ASC) AS rank
  FROM ivf_scored
) WHERE rank <= {TOP_K}
"""


PQ_M = 4  # subspaces; 64-dim embeddings → 4 × 16-dim subvectors
PQ_SUB = 16


def _pq_sub(col: str, s: int) -> str:
    """1-based Spark slice of subspace ``s`` from a double-array column."""
    return f"slice({col}, {s * PQ_SUB + 1}, {PQ_SUB})"


def _seq_dot(a, b) -> float:
    """Ascending-index left-associated dot product — the exact IEEE
    fold `aggregate(sequence(...), 0.0d, (acc, i) -> acc + a[i]*b[i])`
    computes, replayed with Python doubles (one add per step, no
    reassociation)."""
    acc = 0.0
    for x, y in zip(a, b):
        acc += x * y
    return acc


def sim_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (Jégou et al., PAMI 2011 — public): train
    an independent k-means codebook per 16-dim subspace, encode every
    vector as PQ_M centroid ids (4 bytes — a 64× compression of the
    64-float embedding), and answer top-k by asymmetric INNER-PRODUCT
    scoring (IP-ADC): the query stays exact, each base vector is scored
    through its reconstruction, score = (Σ_s q_s·codebook_s[code_s])/‖x‖
    — dot(q, recon(x)) normalized by the TRUE row norm stored at encode
    time, so the ranking approximates cosine (the corpus' metric — every
    other sim_* op ranks by cosine; ‖q‖ is constant per query and drops
    out of per-query ranking). Codebooks still train/assign by L2 on the
    raw subvectors, the standard recipe.

    100 TB posture: training is PQ_M independent runs of the k-means plan
    over the deterministic md5-bucket SAMPLE (KMEANS_TRAIN_BUCKET — the
    iteration passes never touch the full corpus; per iteration: one
    zero-shuffle assignment projection — codebooks ride 1-row broadcasts
    — plus one K×PQ_SUB-row agg); encoding is ONE
    pure projection over the corpus (all PQ_M argmins in a single pass,
    no per-subspace join — the 4-way corpus self-join this avoids is the
    naive shape); scoring is a broadcast of the query set over the
    encoded scan, then a WindowGroupLimit-pruned per-query top-k —
    exactly the paper's architecture: the scored operand is the code
    column and each query carries its K×PQ_M partial-distance lookup
    table, built once per query from the eagerly-materialized codebooks
    ("train once, persist" — also why the k-means DAG executes exactly
    once per subspace however many consumers read it).

    Exactness: every distance is the indexed sequential fold shared with
    the k-means oracle; the ADC sum adds the PQ_M subspace terms in fixed
    left-to-right order; ranking ties break on cand_id."""
    emb = load_table(spark, sf_dir, "embeddings")
    emb_d = emb.select(
        "vec_id", F.expr(_TO_DOUBLE.format(a="embedding")).alias("e")
    )
    # FUSED training: instead of PQ_M sequential k-means DAGs (4× the
    # stages, 4× the corpus passes per iteration), tag each subvector
    # with its subspace id and run ONE k-means keyed by s — per
    # iteration: one assignment pass over the tagged frame (codebooks
    # ride a PQ_M-row broadcast) and one map-side-combined
    # (s × cid × pos) agg of PQ_M·K·PQ_SUB rows. Per-subspace math is
    # untouched (same seeds, same decimal sums, same argmin rule), so
    # the unrolled per-subspace oracle still matches bit-for-bit.
    sub = emb_d.select(
        "vec_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, {PQ_M - 1}), s -> "
                f"struct(s as s, slice(e, s * {PQ_SUB} + 1, {PQ_SUB}) as es))"
            )
        ).alias("x"),
    ).select("vec_id", F.col("x.s").alias("s"), F.col("x.es").alias("es"))

    def _pq_assign(frame: DataFrame, cents_row: DataFrame) -> DataFrame:
        # OPTIMIZATION_r15 change 6: the former broadcast join +
        # interpreted `array_min(transform(cents, c -> aggregate(...)))`
        # paid K×PQ_SUB boxed lambda steps per subvector row — the
        # change-4 pattern applies verbatim: the per-subspace codebook
        # is bounded (PQ_M rows of K structs), so collect it and replay
        # the fold in an Arrow kernel — ascending-dimension
        # `acc += diff*diff` (one IEEE add per step, numpy neither
        # fuses nor reassociates a scalar-per-column loop) and
        # np.argmin's first-minimum over the cid-sorted codebook is
        # exactly array_min's lexicographic (d2, cid) tie-break.
        books = {
            int(r["s"]): (
                [int(c["cid"]) for c in r["cents"]],
                [[float(x) for x in c["vec"]] for c in r["cents"]],
            )
            for r in cents_row.collect()
        }

        def kernel(batches):
            import numpy as np
            import pandas as pd

            nb = {
                s: (np.asarray(cids, dtype=np.int64),
                    np.asarray(vecs, dtype=np.float64))
                for s, (cids, vecs) in books.items()
            }
            for pdf in batches:
                if not len(pdf):
                    continue
                out_cid = np.empty(len(pdf), dtype=np.int64)
                svals = pdf["s"].to_numpy()
                E = np.array(
                    [np.asarray(v, dtype=np.float64) for v in pdf["es"]]
                )
                for s, (cids, cvecs) in nb.items():
                    mask = svals == s
                    if not mask.any():
                        continue
                    Es = E[mask]
                    acc = np.zeros((Es.shape[0], cids.size))
                    for i in range(Es.shape[1]):
                        diff = Es[:, i : i + 1] - cvecs[None, :, i][0]
                        acc += diff * diff
                    out_cid[mask] = cids[np.argmin(acc, axis=1)]
                yield pd.DataFrame(
                    {
                        "vec_id": pdf["vec_id"],
                        "s": pdf["s"],
                        "es": pdf["es"],
                        "cid": out_cid,
                    }
                )

        return frame.mapInPandas(
            kernel, "vec_id long, s int, es array<double>, cid long"
        )

    # OPTIMIZATION_r15 change 12 — the change-9 local-fit gate applied
    # to the fused PQ training: each subspace's iteration is exactly the
    # IVF Lloyd loop over the subvector slice (same seeds rule, same
    # assignment kernel math, same decimal-mean chain), so when the
    # train sample fits the shared cap the whole PQ_M-codebook training
    # replays driver-side via _local_lloyd — one bounded collect
    # replaces the seeds-agg job, the iteration agg chain, and the
    # codebook collect. Above the cap (or with degenerate seeds) the
    # distributed chain below runs UNCHANGED.
    tbooks = None
    cap = int(
        spark.conf.get(
            _KMEANS_LOCAL_FIT_CONF, str(_KMEANS_LOCAL_FIT_DEFAULT)
        )
    )
    if cap > 0:
        import numpy as np

        train_d = emb_d.where(F.expr(_TRAIN_PRED_SPARK))
        # narrow CollectLimit probe first (r15 ADVICE #3; see the
        # _kmeans_fit gate for the probe-shape measurement) — above the
        # cap the ~50-100 MB full-vector collect never runs
        n_train = len(
            train_d.select(F.lit(1).alias("one")).limit(cap + 1).collect()
        )
        if n_train <= cap:
            train_rows = train_d.select("e").limit(cap + 1).collect()
            try:
                E_full = np.asarray(
                    [list(r["e"]) for r in train_rows], dtype=np.float64
                )
            except (TypeError, ValueError):  # ragged/NULL rows — the
                E_full = None  # distributed loop owns those
            seed_rows = sorted(
                (
                    (int(r["vec_id"]), [float(x) for x in r["e"]])
                    for r in emb_d.where(F.col("vec_id") < KMEANS_K)
                    .select("vec_id", "e")
                    .collect()
                ),
                key=lambda cv: cv[0],
            )
            if (
                seed_rows
                and len(train_rows)
                and E_full is not None
                and _decimal_replay_safe(spark, E_full)
            ):
                tbooks = {}
                for s in range(PQ_M):
                    lo, hi = s * PQ_SUB, (s + 1) * PQ_SUB
                    fitted = _local_lloyd(
                        E_full[:, lo:hi],
                        [(cid, v[lo:hi]) for cid, v in seed_rows],
                    )
                    tbooks[s] = (
                        [c for c, _ in fitted],
                        [v for _, v in fitted],
                    )
    if tbooks is None:
        seeds = sub.where(F.col("vec_id") < KMEANS_K).select(
            "s", F.col("vec_id").alias("cid"), F.col("es").alias("vec")
        )
        cents_row = seeds.groupBy("s").agg(
            F.expr(
                "array_sort(collect_list(struct(cid, vec)))"
            ).alias("cents")
        )
        # sample-fit: iteration passes see only the md5-bucket training
        # sample; the full corpus is touched exactly once, by the encode
        # projection below (same contract as the IVF fit)
        sub_train = sub.where(F.expr(_TRAIN_PRED_SPARK))
        assigned = _pq_assign(sub_train, cents_row)
        for it in range(KMEANS_ITERS - 1):
            ex = assigned.select(
                "s", "cid", F.posexplode("es").alias("pos", "val")
            )
            m = ex.groupBy("s", "cid", "pos").agg(
                (
                    F.sum(F.col("val").cast("decimal(38,20)")).cast("double")
                    / F.count("*")
                ).alias("mv")
            )
            cvec = m.groupBy("s", "cid").agg(
                F.expr(
                    "transform(array_sort(collect_list(struct(pos, mv))),"
                    " x -> x.mv)"
                ).alias("vec")
            )
            cents_row = cvec.groupBy("s").agg(
                F.expr(
                    "array_sort(collect_list(struct(cid, vec)))"
                ).alias("cents")
            )
            if it < KMEANS_ITERS - 2:
                # the final iteration's centroids feed only the
                # encode/LUT consumers below; a trailing sample
                # reassignment would be a dead (never-consumed) plan
                assigned = _pq_assign(sub_train, cents_row)
        # "train once, persist the codebook": the trained PQ_M-row
        # codebook is bounded (PQ_M × K structs — the change-4
        # driver-side class); collect it ONCE (this also replaces the
        # former localCheckpoint — one job either way) and build the PQ
        # paper's per-query ADC lookup tables driver-side:
        # lut[q][s][j] = Σ_i q_s[i]·codebook_s[j][i], accumulated in
        # ascending i with plain Python doubles — the exact
        # left-to-right fold the former interpreted _qdot computed.
        tbooks = {
            int(r["s"]): (
                [int(c["cid"]) for c in r["cents"]],
                [[float(x) for x in c["vec"]] for c in r["cents"]],
            )
            for r in cents_row.collect()
        }
    # the query set is N_QUERIES rows — the bounded collect class every
    # index query path already uses (query_ivf_index's probed-cell set)
    q_rows = sorted(
        (
            (int(r["vec_id"]), [float(x) for x in r["e"]])
            for r in emb_d.where(F.col("vec_id") < N_QUERIES).collect()
        ),
    )
    luts = []  # [(query_id, [per-s list of lut values in codebook order])]
    for qid, qe in q_rows:
        per_s = []
        for s in range(PQ_M):
            _cids, vecs = tbooks[s]
            qs = qe[s * PQ_SUB : (s + 1) * PQ_SUB]
            per_s.append(
                [
                    _seq_dot(qs, v)
                    for v in vecs
                ]
            )
        luts.append((qid, per_s))

    # OPTIMIZATION_r15 change 6: encode + ADC scoring fused into ONE
    # Arrow kernel over the corpus scan — the former plan paid the
    # interpreted per-element argmin folds on the encode projection AND
    # PQ_M interpreted map probes per (vector, query) pair, all before
    # the first exchange (single-task on a one-row-group scan). The
    # kernel replays bit-for-bit: x_nrm and every d2 accumulate one
    # dimension at a time (ascending, one IEEE add per step), argmin
    # first-minimum over the cid-sorted codebook = array_min's (d2,
    # cid) tie-break, and the ADC sum adds the PQ_M lut terms left to
    # right before the one divide. Self-pairs are dropped in the
    # kernel, exactly where the filter sat. Plan: MapInPandas →
    # exchange of (queries × corpus) NARROW rows → WindowGroupLimit —
    # the broadcast topology is unchanged at any scale (the codebook
    # and query set ride the closure; payload bytes never shuffle).
    def score_kernel(batches):
        import numpy as np
        import pandas as pd

        nb = {
            s: (np.asarray(cids, dtype=np.int64),
                np.asarray(vecs, dtype=np.float64))
            for s, (cids, vecs) in tbooks.items()
        }
        nluts = [
            (qid, [np.asarray(per_s[s], dtype=np.float64)
                   for s in range(PQ_M)])
            for qid, per_s in luts
        ]
        for pdf in batches:
            n = len(pdf)
            if not n:
                continue
            ids = pdf["vec_id"].to_numpy()
            E = np.array([np.asarray(v, dtype=np.float64)
                          for v in pdf["e"]])
            acc = np.zeros(n)
            for i in range(E.shape[1]):
                acc += E[:, i] * E[:, i]
            x_nrm = np.sqrt(acc)
            codes, bests = [], []
            for s in range(PQ_M):
                cids, cvecs = nb[s]
                Es = E[:, s * PQ_SUB : (s + 1) * PQ_SUB]
                d2 = np.zeros((n, cids.size))
                for i in range(PQ_SUB):
                    diff = Es[:, i : i + 1] - cvecs[None, :, i][0]
                    d2 += diff * diff
                best = np.argmin(d2, axis=1)
                bests.append(best)
                codes.append(cids[best])
            frames = []
            with np.errstate(divide="ignore", invalid="ignore"):
                for qid, lut_s in nluts:
                    mask = ids != qid
                    if not mask.any():
                        continue
                    sc = lut_s[0][bests[0]].copy()
                    for s in range(1, PQ_M):
                        sc += lut_s[s][bests[s]]
                    sc = sc / x_nrm
                    frames.append(
                        pd.DataFrame(
                            {
                                "query_id": np.full(
                                    int(mask.sum()), qid, dtype=np.int64
                                ),
                                "vec_id": ids[mask],
                                **{
                                    f"c{s}": codes[s][mask]
                                    for s in range(PQ_M)
                                },
                                "adc_score": sc[mask],
                            }
                        )
                    )
            if frames:
                yield pd.concat(frames, ignore_index=True)

    scored = emb_d.mapInPandas(
        score_kernel,
        "query_id long, vec_id long, "
        + ", ".join(f"c{s} long" for s in range(PQ_M))
        + ", adc_score double",
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("adc_score"), F.asc("vec_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
        .select(
            "query_id",
            "rank",
            F.col("vec_id").alias("cand_id"),
            *[f"c{s}" for s in range(PQ_M)],
            "adc_score",
        )
    )


def _oracle_pq_adc() -> str:
    ctes = ",\n".join(
        _km_ctes(
            f"_s{s}",
            s * PQ_SUB + 1,
            (s + 1) * PQ_SUB,
            train_pred=_TRAIN_PRED_DUCK,
        )
        for s in range(PQ_M)
    )
    code_joins = "\n  ".join(
        f"JOIN (SELECT vec_id, cid FROM assign2_s{s} WHERE rn = 1) a{s}"
        " USING (vec_id)"
        for s in range(1, PQ_M)
    )
    codes_sel = ", ".join(f"a{s}.cid AS c{s}" for s in range(PQ_M))
    q_joins = "\n  ".join(
        f"JOIN emb_s{s} q{s} ON q{s}.vec_id = q.query_id" for s in range(PQ_M)
    )
    k_joins = "\n  ".join(
        f"JOIN cents1_s{s} k{s} ON k{s}.cid = x.c{s}" for s in range(PQ_M)
    )

    def dot(s: int) -> str:
        return (
            f"list_sum(list_transform(generate_series(1, len(q{s}.e)),"
            f" i -> q{s}.e[i] * k{s}.vec[i]))"
        )

    adc = (
        "("
        + " + ".join(f"({dot(s)})" for s in range(PQ_M))
        + ") / x.x_nrm"
    )
    c_cols = ", ".join(f"c{s}" for s in range(PQ_M))
    nrm = _NRM_E_DUCK.format(a="list_transform(embedding, v -> CAST(v AS DOUBLE))")
    return f"""
WITH {ctes},
codes AS (
  SELECT a0.vec_id, n.x_nrm, {codes_sel}
  FROM (SELECT vec_id, cid FROM assign2_s0 WHERE rn = 1) a0
  {code_joins}
  JOIN (SELECT vec_id, {nrm} AS x_nrm FROM embeddings) n USING (vec_id)
), q AS (
  SELECT vec_id AS query_id FROM embeddings WHERE vec_id < {N_QUERIES}
), pq_scored AS (
  SELECT q.query_id, x.vec_id AS cand_id, {', '.join(f'x.c{s}' for s in range(PQ_M))},
         {adc} AS adc_score
  FROM codes x
  CROSS JOIN q
  {q_joins}
  {k_joins}
  WHERE x.vec_id != q.query_id
)
SELECT query_id, rank, cand_id, {c_cols}, adc_score FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
             ORDER BY adc_score DESC, cand_id ASC) AS rank
  FROM pq_scored
) WHERE rank <= {TOP_K}
"""


def sim_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN recall@k audit: per query, how many of the EXACT cosine top-k
    (sim_topk_cosine, the ground truth) the learned-cell IVF index
    (sim_ivf_kmeans_topk) actually returned — the acceptance measurement
    every ANN deployment runs before trading exactness for probe count
    (recall too low → raise IVF_PROBES or K; the dedup twin of this
    composition is dedup_method_agreement).

    Exactness: n_hits is an integer intersection count; recall is one
    exact IEEE division by k. 100 TB posture: both inputs are
    top-k-per-query frames (queries × k rows — tiny by construction),
    so the audit join costs nothing beyond the two pipelines it audits;
    the brute-force side is the one you can only afford on a sample at
    scale, which is exactly how recall audits are run."""
    return _recall_against_exact(spark, sf_dir, sim_ivf_kmeans_topk)


def sim_pq_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@k for the product-quantization index (sim_pq_adc_topk) — the
    PQ twin of sim_recall_audit, so the two trained indexes are measured
    against the same exact-cosine ground truth and directly comparable
    (the IVF/PQ tuning decision is made from exactly this pair of
    numbers). Same integer-intersection exactness contract.

    Observed at test scale: PQ recall lands well BELOW IVF's even with
    the cosine-serving IP-ADC scoring — measured, not surprising: K=8
    centroids per subspace at a fixed 2 Lloyd iterations is a test-scale
    codebook (production uses K=256 per subspace, ~32× finer cells, plus
    an exact re-rank over the ADC top-N). IVF keeps full-precision
    vectors inside each probed cell, so its error is only cell-routing;
    PQ's error is reconstruction itself. The audit is exactly the
    instrument that tells you whether the 64× compression is worth the
    recall at YOUR K/PQ_M/re-rank budget."""
    return _recall_against_exact(spark, sf_dir, sim_pq_adc_topk)


def _recall_against_exact(spark, sf_dir, approx_fn) -> DataFrame:
    # the queries x k ground-truth frame feeds TWO branches (the hits
    # join and the denominator spine) — materialize it once or the
    # brute-force corpus scoring, sort, and window execute per branch
    # (no cross-branch subtree reuse; the localCheckpoint rule for
    # small multi-consumer frames)
    exact = (
        sim_topk_cosine(spark, sf_dir)
        .select("query_id", "cand_id")
        .localCheckpoint(eager=True)
    )
    approx = approx_fn(spark, sf_dir).select("query_id", "cand_id")
    hits = (
        exact.join(approx, ["query_id", "cand_id"])
        .groupBy("query_id")
        .agg(F.count("*").alias("n"))
    )
    return (
        exact.select("query_id")
        .distinct()
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("n"), F.lit(0)).alias("n_hits"),
            (
                F.coalesce(F.col("n"), F.lit(0)).cast("double")
                / F.lit(float(TOP_K))
            ).alias("recall_at_k"),
        )
    )


def _oracle_recall_audit(approx_oracle: str | None = None) -> str:
    return f"""
WITH ex AS (
  SELECT query_id, cand_id FROM ({ORACLE_SIM_TOPK}) x
), ap AS (
  SELECT query_id, cand_id FROM ({approx_oracle or ORACLE_SIM_IVF_KMEANS}) y
), h AS (
  SELECT query_id, COUNT(*) AS n
  FROM ex JOIN ap USING (query_id, cand_id) GROUP BY query_id
)
SELECT q.query_id,
       CAST(COALESCE(h.n, 0) AS BIGINT) AS n_hits,
       CAST(COALESCE(h.n, 0) AS DOUBLE) / CAST({TOP_K} AS DOUBLE)
         AS recall_at_k
FROM (SELECT DISTINCT query_id FROM ex) q LEFT JOIN h USING (query_id)
"""


def sim_cell_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index-health audit: the cell-occupancy balance of the
    sample-fit k-means index sim_ivf_kmeans_topk serves from — probe
    latency is governed by the LARGEST cell touched, so a high
    max/mean imbalance means re-train with more centroids or better
    seeds before shipping the index. One row: cell count, min/max
    occupancy, corpus size, imbalance = max/mean.

    100 TB posture: the final assignment is the zero-shuffle broadcast
    projection the fit already pins; occupancy is one map-side-combined
    agg on the K-value cell key; the balance row is a K-row reduce."""
    emb = load_table(spark, sf_dir, "embeddings")
    emb_d = emb.select(
        "vec_id", F.expr(_TO_DOUBLE.format(a="embedding")).alias("e")
    )
    assigned, _cents = _kmeans_fit(
        emb_d, emb_d.where(F.expr(_TRAIN_PRED_SPARK))
    )
    sizes = assigned.groupBy("cid").agg(F.count("*").alias("n_members"))
    return sizes.agg(
        F.count("*").alias("n_cells"),
        F.min("n_members").alias("min_cell"),
        F.max("n_members").alias("max_cell"),
        F.sum("n_members").alias("n_vectors"),
    ).withColumn(
        "imbalance",
        F.col("max_cell").cast("double")
        * F.col("n_cells")
        / F.col("n_vectors"),
    )


ORACLE_SIM_CELL_BALANCE = f"""
WITH {_KMEANS_CTES_SAMPLED},
sizes AS (
  SELECT cid, COUNT(*) AS n_members
  FROM (SELECT vec_id, cid FROM assign2 WHERE rn = 1) a GROUP BY 1
)
SELECT COUNT(*) AS n_cells,
       CAST(MIN(n_members) AS BIGINT) AS min_cell,
       CAST(MAX(n_members) AS BIGINT) AS max_cell,
       CAST(SUM(n_members) AS BIGINT) AS n_vectors,
       CAST(MAX(n_members) AS DOUBLE) * COUNT(*) / SUM(n_members)
         AS imbalance
FROM sizes
"""


PCA_ITERS = 3

# sequential indexed dot-product fold between two double arrays — the
# shared exactness contract with the DuckDB mirror (1-based generate_series)
_PC_DOT = (
    "aggregate(sequence(0, size({a}) - 1), 0.0d,"
    " (acc, i) -> acc + {a}[i] * {b}[i])"
)


def emb_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leading principal component of the embedding corpus via a fixed
    3-iteration power method, then each vector's projection onto it — the
    dimensionality-reduction / whitening / drift-detection primitive (a
    1-D learned view of the corpus: outliers sit in the tails, duplicate
    clusters collapse to points).

    Fully deterministic, no RNG: v₀ = normalize(𝟙) (exactly 0.125 per
    dim), each iteration computes w = Σ_x x̂(x̂·v) with the centered
    sample x̂ = x − μ, then renormalizes. μ and every per-dimension sum
    run in DECIMAL(38,20) (string-hop convention shared with the k-means
    oracle) so summation order can't move a bit; dot products and norms
    are the fixed sequential index folds. Iteration count is fixed so the
    DuckDB oracle unrolls — production loops the same two building blocks
    until |λ| stabilizes.

    100 TB posture (round 7): μ and the component are fit on the SAME
    deterministic md5-bucket sample the k-means codebooks train on
    (_TRAIN_PRED_SPARK — oracle mirrors the predicate in lockstep), and
    the FULL corpus is touched exactly once, in the final projection
    against the checkpointed 1-row (v, μ·v) frame. Only μ and the final
    (v, μ·v) row are localCheckpoint-materialized: the iteration DAG
    chains lazily (iteration t re-derives t-1 inside the ONE muv
    evaluation — ~Σt sample passes, bounded because the sample is), a
    measured trade: per-iteration checkpoints cost one eager
    shuffle-job each and timed ~40% slower at sf0.1 than letting the
    single muv job run the nested chain. The projection plan contains
    a single FileScan (gate-pinned).

    The projection uses linearity — (x − μ)·v = x·v − μ·v with the
    scalar μ·v precomputed in the broadcast row — so the per-row work is
    one O(dim) fold straight over the scan column. The naive centered
    form would substitute the zip_with(e, mu, ..) alias into the fold
    lambda (single outside reference → CollapseProject inlines it) and
    re-evaluate the whole centered array per element: O(dim²) per row
    over the full corpus. The oracle mirrors the same rewrite, so both
    engines run the identical sequence of float ops."""
    emb = load_table(spark, sf_dir, "embeddings")
    emb_d = emb.select(
        "vec_id", F.expr(_TO_DOUBLE.format(a="embedding")).alias("e")
    )
    train = emb_d.where(F.expr(_TRAIN_PRED_SPARK))
    ex = train.select(F.posexplode("e").alias("pos", "val"))
    mu_rows = ex.groupBy("pos").agg(
        (
            F.sum(F.col("val").cast("decimal(38,20)")).cast("double")
            / F.count("*")
        ).alias("mv")
    )
    mu = mu_rows.agg(
        F.expr(
            "transform(array_sort(collect_list(struct(pos, mv))), s -> s.mv)"
        ).alias("mu")
    ).localCheckpoint()
    xc_t = train.crossJoin(F.broadcast(mu)).select(
        "vec_id", F.expr("zip_with(e, mu, (x, m) -> x - m)").alias("xc")
    )
    v = spark.range(1).select(
        F.expr("array(" + ", ".join(["0.125d"] * DIM) + ")").alias("v")
    )
    for _ in range(PCA_ITERS):
        scored = xc_t.crossJoin(F.broadcast(v)).select(
            "xc", F.expr(_PC_DOT.format(a="xc", b="v")).alias("s")
        )
        w_rows = (
            scored.select(
                F.posexplode(F.expr("transform(xc, x -> x * s)")).alias(
                    "pos", "wv"
                )
            )
            .groupBy("pos")
            .agg(
                F.sum(F.col("wv").cast("decimal(38,20)"))
                .cast("double")
                .alias("w")
            )
        )
        w1 = w_rows.agg(
            F.expr(
                "transform(array_sort(collect_list(struct(pos, w))), s -> s.w)"
            ).alias("w")
        )
        v = w1.select(
            "w",
            F.expr(
                "sqrt(aggregate(transform(w, x -> x * x), 0.0d,"
                " (acc, y) -> acc + y))"
            ).alias("nw"),
        ).select(F.expr("transform(w, x -> x / nw)").alias("v"))
    muv = (
        mu.crossJoin(v)
        .select("v", F.expr(_PC_DOT.format(a="mu", b="v")).alias("mudotv"))
        .localCheckpoint()
    )
    return emb.crossJoin(F.broadcast(muv)).select(
        "vec_id",
        (
            F.expr(
                "aggregate(sequence(0, size(embedding) - 1), 0.0d,"
                " (acc, i) -> acc + cast(embedding[i] as double) * v[i])"
            )
            - F.col("mudotv")
        ).alias("pc1"),
    )


def _oracle_pca() -> str:
    d2 = "list_sum(list_transform(generate_series(1, len(xc)), i -> xc[i] * pv.v[i]))"
    iters = []
    prev = "v0"
    for t in range(1, PCA_ITERS + 1):
        iters.append(f"""s{t} AS (
  SELECT vec_id, xc, {d2.replace('pv.', f'p{t}.')} AS s
  FROM xc CROSS JOIN {prev} p{t}
), wex{t} AS (
  SELECT unnest(generate_series(1, len(xc))) AS pos,
         unnest(list_transform(xc,
            x -> CAST(CAST(x * s AS VARCHAR) AS DECIMAL(38,20)))) AS wv
  FROM s{t}
), wr{t} AS (
  SELECT pos, CAST(CAST(SUM(wv) AS VARCHAR) AS DOUBLE) AS w
  FROM wex{t} GROUP BY pos
), w{t} AS (
  SELECT list(w ORDER BY pos) AS w FROM wr{t}
), v{t} AS (
  SELECT list_transform(w,
           x -> x / sqrt(list_sum(list_transform(w, y -> y * y)))) AS v
  FROM w{t}
)""")
        prev = f"v{t}"
    chain = ",\n".join(iters)
    return f"""
WITH emb AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
  WHERE {_TRAIN_PRED_DUCK}
), mu_ex AS (
  SELECT unnest(generate_series(1, len(e))) AS pos,
         unnest(list_transform(e,
            x -> CAST(CAST(x AS VARCHAR) AS DECIMAL(38,20)))) AS val
  FROM emb
), mu_r AS (
  SELECT pos, CAST(CAST(SUM(val) AS VARCHAR) AS DOUBLE) / COUNT(*) AS mv
  FROM mu_ex GROUP BY pos
), mu AS (
  SELECT list(mv ORDER BY pos) AS mu FROM mu_r
), xc AS (
  SELECT vec_id, list_transform(generate_series(1, len(e)),
           i -> e[i] - m.mu[i]) AS xc
  FROM emb CROSS JOIN mu m
), v0 AS (
  SELECT list_transform(generate_series(1, {DIM}),
           i -> CAST(0.125 AS DOUBLE)) AS v
),
{chain},
muv AS (
  SELECT fv.v AS v,
         list_sum(list_transform(generate_series(1, len(m.mu)),
            i -> m.mu[i] * fv.v[i])) AS mudotv
  FROM mu m CROSS JOIN v{PCA_ITERS} fv
)
SELECT f.vec_id,
       list_sum(list_transform(generate_series(1, len(f.embedding)),
          i -> CAST(f.embedding[i] AS DOUBLE) * mv.v[i])) - mv.mudotv
         AS pc1
FROM embeddings f CROSS JOIN muv mv
"""


QUERIES = {
    "sim_topk_cosine": sim_topk_cosine,
    "emb_centroid_by_label": emb_centroid_by_label,
    "emb_vector_stats": emb_vector_stats,
    "emb_stats_arrow": emb_stats_arrow,
    "sim_lsh_buckets": sim_lsh_buckets,
    "sim_lsh_candidates": sim_lsh_candidates,
    "sim_lsh_multiprobe": sim_lsh_multiprobe,
    "sim_ivf_topk": sim_ivf_topk,
    "sim_topk_pandas": sim_topk_pandas,
    "emb_quantize_int8": emb_quantize_int8,
    "emb_outlier_zscore": emb_outlier_zscore,
    "emb_centroid_drift": emb_centroid_drift,
    "emb_kmeans_assign": emb_kmeans_assign,
    "sim_ivf_kmeans_topk": sim_ivf_kmeans_topk,
    "sim_pq_adc_topk": sim_pq_adc_topk,
    "emb_pca_project": emb_pca_project,
    "sim_recall_audit": sim_recall_audit,
    "sim_pq_recall_audit": sim_pq_recall_audit,
    "sim_cell_balance": sim_cell_balance,
    "sim_ivf_index_topk": sim_ivf_index_topk,
}

ORACLES = {
    "sim_topk_cosine": ORACLE_SIM_TOPK,
    "emb_centroid_by_label": ORACLE_EMB_CENTROID,
    "emb_vector_stats": ORACLE_EMB_STATS,
    "emb_stats_arrow": ORACLE_EMB_STATS_ARROW,
    "sim_lsh_buckets": ORACLE_SIM_LSH,
    "sim_lsh_candidates": ORACLE_SIM_LSH_CAND,
    "sim_lsh_multiprobe": _oracle_multiprobe(),
    "sim_ivf_topk": ORACLE_SIM_IVF,
    # the pandas path's OUTPUT is integer-only (query_id, cand_id, rank —
    # the BLAS float never leaves the plan). Both sides rank on the
    # cosine QUANTIZED to a 1e-9 grid (np.round in score(), ROUND here)
    # so BLAS-vs-SQL-fold summation-order error cannot rank-flip
    # near-ties (round-6 ADVICE); grid-equal scores fall to the shared
    # cand_id ASC tie-break. Residual risk, accepted: a pair whose two
    # engine-side values straddle a grid midpoint (they differ by
    # ~1e-15, so the straddle window is ~1e-6 of the grid), or sit
    # EXACTLY on one (np.round is half-even, DuckDB ROUND half-away —
    # a .5e-9 midpoint is not exactly representable in binary, so this
    # needs the 1e-15 error to land it exactly there), can still
    # quantize apart; no finite grid removes that, it only shrinks it
    # from ~every-near-tie to ~never. Ranking parity with the SQL path
    # is additionally pinned by
    # tests/test_plans.py::test_pandas_topk_ranking_matches_sql_path
    "sim_topk_pandas": f"""
WITH u AS ({_normed_duck_cte()}),
q AS (SELECT vec_id AS query_id, embedding AS q_emb, nrm AS q_nrm
      FROM u WHERE vec_id < {N_QUERIES}),
scored AS (
  SELECT q.query_id, c.vec_id AS cand_id,
         ROUND({_DOT_DUCK.format(a='q.q_emb', b='c.embedding')}
               / (q.q_nrm * c.nrm), 9) AS qcos
  FROM q CROSS JOIN u c
  WHERE c.vec_id != q.query_id
)
SELECT query_id, cand_id, rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY qcos DESC, cand_id ASC) AS rank
  FROM scored
) WHERE rank <= {TOP_K}
""",
    "emb_quantize_int8": ORACLE_EMB_QUANTIZE,
    "emb_outlier_zscore": ORACLE_EMB_OUTLIER,
    "emb_centroid_drift": ORACLE_EMB_DRIFT,
    "emb_kmeans_assign": ORACLE_EMB_KMEANS,
    "sim_ivf_kmeans_topk": ORACLE_SIM_IVF_KMEANS,
    # deterministic fit => the persisted-index round-trip must return
    # exactly the fit-inline answer; same oracle, different machinery
    "sim_ivf_index_topk": ORACLE_SIM_IVF_KMEANS,
    "sim_pq_adc_topk": _oracle_pq_adc(),
    "emb_pca_project": _oracle_pca(),
    "sim_recall_audit": _oracle_recall_audit(),
    "sim_pq_recall_audit": _oracle_recall_audit(_oracle_pq_adc()),
    "sim_cell_balance": ORACLE_SIM_CELL_BALANCE,
}


NORM_HIST_BINS = 20
NORM_HIST_WIDTH = 0.1  # buckets over [0, 2); out-of-range clamps to edges


def emb_norm_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level QA rollup: the distribution of embedding L2 norms —
    the first thing to look at before IP/cosine ANN (zero-norm rows break
    cosine, a bimodal norm histogram usually means two embedding models
    got mixed into one corpus). Norms are the shared sequential fold, so
    every bucket edge decision is made on bit-identical doubles.

    100 TB posture: scan-speed projection into a map-side-combined agg on
    a 20-value key."""
    emb = load_table(spark, sf_dir, "embeddings")
    nrm = emb.select(
        F.expr(
            _NRM_E_SPARK.format(a=_TO_DOUBLE.format(a="embedding"))
        ).alias("nrm")
    )
    bucket = F.least(
        F.greatest(F.floor(F.col("nrm") / NORM_HIST_WIDTH), F.lit(0)),
        F.lit(NORM_HIST_BINS - 1),
    ).cast("bigint")
    return (
        nrm.groupBy(bucket.alias("bin"))
        .agg(F.count("*").alias("n_vectors"))
        .select(
            "bin",
            (F.col("bin").cast("double") * NORM_HIST_WIDTH).alias("lo"),
            ((F.col("bin") + 1).cast("double") * NORM_HIST_WIDTH).alias("hi"),
            "n_vectors",
        )
    )


ORACLE_EMB_NORM_DIST = f"""
WITH n AS (
  SELECT {_NRM_E_DUCK.format(a="list_transform(embedding, v -> CAST(v AS DOUBLE))")} AS nrm
  FROM embeddings
), b AS (
  SELECT CAST(LEAST(GREATEST(FLOOR(nrm / {NORM_HIST_WIDTH}), 0),
                    {NORM_HIST_BINS - 1}) AS BIGINT) AS bin
  FROM n
)
SELECT bin,
       CAST(bin AS DOUBLE) * {NORM_HIST_WIDTH} AS lo,
       CAST(bin + 1 AS DOUBLE) * {NORM_HIST_WIDTH} AS hi,
       COUNT(*) AS n_vectors
FROM b GROUP BY bin
"""


QUERIES["emb_norm_distribution"] = emb_norm_distribution
ORACLES["emb_norm_distribution"] = ORACLE_EMB_NORM_DIST


# --- persisted-index APPEND lifecycle ----------------------------------------

IVF_APPEND_OFFSET = 1_000_000  # id-space shift for the appended batch
IVF_APPEND_SHIFT = 0.25        # coordinate-0 shift decorrelating the batch


def _ivf_decorrelated_batch(emb_d: DataFrame) -> DataFrame:
    """The deterministic derived batch every maintenance registry op
    appends (id space shifted by IVF_APPEND_OFFSET, coordinate 0 by
    IVF_APPEND_SHIFT) — ONE definition so the four former hand-synced
    copies (append/delete/retrain ops + lifecycle tests) can never
    drift from _IVF_DELETE_PRED and the oracles (round-11 review)."""
    return emb_d.select(
        (F.col("vec_id") + IVF_APPEND_OFFSET).alias("vec_id"),
        F.expr(
            f"concat(array(e[0] + {IVF_APPEND_SHIFT}d),"
            " slice(e, 2, size(e) - 1))"
        ).alias("e"),
    )


def _ivf_delete_ids(emb: DataFrame) -> DataFrame:
    """The deterministic delete subset of the delete/retrain registry
    ops — the Spark twin of _IVF_DELETE_PRED."""
    return (
        emb.select("vec_id")
        .where(F.expr("vec_id % 5 = 3"))
        .unionByName(
            emb.where(F.expr("vec_id % 7 = 2")).select(
                (F.col("vec_id") + IVF_APPEND_OFFSET).alias("vec_id")
            )
        )
    )


def append_ivf_index(
    spark: SparkSession, index_dir: str, batch_d: DataFrame
) -> None:
    """Assign a NEW batch of (vec_id, e) rows through the PERSISTED
    codebook and append them to the cell-partitioned member table — the
    index-maintenance half of the lifecycle: no refit, no touch of the
    existing members, one zero-shuffle assignment projection over the
    batch plus one partitioned append write. The production cadence is
    build once / append per-ingest / refit only when the cell-balance
    audit (sim_cell_balance) says the codebook has drifted."""
    base_dir = resolve_index_base(spark, index_dir)
    cents = spark.read.parquet(f"{base_dir}/centroids.parquet")
    (
        _members_projection(_kmeans_assign(batch_d, cents))
        .write.mode("append")
        .partitionBy("cluster_id")
        .parquet(f"{base_dir}/members.parquet")
    )


def _index_fs(spark: SparkSession, path: str):
    """(jvm, hadoop FileSystem, jPath) for an index-directory path."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jvm, jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


# --- whole-index snapshot protocol -------------------------------------------
#
# retrain_ivf_index rewrites BOTH halves of the index (codebook + members),
# and before round 12 those two overwrites were the documented crash/reader
# window: a reader between them saw the new codebook over the old members —
# assignments the codebook doesn't explain (the round-11 honest-limits
# note). The fix is the ingest fold's manifest protocol applied to the
# WHOLE index directory:
#
#   {index_dir}/index-manifest-v{M}.json   <- newest version wins (atomic
#                                             create-temp + rename commit)
#   {index_dir}/base-v{M}-{nonce}/         <- ONE self-contained snapshot:
#       centroids.parquet                     codebook
#       members.parquet/                      cell-partitioned base table
#       tombstones.parquet/                   pending deletes (optional)
#       members_ingest.parquet/               streamed generations (optional)
#
# Every reader and every incremental writer (append / delete / ingest /
# compact) RESOLVES the base directory through the newest manifest first,
# so tombstones and ingest generations written after a retrain live INSIDE
# the generation they apply to — a retrain's fold consumes them by
# construction (the new base dir starts empty) and the manifest rename is
# the single commit point: before it readers see the old snapshot exactly,
# after it the new one exactly. A never-retrained index has no manifest
# and resolves to {index_dir} itself — the legacy flat layout, unchanged,
# which is also what build_ivf_index writes (generation 0 IS the root).
#
# Crash windows (all repaired by re-running the retrain, single-writer
# batch-maintenance contract):
#   - before the manifest commit: an orphan base-v dir nobody references;
#     readers still see the old snapshot exactly (THE closed window). The
#     orphan is age-gated GC'd by a later retrain (it may belong to a
#     live concurrent attempt — same rule as the manifest-temp sweep).
#   - after the commit, before GC: the superseded snapshot's files linger;
#     readers resolved to the new base never touch them; the next retrain
#     re-sweeps. Old tombstones/ingest linger INSIDE the dead base dir,
#     so they can never be mis-applied to the new base (the flat layout
#     could not have guaranteed this — a leftover root tombstone would
#     have hidden a re-ingested id the retrain legitimately absorbed).
#   - GC racing a reader that resolved the OLD manifest: the reader fails
#     loudly on deleted files (transient, retry resolves the new base) —
#     the same stance as the ingest fold's post-commit GC, never silent
#     wrong answers.

_INDEX_MANIFEST_RE = re.compile(r"index-manifest-v(\d+)\.json$")


def _list_index_root(spark: SparkSession, index_dir: str):
    """(manifest_versions, base_dirs, tmp_entries) from the root listing —
    the manifest is authoritative for reads; ``base_dirs`` and
    ``tmp_entries`` are (name, modification_ms) pairs feeding only the
    retrain's age-gated GC."""
    _, fs, jpath = _index_fs(spark, index_dir)
    versions, bases, tmps = [], [], []
    if not fs.exists(jpath):
        return versions, bases, tmps
    for status in fs.listStatus(jpath):
        fname = status.getPath().getName()
        if status.isDirectory() and fname.startswith("base-v"):
            bases.append((fname, status.getModificationTime()))
        elif fname.startswith(".index-manifest-") and fname.endswith(".tmp"):
            tmps.append((fname, status.getModificationTime()))
        else:
            m = _INDEX_MANIFEST_RE.match(fname)
            if m:
                versions.append(int(m.group(1)))
    return sorted(versions), bases, tmps


def read_index_manifest(spark: SparkSession, index_dir: str):
    """The highest-version index manifest, or None (never retrained —
    the flat legacy layout)."""
    from datafusion_loki_spark.functions.layout import read_json_file

    versions, _, _ = _list_index_root(spark, index_dir)
    if not versions:
        return None
    return read_json_file(
        spark, f"{index_dir}/index-manifest-v{versions[-1]}.json"
    )


def resolve_index_base(spark: SparkSession, index_dir: str) -> str:
    """The directory holding the CURRENT index snapshot: the newest
    manifest's base-v dir, or ``index_dir`` itself for a never-retrained
    index. Every read/write path of the lifecycle resolves through this
    exactly once per operation (one resolution per operation, not per
    file, so a single operation can never straddle a concurrent retrain's
    commit with half its paths old and half new)."""
    manifest = read_index_manifest(spark, index_dir)
    if manifest is None:
        return index_dir
    return f"{index_dir}/{manifest['base']}"


# the ``gen`` a tombstone records for a base-table (members.parquet)
# target — far below any streamed generation id (ingest gens are >= 0
# live, -(version*1e9 + nonce) compacted; versions would need to exceed
# 4.6e9 to reach this)
TOMBSTONE_BASE_GEN = -(2**62)

# explicit read schemas (_members_projection is the write-side contract):
# schema-less parquet reads CRASH on a data-less directory ('unable to
# infer schema'), and both tables have legitimate empty terminal states —
# members after a delete-everything compaction, tombstones after a crash
# window — that must read as 0 rows (round-10 review)
MEMBERS_SCHEMA = "vec_id bigint, e array<double>, c_nrm double, cluster_id int"
TOMBSTONES_SCHEMA = "vec_id bigint, gen bigint, cluster_id int"


def _read_members(spark: SparkSession, base_dir: str) -> DataFrame:
    # base_dir is a RESOLVED snapshot dir (resolve_index_base) — the
    # public entry points resolve once per operation and thread it down
    return spark.read.schema(MEMBERS_SCHEMA).parquet(
        f"{base_dir}/members.parquet"
    )


def _read_tombstones(spark: SparkSession, base_dir: str) -> "DataFrame | None":
    """(cluster_id, vec_id, gen) tombstones of a maintained index, or
    None if the index has no pending deletes. ``gen`` scopes the
    tombstone to the GENERATION its target row lived in at delete time
    (TOMBSTONE_BASE_GEN for the base table) — without it, a deleted
    vec_id RE-INGESTED into the same cell would be silently hidden, and
    whichever compactor folded one copy would consume the tombstone and
    resurrect the other (round-10 review). Tombstones are APPEND-ONLY
    between compactions; only a compaction (which physically removes
    the rows) rewrites or removes them."""
    path = f"{base_dir}/tombstones.parquet"
    _, fs, jpath = _index_fs(spark, path)
    if not fs.exists(jpath):
        return None
    return (
        spark.read.schema(TOMBSTONES_SCHEMA)
        .parquet(path)
        .select("cluster_id", "vec_id", "gen")
    )


def delete_ivf_index(
    spark: SparkSession, index_dir: str, ids: DataFrame
) -> None:
    """DELETE vec_ids from the persisted index — the missing third verb
    of the lifecycle (build / append / delete / compact; round-9 VERDICT
    #4). Deletes are TOMBSTONES, keyed like appends: one lookup join
    against the live VERSIONED member view pins each id to its cell AND
    its generation (base table vs specific ingest gen), and the write
    appends (vec_id, gen, cluster_id) partitioned by cluster_id — so the
    read-side anti-join and the compaction fold are both cell-local, and
    a LATER re-ingest of the same vec_id (delete + reinsert = update) is
    a different generation the tombstone does not touch. Index bytes are
    never touched here; the physical removal happens at the next
    compaction (compact_ivf_members for the batch table,
    pipeline.compact_ivf_ingest for streamed generations).

    The lookup rides the LIVE view (base + live ingest generations MINUS
    existing tombstones), which makes deletion idempotent: re-deleting
    an already-tombstoned or unknown id finds no member row and writes
    nothing. ``ids`` needs only a ``vec_id`` column.

    One documented base-table edge: batch re-APPENDS land in
    members.parquet with the same (cluster_id, vec_id, BASE) key as the
    deleted copy, so a re-append while its delete is still pending is
    hidden and folded WITH the old copy (the batch path is single-writer
    maintenance by contract; re-appending after the compaction behaves
    normally). Streamed re-ingests — the production update path — carry
    their own generation and are never affected."""
    from datafusion_loki_spark.streaming.pipeline import ivf_members_versioned

    # resolve ONCE: the live-view lookup and the tombstone write must
    # target the same snapshot (maintenance verbs are single-writer by
    # contract, so no retrain can commit between them — the resolve is
    # about never constructing paths from two different manifests)
    base_dir = resolve_index_base(spark, index_dir)
    live = ivf_members_versioned(spark, base_dir).select(
        "vec_id", "cluster_id", "gen"
    )
    tomb = live.join(ids.select("vec_id"), "vec_id").localCheckpoint(
        eager=True
    )
    if tomb.isEmpty():
        # write nothing, as documented — an unguarded append would
        # create a DATA-LESS tombstones.parquet (just _SUCCESS) whose
        # existence every reader then trips over (round-10 review)
        return
    (
        tomb.select("vec_id", "gen", "cluster_id")
        .write.mode("append")
        .partitionBy("cluster_id")
        .parquet(f"{base_dir}/tombstones.parquet")
    )


def _rewrite_tombstones(
    spark: SparkSession, base_dir: str, t: DataFrame, consumed: DataFrame
) -> int:
    """Persist ``t`` MINUS ``consumed`` as the new tombstone set (delete
    the directory outright when nothing survives) — the commit tail
    shared by both compaction paths. Runs strictly AFTER the member/
    generation rewrite committed: a crash before this point leaves extra
    tombstones whose target rows are already gone, which the read-side
    anti-join no-ops on and the next compaction sweeps (idempotent,
    never resurrecting). ``consumed`` must be a subset of ``t`` (full
    rows incl. the gen scope) severed from the files being rewritten
    (callers checkpoint it). Returns surviving count."""
    from datafusion_loki_spark.functions.layout import write_partitioned

    keys = ["cluster_id", "vec_id", "gen"]
    survivors = t.join(
        consumed.select(*keys), keys, "left_anti"
    ).localCheckpoint(eager=True)
    tomb_path = f"{base_dir}/tombstones.parquet"
    jvm, fs, jpath = _index_fs(spark, tomb_path)
    n = survivors.count()
    if n == 0:
        fs.delete(jpath, True)
        return 0
    # cell sets captured BEFORE the overwrite — t reads the very files
    # being replaced, so a post-write evaluation would see the new set
    t_cells = {
        r.cluster_id for r in t.select("cluster_id").distinct().collect()
    }
    s_cells = {
        r.cluster_id
        for r in survivors.select("cluster_id").distinct().collect()
    }
    write_partitioned(
        survivors.select("vec_id", "gen", "cluster_id"),
        tomb_path,
        partition_by=["cluster_id"],
    )
    # the overwrite is dynamic: cells whose tombstones were all consumed
    # never appear in survivors — clear their stale directories
    for cid in t_cells - s_cells:
        fs.delete(
            jvm.org.apache.hadoop.fs.Path(f"{tomb_path}/cluster_id={cid}"),
            True,
        )
    return n


def _subtract_tombstones(
    spark: SparkSession,
    base_dir: str,
    members: DataFrame,
    versioned: bool = False,
) -> DataFrame:
    """The query-side anti-join: live = members MINUS tombstones —
    cell-local, so at scale both sides shuffle on the same narrow key
    (or broadcast when the tombstone set is small: the tombstone side
    is a plain FileScan with real size stats, so Catalyst's choice is
    trustworthy here — no pin needed, unlike the family's stat-less
    frames). ``versioned=False`` (base-table readers, no gen column)
    subtracts only BASE-scoped tombstones on (cluster_id, vec_id);
    ``versioned=True`` expects a ``gen`` column and subtracts on the
    full (cluster_id, vec_id, gen) key, so a re-ingested generation of
    a deleted id stays visible."""
    t = _read_tombstones(spark, base_dir)
    if t is None:
        return members
    if versioned:
        return members.join(t, ["cluster_id", "vec_id", "gen"], "left_anti")
    return members.join(
        t.where(F.col("gen") == TOMBSTONE_BASE_GEN).select(
            "cluster_id", "vec_id"
        ),
        ["cluster_id", "vec_id"],
        "left_anti",
    )


def compact_ivf_members(
    spark: SparkSession, index_dir: str, files_per_partition: int = 1
) -> dict:
    """Fold the file accretion of repeated append_ivf_index batches back
    to ``files_per_partition`` files per cluster — the batch-lifecycle
    half of the generation-compaction story (round-9 VERDICT #5; the
    streaming half is pipeline.compact_ivf_ingest).

    Why this path does NOT need the streaming side's versioned-manifest
    protocol: (a) append batches never move a row across partition
    values — the persisted codebook fixes each vector's cluster_id at
    append time, so the in-place dynamic overwrite rewrites every
    partition to identical content, and a crash mid-commit leaves some
    partitions compacted and others not, both CORRECT — the manifest
    existed to guard cross-partition moves (gen folding) where a torn
    commit double-counts rows; (b) batch maintenance is single-writer by
    operational contract (one maintenance job), unlike streaming ingest
    where compaction races live micro-batches.

    Tombstone folding (round-9 VERDICT #4): pending deletes targeting
    THIS table are physically removed during the rewrite and their
    tombstones consumed; tombstones targeting streamed ingest rows (not
    in members.parquet) SURVIVE untouched — they belong to
    compact_ivf_ingest's fold. Two fold-specific edges: a cell emptied
    by the fold is absent from the rewritten frame, so the dynamic
    overwrite would leave its stale directory — emptied cells are
    deleted explicitly (the affected-cell set is bounded by the
    codebook's K); and the tombstone rewrite happens AFTER the member
    rewrite, so a crash between the two leaves extra tombstones whose
    targets are already gone — the anti-join no-ops on them and the
    next compaction sweeps them (idempotent, never resurrecting).
    Returns audit stats: rows rewritten, rows deleted, and parquet file
    counts before/after."""
    from datafusion_loki_spark.functions.layout import (
        count_parquet_files,
        write_partitioned,
    )

    base_dir = resolve_index_base(spark, index_dir)
    members_path = f"{base_dir}/members.parquet"
    files_before = count_parquet_files(spark, members_path)
    t = _read_tombstones(spark, base_dir)
    if t is None:
        # the compact_partitions flow, inlined over the EXPLICIT-schema
        # read: the generic helper's schema-less read crashes on the
        # data-less terminal state a delete-everything fold leaves
        # (round-10 review), which must instead be a 0-row no-op
        df = _read_members(spark, base_dir)
        staged = df.localCheckpoint(eager=True)
        rows = staged.count()
        rows_deleted = 0
        if rows:
            write_partitioned(
                staged,
                members_path,
                partition_by=["cluster_id"],
                files_per_partition=files_per_partition,
            )
    else:
        df = _read_members(spark, base_dir)
        keys = ["cluster_id", "vec_id"]
        n_before = df.count()
        # consumed = EVERY base-scoped tombstone: this fold removes all
        # matching base rows, and a base tombstone whose row is already
        # gone (a prior crash between member rewrite and tombstone
        # rewrite) is dead by definition — consuming it here is the
        # sweep that keeps crash leftovers from accumulating. Ingest-
        # scoped tombstones belong to compact_ivf_ingest's fold.
        # Checkpointed: consumed is read AFTER the member rewrite below
        # (cell collects, tombstone rewrite) — unsevered, its DAG would
        # re-read files the tombstone rewrite overwrites.
        consumed = t.where(
            F.col("gen") == TOMBSTONE_BASE_GEN
        ).localCheckpoint(eager=True)
        staged = df.join(consumed.select(*keys), keys, "left_anti").localCheckpoint(
            eager=True
        )
        rows = staged.count()
        # exact row delta, not len(consumed): the documented re-append
        # edge can put several base rows under one tombstoned key
        rows_deleted = n_before - rows
        write_partitioned(
            staged,
            members_path,
            partition_by=["cluster_id"],
            files_per_partition=files_per_partition,
        )
        # cells emptied by the fold: dynamic overwrite never touched
        # their directories — remove them (bounded driver-side sets:
        # both are subsets of the K codebook cells)
        affected = {
            r.cluster_id
            for r in consumed.select("cluster_id").distinct().collect()
        }
        surviving_cells = {
            r.cluster_id
            for r in staged.select("cluster_id").distinct().collect()
        }
        jvm, fs, _ = _index_fs(spark, members_path)
        for cid in affected - surviving_cells:
            fs.delete(
                jvm.org.apache.hadoop.fs.Path(
                    f"{members_path}/cluster_id={cid}"
                ),
                True,
            )
        _rewrite_tombstones(spark, base_dir, t, consumed)
    return {
        "rows": rows,
        "rows_deleted": rows_deleted,
        "files_before": files_before,
        "files_after": count_parquet_files(spark, members_path),
    }


def sim_ivf_index_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The registry face of index MAINTENANCE: build the IVF index,
    append a derived batch (the corpus shifted to a disjoint id space
    with coordinate 0 displaced by IVF_APPEND_SHIFT — deterministic, so
    the oracle mirrors the derivation exactly), then answer the standard
    query set through the merged on-disk index. What this adds over
    sim_ivf_index_topk's round-trip: the appended members route through
    the PERSISTED codebook (codebook serde -> assignment -> partitioned
    append), and the query's partition pruning and top-k must see base
    and appended cells as one table — candidates from the batch can and
    do displace base candidates in the top-k.

    Idempotence: the build overwrites the member table before the one
    append, so repeated invocations (warm-up, parity, bench) see the
    identical two-generation index. Exactness: +0.25 on a double and
    the id offset are exact; assignment and scoring reuse the shared
    fold expressions, so every value matches the unrolled oracle
    bit-for-bit."""
    index_dir = scratch_index_dir(spark, sf_dir, "ivf_append")
    build_ivf_index(spark, sf_dir, index_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    emb_d = emb.select(
        "vec_id", F.expr(_TO_DOUBLE.format(a="embedding")).alias("e")
    )
    append_ivf_index(spark, index_dir, _ivf_decorrelated_batch(emb_d))
    return query_ivf_index(spark, sf_dir, index_dir)


ORACLE_SIM_IVF_APPEND = f"""
WITH {{ctes}},
batch AS (
  SELECT vec_id + {IVF_APPEND_OFFSET} AS vec_id,
         list_prepend(e[1] + {IVF_APPEND_SHIFT}, e[2:]) AS e
  FROM emb
),
scored_b AS (
  SELECT batch.vec_id, c.cid, {{d2_batch}} AS d2
  FROM batch CROSS JOIN cents1 c
),
assign_b AS (
  SELECT vec_id, cid,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cid ASC) AS rn
  FROM scored_b
),
members AS (
  SELECT emb.vec_id, a2.cid AS cluster_id, emb.e,
         {{nrm_base}} AS c_nrm
  FROM (SELECT vec_id, cid FROM assign2 WHERE rn = 1) a2
  JOIN emb USING (vec_id)
  UNION ALL
  SELECT batch.vec_id, ab.cid AS cluster_id, batch.e,
         {{nrm_batch}} AS c_nrm
  FROM (SELECT vec_id, cid FROM assign_b WHERE rn = 1) ab
  JOIN batch USING (vec_id)
),
nq AS (
  SELECT vec_id AS query_id, e AS q_emb,
         {{nrm_q}} AS q_nrm
  FROM emb WHERE vec_id < {N_QUERIES}
),
probes AS (
  SELECT query_id, q_emb, q_nrm, cid AS cluster_id FROM (
    SELECT nq.query_id, nq.q_emb, nq.q_nrm, c.cid,
           ROW_NUMBER() OVER (PARTITION BY nq.query_id
                              ORDER BY {{d2_q}} ASC,
                                       c.cid ASC) AS rn
    FROM nq CROSS JOIN cents1 c
  ) WHERE rn <= {IVF_PROBES}
),
ivf_scored AS (
  SELECT p.query_id, m.vec_id AS cand_id, m.cluster_id,
         list_sum(list_transform(generate_series(1, len(p.q_emb)),
            i -> p.q_emb[i] * m.e[i])) / (p.q_nrm * m.c_nrm) AS cosine
  FROM probes p JOIN members m USING (cluster_id)
  WHERE m.vec_id != p.query_id
)
SELECT query_id, rank, cand_id, cluster_id, cosine FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, cand_id ASC) AS rank
  FROM ivf_scored
) WHERE rank <= {TOP_K}
"""


def _oracle_ivf_append() -> str:
    return ORACLE_SIM_IVF_APPEND.format(
        ctes=_KMEANS_CTES_SAMPLED,
        d2_batch=_km_d2_duck("batch.e"),
        d2_q=_km_d2_duck("nq.q_emb"),
        nrm_base=_NRM_E_DUCK.format(a="emb.e"),
        nrm_batch=_NRM_E_DUCK.format(a="batch.e"),
        nrm_q=_NRM_E_DUCK.format(a="e"),
    )


QUERIES["sim_ivf_index_append"] = sim_ivf_index_append
ORACLES["sim_ivf_index_append"] = _oracle_ivf_append()


def sim_ivf_index_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The registry face of index DELETION (round-9 VERDICT #4): build
    the IVF index, append the same derived batch as sim_ivf_index_append,
    then DELETE a deterministic subset — every base vector with
    vec_id % 5 == 3 and every appended vector whose source had
    vec_id % 7 == 2 — via tombstones, and answer the standard query set
    through the LIVE view (the query-side anti-join; the physical fold
    is compact_ivf_members, pinned value-identical in
    tests/test_ivf_tombstones.py). Deleted rows must vanish from every
    top-k: the oracle builds the two-generation index and filters the
    member CTE by the same predicate — an index that never contained
    the deleted rows."""
    index_dir = scratch_index_dir(spark, sf_dir, "ivf_delete")
    build_ivf_index(spark, sf_dir, index_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    emb_d = emb.select(
        "vec_id", F.expr(_TO_DOUBLE.format(a="embedding")).alias("e")
    )
    append_ivf_index(spark, index_dir, _ivf_decorrelated_batch(emb_d))
    delete_ivf_index(spark, index_dir, _ivf_delete_ids(emb))
    return query_ivf_index(spark, sf_dir, index_dir)


_IVF_DELETE_PRED = (
    f"(vec_id < {IVF_APPEND_OFFSET} AND vec_id % 5 = 3)"
    f" OR (vec_id >= {IVF_APPEND_OFFSET}"
    f" AND (vec_id - {IVF_APPEND_OFFSET}) % 7 = 2)"
)


def _oracle_ivf_delete() -> str:
    """The append oracle with the member CTE filtered by the delete
    predicate — tombstoned rows behave exactly as if never indexed."""
    base = _oracle_ivf_append()
    assert base.count("members AS (") == 1
    out = base.replace("members AS (", "members0 AS (", 1)
    assert out.count("ivf_scored AS (") == 1
    return out.replace(
        "ivf_scored AS (",
        "members AS (\n"
        f"  SELECT * FROM members0 WHERE NOT ({_IVF_DELETE_PRED})\n"
        "),\nivf_scored AS (",
        1,
    )


def retrain_ivf_index(spark: SparkSession, index_dir: str) -> dict:
    """RETRAIN the persisted index — the fifth lifecycle verb (build /
    append / delete / compact / retrain): refit the codebook on the
    LIVE member view (base + live ingest generations MINUS pending
    tombstones) and rewrite the index as a fresh single-generation
    base. This is what a production deployment runs when
    sim_cell_balance says the codebook has drifted — appends route
    through centroids fitted on OLD data, and enough of them skew the
    cell geometry until recall degrades.

    Fold semantics: the rewrite CONSUMES everything — pending
    tombstones (their target rows are filtered out of the live
    snapshot before the refit, so nothing can match them again) and
    all streamed ingest generations + their manifest (absorbed into
    the new base). The result is value-identical to an index BUILT
    from scratch on the live vector set: _kmeans_fit is deterministic
    given the SET (md5-bucket sample, fixed seeds = lowest live
    vec_ids < KMEANS_K, fixed iterations, order-independent
    decimal-exact means), which is exactly what the oracle replays.

    Crash/concurrency contract — the whole-index snapshot protocol
    (section above): the fresh base lands in an UNREFERENCED
    ``base-v{M}-{nonce}`` dir, and the atomic ``index-manifest-v{M}``
    rename is the single commit point. A reader at ANY moment sees
    either the old snapshot exactly or the new one exactly — the
    round-11 honest limit (a reader between the centroid and member
    overwrites saw a mixed codebook/members state) is closed: those
    two writes now happen where no manifest points. Tombstones and
    ingest generations are consumed STRUCTURALLY — they live inside
    the superseded base dir, which the new snapshot never references —
    so there is no ordering window in which a stale tombstone could
    hide a legitimately re-absorbed row. A crash anywhere is repaired
    by RE-RUNNING the retrain: before the commit the old snapshot is
    fully intact (the orphan base dir is age-gated GC'd later); after
    it the re-run refits the already-clean new base (deterministic,
    value-identical — the live view dedups per vec_id with
    NEWEST-GENERATION-WINS and seeds on the K LOWEST LIVE vec_ids, the
    round-11 re-run-exactness properties). Batch maintenance stays
    single-writer by contract; the nonce'd base dir plus the
    no-delete-before-rename commit make a violating concurrent retrain
    fail loudly instead of corrupting (the loser's dir is never
    referenced and never clobbers the winner's).

    100 TB posture: one live-view scan (partition-pruned reads + the
    tombstone anti-join) + one per-vec_id window on that candidate
    frame, the sample-fit iteration passes (never the full corpus),
    ONE full assignment pass, one clustered write — the build's cost
    profile plus the dedup window, which is the floor for a refit. The
    copy-on-write base costs no extra pass: the old layout's in-place
    overwrite wrote the same bytes, just on top of the files readers
    were using. Returns audit stats."""
    from datafusion_loki_spark.functions.layout import (
        atomic_manifest_commit,
    )
    from datafusion_loki_spark.streaming.pipeline import (
        _TMP_SWEEP_AGE_MS,
        _fs_now_ms,
        ivf_members_versioned,
    )

    jvm, fs, _ = _index_fs(spark, index_dir)
    # pre-commit snapshot of the root: the manifest chain tells us what
    # the commit supersedes; bases/tmps feed the age-gated orphan sweep
    # (listed BEFORE this attempt writes anything, so it never sweeps
    # its own in-flight state — the compact_ivf_ingest rule)
    old_manifest = read_index_manifest(spark, index_dir)
    versions, pre_bases, pre_tmps = _list_index_root(spark, index_dir)
    old_base_name = old_manifest["base"] if old_manifest else None
    old_base = (
        f"{index_dir}/{old_base_name}" if old_base_name else index_dir
    )
    new_version = (versions[-1] if versions else 0) + 1
    from datafusion_loki_spark.functions.checkpoints import release

    newest = Window.partitionBy("vec_id").orderBy(
        F.desc("gen"), F.asc("cluster_id")
    )
    live_d = (
        ivf_members_versioned(spark, old_base)
        .select("vec_id", "e", "gen", "cluster_id")
        .withColumn("rn", F.row_number().over(newest))
        .where(F.col("rn") == 1)
        .select("vec_id", "e")
        .localCheckpoint(eager=True)
    )
    seeds = live_d.orderBy("vec_id").limit(KMEANS_K)
    assigned, cents = _kmeans_fit(
        live_d, live_d.where(F.expr(_TRAIN_PRED_SPARK)), seeds_d=seeds
    )
    new_base_name = f"base-v{new_version}-{uuid.uuid4().hex[:8]}"
    _write_index(assigned, cents, f"{index_dir}/{new_base_name}")
    # THE commit: atomic rename; a concurrent attempt that won this
    # version makes the rename fail loudly (contract violation surfaced,
    # winner's data untouched — our orphan dir is swept by a later GC)
    atomic_manifest_commit(
        spark,
        index_dir,
        f"index-manifest-v{new_version}.json",
        {"version": new_version, "base": new_base_name},
    )
    # --- post-commit GC (pure cleanup: nothing below is referenced by
    # the committed manifest; a crash mid-GC leaves garbage bytes a
    # later retrain re-sweeps, never wrong results) ---
    # the flat legacy root's four well-known entries are dead under ANY
    # committed manifest (the root layout is only resolvable with no
    # manifest at all) — swept unconditionally, so a first retrain that
    # crashed before ITS sweep is re-swept by every later retrain
    for sub in (
        "centroids.parquet",
        "members.parquet",
        "tombstones.parquet",
        "members_ingest.parquet",
    ):
        fs.delete(
            jvm.org.apache.hadoop.fs.Path(f"{index_dir}/{sub}"), True
        )
    now_ms = None
    for name, mod_ms in pre_bases:
        if name == old_base_name:
            # the superseded snapshot — certainly dead under the new
            # manifest (its tombstones/ingest die inside it)
            fs.delete(
                jvm.org.apache.hadoop.fs.Path(f"{index_dir}/{name}"), True
            )
        else:
            # an orphan from a crashed attempt — or a LIVE concurrent
            # attempt's in-flight dir: age-gate on the FS's own clock,
            # exactly like the manifest-temp sweep
            if now_ms is None:
                now_ms = _fs_now_ms(jvm, fs, index_dir)
            if now_ms - mod_ms >= _TMP_SWEEP_AGE_MS:
                fs.delete(
                    jvm.org.apache.hadoop.fs.Path(f"{index_dir}/{name}"),
                    True,
                )
    for v in versions:  # every pre-listed manifest is now superseded
        fs.delete(
            jvm.org.apache.hadoop.fs.Path(
                f"{index_dir}/index-manifest-v{v}.json"
            ),
            False,
        )
    if pre_tmps:
        if now_ms is None:
            now_ms = _fs_now_ms(jvm, fs, index_dir)
        for fname, mod_ms in pre_tmps:
            if now_ms - mod_ms >= _TMP_SWEEP_AGE_MS:
                fs.delete(
                    jvm.org.apache.hadoop.fs.Path(f"{index_dir}/{fname}"),
                    False,
                )
    stats = {
        "rows_reindexed": live_d.count(),
        "k_cells": cents.select(F.expr("size(cents)")).first()[0],
        "version": new_version,
        "base": new_base_name,
    }
    # the live-view checkpoint is dead: the new base is written, the
    # stats above were its last read (VERDICT r15 next-#7)
    release(live_d)
    return stats


def sim_ivf_index_retrain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The registry face of index RETRAINING: build the index, append
    the decorrelated batch (sim_ivf_index_append's derivation — the
    coordinate-0 shift is exactly the drift that makes the old codebook
    suboptimal), delete the sim_ivf_index_delete subset, then RETRAIN —
    refit on the live set, fold tombstones and the appended generation
    into a fresh base — and answer the standard query set through the
    retrained on-disk index. The oracle builds the live vector set
    (base UNION shifted batch, delete predicate filtered) and runs the
    full fit + probe + score chain over it: the retrained index must be
    value-identical to an index that never saw the old codebook."""
    index_dir = scratch_index_dir(spark, sf_dir, "ivf_retrain")
    build_ivf_index(spark, sf_dir, index_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    emb_d = emb.select(
        "vec_id", F.expr(_TO_DOUBLE.format(a="embedding")).alias("e")
    )
    append_ivf_index(spark, index_dir, _ivf_decorrelated_batch(emb_d))
    delete_ivf_index(spark, index_dir, _ivf_delete_ids(emb))
    retrain_ivf_index(spark, index_dir)
    return query_ivf_index(spark, sf_dir, index_dir)


def _oracle_ivf_retrain() -> str:
    """Fit + probe + score over the LIVE set (base UNION shifted batch,
    delete-pred filtered) — an index built from scratch on what
    survived, which is exactly what retraining must produce."""
    base = "list_transform(embedding, x -> CAST(x AS DOUBLE))"
    km = _km_ctes(
        "",
        train_pred=_TRAIN_PRED_DUCK,
        emb_sql="SELECT vec_id, e FROM live_f",
        # seeds = the K lowest LIVE ids (the delete removed vec 3; a
        # fixed vec_id < K filter would under-seed — round-11 review)
        seeds_sql=(
            "SELECT vec_id AS cid, e AS vec FROM live_f"
            f" ORDER BY vec_id LIMIT {KMEANS_K}"
        ),
    )
    return f"""WITH liveq AS (
  SELECT vec_id, {base} AS e FROM embeddings
  UNION ALL
  SELECT vec_id + {IVF_APPEND_OFFSET} AS vec_id,
         list_prepend(({base})[1] + {IVF_APPEND_SHIFT}, ({base})[2:]) AS e
  FROM embeddings
), live_f AS (
  SELECT vec_id, e FROM liveq WHERE NOT ({_IVF_DELETE_PRED})
),
{km},
nq AS (
  SELECT vec_id AS query_id, e AS q_emb,
         {_NRM_E_DUCK.format(a='e')} AS q_nrm
  FROM (SELECT vec_id, {base} AS e FROM embeddings) q0
  WHERE vec_id < {N_QUERIES}
), probes AS (
  SELECT query_id, q_emb, q_nrm, cid AS cluster_id FROM (
    SELECT nq.query_id, nq.q_emb, nq.q_nrm, c.cid,
           ROW_NUMBER() OVER (PARTITION BY nq.query_id
                              ORDER BY {_km_d2_duck('nq.q_emb')} ASC,
                                       c.cid ASC) AS rn
    FROM nq CROSS JOIN cents1 c
  ) WHERE rn <= {IVF_PROBES}
), members AS (
  SELECT live_f.vec_id, a2.cid AS cluster_id, live_f.e,
         {_NRM_E_DUCK.format(a='live_f.e')} AS c_nrm
  FROM (SELECT vec_id, cid FROM assign2 WHERE rn = 1) a2
  JOIN live_f USING (vec_id)
), ivf_scored AS (
  SELECT p.query_id, m.vec_id AS cand_id, m.cluster_id,
         list_sum(list_transform(generate_series(1, len(p.q_emb)),
            i -> p.q_emb[i] * m.e[i])) / (p.q_nrm * m.c_nrm) AS cosine
  FROM probes p JOIN members m USING (cluster_id)
  WHERE m.vec_id != p.query_id
)
SELECT query_id, rank, cand_id, cluster_id, cosine FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, cand_id ASC) AS rank
  FROM ivf_scored
) WHERE rank <= {TOP_K}
"""


QUERIES["sim_ivf_index_delete"] = sim_ivf_index_delete
ORACLES["sim_ivf_index_delete"] = _oracle_ivf_delete()
def sim_ivf_snapshot_reads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The registry face of the whole-index SNAPSHOT protocol (round-12:
    the round-11 honest-limits closure — retrain's in-place overwrite
    pair is now an unreferenced base-v dir plus one atomic manifest
    rename). The sequence drives every resolver path end-to-end: build
    (flat legacy layout) -> retrain (commits index-manifest-v1, GCs the
    flat snapshot) -> append + delete (both resolve the manifest and
    land INSIDE base-v1: the batch through the snapshot's codebook, the
    tombstone pinned to its cell/generation) -> query (centroids,
    partition-pruned members, and the tombstone anti-join all read the
    committed snapshot).

    Oracle: exactly sim_ivf_index_delete's — a no-change refit is
    value-identical to the build (deterministic sample-fit, seeds = the
    K lowest live vec_ids = the build's vec_id < K set), so routing the
    same append/delete through the RETRAINED snapshot must answer
    bit-for-bit what the flat-layout lifecycle answers. What this entry
    adds to the correctness gate is the protocol itself: manifest
    round-trip, per-verb base resolution, and snapshot-scoped
    tombstones between the scan and the answer."""
    index_dir = scratch_index_dir(spark, sf_dir, "ivf_snapshot")
    build_ivf_index(spark, sf_dir, index_dir)
    retrain_ivf_index(spark, index_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    emb_d = emb.select(
        "vec_id", F.expr(_TO_DOUBLE.format(a="embedding")).alias("e")
    )
    append_ivf_index(spark, index_dir, _ivf_decorrelated_batch(emb_d))
    delete_ivf_index(spark, index_dir, _ivf_delete_ids(emb))
    return query_ivf_index(spark, sf_dir, index_dir)


QUERIES["sim_ivf_index_retrain"] = sim_ivf_index_retrain
ORACLES["sim_ivf_index_retrain"] = _oracle_ivf_retrain()
QUERIES["sim_ivf_snapshot_reads"] = sim_ivf_snapshot_reads
ORACLES["sim_ivf_snapshot_reads"] = _oracle_ivf_delete()


# --- IVF probe-count tuning curve --------------------------------------------

PROBE_CURVE_MAX = 4  # sweep nprobe = 1..4 (half the K=8 test-scale cells)


def sim_probe_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k AND candidate cost as a function of the IVF probe count
    — the tuning query for the nprobe knob (the IVF twin of
    dedup_lsh_tuning_curve's band sweep): one row per nprobe in
    1..PROBE_CURVE_MAX with the total candidates scored and the recall
    against the exact brute-force top-k. This is the curve an ANN
    deployment reads to pick the probes/recall trade before committing
    a cluster to it (sim_recall_audit measures the ONE deployed
    operating point; this measures the whole knob).

    100 TB posture: the fit is the shared sample-fit k-means; the
    corpus is scored ONCE at the WIDEST probe level (candidates carry
    the probe RANK that admitted their cell), and the per-level top-k
    comes from replaying each candidate into the levels >= its rank —
    an explode of at most PROBE_CURVE_MAX small ints per candidate row,
    never a re-scan per level (the naive sweep runs the corpus join
    PROBE_CURVE_MAX times). The brute-force truth side is the one you
    can only afford on a query SAMPLE at scale — which is how recall
    curves are run (the bounded query set here IS that sample).
    Exactness: hit counts are integer intersections; recall is one IEEE
    division by the compile-time (queries x k) denominator."""
    emb = load_table(spark, sf_dir, "embeddings")
    emb_d = emb.select(
        "vec_id", F.expr(_TO_DOUBLE.format(a="embedding")).alias("e")
    )
    assigned, cents = _kmeans_fit(
        emb_d, emb_d.where(F.expr(_TRAIN_PRED_SPARK))
    )
    members = _members_projection(assigned)
    queries_d = emb_d.where(F.col("vec_id") < N_QUERIES)
    # probe routing with the probe RANK kept (posexplode of the sorted
    # cell list — rank 1 = nearest centroid)
    probes = (
        queries_d.crossJoin(F.broadcast(cents))
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("e").alias("q_emb"),
            F.expr(_NRM_E_SPARK.format(a="e")).alias("q_nrm"),
            F.posexplode(
                F.expr(
                    "slice(array_sort(transform(cents,"
                    f" c -> named_struct('d', {_KM_D2}, 'cid', c.cid))),"
                    f" 1, {PROBE_CURVE_MAX})"
                )
            ).alias("pos", "pr"),
        )
        .select(
            "query_id",
            "q_emb",
            "q_nrm",
            F.col("pr.cid").alias("cluster_id"),
            (F.col("pos") + 1).alias("probe_rank"),
        )
    )
    scored = (
        members.join(F.broadcast(probes), "cluster_id")
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("cand_id"),
            "probe_rank",
            (
                F.expr(_DOT_RAW.format(a="q_emb", b="e"))
                / (F.col("q_nrm") * F.col("c_nrm"))
            ).alias("cosine"),
        )
    )
    # replay each candidate into every level that would have seen it
    lvl = scored.select(
        "query_id",
        "cand_id",
        "cosine",
        F.explode(
            F.expr(f"sequence(probe_rank, {PROBE_CURVE_MAX})")
        ).alias("nprobe"),
    )
    w = Window.partitionBy("query_id", "nprobe").orderBy(
        F.desc("cosine"), F.asc("cand_id")
    )
    truth = sim_topk_cosine(spark, sf_dir).select("query_id", "cand_id")
    # ONE pass over the leveled candidate frame: rank within each level,
    # flag truth membership with a left join (truth pairs are unique, so
    # the join preserves row counts), and aggregate cost + hits in the
    # same groupBy — two consumer branches would re-execute the whole
    # members-probes join and the assignment feeding it (no cross-branch
    # subtree reuse; the localCheckpoint covers only the 1-row codebook)
    ranked = lvl.withColumn("rank", F.row_number().over(w)).join(
        truth.withColumn("hit", F.lit(1)), ["query_id", "cand_id"], "left"
    )
    return ranked.groupBy("nprobe").agg(
        F.count("*").alias("total_candidates"),
        F.sum(
            F.when(
                (F.col("rank") <= TOP_K) & F.col("hit").isNotNull(), 1
            ).otherwise(0)
        ).alias("n_hits"),
        (
            F.sum(
                F.when(
                    (F.col("rank") <= TOP_K) & F.col("hit").isNotNull(), 1
                ).otherwise(0)
            ).cast("double")
            / F.lit(float(N_QUERIES * TOP_K))
        ).alias("recall_at_k"),
    )


def _oracle_probe_recall_curve() -> str:
    return f"""
WITH {_KMEANS_CTES_SAMPLED},
members AS (
  SELECT emb.vec_id, a2.cid AS cluster_id, emb.e,
         {_NRM_E_DUCK.format(a='emb.e')} AS c_nrm
  FROM (SELECT vec_id, cid FROM assign2 WHERE rn = 1) a2
  JOIN emb USING (vec_id)
),
nq AS (
  SELECT vec_id AS query_id, e AS q_emb,
         {_NRM_E_DUCK.format(a='e')} AS q_nrm
  FROM emb WHERE vec_id < {N_QUERIES}
),
probes AS (
  SELECT query_id, q_emb, q_nrm, cid AS cluster_id, rn AS probe_rank FROM (
    SELECT nq.query_id, nq.q_emb, nq.q_nrm, c.cid,
           ROW_NUMBER() OVER (PARTITION BY nq.query_id
                              ORDER BY {_km_d2_duck('nq.q_emb')} ASC,
                                       c.cid ASC) AS rn
    FROM nq CROSS JOIN cents1 c
  ) WHERE rn <= {PROBE_CURVE_MAX}
),
scored AS (
  SELECT p.query_id, m.vec_id AS cand_id, p.probe_rank,
         list_sum(list_transform(generate_series(1, len(p.q_emb)),
            i -> p.q_emb[i] * m.e[i])) / (p.q_nrm * m.c_nrm) AS cosine
  FROM probes p JOIN members m USING (cluster_id)
  WHERE m.vec_id != p.query_id
),
lvl AS (
  SELECT query_id, cand_id, cosine,
         unnest(generate_series(probe_rank, {PROBE_CURVE_MAX})) AS nprobe
  FROM scored
),
topk AS (
  SELECT query_id, cand_id, nprobe FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id, nprobe
                                 ORDER BY cosine DESC, cand_id ASC) AS rank
    FROM lvl
  ) WHERE rank <= {TOP_K}
),
truth AS (
  SELECT query_id, cand_id FROM ({ORACLE_SIM_TOPK}) t
),
hits AS (
  SELECT nprobe, COUNT(*) AS n_hits
  FROM topk JOIN truth USING (query_id, cand_id)
  GROUP BY nprobe
),
cost AS (
  SELECT nprobe, COUNT(*) AS total_candidates FROM lvl GROUP BY nprobe
)
SELECT cost.nprobe,
       CAST(cost.total_candidates AS BIGINT) AS total_candidates,
       CAST(COALESCE(hits.n_hits, 0) AS BIGINT) AS n_hits,
       CAST(COALESCE(hits.n_hits, 0) AS DOUBLE)
         / {float(N_QUERIES * TOP_K)} AS recall_at_k
FROM cost LEFT JOIN hits USING (nprobe)
"""


QUERIES["sim_probe_recall_curve"] = sim_probe_recall_curve
ORACLES["sim_probe_recall_curve"] = _oracle_probe_recall_curve()


# --- Matryoshka truncation audit ----------------------------------------------

MRL_DIMS = (8, 16, 32, 64)  # prefix dimensions; last = full (truth)


def emb_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-truncation recall audit (Kusupati et al.,
    arXiv:2205.13147): score the bounded query set against the corpus at
    several PREFIX dimensionalities and report recall@k of each prefix's
    top-k against the full-dimension truth — the measurement that
    decides how many leading dimensions a serving index actually needs
    (MRL-trained embeddings concentrate signal in the prefix; storing/
    scanning 8 of 64 dims is an 8x index-size and bandwidth cut IF the
    recall holds). The full-dim row reports 1.0 by construction — a
    self-check that the ranking plumbing agrees with itself.

    Shape: ONE pass over the broadcast query×corpus pair space computes
    every prefix cosine (prefix dots are sequential-fold prefixes of the
    same zip; per-row prefix norms are precomputed on EACH SIDE before
    the join so the per-pair lambda is a bare multiply-fold — the
    normed_embeddings rule), melted to (dim, query, cand, cos) and
    ranked by ONE window over (dim, query). The tiny top-k frame
    (queries x k x |dims| rows) is localCheckpointed before being
    consumed as both ranking and truth — the small-multiply-consumed-
    frame rule; without it the pair scoring would re-execute per branch.

    100 TB posture: identical to sim_topk_cosine's (the |dims| factor
    multiplies the bounded query side only, never the corpus scan
    count); ranking ties break on (cosine desc, cand_id) with both
    engines computing the same sequential IEEE folds, the convention
    every sim_ oracle already relies on."""
    emb = load_table(spark, sf_dir, "embeddings")

    def _with_prefix_norms(df: DataFrame, id_alias: str, emb_alias: str):
        cols = [F.col("vec_id").alias(id_alias),
                F.expr(_TO_DOUBLE.format(a="embedding")).alias(emb_alias)]
        sel = df.select(*cols)
        # squared prefix norms in their own projection (the fold HOF is
        # interpreted — don't let the guard's CASE evaluate it twice)
        sq = [
            F.expr(
                _DOT_RAW.format(
                    a=f"slice({emb_alias}, 1, {d})",
                    b=f"slice({emb_alias}, 1, {d})",
                )
            ).alias(f"_sq{d}")
            for d in MRL_DIMS
        ]
        with_sq = sel.select(id_alias, emb_alias, *sq)
        # A zero PREFIX norm (leading d dims all zero — likelier than a
        # fully-zero vector, which upstream guards target) has no cosine
        # direction at that dim: Spark's NULL-on-zero-divide would
        # silently drop the row from the window while DuckDB's IEEE
        # inf/NaN sorts it first (round-9 ADVICE). Fail loudly in BOTH
        # engines instead — the family's zero-norm contract.
        norms = [
            F.expr(
                f"CASE WHEN _sq{d} = 0 THEN cast(raise_error("
                f"concat('zero-norm {d}-dim prefix (vec_id ', {id_alias},"
                f" '): no cosine direction at this matryoshka level'))"
                f" as double) ELSE sqrt(_sq{d}) END"
            ).alias(f"{emb_alias}_n{d}")
            for d in MRL_DIMS
        ]
        return with_sq.select(id_alias, emb_alias, *norms)

    q = _with_prefix_norms(emb.where(F.col("vec_id") < N_QUERIES), "query_id", "q_emb")
    c = _with_prefix_norms(emb.repartition(F.col("vec_id")), "cand_id", "c_emb")
    per_dim = ", ".join(
        "struct(cast({d} as int) AS dim, ({dot}) / (q_emb_n{d} * c_emb_n{d}) AS cos)".format(
            d=d,
            dot=_DOT_RAW.format(a=f"slice(q_emb, 1, {d})", b=f"slice(c_emb, 1, {d})"),
        )
        for d in MRL_DIMS
    )
    melted = (
        c.join(F.broadcast(q))
        .where(F.col("cand_id") != F.col("query_id"))
        .select(
            "query_id",
            "cand_id",
            F.explode_outer(F.expr(f"array({per_dim})")).alias("s"),
        )
        .select("query_id", "cand_id", "s.dim", "s.cos")
    )
    w = Window.partitionBy("dim", "query_id").orderBy(
        F.desc("cos"), F.asc("cand_id")
    )
    topk = (
        melted.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
        .select("dim", "query_id", "cand_id")
        .localCheckpoint(eager=True)
    )
    truth = (
        topk.where(F.col("dim") == MRL_DIMS[-1])
        .select("query_id", "cand_id", F.lit(1).alias("hit"))
    )
    return (
        topk.join(truth, ["query_id", "cand_id"], "left")
        .groupBy("dim")
        .agg(
            (
                F.sum(F.coalesce(F.col("hit"), F.lit(0)))
                / F.lit(float(N_QUERIES * TOP_K))
            ).alias("recall_at_k")
        )
    )


def _oracle_matryoshka() -> str:
    dims = ", ".join(str(d) for d in MRL_DIMS)
    dot = _DOT_DUCK.format(a="q.embedding[1:dim]", b="c.embedding[1:dim]")
    qn = _NORM2_DUCK.format(a="q.embedding[1:dim]")
    cn = _NORM2_DUCK.format(a="c.embedding[1:dim]")
    return f"""
WITH dims AS (SELECT unnest([{dims}]) AS dim),
q AS (SELECT vec_id AS query_id, embedding FROM embeddings
      WHERE vec_id < {N_QUERIES}),
pairs AS (
  -- same fail-loud zero-prefix-norm contract as the Spark op (round-9
  -- ADVICE: IEEE inf/NaN here vs NULL there would diverge the top-k)
  SELECT dims.dim, q.query_id, c.vec_id AS cand_id,
         ({dot}) / (CASE WHEN ({qn}) = 0 OR ({cn}) = 0
                         THEN error('zero-norm matryoshka prefix')
                         ELSE sqrt({qn}) * sqrt({cn}) END) AS cos
  FROM dims CROSS JOIN q CROSS JOIN embeddings c
  WHERE c.vec_id != q.query_id
),
topk AS (
  SELECT dim, query_id, cand_id FROM (
    SELECT dim, query_id, cand_id,
           ROW_NUMBER() OVER (PARTITION BY dim, query_id
                              ORDER BY cos DESC, cand_id ASC) AS rn
    FROM pairs
  ) WHERE rn <= {TOP_K}
),
truth AS (SELECT query_id, cand_id FROM topk WHERE dim = {MRL_DIMS[-1]})
SELECT t.dim,
       SUM(CASE WHEN tr.cand_id IS NOT NULL THEN 1 ELSE 0 END)
         / CAST({N_QUERIES * TOP_K} AS DOUBLE) AS recall_at_k
FROM topk t
LEFT JOIN truth tr
  ON t.query_id = tr.query_id AND t.cand_id = tr.cand_id
GROUP BY t.dim
"""


QUERIES["emb_matryoshka_recall"] = emb_matryoshka_recall
ORACLES["emb_matryoshka_recall"] = _oracle_matryoshka()
