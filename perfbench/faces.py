"""The ``faces`` workload: registry queries over generated tables.

One op runs one registry face and materializes every output column
through Spark's ``noop`` sink, counting rows with an ``Observation`` (a
``count()`` would let Catalyst prune the computed columns). The warm-up
pass collects each face's rows instead; after the timed window those rows
are compared, order-insensitively, with the face's DuckDB oracle from
``__spark_entry__.oracle_sql()``.
"""

from __future__ import annotations

import hashlib
import os
import time

# Two face families, interleaved in every round. "driver" faces spend
# their time on job count and driver-side work (schema-inference jobs,
# checkpoints, overlap threads); "stage" faces spend it inside stages
# (a Python-worker Arrow kernel, shuffles, a codegen'd aggregate) with few
# jobs each. The traced run reports their layer shares apart. Six faces
# keep a round short enough that a run holds two or more rounds, so a
# class median has more than one sample. The order is also the warm-up
# order, cheap faces first.
FAMILIES = {
    "q1_pricing_summary": "stage",
    "mm_decode_jpeg": "stage",
    "dedup_winnowing": "stage",
    "q5_local_supplier_volume": "driver",
    "log_events_by_nation": "driver",
    "dedup_winnow_agreement": "driver",
}
# Table scale: large enough that every face has real work, small enough
# that a warm-up pass and a timed round fit one run.
SCALE = 0.01


class FacesWorkload:
    def __init__(self):
        self.classes = tuple(FAMILIES)
        self.expected_rows: dict[str, int] = {}
        self.warm_rows: dict[str, list] = {}
        self.direct_calls = 0

    def setup(self, spark, work: str, seed: int) -> None:
        from perfbench import datagen

        self.spark = spark
        self.data_dir = os.path.join(work, "data")
        datagen.write_tables(seed, SCALE, self.data_dir)
        # Index and artifact scratch must stay inside the work directory;
        # the oracle SQL embeds this root, so set it before the registry
        # modules build their oracles.
        from datafusion_loki_spark.operators import similarity

        similarity._SCRATCH_ROOT = os.path.join(work, "indexes")
        import __spark_entry__

        self.queries = __spark_entry__.queries()
        self.oracles = __spark_entry__.oracle_sql()

    def round(self, rng) -> list[str]:
        return [self.classes[i] for i in rng.permutation(len(self.classes))]

    def op_class(self, op: str) -> str:
        return op

    def warm(self, op: str) -> None:
        df = self.queries[op](self.spark, self.data_dir)
        rows = df.collect()
        self.warm_rows[op] = ([c.lower() for c in df.columns], rows)
        self.expected_rows[op] = len(rows)

    def execute(self, op: str, info: dict) -> tuple[bool, int]:
        import pyspark.sql.functions as F
        from pyspark.sql import Observation

        obs = Observation(f"rows_{op}")
        df = self.queries[op](self.spark, self.data_dir)
        df.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode(
            "overwrite"
        ).save()
        n = int(obs.get["n"])
        return n == self.expected_rows.get(op), n

    def layer_probe(self) -> dict:
        return {}

    def direct(self, op: str, info: dict) -> dict:
        """``catalog.load_table`` timed directly, one table per traced op in
        turn."""
        from datafusion_loki_spark.catalog import TABLES, load_table

        name = TABLES[self.direct_calls % len(TABLES)]
        self.direct_calls += 1
        t = time.perf_counter()
        load_table(self.spark, self.data_dir, name)
        return {"load_table_s": time.perf_counter() - t}

    def final_check(self) -> tuple[int, int, dict]:
        """Compare each warm-up result with its DuckDB oracle."""
        from tests.parity import _canon, duckdb_con

        con = duckdb_con(self.data_dir)
        failed, hashes = 0, {}
        for name, (cols, rows) in self.warm_rows.items():
            rel = con.sql(self.oracles[name])
            mine = _canon([tuple(r) for r in rows], cols)
            theirs = _canon(rel.fetchall(), [c.lower() for c in rel.columns])
            digest = hashlib.sha256(repr(mine).encode()).hexdigest()[:16]
            ok = sorted(cols) == sorted(c.lower() for c in rel.columns) and mine == theirs
            hashes[name] = digest if ok else f"MISMATCH {digest}"
            failed += not ok
        con.close()
        return len(self.warm_rows), failed, hashes

    def close(self) -> None:
        pass
