"""The ``loki_rw`` workload: the connector's read and write paths.

A store stub (``lokistub.py``) runs in its own process, seeded with
``datagen.loki_rows``. Each round interleaves pushes through
``insert_into_loki`` with six scan classes through ``loki_table`` and
``loki_sql``. Pushes go to a time range no scan reads, so every scan has
an exact expected answer computed here from the seeded rows: a row count
and an order-insensitive digest, the sum of CRC32 over
``"<µs>|<labels json>|<line>"``, which Spark computes with its own
``crc32``. At the end every pushed row is read back once.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
import urllib.request
import zlib
from datetime import datetime, timedelta, timezone

import numpy as np

from perfbench import datagen

T0 = datagen.LOKI_T0_NS
SPAN = datagen.LOKI_SPAN_NS
PUSH_T0_NS = T0 + 3_600_000_000_000  # an hour after the seeded rows
SHADOW_NS = 86_400_000_000_000  # direct writer calls land a day later
PUSH_ROWS = 2_000
LIMIT_ROWS = 2_000
SCAN_WORDS = ("retry", "timeout", "cache-miss", "denied", "moved")
# The first occurrence of each class gives the warm-up order.
ROUND = (
    "push",
    "scan_full",
    "scan_partitioned",
    "scan_label",
    "scan_line",
    "scan_limit",
    "sql_agg",
)


_EPOCH = datetime(1970, 1, 1, tzinfo=timezone.utc)


def _iso(ns: int) -> str:
    dt = datetime(1970, 1, 1) + timedelta(microseconds=ns // 1000)
    return dt.isoformat(sep=" ")


def _labels_json(labels: dict) -> str:
    return json.dumps(labels, separators=(",", ":"))


def _row_crc(ts_ns: int, labels: dict, line: str) -> int:
    return zlib.crc32(f"{ts_ns // 1000}|{_labels_json(labels)}|{line}".encode())


def _digest_cols(distinct: bool = False):
    """Row count and CRC32 sum; ``distinct`` adds a distinct-line count,
    which costs a shuffle and so is only used outside the timed window."""
    import pyspark.sql.functions as F

    key = F.concat_ws(
        "|",
        F.unix_micros("timestamp").cast("string"),
        F.to_json("labels"),
        F.col("line"),
    )
    cols = [
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(F.crc32(key.cast("binary"))), F.lit(0)).alias("crc"),
    ]
    if distinct:
        cols.append(F.count_distinct("line").alias("distinct_lines"))
    return cols


class LokiWorkload:
    classes = tuple(dict.fromkeys(ROUND))

    def __init__(self, cpus: int):
        self.partitions = cpus
        self.pushed: list[int] = []  # acknowledged batch ids
        self.next_batch = 0

    # --- set-up ---------------------------------------------------------

    def setup(self, spark, work: str, seed: int) -> None:
        self.spark = spark
        here = os.path.dirname(os.path.abspath(__file__))
        self.stub = subprocess.Popen(
            [sys.executable, os.path.join(here, "lokistub.py"), "--seed", str(seed)],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            text=True,
        )
        rows = datagen.loki_rows(seed)
        self.ts = rows["ts"]
        self.app = rows["app"]
        self.lines = rows["line"]
        labels = [
            [datagen.stream_labels(a, lv) for lv in range(len(datagen.LOKI_LEVELS))]
            for a in range(datagen.LOKI_APPS)
        ]
        self.level = rows["level"]
        self.crc = np.array(
            [
                _row_crc(int(t), labels[a][lv], line)
                for t, a, lv, line in zip(self.ts, self.app, self.level, self.lines)
            ],
            np.int64,
        )
        self.word_hit = {
            w: np.array([w in line for line in self.lines]) for w in SCAN_WORDS
        }
        first = self.stub.stdout.readline()
        if not first.startswith("PORT "):
            raise RuntimeError(f"store stub failed to start: {first!r}")
        self.url = f"http://127.0.0.1:{int(first.split()[1])}"

    def close(self) -> None:
        stub = getattr(self, "stub", None)
        if stub is None:
            return
        stub.stdin.close()
        try:
            stub.wait(timeout=10)
        except subprocess.TimeoutExpired:
            stub.kill()
            stub.wait()

    # --- ops ------------------------------------------------------------

    def round(self, rng) -> list[dict]:
        ops = []
        for cls in (ROUND[i] for i in rng.permutation(len(ROUND))):
            op = {"cls": cls}
            if cls == "push":
                op["batch"] = self.next_batch
                self.next_batch += 1
            else:
                op["app"] = int(rng.integers(0, datagen.LOKI_APPS))
                op["word"] = SCAN_WORDS[int(rng.integers(0, len(SCAN_WORDS)))]
                lo = int(rng.integers(0, SPAN // 2 // 1_000_000)) * 1_000_000
                op["window"] = (T0 + lo, T0 + lo + SPAN // 2)
            ops.append(op)
        return ops

    def op_class(self, op: dict) -> str:
        return op["cls"]

    def _scan_args(self, op: dict) -> dict:
        """Reader options of a ``loki_table`` scan class."""
        cls = op["cls"]
        args = {"start": T0, "end": T0 + SPAN}
        if cls == "scan_partitioned":
            args["partitions"] = self.partitions
        elif cls in ("scan_label", "scan_limit"):
            args["labels"] = {"app": f"app{op['app']:02d}"}
            if cls == "scan_limit":
                args["limit"] = LIMIT_ROWS
        return args

    def _sql(self, op: dict) -> str:
        lo, hi = op["window"]
        where = (
            f"line LIKE '%{op['word']}%' AND timestamp >= TIMESTAMP '{_iso(lo)}'"
            f" AND timestamp < TIMESTAMP '{_iso(hi)}'"
        )
        if op["cls"] == "scan_line":
            return f"SELECT timestamp, labels, line FROM logs WHERE {where}"
        return (
            "SELECT labels['level'] AS level, count(*) AS n FROM logs WHERE "
            f"labels['app'] = 'app{op['app']:02d}' AND {where} "
            "GROUP BY labels['level']"
        )

    def _expected_mask(self, op: dict) -> np.ndarray:
        cls = op["cls"]
        if cls in ("scan_full", "scan_partitioned"):
            return np.ones(len(self.ts), bool)
        if cls in ("scan_label", "scan_limit"):
            mask = self.app == op["app"]
            if cls == "scan_limit":
                mask &= np.cumsum(mask) <= LIMIT_ROWS
            return mask
        lo, hi = op["window"]
        mask = (self.ts >= lo) & (self.ts < hi) & self.word_hit[op["word"]]
        if cls == "sql_agg":
            mask &= self.app == op["app"]
        return mask

    def _push_frame(self, batch: int):
        import pyspark.sql.functions as F

        seq = F.col("id") + batch * PUSH_ROWS
        return self.spark.range(PUSH_ROWS).select(
            F.timestamp_micros(F.lit(PUSH_T0_NS // 1000) + seq * 1000).alias("timestamp"),
            F.create_map(
                F.lit("app"),
                F.concat(F.lit("push"), (seq % 4).cast("string")),
                F.lit("level"),
                F.lit("info"),
            ).alias("labels"),
            F.concat(F.lit(f"push b={batch} i="), F.col("id").cast("string")).alias("line"),
        )

    @staticmethod
    def _push_rows(batch: int):
        """The rows ``_push_frame(batch)`` holds, as (ns, labels, line)."""
        for i in range(PUSH_ROWS):
            seq = batch * PUSH_ROWS + i
            yield (
                PUSH_T0_NS + seq * 1_000_000,
                {"app": f"push{seq % 4}", "level": "info"},
                f"push b={batch} i={i}",
            )

    def warm(self, op: dict) -> None:
        ok, _ = self.execute(op, {})
        if not ok:
            raise RuntimeError(f"warm-up op failed: {op}")

    def execute(self, op: dict, info: dict) -> tuple[bool, int]:
        import datafusion_loki_spark as dls

        cls = op["cls"]
        if cls == "push":
            n = dls.insert_into_loki(self._push_frame(op["batch"]), self.url).first()[0]
            ok = n == PUSH_ROWS
            if ok:
                self.pushed.append(op["batch"])
            return ok, n
        t = time.perf_counter()
        if cls in ("scan_line", "sql_agg"):
            df = dls.loki_sql(self.spark, self._sql(op), self.url, default_label="app")
        else:
            df = dls.loki_table(
                self.spark, self.url, default_label="app", **self._scan_args(op)
            )
        info["bind_s"] = time.perf_counter() - t
        mask = self._expected_mask(op)
        if cls == "sql_agg":
            got = {r["level"]: r["n"] for r in df.collect()}
            lv = self.level[mask]
            want = {
                datagen.LOKI_LEVELS[i]: int(c)
                for i, c in enumerate(np.bincount(lv, minlength=3))
                if c
            }
            return got == want, len(got)
        row = df.agg(*_digest_cols()).first()
        want_n, want_crc = int(mask.sum()), int(self.crc[mask].sum())
        return row["n"] == want_n and row["crc"] == want_crc, row["n"]

    # --- traced-run hooks ----------------------------------------------

    def layer_probe(self) -> dict:
        with urllib.request.urlopen(f"{self.url}/stats", timeout=10) as resp:
            return json.loads(resp.read())

    def _reader_options(self, op: dict) -> dict:
        from datafusion_loki_spark.sources.logql import label_matcher

        if op["cls"] in ("scan_line", "sql_agg"):
            lo, hi = op["window"]
            terms = ['app=~".+"']
            if op["cls"] == "sql_agg":
                terms = [label_matcher("app", "=", f"app{op['app']:02d}")]
            return {
                "endpoint": self.url,
                "labels": ", ".join(terms),
                "line_filters": f"|= `{op['word']}`",
                "start": str(lo),
                "end": str(hi),
            }
        args = self._scan_args(op)
        opts = {"endpoint": self.url, "default_label": "app"}
        opts.update({k: str(v) for k, v in args.items() if k != "labels"})
        if "labels" in args:
            opts["labels"] = json.dumps(args["labels"])
        return opts

    def direct(self, op: dict, info: dict) -> dict:
        """The same work through the source layer alone, without Spark."""
        from datafusion_loki_spark.sources import logql, sqlbridge
        from datafusion_loki_spark.sources.loki import (
            LokiDataSourceReader,
            LokiDataSourceWriter,
        )

        out = {}
        if op["cls"] == "push":
            rows = [
                (
                    _EPOCH + timedelta(microseconds=(ns + SHADOW_NS) // 1000),
                    labels,
                    line,
                )
                for ns, labels, line in self._push_rows(op["batch"])
            ]
            t = time.perf_counter()
            LokiDataSourceWriter({"endpoint": self.url}).write(iter(rows))
            out["writer_s"] = time.perf_counter() - t
            return out
        if op["cls"] in ("scan_line", "sql_agg"):
            t = time.perf_counter()
            spec = sqlbridge.extract_pushdown(self._sql(op))
            logql.build_logql(
                [logql.label_matcher(k, o, v) for k, o, v in spec.matchers],
                [logql.line_contains(w) for w in spec.line_contains],
                "app",
            )
            out["translate_s"] = time.perf_counter() - t
        t = time.perf_counter()
        reader = LokiDataSourceReader(self._reader_options(op))
        rows = 0
        for part in reader.partitions():
            for batch in reader.read(part):
                rows += batch.num_rows
        out["reader_s"] = time.perf_counter() - t
        out["ok"] = rows == int(self._expected_mask(op).sum())
        return out

    # --- end of run -----------------------------------------------------

    def final_check(self) -> tuple[int, int, dict]:
        """Read every acknowledged push back: no loss, no duplicates."""
        import datafusion_loki_spark as dls

        df = dls.loki_table(
            self.spark,
            self.url,
            labels='app=~"push[0-9]+"',
            start=PUSH_T0_NS,
            end=PUSH_T0_NS + SHADOW_NS,
        )
        row = df.agg(*_digest_cols(distinct=True)).first()
        want = [r for b in self.pushed for r in self._push_rows(b)]
        want_crc = sum(_row_crc(*r) for r in want)
        ok = (
            row["n"] == len(want)
            and row["distinct_lines"] == len(want)
            and row["crc"] == want_crc
        )
        detail = {
            "pushed_rows": len(want),
            "read_back_rows": row["n"],
            "read_back_ok": ok,
        }
        return 1, int(not ok), detail
