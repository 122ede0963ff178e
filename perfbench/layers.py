"""Per-layer metrics of a traced run, from its op records.

Each metric is a mean per op (or per call) over the traced ops it applies
to; a layer a workload does not touch reports 0. ``MOVES`` names, for
each metric, the end-to-end metric and workload it should move, written
down before any optimisation is measured against it.
"""

from __future__ import annotations

from perfbench.faces import FAMILIES

_FACES_TIME = "ops_per_s and op_p50_s on faces (driver family)"
_FACES_STAGE = "ops_per_s on faces (stage family); flat on loki_rw"
_SCAN = "ops_per_s and op_p50_s on loki_rw (scan ops)"
_PUSH = "ops_per_s and op_p50_s on loki_rw (push ops)"
MOVES = {
    "session.get_spark_s": "setup_s on both workloads",
    "spark.jvm_peak_rss_mb": "memory of both workloads; too unsteady run to run for an end-to-end bound",
    "catalog.schema_jobs": _FACES_TIME + "; zero on loki_rw",
    "catalog.schema_jobs.driver_faces": _FACES_TIME,
    "catalog.schema_jobs.stage_faces": "should stay about flat: faces (stage family)",
    "catalog.load_table_s": _FACES_TIME + "; zero on loki_rw",
    "spark.jobs": _FACES_TIME,
    "spark.stages": _FACES_TIME,
    "spark.tasks": _FACES_TIME,
    "spark.offstage_s": _FACES_TIME,
    "spark.offstage_share.driver_faces": _FACES_TIME,
    "spark.offstage_share.stage_faces": "should stay about flat: faces (stage family)",
    "spark.executor_run_s": _FACES_STAGE,
    "spark.executor_cpu_s": _FACES_STAGE,
    "spark.shuffle_write_bytes": _FACES_STAGE,
    "spark.spill_bytes": _FACES_STAGE,
    "spark.failed_tasks": _FACES_STAGE,
    "functions.checkpoints_created": "spark.jvm_peak_rss_mb and op_p50_s on faces (driver family)",
    "sources.bind_s": "op_p50_s on loki_rw",
    "sources.reader_s": _SCAN,
    "sources.spark_overhead_s": _SCAN,
    "sources.http_requests": _SCAN,
    "sources.bytes_served": _SCAN,
    "sources.store_busy_s": _SCAN,
    "sources.rows_served_per_row_returned": _SCAN,
    "sources.scan_rows_per_s": _SCAN,
    "sources.writer_s": _PUSH,
    "sources.push_requests": _PUSH,
    "sources.push_bytes_per_row": _PUSH,
    "sources.push_rows_per_s": _PUSH,
    "sources.translate_s": "op_p50_s on loki_rw, negligibly (about 60 us a statement)",
    "trace.op_time_overhead": "none: tracing overhead, traced over untraced op time minus one",
    "trace.probe_s": "none: status-store and stub reads per traced op",
}

SCAN_CLASSES = ("scan_full", "scan_partitioned", "scan_label", "scan_line", "scan_limit")
SPARK_COUNTS = (
    ("spark.jobs", "jobs", "count"),
    ("spark.stages", "stages", "count"),
    ("spark.tasks", "tasks", "count"),
    ("spark.failed_tasks", "failed_tasks", "count"),
    ("spark.offstage_s", "offstage_s", "s"),
    ("spark.executor_run_s", "executor_run_s", "s"),
    ("spark.executor_cpu_s", "executor_cpu_s", "s"),
    ("spark.shuffle_write_bytes", "shuffle_write_bytes", "bytes"),
    ("spark.spill_bytes", "spill_bytes", "bytes"),
)


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def per_layer(records: list[dict], get_spark_s: float, jvm_rss_mb: float) -> dict:
    traced = [r for r in records if r["traced"]]
    plain = [r for r in records if not r["traced"]]
    out: dict[str, tuple[float, str]] = {
        "session.get_spark_s": (get_spark_s, "s"),
        "spark.jvm_peak_rss_mb": (jvm_rss_mb, "MB"),
    }

    out["catalog.schema_jobs"] = (_mean(r["spark"]["schema_jobs"] for r in traced), "count")
    out["catalog.load_table_s"] = (
        _mean(r["direct"]["load_table_s"] for r in traced if "load_table_s" in r["direct"]),
        "s",
    )
    for name, key, unit in SPARK_COUNTS:
        out[name] = (_mean(r["spark"][key] for r in traced), unit)
    for fam in ("driver", "stage"):
        rs = [r for r in traced if FAMILIES.get(r["cls"]) == fam]
        out[f"catalog.schema_jobs.{fam}_faces"] = (
            _mean(r["spark"]["schema_jobs"] for r in rs),
            "count",
        )
        out[f"spark.offstage_share.{fam}_faces"] = (
            _ratio(sum(r["spark"]["offstage_s"] for r in rs), sum(r["t"] for r in rs)),
            "ratio",
        )
    out["functions.checkpoints_created"] = (_mean(r["checkpoints"] for r in traced), "count")

    scans = [r for r in traced if r["cls"] in SCAN_CLASSES]
    reads = [r for r in traced if "reader_s" in r["direct"]]
    pushes = [r for r in traced if r["cls"] == "push"]
    store = lambda rs, k: sum(r["store"].get(k, 0) for r in rs)  # noqa: E731
    out["sources.bind_s"] = (_mean(r["bind_s"] for r in reads), "s")
    out["sources.reader_s"] = (_mean(r["direct"]["reader_s"] for r in reads), "s")
    out["sources.spark_overhead_s"] = (
        _mean(r["t"] - r["direct"]["reader_s"] for r in reads),
        "s",
    )
    out["sources.http_requests"] = (_ratio(store(reads, "query_requests"), len(reads)), "count")
    out["sources.bytes_served"] = (_ratio(store(reads, "bytes_served"), len(reads)), "bytes")
    out["sources.store_busy_s"] = (_ratio(store(reads, "busy_s"), len(reads)), "s")
    out["sources.rows_served_per_row_returned"] = (
        _ratio(store(scans, "rows_served"), sum(r["rows"] for r in scans)),
        "ratio",
    )
    out["sources.writer_s"] = (_mean(r["direct"]["writer_s"] for r in pushes), "s")
    out["sources.push_requests"] = (_ratio(store(pushes, "push_requests"), len(pushes)), "count")
    out["sources.push_bytes_per_row"] = (
        _ratio(store(pushes, "push_bytes"), store(pushes, "rows_pushed")),
        "bytes",
    )
    out["sources.translate_s"] = (
        _mean(r["direct"]["translate_s"] for r in traced if "translate_s" in r["direct"]),
        "s",
    )
    plain_scans = [r for r in plain if r["cls"] in SCAN_CLASSES]
    plain_push = [r for r in plain if r["cls"] == "push"]
    out["sources.scan_rows_per_s"] = (
        _ratio(sum(r["rows"] for r in plain_scans), sum(r["t"] for r in plain_scans)),
        "rows/s",
    )
    out["sources.push_rows_per_s"] = (
        _ratio(sum(r["rows"] for r in plain_push), sum(r["t"] for r in plain_push)),
        "rows/s",
    )

    t_plain, t_traced = sum(r["t"] for r in plain), sum(r["t"] for r in traced)
    out["trace.op_time_overhead"] = (_ratio(t_traced - t_plain, t_plain), "ratio")
    out["trace.probe_s"] = (_mean(r["probe_s"] for r in traced), "s")
    if set(out) != set(MOVES):
        raise RuntimeError(f"per-layer metrics out of step with MOVES: {set(out) ^ set(MOVES)}")
    return out
