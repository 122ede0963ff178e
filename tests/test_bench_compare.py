"""bench_compare's sidecar merge: timelines fold back only into the run
that wrote them."""

from __future__ import annotations

import json

from tools.bench_compare import _merge_sidecar


def test_merge_sidecar_requires_matching_run_id(tmp_path):
    sc = tmp_path / "bench_timelines.json"
    sc.write_text(
        json.dumps(
            {
                "run_id": "local-2",
                "calibration_timeline": [[0.0, 1.0]],
                "query_end_times": {"q": 1.0},
            }
        )
    )
    same = _merge_sidecar({"timelines_sidecar": str(sc), "run_id": "local-2"})
    assert same["query_end_times"] == {"q": 1.0}
    # a later run overwrote the sidecar: its timelines must not be merged
    older = _merge_sidecar({"timelines_sidecar": str(sc), "run_id": "local-1"})
    assert "query_end_times" not in older
    assert "calibration_timeline" not in older
