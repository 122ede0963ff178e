"""Loki store stub for the benchmark, run as its own process.

It speaks the same HTTP API as the test emulator (``tests/emulator.py``):
``status/buildinfo``, ``query_range`` answering with parquet, and JSON
``push``. Stream matchers and line filters keep the emulator's semantics;
its selector parser and label matcher are reused. Line regexes run
through Arrow's RE2, the dialect Loki itself uses.

Unlike the emulator it keeps rows columnar and sorted by timestamp, so a
request costs a binary search plus vectorised masks instead of a Python
loop over every row, and it runs outside the benchmark's interpreter so
it never competes with the Spark driver for the GIL. ``GET /stats``
reports what it served: requests, bytes, rows and its own busy time.

Run: ``python3 perfbench/lokistub.py --seed 1``. It prints
``PORT <n>`` once it listens and exits when its standard input closes.
"""

from __future__ import annotations

import argparse
import io
import json
import os
import re
import sys
import threading
import time
import urllib.parse
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import datagen  # noqa: E402
from tests.emulator import (  # noqa: E402
    _LINE_FILTER_RE,
    _MATCHER_RE,
    _matcher_ok,
    _selector_end,
)

_MAX_SEGMENTS = 8
_CHUNK = 16_384


class Segment:
    """Rows sorted by timestamp: ns int64, stream id int32, line strings."""

    def __init__(self, ts: np.ndarray, sid: np.ndarray, line: pa.Array):
        order = np.argsort(ts, kind="stable")
        self.ts = ts[order]
        self.sid = sid[order]
        self.line = line.take(pa.array(order))

    @staticmethod
    def concat(segments: "list[Segment]") -> "Segment":
        return Segment(
            np.concatenate([s.ts for s in segments]),
            np.concatenate([s.sid for s in segments]),
            pa.concat_arrays([s.line for s in segments]),
        )

    def select(self, start, end, allowed, line_filters, limit, backward):
        """Row positions in [start, end) whose stream is allowed and whose
        line passes every filter; the first (or last) ``limit`` of them."""
        lo = int(np.searchsorted(self.ts, start, "left"))
        hi = int(np.searchsorted(self.ts, end, "left"))
        picked: list[np.ndarray] = []
        got = 0
        step = _CHUNK if limit is None else max(2 * limit, _CHUNK)
        bounds = range(lo, hi, step)
        if backward:
            bounds = reversed(bounds)
        for a in bounds:
            b = min(a + step, hi)
            keep = allowed[self.sid[a:b]]
            if line_filters and keep.any():
                chunk = self.line.slice(a, b - a)
                for op, arg in line_filters:
                    keep &= _line_mask(chunk, op, arg)
            idx = np.nonzero(keep)[0] + a
            picked.append(idx)
            got += len(idx)
            if limit is not None and got >= limit:
                break
        if backward:
            picked.reverse()
        idx = np.concatenate(picked) if picked else np.empty(0, np.int64)
        if limit is not None:
            idx = idx[-limit:] if backward else idx[:limit]
        return idx


def _unescape(v: str) -> str:
    """Matcher values are Go-quoted; the client only escapes \\ and \"."""
    return re.sub(r"\\(.)", r"\1", v)


def _line_mask(chunk: pa.Array, op: str, arg: str) -> np.ndarray:
    if op in ("|=", "!="):
        hit = pc.match_substring(chunk, arg)
    else:
        hit = pc.match_substring_regex(chunk, arg)
    mask = hit.to_numpy(zero_copy_only=False)
    return ~mask if op in ("!=", "!~") else mask


class Store:
    def __init__(self):
        self.lock = threading.Lock()
        self.streams: list[dict] = []
        self.stream_ids: dict[tuple, int] = {}
        self.labels_map = pa.array([], pa.map_(pa.string(), pa.string()))
        self.segments: list[Segment] = []
        self.selector_cache: dict[str, np.ndarray] = {}
        self.stats = dict.fromkeys(
            (
                "requests",
                "query_requests",
                "push_requests",
                "bytes_served",
                "push_bytes",
                "rows_served",
                "rows_pushed",
                "busy_s",
            ),
            0,
        )

    def _stream_id(self, labels: dict) -> int:
        """Caller holds the lock."""
        key = tuple(sorted(labels.items()))
        sid = self.stream_ids.get(key)
        if sid is None:
            sid = len(self.streams)
            self.stream_ids[key] = sid
            self.streams.append(dict(labels))
            self.labels_map = pa.array(
                [list(s.items()) for s in self.streams],
                pa.map_(pa.string(), pa.string()),
            )
            self.selector_cache.clear()
        return sid

    def append(self, ts: np.ndarray, labels: list[dict], lines: list[str]) -> None:
        with self.lock:
            sid = np.array([self._stream_id(lb) for lb in labels], np.int32)
            segments = self.segments + [Segment(ts, sid, pa.array(lines, pa.string()))]
            if len(segments) > _MAX_SEGMENTS:
                # the seeded segment stays apart; only pushed ones merge
                segments = [segments[0], Segment.concat(segments[1:])]
            self.segments = segments

    def seed(self, seed: int) -> None:
        rows = datagen.loki_rows(seed)
        with self.lock:
            ids = np.array(
                [
                    self._stream_id(datagen.stream_labels(a, lv))
                    for a in range(datagen.LOKI_APPS)
                    for lv in range(len(datagen.LOKI_LEVELS))
                ],
                np.int32,
            )
            sid = ids[rows["app"] * len(datagen.LOKI_LEVELS) + rows["level"]]
            self.segments = [Segment(rows["ts"], sid, pa.array(rows["line"]))]

    def _allowed(self, selector: str) -> np.ndarray:
        """Boolean mask over stream ids; caller holds the lock."""
        hit = self.selector_cache.get(selector)
        if hit is None:
            matchers = [
                (k, op, _unescape(v)) for k, op, v in _MATCHER_RE.findall(selector)
            ]
            hit = np.array(
                [
                    all(_matcher_ok(s, k, op, v) for k, op, v in matchers)
                    for s in self.streams
                ],
                bool,
            )
            self.selector_cache[selector] = hit
        return hit

    def query(self, params: dict) -> tuple[bytes, int]:
        query = params["query"][0]
        start = int(params["start"][0])
        end = int(params["end"][0])
        limit = int(params["limit"][0]) if "limit" in params else None
        backward = params.get("direction", ["backward"])[0] == "backward"
        close = _selector_end(query)
        selector = query[: close + 1]
        line_filters = _LINE_FILTER_RE.findall(query[close + 1 :])
        with self.lock:
            allowed = self._allowed(selector)
            segments = list(self.segments)
            labels_map = self.labels_map
        parts = [
            (seg, idx)
            for seg in segments
            if len(idx := seg.select(start, end, allowed, line_filters, limit, backward))
        ]
        ts = np.concatenate([s.ts[i] for s, i in parts] or [np.empty(0, np.int64)])
        sid = np.concatenate([s.sid[i] for s, i in parts] or [np.empty(0, np.int32)])
        lines = pa.concat_arrays(
            [s.line.take(pa.array(i)) for s, i in parts] or [pa.array([], pa.string())]
        )
        if len(parts) > 1:
            order = np.argsort(ts, kind="stable")
            if limit is not None:
                order = order[-limit:] if backward else order[:limit]
            ts, sid, lines = ts[order], sid[order], lines.take(pa.array(order))
        table = pa.table(
            {
                "timestamp": pa.array(ts, pa.int64()).cast(pa.timestamp("ns")),
                "labels": labels_map.take(pa.array(sid)),
                "line": lines,
            }
        )
        buf = io.BytesIO()
        pq.write_table(table, buf)
        return buf.getvalue(), table.num_rows

    def push(self, payload: dict) -> int:
        ts, labels, lines = [], [], []
        for stream in payload.get("streams", []):
            lb = dict(stream.get("stream", {}))
            for ns, line in stream.get("values", []):
                ts.append(int(ns))
                labels.append(lb)
                lines.append(line)
        if ts:
            self.append(np.array(ts, np.int64), labels, lines)
        return len(ts)

    def count(self, **deltas) -> None:
        with self.lock:
            for k, v in deltas.items():
                self.stats[k] += v


def make_handler(store: Store):
    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *args):
            pass

        def _reply(self, code: int, body: bytes = b"", ctype: str = "") -> None:
            self.send_response(code)
            if ctype:
                self.send_header("Content-Type", ctype)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            if body:
                self.wfile.write(body)

        def do_GET(self):
            t0 = time.perf_counter()
            parsed = urllib.parse.urlparse(self.path)
            if parsed.path == "/stats":
                with store.lock:
                    body = json.dumps(store.stats).encode()
                self._reply(200, body, "application/json")
                return
            if parsed.path == "/loki/api/v1/status/buildinfo":
                self._reply(200, b'{"version": "perfbench-stub"}', "application/json")
            elif parsed.path == "/loki/api/v1/query_range":
                body, rows = store.query(urllib.parse.parse_qs(parsed.query))
                self._reply(200, body, "application/vnd.apache.parquet")
                store.count(
                    requests=1,
                    query_requests=1,
                    bytes_served=len(body),
                    rows_served=rows,
                    busy_s=time.perf_counter() - t0,
                )
                return
            else:
                self._reply(404)
            store.count(requests=1, busy_s=time.perf_counter() - t0)

        def do_POST(self):
            t0 = time.perf_counter()
            if self.path != "/loki/api/v1/push":
                self._reply(404)
                return
            length = int(self.headers.get("Content-Length", "0"))
            raw = self.rfile.read(length)
            rows = store.push(json.loads(raw))
            self._reply(204)
            store.count(
                requests=1,
                push_requests=1,
                push_bytes=len(raw),
                rows_pushed=rows,
                busy_s=time.perf_counter() - t0,
            )

    return Handler


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    args = ap.parse_args()
    store = Store()
    store.seed(args.seed)
    server = ThreadingHTTPServer(("127.0.0.1", 0), make_handler(store))
    server.daemon_threads = True
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    print(f"PORT {server.server_address[1]}", flush=True)
    # the parent holds our stdin open; EOF means it is done or gone
    sys.stdin.read()
    server.shutdown()
    server.server_close()


if __name__ == "__main__":
    main()
