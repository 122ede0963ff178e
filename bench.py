"""Benchmark harness — runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Methodology (settled in round 6 by measurement):

- ``queries`` / ``value`` (the headline, comparable with BENCH_r01-r05):
  the shared one-JVM pass — all warmups at sf0.001, then min-of-2 per
  query in suite order (min-of-3 below 0.5 s — see _min_of_2).
- ``calibration_sec`` / ``value_per_calib``: a fixed synthetic PURE-Spark
  workload (range → modular key → shuffle agg; no project code) timed in
  the same session. Round-over-round comparisons should use
  value_per_calib: round-6 experiments showed ±15-25% AMBIENT variance
  between sessions/rounds on identical code and identical plans (the
  r04→r05 "1.25× drift" was this, not a regression), and the anchor
  moves with the machine while plan regressions do not.
- ``--isolated`` additionally times each query in its own fresh-JVM
  subprocess (reported as ``isolated_*``). Measured round 6: isolated is
  ~2× SLOWER across the board — HotSpot JIT warmup dominates a 2-run
  fresh JVM — so it is a diagnostic (per-query, suite-order-independent),
  not the headline. A 512 MB ReservedCodeCacheSize rides session.py so
  long suites never hit JIT code-cache exhaustion (worth ~5% on the
  27-query suite).

Each query is fully materialized via a count() over the result (the
driver collects separately; here we only need execution time, not
transfer time).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

WARMUP_DIR = "/root/testdata/sf0.001"

BENCH_QUERIES = [
    # scan-heavy agg, joins, window, log-surface filters, LLM-pipeline ops
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q10_returned_items",
    "q_window_top_orders",
    "log_agg_by_label",
    "log_time_bucket",
    "log_events_by_nation",
    "dedup_exact_docs",
    "dedup_minhash_lsh",
    "text_stats",
    "sim_topk_cosine",
    # appended round 3 (keep the r01 prefix comparable): embedding near-dup
    # self-join and the bucketed-LSH ANN path
    "dedup_embedding_cosine",
    "sim_lsh_candidates",
    # appended round 4: the iterative CC operator (cost = rounds × edge
    # shuffle — the least predictable operator, so it must be measured)
    # and the keep-list composition that embeds it
    "dedup_cc_groups",
    "dedup_keep_list",
    # appended round 4 (late): the scan-speed repetition signals and the
    # corpus-frequency join — the two new text-quality plan shapes
    "text_repetition",
    "text_token_commonness",
    # appended round 5: the plain vs chunked as-of pair (the two-phase
    # skew-proof shape's overhead must be measured to justify it) and the
    # candidate-pruned MinHash Jaccard estimator
    "log_asof_join",
    "log_asof_join_chunked",
    "dedup_minhash_estimate",
    # appended round 5 (late): the trained-index ANN pair (learned-cell
    # IVF and PQ-ADC — both embed the k-means fit, the least predictable
    # DAG), the sketch-then-verify heavy hitters, and the corpus-join LM
    # scorer
    "sim_ivf_kmeans_topk",
    "sim_pq_adc_topk",
    "log_heavy_hitters",
    "text_bigram_lm",
    # appended round 5 (final): the power-method PCA (3 corpus passes +
    # dim-scale reductions) and the two-generator agreement audit (runs
    # both candidate pipelines + a full-outer pair join)
    "emb_pca_project",
    "dedup_method_agreement",
    # appended round 6: the new plan shapes — shard-parallel sequence
    # packing (window+rollup sharing one exchange), the broadcast-grid
    # z-score screen, and the stateful pandas-group packer
    "mix_pack_sequences",
    "emb_outlier_zscore",
    "mix_pack_greedy",
    # appended round 7: the two heaviest non-headline triage queries —
    # the Arrow-chunked binary near-dup (its pair-aggregation is the
    # engine's biggest fixed cost, so it must be tracked round-over-
    # round) and the window-df TF-IDF whose x64 scale fix this round's
    # PERF_NOTES documents
    "mm_chunk_dedup",
    "text_tfidf_topk",
    # appended round 7 (late): the span-level dedup census (token-scale
    # explode through a merge-pinned join — the grams-broadcast trap this
    # round's PERF_NOTES documents must stay fixed) and the CUBE data
    # card (Expand + exact-int rollup)
    "dedup_repeated_ngrams",
    "corpus_data_card",
    # appended round 7 (final): the full persisted-index semantic-dedup
    # lifecycle (sample-fit train + index write + within-cell pair join)
    # — the engine's only operators that pay a corpus WRITE per run, so
    # their cost must be tracked separately from the fit-inline ANN pair
    "dedup_semantic_cluster",
    # build + codebook-routed batch append + merged-index query: the
    # index MAINTENANCE cadence (two writes per run)
    "sim_ivf_index_append",
    # appended round 8: the span-REMOVAL op (the family's largest token-
    # volume shape — occurrence explode + covered-position distinct +
    # per-doc rebuild), the decontamination gram join, and the
    # one-shuffle leakage-safe split window
    "text_remove_repeated_spans",
    "text_benchmark_decontam",
    "mix_split_leakage_safe",
    # appended round 8 (late): the multi-prefix pair pass (4 cosines per
    # pair off one broadcast join)
    "emb_matryoshka_recall",
    # appended round 9: the banded perceptual-hash join (Arrow kernel +
    # capped SMJ), the scan-speed PII cascade, the N-iteration BPE loop
    # (the engine's only multi-job iterative op — its per-iteration
    # checkpoint overhead must be tracked), and the keep-first span
    # removal (the span family's 4th join topology)
    "mm_phash_neardup",
    "text_scrub_pii",
    "text_bpe_vocab",
    "text_dedup_within_keep_first",
    # the multimodal keep-list: phash DAG + CC rounds + digest shuffle
    "mm_dedup_keep_list",
    # tokenizer APPLY: the training loop + one corpus word join
    "text_tokenize_bpe",
    # train/apply across the shard split incl. the OOV replay chain
    "text_tokenize_bpe_oov",
    # appended round 10: the learned quality gate (shard training pass +
    # merge-pinned corpus scoring), the embedding-space mm dedup
    # (persisted index + cell pair join + media links), the tombstoned
    # delete lifecycle (build + append + delete + anti-join query), and
    # the real PPM decode kernel (Arrow batch, scan-speed)
    "text_quality_classifier",
    "mm_semantic_dedup",
    "sim_ivf_index_delete",
    "mm_decode_ppm",
    "text_quality_agreement",
    # MOSS winnowing: char-gram volume through one doc-window (the
    # engine's largest explode) + capped fingerprint self-join
    "dedup_winnowing",
    # appended round 11: the positional-winnowing span localizer (the
    # gram DAG + positional argmin + pair-partitioned segmentation — a
    # second full pass over the engine's largest explode) and the
    # winnow-vs-banding agreement audit (runs both candidate pipelines)
    "dedup_winnow_spans",
    "dedup_winnow_agreement",
    # the compressed decode path: zlib deflate+inflate + 5-filter
    # unfilter per item through the Arrow kernel — tracked so a Python-
    # side regression in the per-item loop shows up round-over-round
    "mm_decode_png",
    # the full five-verb index lifecycle in one entry: build + append +
    # delete + RETRAIN (refit on the live view) + query — three corpus
    # writes by design, the heaviest maintenance cadence
    "sim_ivf_index_retrain",
    # char-level span removal: the winnow-spans DAG + interval merge +
    # per-doc rebuild fold — the family's largest composed winnow shape
    "text_remove_winnow_spans",
    "mm_decode_bmp",
    # appended round 12: the whole-index snapshot protocol — build +
    # retrain (copy-on-write base, atomic manifest commit) + append +
    # delete resolving into the committed snapshot + query; two fits +
    # two corpus writes by design (the lifecycle cost of never letting
    # a reader see a mixed codebook/members state)
    "sim_ivf_snapshot_reads",
    # the packed-layout decode path: bit pack/unpack + palette/tRNS
    # lookup per item through the Arrow kernel (tracked like its RGB
    # twin so a Python-side per-item regression shows round-over-round)
    "mm_decode_png_palette",
    # the interlaced decode path: 7 filtered sub-images per item
    # (pass-geometry walk + scatter) — the most per-item Python work
    # in the decode family
    "mm_decode_png_adam7",
    # the JPEG path: per-item Huffman bit loop + 40 numpy IDCTs — the
    # family's only pure-Python entropy decode, tracked for per-item
    # regressions
    "mm_decode_jpeg",
    # the GIF path: per-item LZW compress+decompress (dictionary
    # growth) + interlace reorder
    "mm_decode_gif",
    # the 16-bit path: bpp=2 filter lanes + big-endian pair combine
    "mm_decode_png16",
    # the progressive JPEG path: 2 + 2*nc entropy scans per item
    # through the multi-scan coefficient store
    "mm_decode_jpeg_progressive",
    # the admission gate: all five formats through the dispatch with
    # planted corruption (the whole family's per-item cost in one row)
    "mm_decode_validate",
    # appended round 13: the animated-GIF path (3 frames per item:
    # LZW x3 + disposal compositing + local-table/loop-block parse) and
    # the decode-gated keep-list funnel (keep-list DAG + the validate
    # kernel it now consumes + 1-row rollup)
    "mm_decode_gif_frames",
    "mm_pipeline_funnel",
    # the audio decode path (RIFF walk + LE frame extraction) and the
    # TIFF path (IFD walk + strip assembly + PackBits per item)
    "mm_decode_wav",
    "mm_decode_tiff",
    "mm_audio_features",
    "mm_resize_pixels",
    "mm_decode_bmp_rle",
    "mm_decode_tiff_pages",
    # appended round 14: the LZW+predictor TIFF path (per-item MSB LZW
    # decompress + cumsum undo), the decode-backed frame sampler (6
    # composited frames per item, 3 kept), the float-PCM windowed
    # analysis, and the media corpus manifest (keep-list + admission
    # join + 3-row rollup — the round's only new multi-join DAG)
    "mm_decode_tiff_lzw",
    "mm_frame_sample_real",
    "mm_audio_windows",
    "mm_corpus_manifest",
    # appended round 14 (late session): the palette+deflate TIFF path
    # (ColorMap read + zlib strips per item), the IMA ADPCM block
    # decode (the audio modality's first compressed format), and the
    # VP8L lossless-WebP path (prefix codes + LZ77 + cache +
    # subtract-green per item)
    "mm_decode_tiff_palette",
    "mm_decode_adpcm",
    "mm_decode_webp",
    # appended round 14 (late session): the MJPEG AVI container path
    # (RIFF walk + 3 JPEG frame decodes per item) and the G.711
    # companded-audio pair (table expansion per item)
    "mm_decode_video",
    "mm_decode_g711",
    "mm_decode_msadpcm",
    "mm_decode_tiff_tiled",
    # appended round 15: the unified cross-modality ship card (both
    # manifests' gate sub-DAGs + the union rollup — the suite's new
    # most-composite entry) and the DFT windowed-spectra face (float
    # WAV decode + 4 real rffts per item)
    "corpus_ship_card",
    "mm_audio_spectra",
    # appended round 15: JPEG-in-TIFF (three abbreviated strips +
    # JPEGTables merge + entropy decode per item) and animated WebP
    # (VP8X container walk + three VP8L frame decodes + compositing)
    "mm_decode_tiff_jpeg",
    "mm_decode_webp_anim",
    # appended round 15: APNG (acTL/fcTL/fdAT walk + three sub-PNG
    # decodes + compositing per item) and Sun AU (the G.711 tables'
    # second wire container)
    "mm_decode_apng",
    "mm_decode_au",
    # appended round 15: PGM/PBM (the Netpbm family completed)
    "mm_decode_pnm",
]


def _calibration_samples(
    spark, clock0: float, n: int = 3, warm: bool = False
) -> list[list[float]]:
    """Fixed synthetic pure-Spark workload — measures the machine + JVM,
    not the engine (no project code, no I/O): 256M-row range, modular
    key, shuffle agg (~1 s warm — large enough that the anchor is stable
    against scheduler jitter). Returns [t_rel, sec] samples, t_rel
    relative to ``clock0`` (the suite clock); the caller medians the
    secs and bench_compare fits the timeline. Round-8 lesson: a single
    min-of-2 anchor swung 0.305 -> 0.62 between sessions and produced
    two false per-calib regression flags — the median of bracketing +
    interleaved samples is the stable denominator, the recorded spread
    says how much to trust it, and the per-sample TIMESTAMPS (round 10)
    let bench_compare regress out linear mid-suite drift instead of
    handing every noisy session to a human for triage."""
    def _run() -> list[float]:
        t0 = time.perf_counter()
        (
            spark.range(0, 256_000_000, 1, 32)
            .selectExpr("id % 997 AS k", "id")
            .groupBy("k")
            .sum("id")
            .count()
        )
        return [round(t0 - clock0, 3), round(time.perf_counter() - t0, 4)]

    if warm:
        _run()  # untimed: the anchor's own codegen compile is not the
        # machine state we are anchoring on (first sample read ~35%
        # high without this)
    return [_run() for _ in range(n)]


def _min_of_2(fn, spark, sf_dir: str) -> float:
    """JVM codegen/GC jitter is bimodal (observed 4.7 s vs 1.1 s for the
    same plan); min-of-2 reports steady-state throughput rather than
    first-compile noise. Below 0.5 s a third run is added (round-7
    verdict): sub-second queries are dominated by scheduler/Python
    fixed overhead the calibration anchor does not model — they drove
    the entire apparent r06→r07 per-calib drift — so their min needs
    one more sample to be stable.

    Each run's localCheckpoint blocks are released explicitly before
    the next run starts — each run builds a FRESH DAG (so nothing here
    is consumed again), but the dead blocks otherwise pin block-manager
    memory for the ContextCleaner's ~30 min cadence, so every run would
    time against the previous runs' leftovers and the 93-query suite
    would pay the accumulation as late-suite GC drag (round 15 measured
    the forced-GC alternative at 5-11x single-query stalls and rejected
    it). The release runs OUTSIDE every timing window."""
    from datafusion_loki_spark.functions.checkpoints import (
        free_checkpoints,
        persistent_rdd_ids,
    )

    best = float("inf")
    for i in range(3):
        if i == 2 and best >= 0.5:
            break
        pre = persistent_rdd_ids(spark)
        t0 = time.perf_counter()
        fn(spark, sf_dir).count()
        best = min(best, time.perf_counter() - t0)
        free_checkpoints(spark, persistent_rdd_ids(spark) - pre)
    return round(best, 4)


def _child(name: str, sf_dir: str) -> None:
    """Isolated-mode worker: fresh session, warm once at sf0.001, then
    min-of-2 at the target SF. Prints one JSON line on stdout."""
    from datafusion_loki_spark.session import get_spark

    import __spark_entry__ as entrymod

    spark = get_spark(app_name=f"bench-{name}")
    fn = entrymod.queries()[name]
    try:
        fn(spark, WARMUP_DIR).count()
    except Exception:
        pass
    print(json.dumps({"name": name, "sec": _min_of_2(fn, spark, sf_dir)}))
    spark.stop()


def _isolated_pass(names: list[str], sf_dir: str) -> dict[str, float]:
    timings: dict[str, float] = {}
    for name in names:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--worker", name, sf_dir],
            capture_output=True,
            text=True,
            cwd=os.path.dirname(os.path.abspath(__file__)),
        )
        result = None
        for line in reversed(proc.stdout.splitlines()):
            try:
                result = json.loads(line)
                break
            except json.JSONDecodeError:
                continue
        if result is None:
            print(
                f"isolated run failed for {name}:\n{proc.stderr[-2000:]}",
                file=sys.stderr,
            )
            continue
        timings[name] = result["sec"]
    return timings


def _shared_pass(
    names: list[str], sf_dir: str
) -> tuple[dict[str, float], list[list[float]], dict[str, float], str]:
    from datafusion_loki_spark.session import get_spark

    import __spark_entry__ as entrymod

    from datafusion_loki_spark.functions.checkpoints import (
        free_checkpoints,
        persistent_rdd_ids,
    )

    spark = get_spark(app_name="bench")
    queries = entrymod.queries()
    # Warmup: run everything once at the smallest SF to amortize
    # JVM/codegen before any timing starts. Checkpoint blocks released
    # per query (round 16 — see _min_of_2): the warmup otherwise enters
    # the timed suite already carrying 93 queries of dead blocks.
    for name in names:
        pre = persistent_rdd_ids(spark)
        try:
            queries[name](spark, WARMUP_DIR).count()
        except Exception:
            pass
        free_checkpoints(spark, persistent_rdd_ids(spark) - pre)
    clock0 = time.perf_counter()
    samples = _calibration_samples(spark, clock0, warm=True)
    # one anchor sample between suite thirds (round 10): 6 bracketing
    # samples alias any drift that happens DURING the ~50 s suite — the
    # r09 spread-0.517 session needed hand triage. With interleaved
    # timestamped samples, bench_compare fits calib(t) and judges each
    # query against the anchor's value at ITS moment, not the global
    # median.
    timings: dict[str, float] = {}
    q_end: dict[str, float] = {}
    thirds = max(1, (len(names) + 2) // 3)
    for i, n in enumerate(names):
        timings[n] = _min_of_2(queries[n], spark, sf_dir)
        q_end[n] = round(time.perf_counter() - clock0, 3)
        if (i + 1) % thirds == 0 and (i + 1) < len(names):
            samples += _calibration_samples(spark, clock0, n=1)
    # anchor again after the suite: bracketing samples, so a machine
    # that degrades mid-suite shows up in the spread instead of
    # silently biasing the denominator
    samples += _calibration_samples(spark, clock0)
    run_id = spark.sparkContext.applicationId
    spark.stop()
    return timings, samples, q_end, run_id


def main() -> None:
    if len(sys.argv) >= 4 and sys.argv[1] == "--worker":
        _child(sys.argv[2], sys.argv[3])
        return

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")

    import __spark_entry__ as entrymod

    registered = entrymod.queries()
    # --all: time every registered query (triage tool for finding slow
    # operators); the default headline list stays stable across rounds so
    # BENCH_r{N}.json files remain comparable.
    if "--all" in sys.argv[1:]:
        names = sorted(registered)
    else:
        names = [n for n in BENCH_QUERIES if n in registered]

    shared, timeline, q_end, run_id = _shared_pass(names, sf_dir)
    total = round(sum(shared.values()), 4)
    import statistics

    secs = [s for _t, s in timeline]
    calib = round(statistics.median(secs), 4)
    spread = round((max(secs) - min(secs)) / calib, 3) if calib else None
    # Round-16 (r15 VERDICT next-#8): the per-sample timelines moved to a
    # SIDECAR file so the headline stdout line stays short — BENCH_r14's
    # stored tail truncated mid-JSON on the embedded tens-of-KB timeline
    # maps and the driver lost all round-over-round per-query comparison.
    # Same timing methodology, same keys otherwise; the sidecar carries
    # what the line used to embed, and both carry the run's
    # applicationId so a later run's sidecar is never merged into it.
    sidecar_name = "bench_timelines.json"
    sidecar_path = os.environ.get(
        "SPARK_GRAFT_BENCH_SIDECAR",
        os.path.join(
            os.path.dirname(os.path.abspath(__file__)), sidecar_name
        ),
    )
    try:
        with open(sidecar_path, "w") as f:
            json.dump(
                {
                    "run_id": run_id,
                    "calibration_timeline": timeline,
                    "query_end_times": q_end,
                },
                f,
            )
    except OSError:
        sidecar_path = None  # diagnostics only — never fail the bench
    out = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": shared,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "calibration_sec": calib,
        "calibration_spread": spread,
        "calibration_samples": secs,
        "timelines_sidecar": sidecar_path,
        "run_id": run_id,
        "value_per_calib": round(total / calib, 3) if calib else None,
        "methodology": (
            "value: one-JVM suite, warmup at sf0.001 then min-of-2 per "
            "query (min-of-3 below 0.5 s — fixed-overhead floor); "
            "calibration_sec: MEDIAN of 3+2+3 fixed synthetic pure-Spark "
            "samples bracketing AND interleaving the suite (round 10 — "
            "r09 used 3+3 bracketing; r08 and earlier min-of-2x2, which "
            "reads ~5-15% below the median), calibration_spread = "
            "(max-min)/median; per-sample suite-clock timelines "
            "(calibration_timeline/query_end_times) live in the "
            "timelines_sidecar file (round 16 — embedded in this line "
            "before, which truncated the stored r14 tail) so "
            "bench_compare can regress out linear mid-suite drift; "
            "compare rounds via value_per_calib (ambient machine "
            "variance between sessions measured at +/-15-25% in round 6)"
        ),
    }
    if "--isolated" in sys.argv[1:]:
        iso = _isolated_pass(names, sf_dir)
        out["isolated_queries"] = iso
        out["isolated_total"] = round(sum(iso.values()), 4)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
