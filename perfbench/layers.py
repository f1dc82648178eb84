"""Per-layer metrics of a traced run, named after the engine's modules.

Spans come from wrappers installed around the engine's public functions
(``harness.Tracer``); Spark-side numbers come from the status store
(``harness.SparkLedger``); storage and codec numbers are read from the
published index. A layer a workload does not run reports 0.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pandas as pd
import pyarrow.compute as pc
import pyarrow.dataset as pads
import pyarrow.parquet as pq

from escp_spark import build as B
from escp_spark import sidecar as S
from escp_spark.codec import decode_blocks_bulk, encode_posting_frame
from escp_spark.sources.tables import load_manifest

from harness import Tracer, first_start, mean, median, span_total

SERVE_SPANS = ("term_dfs", "meta_for_terms", "fetch_payloads", "decode",
               "urls_for")
_SPARK_KEYS = ("jobs", "tasks", "failed_tasks", "task_busy_s",
               "shuffle_write_bytes", "spill_bytes", "task_skew")


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(root, f))
               for root, _, files in os.walk(path) for f in files)


def spark_counts(prefix: str, spark: dict) -> dict:
    """Spark jobs and tasks of one call, for the exact-count record."""
    return {f"{prefix}.spark_jobs": spark["jobs"],
            f"{prefix}.spark_tasks": spark["tasks"]}


def _spark_layer(prefix: str, sparks: list[dict]) -> dict:
    """Mean per call of each Spark-side number."""
    names = {"jobs": "spark_jobs", "tasks": "spark_tasks"}
    return {f"{prefix}.{names.get(k, k)}": mean([s[k] for s in sparks])
            for k in _SPARK_KEYS}


# ---------------------------------------------------------------------------
# build
# ---------------------------------------------------------------------------


def trace_build(tracer: Tracer) -> None:
    tracer.wrap(B, "committed_groups", "committed_groups",
                detail=lambda a: a[2])  # the stage name
    tracer.wrap(B, "merge_segments", "merge_segments")
    tracer.wrap(S, "write_rg_sidecar", "write_rg_sidecar")
    tracer.wrap(B, "publish_manifest", "publish_manifest")


def _build_stages(wall: float, spans) -> dict:
    """build_index's stages from its spans: shuffle = entry of the
    shuffle ledger check -> entry of the segment ledger check; segment
    -> merge_segments entry; merge, sidecar and publish are their calls;
    other is the rest of the wall."""
    t_shuffle = first_start(spans, "committed_groups", "shuffle")
    t_segment = first_start(spans, "committed_groups", "segment")
    t_merge = first_start(spans, "merge_segments")
    st = {
        "shuffle_s": t_segment - t_shuffle,
        "segment_s": t_merge - t_segment,
        "merge_s": span_total(spans, "merge_segments"),
        "sidecar_s": span_total(spans, "write_rg_sidecar"),
        "publish_s": span_total(spans, "publish_manifest"),
    }
    st["other_s"] = wall - sum(st.values())
    return st


def build_layers(records) -> dict:
    """records: [(wall, spark, spans)] of traced build_index calls."""
    out = {}
    stages = [_build_stages(wall, spans) for wall, _, spans in records]
    for k in stages[0]:
        out[f"build.{k}"] = mean([s[k] for s in stages])
    out.update(_spark_layer("build", [r[1] for r in records]))
    return out


def build_span_check(records) -> dict:
    """Named stage spans cover the build_index wall within 5%."""
    worst = 1.0
    for wall, _, spans in records:
        st = _build_stages(wall, spans)
        worst = min(worst, 1.0 - st["other_s"] / wall)
    return {"build_span_cover": worst, "build_span_ok": worst >= 0.95}


# ---------------------------------------------------------------------------
# storage and codec (read from the published index)
# ---------------------------------------------------------------------------


def storage(index_dir: str, input_bytes: int) -> dict:
    paths = load_manifest(index_dir)["paths"]
    row_groups = sum(
        pq.ParquetFile(f).metadata.num_row_groups
        for f in pads.dataset(paths["postings"], format="parquet").files
    )
    return {
        "build.staging_bytes_per_input_byte":
            dir_bytes(os.path.join(index_dir, "staging")) / input_bytes,
        "build.postings_bytes": dir_bytes(paths["postings"]),
        "build.postings_row_groups": row_groups,
        "build.docmap_bytes": dir_bytes(paths["docmap"]),
        "build.dictionary_bytes": dir_bytes(paths["dictionary"]),
    }


def codec(index_dir: str) -> dict:
    """Driver-side, single-thread codec throughput over one index:
    decode_blocks_bulk over every published block, and
    encode_posting_frame over every decoded (segment, term) list.
    MB = encoded payload; median of 3 passes each."""
    paths = load_manifest(index_dir)["paths"]
    t = pads.dataset(paths["postings"], format="parquet",
                     partitioning="hive").to_table(
        columns=["segment", "term", "n", "doc_ids", "tfs", "dls"])
    bufs = [t[c].to_pylist() for c in ("doc_ids", "tfs", "dls")]
    ns = t["n"].to_numpy()
    payload_mb = sum(pc.sum(pc.binary_length(t[c])).as_py()
                     for c in ("doc_ids", "tfs", "dls")) / 1e6

    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        ids, tfs, dls, blk = decode_blocks_bulk(*bufs, ns)
        times.append(time.perf_counter() - t0)

    # Re-encode the decoded lists the way the build's segment kernel
    # does: one encode_posting_frame pass over (list, doc)-sorted pairs.
    group = pd.DataFrame({"s": t["segment"].to_numpy(),
                          "t": t["term"].to_numpy()}).groupby(
        ["s", "t"], sort=False).ngroup().to_numpy()[blk]
    order = np.lexsort((ids, group))
    args = (group[order], ids[order], tfs[order], dls[order])
    enc_times = []
    for _ in range(3):
        t0 = time.perf_counter()
        enc = encode_posting_frame(*args)
        enc_times.append(time.perf_counter() - t0)
    enc_mb = sum(len(b) for c in ("doc_ids", "tfs", "dls") for b in enc[c]) / 1e6
    return {"codec.encode_mb_per_s": enc_mb / median(enc_times),
            "codec.decode_mb_per_s": payload_mb / median(times)}


# ---------------------------------------------------------------------------
# query: serving path
# ---------------------------------------------------------------------------


def serving_layers(recs: list[dict], opens: list[float], readers) -> dict:
    """Per-query means over traced serving queries."""
    out = {"query.reader_open_ms": median(opens) * 1e3}
    for name in SERVE_SPANS:
        out[f"query.{name}_ms"] = mean([r[name] for r in recs]) * 1e3
    out["query.score_self_ms"] = mean(
        [r["wall"] - sum(r[n] for n in SERVE_SPANS) for r in recs]) * 1e3
    cand = sum(r["candidate"] for r in recs)
    lookups = sum(r["lookups"] for r in recs)
    out.update({
        "query.candidate_blocks_per_query": mean([r["candidate"] for r in recs]),
        "query.fetched_blocks_per_query": mean([r["fetched"] for r in recs]),
        "query.pruned_block_ratio":
            sum(r["pruned"] for r in recs) / cand if cand else 0.0,
        "query.payload_bytes_per_query":
            mean([r["payload_bytes"] for r in recs]),
        "query.payload_rowgroups_per_query":
            mean([r["payload_rgs"] for r in recs]),
        "query.payload_cache_hit_ratio":
            1.0 - sum(r["payload_rgs"] for r in recs) / lookups
            if lookups else 0.0,
        "query.dm_rowgroups_per_query": mean([r["dm_rgs"] for r in recs]),
        "query.index_fallbacks": sum(
            (r.rg_index_source == "footers") + (r.dm_index_source == "footers")
            for r in readers),
    })
    return out


def serve_span_check(recs: list[dict]) -> dict:
    """Wrapped method spans never overlap, so with score_self they sum
    to each search_topk wall; a negative self time would mean they do."""
    worst = min(r["wall"] - sum(r[n] for n in SERVE_SPANS) for r in recs)
    return {"serve_min_self_ms": worst * 1e3, "serve_span_ok": worst >= 0.0}


# ---------------------------------------------------------------------------
# query.batch
# ---------------------------------------------------------------------------


def _batch_phases(b: dict) -> tuple[float, float, float]:
    """plan = call -> first job submitted; jobs = first submission -> end
    of the last job that finished before IndexReader.urls_for; finish =
    urls_for -> rows collected (url stabs, ranking and the result's own
    collect)."""
    spans = b["spark"]["job_spans"]
    urls_epoch = b["w0"] + b["urls_rel"]
    first = min(s for s, _ in spans)
    scored = max(e for _, e in spans if e <= urls_epoch + 1e-3)
    return first - b["w0"], scored - first, b["wall"] - b["urls_rel"]


def batch_layers(batches: list[dict]) -> dict:
    out = _spark_layer("query.batch", [b["spark"] for b in batches])
    phases = [_batch_phases(b) for b in batches]
    out["query.batch.plan_s"] = mean([p[0] for p in phases])
    out["query.batch.finish_s"] = mean([p[2] for p in phases])
    return out


def batch_span_check(batches: list[dict]) -> dict:
    """plan + scoring jobs + finish cover the search_topk_spark wall
    within 5%."""
    covers = [sum(_batch_phases(b)) / b["wall"] for b in batches]
    worst = max(covers, key=lambda c: abs(1.0 - c))
    return {"batch_span_cover": worst,
            "batch_span_ok": abs(1.0 - worst) <= 0.05}


# ---------------------------------------------------------------------------
# streaming
# ---------------------------------------------------------------------------


def trace_streaming(tracer: Tracer) -> None:
    # compact_index imports merge_segments from the build module at call
    # time, so wrapping the module attribute catches it.
    tracer.wrap(B, "merge_segments", "merge_segments")
    tracer.wrap(S, "write_rg_sidecar", "write_rg_sidecar")


def streaming_layers(steps: dict, sparks: dict, spans, epochs: int,
                     firsts: list[float]) -> dict:
    """steps / sparks: name -> wall s / Spark accounting of each call.
    Step times are means per call; merge, sidecar and Spark work are
    totals over the run."""
    calls = [s for per_name in sparks.values() for s in per_name]
    out = {f"streaming.{k}_s": mean(v) for k, v in steps.items()}
    out["streaming.merge_s"] = span_total(spans, "merge_segments")
    out["streaming.sidecar_s"] = span_total(spans, "write_rg_sidecar")
    out["streaming.spark_jobs"] = sum(s["jobs"] for s in calls)
    out["streaming.failed_tasks"] = sum(s["failed_tasks"] for s in calls)
    out["streaming.task_busy_s"] = sum(s["task_busy_s"] for s in calls)
    out["streaming.epochs"] = epochs
    out["query.first_query_after_publish_ms"] = median(firsts) * 1e3
    return out
