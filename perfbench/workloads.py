"""The benchmark's workloads: build and ingest.

Both run the same sequence of operations on an index made two ways —
``build`` by batch ``build_index``, ``ingest`` by Structured Streaming —
so every end-to-end metric means the same thing in both:

    write     build_index / stream_ingest_once + finalize_streamed_index
    maintain  validate_index / delete_urls + compact_index
    serve     search_topk on one long-lived IndexReader, hot and rare
    batch     search_topk_spark, alternating hot and rare 200-query batches

Each workload fills an ``Outcome``: end-to-end values, per-layer values
of a traced run, the exact-count record and the correctness verdict.
Correctness checks run outside the timed regions.
"""

from __future__ import annotations

import contextlib
import os
import time
import traceback
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq

from escp_spark import query as Q
from escp_spark.build import build_index
from escp_spark.query import IndexReader, search_topk, search_topk_spark
from escp_spark.sources.tables import load_manifest
from escp_spark.streaming import (
    compact_index,
    delete_urls,
    finalize_streamed_index,
    stream_ingest_once,
)
from escp_spark.validate import ValidationError, validate_index

from harness import SparkLedger, Tracer, first_start, median, span_total, tail
import inputs
import layers

N_DOCS = 10_000                 # build corpus (10,100 rows with duplicates)
BUILD_ARGS = {"n_buckets": 16, "max_segments": 5, "n_groups": 2}
STREAM_FILES, STREAM_DOCS_PER_FILE = 2, 1_500
REPUBLISH_QUERIES = 25          # per class, after each republish
BATCH_QUERIES = 200
WARMUP_BATCH_QUERIES = 50
CHECK_QUERIES = 25              # per class, against the oracle
DELETE_SHARE = 0.01
MAINTENANCE_CYCLES = 2          # ingest: delete + compact cycles


@dataclass
class Outcome:
    e2e: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)
    counts: dict = field(default_factory=dict)
    info: dict = field(default_factory=lambda: {"workload_metrics": {},
                                                "span_checks": {}})
    attempted: int = 0
    failed: int = 0
    mismatches: list = field(default_factory=list)
    tie_order: list = field(default_factory=list)


class Run:
    """State shared by the steps of one workload run."""

    def __init__(self, spark, work_dir: str, seed: int, seconds: float,
                 trace: bool, t_process: float):
        self.spark = spark
        self.work = work_dir
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.t_process = t_process
        self.rng = np.random.default_rng(seed)
        self.ledger = SparkLedger(spark)
        self.tracer = Tracer()
        self.out = Outcome()

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def setup_done(self) -> None:
        self.out.e2e["setup_s"] = time.perf_counter() - self.t_process

    def timed(self, fn, *args, **kwargs):
        """Run one engine call: (result, wall s, Spark accounting, start)
        with start = (epoch s, perf_counter s). Spark accounting is read
        outside the timing."""
        mark = self.ledger.mark()
        self.out.attempted += 1
        w0, t0 = time.time(), time.perf_counter()
        try:
            res = fn(*args, **kwargs)
        except Exception:
            self.out.failed += 1
            raise
        wall = time.perf_counter() - t0
        return res, wall, self.ledger.since(mark), (w0, t0)

    def finish(self, index_dir: str, input_bytes: int, write_docs_per_s: float,
               maintain_s: float, serving: "Serving",
               batches: list[dict]) -> None:
        """Fill the end-to-end metrics both workloads share."""
        e = self.out.e2e
        samples, latency = {}, {}
        e["write_docs_per_s"] = write_docs_per_s
        e["maintain_s"] = maintain_s
        # Serving latency is reported, not bounded: on a shared VM it
        # moves by 20-40% between host phases (see README.md).
        for cls in ("hot", "rare"):
            lat = serving.lat[cls]
            t, rank = tail(lat)
            latency[f"query.{cls}_p50_ms"] = median(lat) * 1e3
            latency[f"query.{cls}_tail_ms"] = t * 1e3
            samples[cls] = {"n": len(lat), "tail_pct": rank}
        self.out.info["serving"] = latency
        e["batch_queries_per_s"] = (
            sum(len(b["queries"]) for b in batches)
            / sum(b["wall"] for b in batches))
        b_walls = {c: [b["wall"] for b in batches if b["cls"] == c]
                   for c in ("hot", "rare")}
        samples["batches"] = {c: len(w) for c, w in b_walls.items()}
        index_bytes = layers.dir_bytes(index_dir)
        e["index_bytes_per_input_byte"] = index_bytes / input_bytes
        e["op_ok_ratio"] = (
            (self.out.attempted - self.out.failed) / self.out.attempted)
        self.out.info["samples"] = samples
        self.out.info["workload_metrics"].update({
            "batch_hot_qps": BATCH_QUERIES / median(b_walls["hot"]),
            "batch_rare_qps": BATCH_QUERIES / median(b_walls["rare"]),
        })
        self.out.counts["index_bytes"] = index_bytes
        self.out.counts["n_docs"] = load_manifest(index_dir)["n_docs"]
        for c in ("hot", "rare"):
            first = next(b for b in batches if b["cls"] == c)
            self.out.counts.update(
                layers.spark_counts(f"batch.first_{c}", first["spark"]))
        if self.trace:
            self.out.layers.update(latency)
            self.out.layers.update(layers.storage(index_dir, input_bytes))
            self.out.layers.update(layers.codec(index_dir))
            self.out.layers.update(layers.batch_layers(batches))
            self.out.info["span_checks"].update(
                layers.batch_span_check(batches))


# ---------------------------------------------------------------------------
# Reads: serving path and batch path
# ---------------------------------------------------------------------------


def trace_serving(tracer: Tracer) -> None:
    """Serving-path wraps for a whole traced run. The serving decode is
    wrapped per burst (``Serving.decode_traced``) instead: the batch
    path's scoring tasks pickle that name."""
    for name in ("term_dfs", "meta_for_terms", "urls_for"):
        tracer.wrap(IndexReader, name, name)
    # detail = distinct payload row groups looked up (hits + misses)
    tracer.wrap(IndexReader, "fetch_payloads", "fetch_payloads",
                detail=lambda a: int(np.unique(a[1] * (1 << 20) + a[2]).size))


def serve_one(run: Run, reader: IndexReader, index_dir: str, q: dict):
    """One serving query: (rows, wall s, per-query record)."""
    run.tracer.take()
    Q.last_prune_stats = {}
    io0 = (reader.payload_bytes_fetched, reader.payload_rowgroups_fetched,
           reader.dm_rowgroups_touched)
    t0 = time.perf_counter()
    rows = search_topk(index_dir, [q], reader=reader)
    wall = time.perf_counter() - t0
    st = Q.last_prune_stats
    rec = {
        "wall": wall,
        "candidate": st.get("total_blocks", 0),
        "fetched": st.get("kept_blocks", 0),
        "pruned": st.get("pruned_blocks", 0),
        "payload_bytes": reader.payload_bytes_fetched - io0[0],
        "payload_rgs": reader.payload_rowgroups_fetched - io0[1],
        "dm_rgs": reader.dm_rowgroups_touched - io0[2],
    }
    if run.trace:
        spans = run.tracer.take()
        for name in layers.SERVE_SPANS:
            rec[name] = span_total(spans, name)
        rec["lookups"] = sum(d for n, _, _, d in spans if n == "fetch_payloads")
    return rows, wall, rec


def query_stream(rng: np.random.Generator, n: int) -> list[tuple[str, dict]]:
    """Interleaved stream: each query is hot or rare with probability ½."""
    hot = iter(inputs.hot_queries(rng, n))
    rare = iter(inputs.rare_queries(rng, n, qid0=n))
    return [("hot", next(hot)) if c else ("rare", next(rare))
            for c in rng.integers(0, 2, size=n)]


class Serving:
    """One long-lived reader answering a single caller thread, and the
    samples it produced: latency per class and the per-query records the
    traced layers are computed from."""

    def __init__(self, run: Run, index_dir: str, reader: IndexReader):
        self.run, self.index_dir, self.reader = run, index_dir, reader
        self.lat = {"hot": [], "rare": []}
        self.recs: list[dict] = []

    def decode_traced(self):
        if not self.run.trace:
            return contextlib.nullcontext()
        return self.run.tracer.wrapped(Q, "decode_blocks_bulk", "decode")

    def queries(self, stream, seconds: float | None = None) -> list[dict]:
        """Closed loop over ``stream`` (until ``seconds`` pass, if given);
        returns the rows."""
        t_end = time.perf_counter() + (seconds or 0.0)
        rows = []
        with self.decode_traced():
            for cls, q in stream:
                self.run.out.attempted += 1
                try:
                    r, wall, rec = serve_one(self.run, self.reader,
                                             self.index_dir, q)
                except Exception:
                    self.run.out.failed += 1
                    traceback.print_exc()
                    continue
                rows += r
                self.lat[cls].append(wall)
                self.recs.append(rec)
                if seconds is not None and time.perf_counter() >= t_end:
                    break
        return rows


def batch(run: Run, index_dir: str, cls: str, i: int,
          n: int = BATCH_QUERIES) -> dict:
    """One search_topk_spark call over a fresh batch of ``n`` queries."""
    make = inputs.hot_queries if cls == "hot" else inputs.rare_queries
    qs = make(run.rng, n, qid0=i * BATCH_QUERIES)
    run.tracer.take()
    rows, wall, spark, (w0, t0) = run.timed(
        lambda: search_topk_spark(run.spark, index_dir, qs).collect()
    )
    urls_at = first_start(run.tracer.take(), "urls_for")
    return {"cls": cls, "queries": qs, "rows": rows, "wall": wall,
            "spark": spark, "w0": w0,
            # seconds from the call to IndexReader.urls_for (traced only)
            "urls_rel": None if urls_at is None else urls_at - t0}


def check_batches(run: Run, index_dir: str, reader: IndexReader,
                  batches: list[dict]) -> None:
    """Every batch query's rows equal search_topk's on the same index."""
    for b in batches:
        extended = [dict(q, k=q["k"] + inputs.REFERENCE_EXTRA)
                    for q in b["queries"]]
        want = inputs.by_query(search_topk(index_dir, extended, reader=reader))
        inputs.compare([r.asDict() for r in b["rows"]], b["queries"],
                       lambda q: want.get(q["query_id"], []),
                       f"batch {b['cls']} vs search_topk", run.out)


def count_sample(run: Run, index_dir: str, queries: list[dict]) -> tuple:
    """Queries on a fresh reader (deterministic cache state): rows and
    the summed block/byte counts for the exact-count record."""
    reader = IndexReader(index_dir)
    rows, totals = [], dict.fromkeys(
        ("candidate", "fetched", "payload_bytes", "payload_rgs", "dm_rgs"), 0)
    for q in queries:
        r, _, rec = serve_one(run, reader, index_dir, q)
        rows.extend(r)
        for k in totals:
            totals[k] += rec[k]
    run.out.counts.update({f"sample.{k}": v for k, v in totals.items()})
    return rows, reader


# ---------------------------------------------------------------------------
# build: the batch-built index
# ---------------------------------------------------------------------------


def run_build(run: Run) -> None:
    """A seeded 10k-doc corpus and its first, cold build_index are the
    set-up, with a reader and a small batch on that index. Measured: three
    warm build_index calls, each into a fresh dir and each followed by
    validate_index over every doc (the medians are the write and maintain
    metrics), one hot and one rare batch, and serving bursts between them
    (``seconds`` in all), so that each metric's samples are spread over
    the run: the host's speed drifts by tens of percent within a minute."""
    corpus = run.path("pages.parquet")
    pages = inputs.write_corpus(corpus, N_DOCS, run.seed)
    input_rows = pq.ParquetFile(corpus).metadata.num_rows
    input_bytes = os.path.getsize(corpus)
    if run.trace:
        layers.trace_build(run.tracer)
        trace_serving(run.tracer)

    def build(i: int):
        run.tracer.take()
        m, wall, spark, _ = run.timed(
            build_index, run.spark, corpus, run.path(f"idx{i}"), **BUILD_ARGS)
        return m, (wall, spark, run.tracer.take())

    index_dir = run.path("idx0")
    _, (_, cold_spark, _) = build(0)
    opens = []
    for _ in range(3):
        t0 = time.perf_counter()
        reader = IndexReader(index_dir)
        opens.append(time.perf_counter() - t0)
    for _, q in query_stream(run.rng, 2):
        serve_one(run, reader, index_dir, q)  # first, cold queries
    # The first hot batch of a session runs ~1 s slower than the next ones,
    # by a varying amount; a hot warm-up takes most of that off the
    # measured one (a rare warm-up took little).
    batch(run, index_dir, "hot", 0, n=WARMUP_BATCH_QUERIES)
    run.setup_done()

    serving = Serving(run, index_dir, reader)
    stream = iter(query_stream(run.rng, max(4000, int(400 * run.seconds))))
    burst = run.seconds / 5
    built, records, validations = [], [], []

    def validate(index: str):
        try:
            validate_index(run.spark, corpus, index, sample_denom=1)
        except ValidationError as e:
            return f"validate_index: {e}"
        return None

    def build_and_validate() -> None:
        # The first warm builds still run faster one after the other (JIT
        # warm-up); the median of three leaves the slowest out.
        i = len(records) + 1
        m, record = build(i)
        built.append(m)
        records.append(record)
        err, wall, spark, _ = run.timed(validate, run.path(f"idx{i}"))
        validations.append((err, wall, spark))

    serving.queries(stream, burst)
    build_and_validate()
    serving.queries(stream, burst)
    batches = [batch(run, index_dir, "hot", 1)]
    serving.queries(stream, burst)
    build_and_validate()
    serving.queries(stream, burst)
    batches.append(batch(run, index_dir, "rare", 2))
    serving.queries(stream, burst)
    build_and_validate()
    run.tracer.close()

    run.out.mismatches.extend(err for err, _, _ in validations if err)
    for m in built:
        if m["n_docs"] != pages.num_rows:
            run.out.mismatches.append(
                f"n_docs {m['n_docs']} != distinct urls {pages.num_rows}")
    check = [q for _, q in query_stream(np.random.default_rng(run.seed + 7),
                                        2 * CHECK_QUERIES)]
    rows, check_reader = count_sample(run, index_dir, check)
    ref = inputs.oracle(pages)
    inputs.compare(rows, check, lambda q: ref.search(
        q["query_text"], q["k"] + inputs.REFERENCE_EXTRA), "serve vs oracle",
        run.out)
    check_batches(run, index_dir, reader, batches)

    v_wall = median([wall for _, wall, _ in validations])
    run.finish(index_dir, input_bytes,
               input_rows / median([r[0] for r in records]), v_wall,
               serving, batches)
    run.out.info["samples"].update({
        "warm_build_s": [r[0] for r in records],
        "validate_s": [wall for _, wall, _ in validations]})
    e, lat = run.out.e2e, run.out.info["serving"]
    run.out.info["workload_metrics"].update({
        "build_docs_per_s": e["write_docs_per_s"],
        "index_bytes_per_input_byte": e["index_bytes_per_input_byte"],
        "validate_s": v_wall,
        "serve_hot_p50_ms": lat["query.hot_p50_ms"],
        "serve_hot_p99_ms": lat["query.hot_tail_ms"],
        "serve_rare_p50_ms": lat["query.rare_p50_ms"],
        "serve_rare_p99_ms": lat["query.rare_tail_ms"],
    })
    run.out.counts.update(layers.spark_counts("build.cold", cold_spark))
    for i, r in enumerate(records):
        run.out.counts.update(layers.spark_counts(f"build.warm{i}", r[1]))
    for i, (_, _, spark) in enumerate(validations):
        run.out.counts.update(layers.spark_counts(f"validate{i}", spark))
    if run.trace:
        run.out.layers.update(layers.build_layers(records))
        run.out.layers.update(layers.serving_layers(
            serving.recs, opens, [reader, check_reader]))
        run.out.info["span_checks"].update({
            **layers.build_span_check(records),
            **layers.serve_span_check(serving.recs),
        })


# ---------------------------------------------------------------------------
# ingest: the streamed index
# ---------------------------------------------------------------------------


def run_ingest(run: Run) -> None:
    """Structured-streaming ingest of 2 seeded files and finalize, then
    two maintenance cycles: delete 1% of the live urls and compact. After
    each of the 5 republishes a long-lived reader answers a fixed set of
    queries (reloading with cold caches), then a warm closed-loop burst
    (``seconds``/5); one rare and one hot batch run over the compacted
    index."""
    src = run.path("source")
    pages = inputs.write_stream_source(src, STREAM_FILES,
                                       STREAM_DOCS_PER_FILE, run.seed)
    input_bytes = layers.dir_bytes(src)
    index_dir = run.path("idx")
    run.setup_done()
    if run.trace:
        layers.trace_streaming(run.tracer)
        trace_serving(run.tracer)

    # name -> wall s and Spark accounting of each call
    steps, sparks, stream_spans = {}, {}, []

    def step(name: str, fn, *args, **kwargs):
        run.tracer.take()
        res, wall, spark, _ = run.timed(fn, *args, **kwargs)
        steps.setdefault(name, []).append(wall)
        sparks.setdefault(name, []).append(spark)
        stream_spans.extend(run.tracer.take())
        return res

    epochs = step("ingest", stream_ingest_once, run.spark, src, index_dir,
                  inputs.PAGE_SCHEMA, n_buckets=BUILD_ARGS["n_buckets"])
    published = step("finalize", finalize_streamed_index, run.spark,
                     index_dir, max_segments=BUILD_ARGS["max_segments"]
                     )["n_docs"]

    t0 = time.perf_counter()
    reader = IndexReader(index_dir)
    opens = [time.perf_counter() - t0]
    # Queries right after a republish (reload, cold caches) are kept
    # apart from the warm closed-loop bursts that follow them: mixed
    # into one sample, their share would move the median from run to run.
    republish, serving = (Serving(run, index_dir, reader),
                          Serving(run, index_dir, reader))
    stream = iter(query_stream(run.rng, max(4000, int(400 * run.seconds))))
    firsts = []

    def after_publish() -> tuple[list[dict], list[dict]]:
        queries = query_stream(run.rng, 2 * REPUBLISH_QUERIES)
        first = len(republish.recs)
        rows = republish.queries(queries)
        serving.queries(stream, run.seconds / 5)
        firsts.append(republish.recs[first]["wall"])
        return [q for _, q in queries], rows

    q_first, rows_first = after_publish()
    live = pages["url"].to_pylist()
    doomed, n_deleted = [], 0
    for _ in range(MAINTENANCE_CYCLES):
        gone = set(doomed)
        cycle = sorted(run.rng.choice(
            [u for u in live if u not in gone],
            size=int(len(live) * DELETE_SHARE), replace=False).tolist())
        doomed += cycle
        n_deleted += step("delete", delete_urls, run.spark, index_dir, cycle)
        after_publish()
        m = step("compact", compact_index, run.spark, index_dir)
        q_last, rows_last = after_publish()
    # No warm-up batch: the streaming jobs already warmed the session, and
    # the first scoring job's own cold cost stays in the rare batch.
    batches = [batch(run, index_dir, "rare", 1),
               batch(run, index_dir, "hot", 2)]
    run.tracer.close()

    if published != pages.num_rows:
        run.out.mismatches.append(
            f"finalize published {published} docs, expected {pages.num_rows}")
    if m["n_docs"] != pages.num_rows - len(doomed):
        run.out.mismatches.append(
            f"compacted n_docs {m['n_docs']} != "
            f"{pages.num_rows} ingested - {len(doomed)} deleted")
    for rows, qs, ref, what in (
        (rows_first, q_first, inputs.oracle(pages),
         "after finalize vs oracle"),
        (rows_last, q_last, inputs.oracle(pages, doomed),
         "after the last compact vs oracle"),
    ):
        inputs.compare(rows, qs, lambda q, ref=ref: ref.search(
            q["query_text"], q["k"] + inputs.REFERENCE_EXTRA), what, run.out)
    check_batches(run, index_dir, reader, batches)

    maintain_s = median([d + c for d, c in
                         zip(steps["delete"], steps["compact"])])
    run.finish(index_dir, input_bytes,
               published / (steps["ingest"][0] + steps["finalize"][0]),
               maintain_s, serving, batches)
    hot = republish.lat["hot"]
    run.out.info["samples"]["republish"] = {
        c: len(v) for c, v in republish.lat.items()}
    run.out.info["samples"]["delete_compact_s"] = [
        d + c for d, c in zip(steps["delete"], steps["compact"])]
    run.out.info["workload_metrics"].update({
        "ingest_docs_per_s": run.out.e2e["write_docs_per_s"],
        "delete_compact_s": maintain_s,
        "republish_query_p50_ms": median(hot) * 1e3,
        "republish_query_p90_ms": float(np.percentile(hot, 90)) * 1e3,
    })
    run.out.counts["epochs"] = epochs
    run.out.counts["deleted_doc_ids"] = n_deleted
    for k, calls in sparks.items():
        for i, sp in enumerate(calls):
            run.out.counts.update(
                layers.spark_counts(f"streaming.{k}{i}", sp))
    if run.trace:
        run.out.layers.update(layers.streaming_layers(
            steps, sparks, stream_spans, epochs, firsts))
        run.out.layers.update(layers.serving_layers(
            republish.recs, opens, [reader]))
        run.out.info["span_checks"].update(
            layers.serve_span_check(republish.recs + serving.recs))


WORKLOADS = {"build": run_build, "ingest": run_ingest}
