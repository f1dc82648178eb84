#!/usr/bin/env python3
"""Spark-free host calibration (VERDICT r06 next-#1).

Question: when the 8M-doc scaling record measures ~0.55 stage efficiency
uniformly across shuffle/segment/merge at 2→8 workers, is that the
ENGINE or this shared microVM? Answer it by running the exact per-bucket
segment-kernel body (tokenize → factorize → composite sort → frame
encode — the dominant build stage) as W INDEPENDENT OS processes over
pre-split slices of the bench corpus, with no Spark, no shuffle, no
shared JVM: any anti-scaling that remains is the host (memory
bandwidth / page-fault serialization / one shared disk), not the
engine's distributed plan.

Also runs a pure-numpy memory-bandwidth proxy (array copy + reduction
over cache-busting buffers) at the same widths, to separate
"kernel-specific" from "any memory-heavy code".

Usage: python bench_hostcal.py [widths...]   (default 2 8 32)
Env: SPARK_GRAFT_REPEATS (default 3; per-width best kept).
Corpus: .work/web_pages_500000_rg64k.parquet (written by bench.py's
ensure_corpus; this script writes it if absent).

Output: one JSON line per width with aggregate docs/s and
docs/s/process, plus the proxy GB/s — the per-core-throughput ratio
between widths IS the host ceiling for this class of work.
"""

import json
import multiprocessing as mp
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

WORK = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".work")
CORPUS = os.path.join(WORK, "web_pages_500000_rg64k.parquet")
N_DOCS = 500_000

# Same allocator settings the engine's python workers run with
# (session.py) — the calibration must measure the host under the
# engine's own mitigations, not a worse configuration.
os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", str(128 * 1024 * 1024))
os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", str(128 * 1024 * 1024))


def _kernel_worker(args):
    """One OS process: run the segment-kernel body over its doc slice in
    ~7800-doc buckets (the sf1.0 bench bucket size)."""
    lo, hi = args
    import numpy as np
    import pandas as pd
    import pyarrow.parquet as pq

    from escp_spark.build import _bucket_postings

    # Pre-fault a worker arena once, like warm_python_workers does.
    scratch = np.zeros(32 * 131072, dtype=np.uint64)
    scratch[::512] = 1
    del scratch

    pf = pq.ParquetFile(CORPUS)
    rg_rows = [pf.metadata.row_group(i).num_rows for i in range(pf.metadata.num_row_groups)]
    # Row-group-aligned read of [lo, hi): read covering groups, slice.
    starts = [0]
    for n in rg_rows:
        starts.append(starts[-1] + n)
    gsel = [i for i in range(len(rg_rows)) if starts[i + 1] > lo and starts[i] < hi]
    tbl = pf.read_row_groups(gsel, columns=["url", "text"])
    off = lo - starts[gsel[0]]
    tbl = tbl.slice(off, hi - lo)
    pdf = tbl.to_pandas()
    t0 = time.perf_counter()
    done = 0
    bucket = 0
    for s in range(0, len(pdf), 7813):
        sub = pdf.iloc[s : s + 7813].sort_values("url", kind="mergesort")
        _bucket_postings(bucket, sub["text"].tolist())
        bucket += 1
        done += len(sub)
    return done, time.perf_counter() - t0


def _proxy_worker(_):
    """Memory-bandwidth proxy: copy+reduce over a 256 MB working set
    (far beyond cache) — pure numpy, no engine code."""
    import numpy as np

    a = np.ones(32 * 1024 * 1024, dtype=np.float64)  # 256 MB
    b = np.empty_like(a)
    t0 = time.perf_counter()
    passes = 6
    acc = 0.0
    for _ in range(passes):
        np.multiply(a, 1.0000001, out=b)
        acc += float(b[:: 1024 * 1024].sum())
    dt = time.perf_counter() - t0
    gb = passes * a.nbytes * 2 / 1e9  # read + write per pass
    return gb, dt


def run_width(width: int, pool_fn, tasks):
    ctx = mp.get_context("spawn")
    with ctx.Pool(width) as pool:
        t0 = time.perf_counter()
        res = pool.map(pool_fn, tasks)
        wall = time.perf_counter() - t0
    return res, wall


def main():
    if not os.path.exists(CORPUS):
        from escp_spark.corpus import write_web_pages_parquet

        os.makedirs(WORK, exist_ok=True)
        write_web_pages_parquet(CORPUS, N_DOCS)
    widths = [int(a) for a in sys.argv[1:]] or [2, 8, 32]
    repeats = int(os.environ.get("SPARK_GRAFT_REPEATS", "3"))
    out = {}
    for w in widths:
        per = N_DOCS // w
        tasks = [(i * per, (i + 1) * per if i < w - 1 else N_DOCS)
                 for i in range(w)]
        best = None
        for _ in range(repeats):
            res, wall = run_width(w, _kernel_worker, tasks)
            docs = sum(r[0] for r in res)
            rate = docs / wall
            # Kernel-only rate: each worker times ONLY its kernel loop
            # (spawn + parquet read excluded) — the number comparable to
            # the Spark record's per-stage task time.
            krate = sum(r[0] / r[1] for r in res)
            if best is None or krate > best["kernel_docs_per_sec"]:
                best = {
                    "docs_per_sec": round(rate, 1),
                    "kernel_docs_per_sec": round(krate, 1),
                    "kernel_docs_per_sec_per_proc": round(krate / w, 1),
                    "wall_s": round(wall, 3),
                    "worker_walls": [round(r[1], 3) for r in res],
                }
        pres, pwall = None, None
        pbest = None
        for _ in range(repeats):
            res, wall = run_width(w, _proxy_worker, list(range(w)))
            gbps = sum(r[0] for r in res) / wall
            if pbest is None or gbps > pbest:
                pbest = gbps
        out[str(w)] = {**best, "proxy_gbps_aggregate": round(pbest, 2),
                       "proxy_gbps_per_proc": round(pbest / w, 2)}
        print(json.dumps({"width": w, **out[str(w)]}), flush=True)
    # Efficiency summary vs the smallest width measured.
    w0 = str(min(widths))
    for w in widths:
        eff = (out[str(w)]["kernel_docs_per_sec_per_proc"]
               / out[w0]["kernel_docs_per_sec_per_proc"])
        peff = (out[str(w)]["proxy_gbps_per_proc"]
                / out[w0]["proxy_gbps_per_proc"])
        print(json.dumps({"width": w, "kernel_per_proc_eff_vs_w%s" % w0:
                          round(eff, 3), "proxy_per_proc_eff": round(peff, 3)}),
              flush=True)


if __name__ == "__main__":
    main()
