"""Seeded inputs: corpora, query streams and the reference answers.

Everything here is a pure function of the workload seed. The engine only
ever receives the files and query dicts made here.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from escp_spark import corpus
from escp_spark.oracle import NaiveIndex

VOCAB = np.array(corpus._vocab())
ZIPF_CDF = np.cumsum(corpus._zipf_probs())
PAGE_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"


def hot_queries(rng: np.random.Generator, n: int, qid0: int = 0) -> list[dict]:
    """1-3 terms drawn from the corpus's own Zipf term distribution,
    k in {10, 100}: block-max pruning, payload fetch, decode and score.

    Stratified, so that a batch costs about the same for every seed: the
    (terms, k) shapes come in equal shares, and the term draws are the
    inverse Zipf CDF of one uniform in each of equally likely strata, in
    shuffled order. Independent draws let the share of the few longest
    posting lists, and with it a 200-query batch's time, move by ~15%."""
    shapes = np.array([(t, k) for t in (1, 2, 3) for k in (10, 100)])
    shape = shapes[rng.permutation(np.resize(np.arange(len(shapes)), n))]
    m = int(shape[:, 0].sum())
    u = (np.arange(m) + rng.random(m)) / m
    draws = np.minimum(np.searchsorted(ZIPF_CDF, u, side="right"),
                       VOCAB.size - 1)
    terms = np.split(rng.permutation(draws), np.cumsum(shape[:-1, 0]))
    return [{"query_id": qid0 + i,
             "query_text": " ".join(VOCAB[terms[i]]),
             "k": int(shape[i, 1])}
            for i in range(n)]


def rare_queries(rng: np.random.Generator, n: int, qid0: int = 0) -> list[dict]:
    """2 terms uniform over the vocabulary, k=10 (the
    ``corpus.scale_queries`` construction): per-query fixed cost."""
    idx = rng.integers(0, VOCAB.size, size=(n, 2))
    return [{"query_id": qid0 + i,
             "query_text": f"{VOCAB[a]} {VOCAB[b]}", "k": 10}
            for i, (a, b) in enumerate(idx)]


def _pages_table(cols: dict) -> pa.Table:
    return pa.table({
        "url": pa.array(cols["url"], pa.string()),
        "warc_ts": pa.array(cols["warc_ts"], pa.timestamp("us")),
        "html": pa.array(cols["html"], pa.binary()),
        "text": pa.array(cols["text"], pa.string()),
        "lang": pa.array(cols["lang"], pa.string()),
    })


def last_write_wins(table: pa.Table) -> pa.Table:
    """One row per url: latest warc_ts, ties to the larger md5(html) —
    the engine's dedup rule."""
    t = table.to_pandas()
    t["tie"] = t["html"].map(lambda h: hashlib.md5(h).hexdigest())
    t = t.sort_values(["url", "warc_ts", "tie"], ascending=[True, False, False])
    t = t.drop_duplicates("url", keep="first").drop(columns="tie")
    return pa.Table.from_pandas(t, preserve_index=False).cast(table.schema)


def write_corpus(path: str, n_docs: int, seed: int) -> pa.Table:
    """The web_pages corpus (Zipf s=1.1, ~1% duplicate urls with later
    warc_ts). Returns its last-write-wins view for the oracle."""
    corpus.write_web_pages_parquet(path, n_docs, seed=seed)
    return last_write_wins(pq.read_table(path))


def write_stream_source(src_dir: str, n_files: int, docs_per_file: int,
                        seed: int) -> pa.Table:
    """``n_files`` parquet files of ``docs_per_file`` distinct urls each;
    ~1% of each later file repeats earlier files' rows verbatim, so the
    cross-epoch url dedup has hits while the expected index content stays
    independent of epoch order. Returns the distinct pages."""
    cols = corpus.generate_web_pages(n_files * docs_per_file, seed=seed)
    pages = last_write_wins(_pages_table(cols))
    pages = pages.take(np.argsort(pages["warc_ts"].to_numpy(), kind="stable"))
    rng = np.random.default_rng(seed + 1)
    os.makedirs(src_dir, exist_ok=True)
    per = pages.num_rows // n_files
    n_rep = max(1, per // 100)
    mtime = 1_700_000_000
    for i in range(n_files):
        part = pages.slice(i * per, per if i < n_files - 1 else None)
        if i:
            seen = rng.choice(i * per, size=n_rep, replace=False)
            part = pa.concat_tables([part, pages.take(np.sort(seen))])
        path = os.path.join(src_dir, f"part{i}.parquet")
        pq.write_table(part, path)
        # The file source drains files in modification-time order.
        os.utime(path, (mtime + i, mtime + i))
    return pages


def oracle(pages: pa.Table, drop_urls=()) -> NaiveIndex:
    drop = set(drop_urls)
    return NaiveIndex({u: t for u, t in zip(pages["url"].to_pylist(),
                                            pages["text"].to_pylist())
                       if u not in drop})


def same_ranking(got: list[tuple[str, float]], want: list[tuple[str, float]],
                 k: int) -> tuple[bool, bool]:
    """Compare an engine top-k with a reference ranking that runs past k
    (``want`` may hold more than k rows): (correct, identical).

    Correct means the expected length, scores within 1e-6 rank for rank,
    and at every rank a url from the reference's group of tied scores at
    that rank, where a tie is a difference of at most 1e-9 relative: two
    computations may round the sum of the same BM25 terms one ulp apart,
    which reorders urls inside a tie. Identical means the url lists are
    equal as well."""
    n = min(k, len(want))
    identical = [u for u, _ in got] == [u for u, _ in want[:n]]
    if len(got) != n or any(
        abs(a - b) > 1e-6 for (_, a), (_, b) in zip(got, want)
    ):
        return False, identical
    i = 0
    while i < n:
        j = i + 1
        while j < len(want) and abs(want[j][1] - want[j - 1][1]) <= (
            1e-9 * max(1.0, abs(want[j][1]))
        ):
            j += 1
        tied = {u for u, _ in want[i:j]}
        # A tie that runs past the end of the reference may hold urls the
        # reference did not list; those must carry the tied score.
        open_end = j == len(want) > n
        for u, s in got[i:min(j, n)]:
            if u not in tied and not (open_end and abs(s - want[i][1]) <= (
                1e-9 * max(1.0, abs(s))
            )):
                return False, identical
        i = j
    return len({u for u, _ in got}) == n, identical


def by_query(rows: list[dict]) -> dict[int, list[tuple[str, float]]]:
    """Engine rows -> {query_id: [(url, score)] in rank order}."""
    out: dict[int, list] = {}
    for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
        out.setdefault(r["query_id"], []).append((r["doc_url"], r["score"]))
    return out


REFERENCE_EXTRA = 50  # reference rows past k, to see a tie that crosses k


def compare(rows: list[dict], queries: list[dict], reference, what: str,
            out) -> None:
    """Check engine rows against ``reference(query)``, a ranked
    [(url, score)] list computed with k + REFERENCE_EXTRA; append each
    wrong query to ``out.mismatches`` and each tie-order difference to
    ``out.tie_order``."""
    got = by_query(rows)
    for q in queries:
        ok, identical = same_ranking(got.get(q["query_id"], []),
                                     reference(q), q["k"])
        label = f"{what}: query {q['query_text']!r} k={q['k']}"
        if not ok:
            out.mismatches.append(f"{label} differs")
        elif not identical:
            out.tie_order.append(f"{label} orders tied urls differently")
