"""Seeded input generation for the benchmark workloads.

Inputs are made once per (workload, size, seed) into a cache directory,
outside every timed region, with the engine's own page generator
(``plwordnet_spark.corpus.page_record``). Each input file gets a
fingerprint (row count + SHA-256 over its rows) that is checked again on
every run, and a fixed canary sample of pages is regenerated on every run
and compared with a pinned hash, so a change to the generator fails the
run instead of silently shifting the numbers.

Nothing here imports Spark: the engine only ever sees the written files.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Workload sizes and engine parameters; "tiny" exists for the smoke test.
# Pages come from a generated universe of ``universe`` pages (the crawl
# frontier: uncrawled pages are still link targets); the benchmark crawls
# ``pages`` of them chosen so their links total ``links``. The generator's
# out-degree is heavy-tailed, so a fixed page count alone would change the
# edge count, and with it the work, by several percent from seed to seed.
SIZES = {
    "crawl_to_rank": {
        "full": {"universe": 2400, "pages": 2000, "links": 5600,
                 "pagerank_iterations": 3, "lpa_iterations": 1},
        "tiny": {"universe": 240, "pages": 200, "links": 560,
                 "pagerank_iterations": 3, "lpa_iterations": 1},
    },
    # the crawled pages in id order, split evenly into one parquet file per
    # micro-batch; the last ``fresh_files`` files are the pages crawled
    # since the previous rank refresh
    "incremental_crawl": {
        "full": {"universe": 960, "pages": 640, "links": 1792, "files": 16, "fresh_files": 2,
                 "compact_every": 8, "pagerank_iterations": 3},
        "tiny": {"universe": 72, "pages": 60, "links": 168, "files": 4, "fresh_files": 1,
                 "compact_every": 2, "pagerank_iterations": 3},
    },
}

# Pinned hash of a fixed page sample. If the page generator changes, this
# stops matching and every run fails loudly; update it in the same change
# that re-baselines the benchmark.
CANARY = {"seed": 20240417, "n_pages": 1000, "ids": list(range(0, 1000, 37))}
CANARY_SHA256 = "be8b7c9dec90b2fb2c73d2c8f1ec5357bca83e0d66a3d01698665bf3a6b7e3f1"

PAGES_ARROW_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)
RANKS_ARROW_SCHEMA = pa.schema([("url", pa.string()), ("rank", pa.float64())])

# PageRank damping, shared by the worker and the oracle. The benchmark
# runs a fixed iteration count (tol=0): a convergence tolerance stops
# different seeds after different counts, which moves the per-run work.
ALPHA = 0.85


class InputError(RuntimeError):
    """An input does not match its recorded fingerprint or the canary."""


def _rows_digest(table: pa.Table) -> str:
    h = hashlib.sha256()
    for col in table.column_names:
        h.update(col.encode())
        for value in table.column(col).to_pylist():
            if isinstance(value, bytes):
                h.update(b"b%d:" % len(value) + value)
            else:
                s = repr(value).encode()
                h.update(b"s%d:" % len(s) + s)
    return h.hexdigest()


def _pages_table(ids, n_pages: int, seed: int) -> pa.Table:
    from plwordnet_spark.corpus import page_record

    rows = [page_record(int(i), n_pages, seed) for i in ids]
    return pa.Table.from_pylist(rows, schema=PAGES_ARROW_SCHEMA)


def canary_digest() -> str:
    return _rows_digest(_pages_table(CANARY["ids"], CANARY["n_pages"], CANARY["seed"]))


def check_canary() -> None:
    got = canary_digest()
    if got != CANARY_SHA256:
        raise InputError(
            f"page generator output changed: canary {got} != pinned {CANARY_SHA256}; "
            "inputs are no longer comparable with earlier runs"
        )


def _fingerprint(path: str) -> dict:
    table = pq.read_table(path)
    return {"rows": table.num_rows, "sha256": _rows_digest(table)}


def _write(table: pa.Table, path: str, mtime: float | None = None) -> dict:
    pq.write_table(table, path)
    if mtime is not None:
        # the streaming file source orders files by modification time
        os.utime(path, (mtime, mtime))
    return {"rows": table.num_rows, "sha256": _rows_digest(table)}


def url_pagerank(table: pa.Table) -> pa.Table:
    """Ranks of the url-level link graph of ``table`` (links from the
    extraction oracle, multiplicity weights) — the previous refresh's
    published ranks that the incremental workload warm-starts from."""
    from plwordnet_spark.extraction import oracle

    pairs: dict[tuple[str, str], float] = {}
    for url, html in zip(table.column("url").to_pylist(), table.column("html").to_pylist()):
        for dst in oracle.extract_links(html.decode("utf-8", errors="replace")):
            pairs[(url, dst)] = pairs.get((url, dst), 0.0) + 1.0
    urls = sorted({u for pair in pairs for u in pair})
    index = {u: i for i, u in enumerate(urls)}
    src = np.array([index[s] for s, _ in pairs], dtype=np.int64)
    dst = np.array([index[d] for _, d in pairs], dtype=np.int64)
    w = np.array(list(pairs.values()), dtype=np.float64)
    from perfbench.oracles import pagerank_power

    ranks, _, _ = pagerank_power(src, dst, w, len(urls), np.full(len(urls), 1.0 / len(urls)), 100, tol=1e-6)
    return pa.table({"url": urls, "rank": ranks}, schema=RANKS_ARROW_SCHEMA)


def _link_counts(table: pa.Table) -> list[int]:
    """Distinct link targets per page — the page's edges in the graph."""
    from plwordnet_spark.extraction import oracle

    return [len(set(oracle.extract_links(h.decode("utf-8", errors="replace"))))
            for h in table.column("html").to_pylist()]


def _pick(ks: list[int], count: int, target: int) -> list[int]:
    """Indices of ``count`` pages (link counts ``ks``, in id order) whose
    link counts sum as near ``target`` as single swaps get: the first
    ``count`` pages, then the best swap with a spare page while it helps."""
    chosen, spare = set(range(count)), set(range(count, len(ks)))
    while True:
        gap = sum(ks[i] for i in chosen) - target
        out_by_k = {ks[i]: i for i in sorted(chosen)}
        in_by_k = {ks[i]: i for i in sorted(spare)}
        best = min(((abs(gap - (ko - ki)), ko, ki) for ko in out_by_k for ki in in_by_k), default=None)
        if gap == 0 or best is None or best[0] >= abs(gap):
            return sorted(chosen)
        out, into = out_by_k[best[1]], in_by_k[best[2]]
        chosen.remove(out)
        spare.remove(into)
        chosen.add(into)
        spare.add(out)


def _crawl(size: dict, seed: int) -> pa.Table:
    n = size["universe"]
    table = _pages_table(range(n), n, seed)
    return table.take(_pick(_link_counts(table), size["pages"], size["links"]))


def _generate(workload: str, size: dict, seed: int, out: str) -> dict:
    pages = _crawl(size, seed)
    if workload == "crawl_to_rank":
        return {"pages.parquet": _write(pages, os.path.join(out, "pages.parquet"))}
    os.makedirs(os.path.join(out, "stream"))
    files: dict[str, dict] = {}
    per = size["pages"] // size["files"]
    for f in range(size["files"]):
        name = f"stream/part-{f:05d}.parquet"
        files[name] = _write(pages.slice(f * per, per), os.path.join(out, name), mtime=1_700_000_000 + f)
    old = pages.slice(0, per * (size["files"] - size["fresh_files"]))
    files["prev_ranks.parquet"] = _write(url_pagerank(old), os.path.join(out, "prev_ranks.parquet"))
    return files


def prepare(workload: str, size_name: str, seed: int, cache_root: str) -> dict:
    """Generate (or reuse) the inputs of one workload and seed; return the
    input record ``{"dir", "size", "files": {name: fingerprint}}``.
    Raises :class:`InputError` when a cached file no longer matches."""
    size = SIZES[workload][size_name]
    # the size parameters are part of the key: editing SIZES never reuses stale inputs
    key = hashlib.sha256(json.dumps(size, sort_keys=True).encode()).hexdigest()[:8]
    out = os.path.join(cache_root, f"{workload}-{size_name}-{key}-s{seed}")
    record_path = os.path.join(out, "fingerprints.json")
    if os.path.exists(record_path):
        with open(record_path, encoding="utf-8") as fh:
            record = json.load(fh)
        for name, expected in record["files"].items():
            got = _fingerprint(os.path.join(out, name))
            if got != expected:
                raise InputError(f"{out}/{name}: fingerprint {got} != recorded {expected}")
        return record
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    files = _generate(workload, size, seed, tmp)
    record = {"dir": out, "size": size, "seed": seed, "files": files}
    with open(os.path.join(tmp, "fingerprints.json"), "w", encoding="utf-8") as fh:
        json.dump(record, fh, indent=1)
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return record
