"""Benchmark inputs, generated apart from the job under test.

A pages table is a pure function of (kind, seed, size), built from
`sources.corpus.make_row(seed, index)`:

* ``mixed``: the sf0.1 mix with a fixed composition, so that seeds vary
  the documents but not how much of each route they hold.  Rows are taken
  in index order until every share below is filled.
* ``web``: the rows a real crawl carries (HTML, raw PDF bytes, images).
  Every row in index order whose payload is not an OCR envelope.

The table is written once as parquet under the cache directory and its
row count and content digest are verified before every use.  The same
pass records the expected outcome of every document, computed one at a
time with `operators.extract.extract_one`; the benchmark compares the
distributed job against it.  Both passes run in a spawn process pool
before the Spark JVM starts, so generation never shares the machine with
a timed job and never counts toward set-up time.
"""

from __future__ import annotations

import collections
import gc
import hashlib
import json
import multiprocessing
import multiprocessing.resource_tracker
import os
import re
import shutil
import time
from dataclasses import dataclass
from typing import Deque, Dict, Iterator, List, Tuple

# Shares of the mixed workload: OCR envelopes (1% of them over 100
# pages), HTML, raw PDF bytes, images, and name-rule skips.
MIX_SHARES = {"envelope": 0.52, "html": 0.35, "rawpdf": 0.06,
              "image": 0.04, "skip": 0.03}
GIANT_SHARE_OF_ENVELOPES = 0.01
GIANT_PAGES = 100

PAGE_FILES = 8          # the pages table is split like a small Spark table
_CHUNK = 100            # indices per generation task
_EXPECT_CHUNK = 25      # documents per expected-outcome task


def mixed_quotas(size: int) -> Dict[str, int]:
    envelopes = round(size * MIX_SHARES["envelope"])
    giants = max(1, round(envelopes * GIANT_SHARE_OF_ENVELOPES))
    q = {"giant": giants, "envelope": envelopes - giants,
         "html": round(size * MIX_SHARES["html"]),
         "rawpdf": round(size * MIX_SHARES["rawpdf"]),
         "image": round(size * MIX_SHARES["image"])}
    q["skip"] = size - sum(q.values())
    return q


# -- pool tasks (module level so spawn workers can import them) --

def _payload_kind(payload: bytes) -> str:
    """Route a payload the way the dispatcher sniffs it."""
    from pdf_ocr_batch_ndrocr_lite_spark.functions import image_meta

    head = payload[:64].lstrip()
    if head.startswith(b"%PDF-"):
        return "rawpdf"
    if image_meta.sniff_image(payload[:18]) is not None:
        return "image"
    if head.startswith(b"{"):
        env = json.loads(payload.decode("utf-8"))
        if isinstance(env, dict) and env.get("kind") == "pdf":
            pages = len(env.get("pages") or [])
            return "giant" if pages > GIANT_PAGES else "envelope"
    return "html"


def _classify(task: Tuple[int, int, int]) -> List[Tuple[int, str, bool, dict]]:
    """(index, payload kind, name-rule skip, row) for each index in range."""
    from pdf_ocr_batch_ndrocr_lite_spark.operators import extract as ex
    from pdf_ocr_batch_ndrocr_lite_spark.sources import corpus

    seed, lo, hi = task
    skip = re.compile(ex.GENERATED_NAME_PATTERN)
    out = []
    for i in range(lo, hi):
        row = corpus.make_row(seed, i)
        out.append((i, _payload_kind(row["html"]),
                    bool(skip.search(row["url"])), row))
    return out


def _expect(rows: List[Tuple[str, bytes, str, bool]]) -> List[dict]:
    from pdf_ocr_batch_ndrocr_lite_spark.operators import extract as ex

    out = []
    for url, payload, lang, is_skip in rows:
        if is_skip:
            out.append({"url": url, "action": ex.ACTION_SKIP_NAME,
                        "extracted_text": "", "page_count": 0,
                        "doc_kind": "unknown"})
            continue
        r = ex.extract_one(url, payload, lang)
        out.append({k: r[k] for k in ("url", "action", "extracted_text",
                                      "page_count", "doc_kind")})
    return out


# -- pool owner side --

@dataclass
class Inputs:
    pages_dir: str
    rows: int
    expected: List[dict]    # one dict per document, in table order
    gen_s: float            # 0 when the cached table was reused


def _digest(paths: List[str]) -> str:
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.basename(p).encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def code_version() -> str:
    """Digest of the package's sources: the expected outcomes recorded
    with a table are only valid for the code that computed them."""
    import pdf_ocr_batch_ndrocr_lite_spark as pkg

    root = os.path.dirname(pkg.__file__)
    paths = sorted(os.path.join(d, f) for d, _, fs in os.walk(root)
                   for f in fs if f.endswith(".py"))
    return _digest(paths)[:16]


def _files(d: str) -> List[str]:
    pages = os.path.join(d, "pages")
    return ([os.path.join(pages, f) for f in sorted(os.listdir(pages))]
            + [os.path.join(d, "expected.parquet")])


def _select(pool, kind: str, seed: int, size: int,
            workers: int) -> List[Tuple[int, str, dict]]:
    if kind == "mixed":
        need = mixed_quotas(size)
    elif kind == "web":
        need = {"any": size}
    else:
        raise ValueError(f"unknown input kind {kind!r}")
    # generous upper bound on the indices scanned; never reached in practice
    limit = size * 8 + 10 * _CHUNK
    # a few chunks in flight, taken in index order, so that the table does
    # not depend on the worker count and little is generated past the end
    pending: Deque = collections.deque()
    next_lo = 0
    chosen = []
    while True:
        while len(pending) < 2 * workers and next_lo < limit:
            pending.append(pool.apply_async(
                _classify, ((seed, next_lo, next_lo + _CHUNK),)))
            next_lo += _CHUNK
        if not pending:
            raise RuntimeError(f"{kind} seed {seed}: no {size}-row table "
                               f"within {limit} indices (left: {need})")
        for index, payload, is_skip, row in pending.popleft().get():
            if kind == "web" and payload in ("envelope", "giant"):
                continue
            k = "skip" if is_skip else payload
            slot = "any" if kind == "web" else k
            if need[slot] > 0:
                need[slot] -= 1
                chosen.append((index, k, row))
        if not any(need.values()):
            for p in pending:
                p.wait()
            return chosen


def _chunks(rows: List, n: int) -> Iterator[List]:
    for lo in range(0, len(rows), n):
        yield rows[lo:lo + n]


def _generate(d: str, kind: str, seed: int, size: int, workers: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    ctx = multiprocessing.get_context("spawn")
    with ctx.Pool(workers) as pool:
        chosen = _select(pool, kind, seed, size, workers)
        # giants alone, the rest in small batches, so the pool stays busy
        jobs = [[r] for r in chosen if r[1] == "giant"]
        jobs += list(_chunks([r for r in chosen if r[1] != "giant"],
                             _EXPECT_CHUNK))
        args = [[(r["url"], r["html"], r["lang"], k == "skip")
                 for _, k, r in job] for job in jobs]
        by_url = {e["url"]: e
                  for part in pool.imap_unordered(_expect, args)
                  for e in part}
        pool.close()
        pool.join()
    # the spawn pool started a resource tracker process: end it too, once
    # the pool's semaphores are released
    del pool
    gc.collect()
    multiprocessing.resource_tracker._resource_tracker._stop()

    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "pages"))
    schema = pa.schema([("url", pa.string()),
                        ("warc_ts", pa.timestamp("us", tz="UTC")),
                        ("html", pa.binary()), ("text", pa.string()),
                        ("lang", pa.string())])
    rows = [r for _, _, r in chosen]
    per_file = -(-len(rows) // PAGE_FILES)
    for n, part in enumerate(_chunks(rows, per_file)):
        cols = {c: [r[c] for r in part] for c in schema.names}
        pq.write_table(pa.table(cols, schema=schema),
                       os.path.join(tmp, "pages", f"part-{n:05d}.parquet"))
    expected = [by_url[r["url"]] for r in rows]
    pq.write_table(pa.Table.from_pylist(expected),
                   os.path.join(tmp, "expected.parquet"))
    counts: Dict[str, int] = {}
    for _, k, _ in chosen:
        counts[k] = counts.get(k, 0) + 1
    manifest = {"kind": kind, "seed": seed, "rows": len(rows),
                "composition": counts, "code": code_version(),
                "digest": _digest(_files(tmp))}
    with open(os.path.join(tmp, "manifest.json"), "w") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)
    shutil.rmtree(d, ignore_errors=True)
    os.rename(tmp, d)


def _verified(d: str, size: int) -> bool:
    import pyarrow.parquet as pq

    try:
        with open(os.path.join(d, "manifest.json")) as fh:
            manifest = json.load(fh)
        files = _files(d)
        rows = sum(pq.ParquetFile(p).metadata.num_rows for p in files[:-1])
    except (OSError, ValueError):
        return False
    return (manifest.get("rows") == size == rows
            and manifest.get("code") == code_version()
            and manifest.get("digest") == _digest(files))


def ensure(cache_dir: str, kind: str, seed: int, size: int,
           workers: int) -> Inputs:
    """The verified pages table for (kind, seed, size), generated on a
    cache miss or a failed verification."""
    import pyarrow.parquet as pq

    d = os.path.join(cache_dir, f"{kind}-s{seed}-n{size}")
    t0 = time.perf_counter()
    generated = not _verified(d, size)
    if generated:
        _generate(d, kind, seed, size, workers)
        if not _verified(d, size):
            raise RuntimeError(f"generated table {d} fails verification")
    expected = pq.read_table(os.path.join(d, "expected.parquet")).to_pylist()
    return Inputs(pages_dir=os.path.join(d, "pages"), rows=size,
                  expected=expected,
                  gen_s=time.perf_counter() - t0 if generated else 0.0)
