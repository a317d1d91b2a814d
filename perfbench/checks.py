"""Correctness of a job's outputs, counted in documents.

Each check returns how many submitted documents it proves wrong; the
benchmark's ``ok_share`` is one minus their sum over all timed jobs,
divided by the documents submitted.  The expected outcome of every
document comes from the input generator (`corpus_gen`), which ran
`operators.extract.extract_one` on each one outside Spark.
"""

from __future__ import annotations

import hashlib
import json
import os
from collections import Counter
from typing import Dict, List, Tuple

# run_pipeline's counter name for each action
ACTION_COUNTERS = {"extracted": "extracted",
                   "parse_failure": "parse_failures",
                   "skip_has_text": "skip_has_text",
                   "skip_name": "skip_name",
                   "needs_ocr": "needs_ocr"}
LINEAGE_COUNTERS = ["docs", "pages", "extracted", "parse_failures",
                    "skip_has_text", "skip_name", "needs_ocr"]


def expected_totals(expected: List[dict]) -> Dict[str, int]:
    totals = {"docs": len(expected),
              "pages": sum(e["page_count"] for e in expected)}
    for counter in ACTION_COUNTERS.values():
        totals[counter] = 0
    for e in expected:
        totals[ACTION_COUNTERS[e["action"]]] += 1
    return totals


def counter_failures(totals: Dict[str, int], want: Dict[str, int]) -> int:
    """Documents the counters prove wrong: each misrouted document moves one
    count from one action to another."""
    moved = sum(abs(totals.get(c, 0) - want[c])
                for c in ACTION_COUNTERS.values())
    return max(abs(totals.get("docs", 0) - want["docs"]), -(-moved // 2),
               int(totals.get("pages", 0) != want["pages"]))


def _read(path: str, columns=None):
    import pyarrow.dataset as ds

    return ds.dataset(path, format="parquet",
                      partitioning="hive").to_table(columns=columns)


def sink_rows(output_dir: str) -> List[Tuple[str, str]]:
    t = _read(output_dir, ["url", "extracted_text"])
    return list(zip(t.column("url").to_pylist(),
                    t.column("extracted_text").to_pylist()))


def sink_failures(rows: List[Tuple[str, str]], expected: List[dict]) -> int:
    """Exactly one sink row per extracted document, byte-identical text,
    and no row for any other document."""
    want = {e["url"]: e["extracted_text"] for e in expected
            if e["action"] == "extracted"}
    seen = Counter(url for url, _ in rows)
    bad = {url for url, n in seen.items() if n > 1}
    bad |= {url for url, text in rows if want.get(url) != text}
    bad |= want.keys() - seen.keys()
    return len(bad)


def lineage_failures(checkpoint_dir: str, totals: Dict[str, int],
                     num_buckets: int) -> int:
    """Lineage sums equal the returned totals; one done row per key."""
    t = _read(checkpoint_dir).to_pydict()
    keys = t["partition_key"]
    wrong = max(abs(sum(t[c]) - totals.get(c, 0)) for c in LINEAGE_COUNTERS)
    if (len(set(keys)) != len(keys)
            or any(not 0 <= k < num_buckets for k in keys)
            or any(s != "done" for s in t["status"])):
        wrong = max(wrong, 1)
    return wrong


def digest(totals: Dict[str, int], rows: List[Tuple[str, str]]) -> str:
    """Order-independent digest of the job's outputs: the counters and the
    (url, action, extracted_text) of every sink row."""
    lines = sorted(json.dumps([url, "extracted", text], ensure_ascii=False)
                   for url, text in rows)
    h = hashlib.sha256(json.dumps(
        {k: totals.get(k, 0) for k in LINEAGE_COUNTERS},
        sort_keys=True).encode())
    for line in lines:
        h.update(line.encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()


def recorded_digest(bench_dir: str, workload: str, seed: int,
                    size: int):
    """The digest recorded for (workload, seed, size), if any."""
    with open(os.path.join(bench_dir, "expected.json")) as fh:
        rec = json.load(fh).get(workload)
    if rec and rec["seed"] == seed and rec["size"] == size:
        return rec["digest"]
    return None


def corrupt_sink(output_dir: str, how: str) -> None:
    """Self-test only: flip one text byte, or drop one row, in one sink
    file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    for dirpath, _, files in sorted(os.walk(output_dir)):
        for name in sorted(files):
            if not name.endswith(".parquet"):
                continue
            path = os.path.join(dirpath, name)
            t = pq.read_table(path)
            texts = t.column("extracted_text").to_pylist()
            i = next((i for i, s in enumerate(texts) if s), None)
            if i is None:
                continue
            if how == "drop":
                t = pa.concat_tables([t.slice(0, i), t.slice(i + 1)])
            else:
                s = texts[i]
                texts[i] = chr(ord(s[0]) ^ 1) + s[1:]
                t = t.set_column(t.schema.get_field_index("extracted_text"),
                                 "extracted_text", [texts])
            pq.write_table(t, path)
            return
    raise RuntimeError(f"no sink row to corrupt under {output_dir}")
