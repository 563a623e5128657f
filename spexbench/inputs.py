"""Benchmark inputs, written once per (workload, seed) outside any timing.

Each input directory holds ``pages/`` (parquet files in the pages schema),
``meta.json`` (what the checks need: the file -> row layout and, for the
dup-heavy table, the expected ``prepare`` corpus) and a ``_DONE`` marker.
No Spark is started here: both generators are pure Python.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from typing import Dict, List

from spexbench import dupgen

PAGES_FILES = 16
KEEP_INPUTS = 6


def _write(path: str, rows: List[Dict]) -> None:
    """Write rows in the pages schema (schema.PAGES_SCHEMA)."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema(
        [
            pa.field("url", pa.string(), nullable=False),
            pa.field("warc_ts", pa.timestamp("us", tz="UTC")),
            pa.field("html", pa.binary()),
            pa.field("text", pa.string()),
            pa.field("lang", pa.string()),
        ]
    )
    for r in rows:
        ts = r["warc_ts"]
        if ts is not None and ts.tzinfo is None:
            r["warc_ts"] = ts.replace(tzinfo=dt.timezone.utc)
    pq.write_table(pa.Table.from_pylist(rows, schema=schema), path)


def _mixed(pages_dir: str, n: int, seed: int) -> Dict:
    """The rows of ``synthesize_pages(n, seed)`` (its row function,
    ``make_page``), split into PAGES_FILES contiguous files."""
    from jarvis_ocr_service_spark.sources.pages import make_page

    files = []
    for f in range(PAGES_FILES):
        lo, hi = f * n // PAGES_FILES, (f + 1) * n // PAGES_FILES
        rows = [make_page(i, seed) for i in range(lo, hi)]
        _write(os.path.join(pages_dir, f"part-{f:05d}.parquet"), rows)
        files.append(_layout(rows))
    return {"files": files}


def _dups(pages_dir: str, n: int, seed: int) -> Dict:
    by_file: Dict[int, List[Dict]] = {}
    for p in range(n):
        by_file.setdefault(dupgen.file_of(p, n), []).append(dupgen.make_page(p, n, seed))
    files = []
    for f, rows in sorted(by_file.items()):
        _write(os.path.join(pages_dir, f"part-{f:05d}.parquet"), rows)
        files.append(_layout(rows))
    pages = [r for f in sorted(by_file) for r in by_file[f]]
    return {"files": files, "prepare": dupgen.expected_corpus(pages)}


def _layout(rows: List[Dict]) -> List[List[str]]:
    """[url, md5(payload)] per row: what the checkpoint checks need."""
    return [[r["url"], hashlib.md5(r["html"] or b"").hexdigest()] for r in rows]


GENERATORS = {"mixed": _mixed, "dups": _dups}


def ensure(work_dir: str, kind: str, n: int, seed: int) -> str:
    """Return the input dir for (kind, n, seed), writing it if missing."""
    root = os.path.join(work_dir, "inputs")
    d = os.path.join(root, f"{kind}-{n}-{seed}")
    if os.path.exists(os.path.join(d, "_DONE")):
        os.utime(d)
        return d
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(os.path.join(d, "pages"))
    meta = GENERATORS[kind](os.path.join(d, "pages"), n, seed)
    meta.update({"kind": kind, "n": n, "seed": seed})
    if kind == "dups":
        meta["spec"] = dupgen.SPEC
    with open(os.path.join(d, "meta.json"), "w") as f:
        json.dump(meta, f)
    open(os.path.join(d, "_DONE"), "w").close()
    _prune(root, keep=d)
    return d


def _prune(root: str, keep: str) -> None:
    dirs = sorted(
        (os.path.join(root, x) for x in os.listdir(root)),
        key=lambda p: os.stat(p).st_mtime,
    )
    for d in dirs[: max(0, len(dirs) - KEEP_INPUTS)]:
        if d != keep:
            shutil.rmtree(d, ignore_errors=True)


def load_meta(input_dir: str) -> Dict:
    with open(os.path.join(input_dir, "meta.json")) as f:
        return json.load(f)
