"""The benchmark's workloads: one closed-loop pass each, and its output check.

A pass calls the package's public entry points and writes a parquet sink.
Entry points are imported inside the pass so that the traced run's
wrappers (spexbench/trace.py) are the functions a pass calls.

Checks return ``(attempted, failed_urls)``: a page counts as failed when
its result is missing, duplicated or differs from the expectation.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil
from collections import Counter
from dataclasses import dataclass
from typing import Callable, Dict, List, Set, Tuple

# Per content class (pages.make_page: class = i % 10): (error_code, truncated)
# as FIXTURES.md designs them, with no OCR backend installed.
MIXED_CLASS_RESULT = {
    0: (None, False),
    1: (None, False),
    2: (None, False),
    3: ("ocr_no_valid_output", False),
    4: ("ocr_no_valid_output", False),
    5: ("ocr_no_valid_output", False),
    6: (None, True),
    7: (None, True),
    8: (None, False),
    9: ("image_not_found", False),
}
SAMPLE = 100
RESUME_FILES_PER_BATCH = 2


@dataclass
class Ctx:
    spark: object
    pages: str  # input parquet dir
    out: str  # pass output dir
    meta: Dict


@dataclass
class Workload:
    input_kind: str
    n_pages: int
    run_pass: Callable[[Ctx], None]
    check: Callable[[Ctx, str], Tuple[int, Set[str]]]
    corrupt_url: Callable[[Dict], str]
    # untimed passes between the cold first pass and the window: extraction
    # keeps speeding up for a few passes; one warm prepare pass takes
    # longer than the window, so it is warm after the cold one
    warm_passes: int


# ---------------------------------------------------------------------------
# extract_mixed
# ---------------------------------------------------------------------------


def extract_pass(ctx: Ctx) -> None:
    from jarvis_ocr_service_spark.plans.pipeline import run_pipeline

    pages = ctx.spark.read.parquet(ctx.pages)
    run_pipeline(pages).write.mode("overwrite").parquet(ctx.out)


def _mixed_sample(meta: Dict) -> List[int]:
    return sorted(random.Random(meta["seed"]).sample(range(meta["n"]), SAMPLE))


def _class_of(url: str) -> int:
    return int(url.split("/doc/")[1].split("/")[0])


def _index_of(url: str) -> int:
    return int(url.rsplit("page-", 1)[1])


def check_extract(ctx: Ctx, out: str) -> Tuple[int, Set[str]]:
    from pyspark.sql import functions as F

    from jarvis_ocr_service_spark.sources.pages import expected_result

    meta = ctx.meta
    want = {u for f in meta["files"] for u, _ in f}
    df = ctx.spark.read.parquet(out)
    rows = df.select("url", "error_code", "truncated").collect()
    seen = Counter(r.url for r in rows)
    failed = {u for u in want if seen[u] != 1} | (set(seen) - want)
    for r in rows:
        if r.url in want and (r.error_code, r.truncated) != MIXED_CLASS_RESULT[_class_of(r.url)]:
            failed.add(r.url)
    sample = _mixed_sample(meta)
    exp = {}
    for i in sample:
        e = expected_result(i, meta["seed"])
        e["spans"] = [tuple(s) for s in e["spans"]]
        exp[e["url"]] = e
    got = df.filter(F.col("url").isin(list(exp))).collect()
    for r in got:
        d = r.asDict()
        d["spans"] = [(s.start, s.end, s.tag) for s in d["spans"]]
        e = exp[r.url]
        if any(d[k] != e[k] for k in e):
            failed.add(r.url)
    failed |= set(exp) - {r.url for r in got}
    return meta["n"], failed


def _extract_corrupt_url(meta: Dict) -> str:
    i = _mixed_sample(meta)[0]
    return next(u for f in meta["files"] for u, _ in f if _index_of(u) == i)


# ---------------------------------------------------------------------------
# prepare_dups
# ---------------------------------------------------------------------------


def prepare_pass(ctx: Ctx) -> None:
    from jarvis_ocr_service_spark.plans.caching import release_cached
    from jarvis_ocr_service_spark.plans.prepare import prepare_training_data

    corpus = prepare_training_data(ctx.spark.read.parquet(ctx.pages))
    try:
        corpus.write.mode("overwrite").parquet(ctx.out)
    finally:
        release_cached(corpus)


def _digests(ctx: Ctx, out: str) -> List[Tuple[str, str]]:
    from pyspark.sql import functions as F

    df = ctx.spark.read.parquet(out)
    return [
        (r[0], r[1])
        for r in df.select("url", F.md5(F.encode("text", "UTF-8"))).collect()
    ]


def _compare(got: List[Tuple[str, str]], want: Dict[str, str]) -> Set[str]:
    seen = Counter(u for u, _ in got)
    failed = {u for u in want if seen[u] != 1} | (set(seen) - set(want))
    failed |= {u for u, d in got if u in want and want[u] != d}
    return failed


def check_prepare(ctx: Ctx, out: str) -> Tuple[int, Set[str]]:
    return ctx.meta["n"], _compare(_digests(ctx, out), ctx.meta["prepare"]["corpus"])


# ---------------------------------------------------------------------------
# resume probe of the traced extract_mixed run: checkpointed batches,
# stopped half way and resumed
# ---------------------------------------------------------------------------


def batches(meta: Dict) -> List[List[List[str]]]:
    f = meta["files"]
    k = RESUME_FILES_PER_BATCH
    return [sum(f[i : i + k], []) for i in range(0, len(f), k)]


def resume_pass(ctx: Ctx) -> None:
    from jarvis_ocr_service_spark.plans.checkpoint import run_checkpointed

    manifest = ctx.out + "_manifest"
    for d in (ctx.out, manifest):
        shutil.rmtree(d, ignore_errors=True)
    n_files = sum(f.endswith(".parquet") for f in os.listdir(ctx.pages))
    n_batches = -(-n_files // RESUME_FILES_PER_BATCH)
    for max_batches in (n_batches // 2, None):
        stats = run_checkpointed(
            ctx.spark, ctx.pages, ctx.out, manifest,
            files_per_batch=RESUME_FILES_PER_BATCH,
            max_batches=max_batches,
            dedup_against_committed=True,
        )
    if not stats["complete"] or stats["skipped_committed"] != n_batches // 2:
        raise RuntimeError(f"resume did not complete as planned: {stats}")


def expected_resume(meta: Dict) -> Dict[str, int]:
    """url -> batch id a one-shot ``run_checkpointed`` run keeps: per
    payload digest, the minimum url of the first batch that holds it."""
    seen: Set[str] = set()
    keep: Dict[str, int] = {}
    for b, rows in enumerate(batches(meta)):
        winners: Dict[str, str] = {}
        for url, digest in rows:
            if digest not in seen and (digest not in winners or url < winners[digest]):
                winners[digest] = url
        seen |= set(winners)
        keep.update({u: b for u in winners.values()})
    return keep


def check_resume(ctx: Ctx, out: str) -> Tuple[int, Set[str]]:
    from pyspark.sql import functions as F

    from jarvis_ocr_service_spark.operators.cascade import extract_document

    keep = expected_resume(ctx.meta)
    pages = ctx.spark.read.parquet(ctx.pages).filter(F.col("url").isin(list(keep)))
    want = {
        r.url: hashlib.md5(extract_document(r.html, r.lang)["text"].encode()).hexdigest()
        for r in pages.select("url", "html", "lang").collect()
    }
    df = ctx.spark.read.parquet(out)
    got = df.select("url", "batch_id", F.md5(F.encode("text", "UTF-8"))).collect()
    failed = _compare([(r[0], r[2]) for r in got], want)
    failed |= {r[0] for r in got if keep.get(r[0], r[1]) != r[1]}
    written = Counter(r[1] for r in got)
    manifest = ctx.spark.read.parquet(out + "_manifest").select("batch_id", "n_rows").collect()
    committed = Counter()
    for m in manifest:
        committed[m.batch_id] += m.n_rows
    for b in set(written) | set(committed):
        if written[b] != committed[b]:
            failed.add(f"manifest:batch_id={b}")
    if len(ctx.spark.sparkContext._jsc.getPersistentRDDs()):
        failed.add("caching:persisted_after")
    return ctx.meta["n"], failed


WORKLOADS: Dict[str, Workload] = {
    "extract_mixed": Workload("mixed", 6000, extract_pass, check_extract, _extract_corrupt_url, 3),
    "prepare_dups": Workload(
        "dups", 1000, prepare_pass, check_prepare,
        lambda meta: min(meta["prepare"]["corpus"]), 0,
    ),
}


def corrupt_copy(ctx: Ctx, out: str, url: str) -> str:
    """Copy ``out`` with the text of ``url``'s row altered."""
    from pyspark.sql import functions as F

    bad = out + "_corrupt"
    df = ctx.spark.read.parquet(out)
    text = F.when(F.col("url") == url, F.concat(F.col("text"), F.lit("x"))).otherwise(F.col("text"))
    df.withColumn("text", text).write.mode("overwrite").parquet(bad)
    return bad
