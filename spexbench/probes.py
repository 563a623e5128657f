"""Layer probes of the traced run.

* The cascade probes time the pure-Python operators single-threaded in the
  driver over a seeded sample of the workload's pages. They double as the
  single-thread baseline of the fused Arrow stage.
* The ladder probes time the first two rungs of extraction on Spark: the
  parquet scan of the shipped columns, and an identity ``mapInPandas`` round
  trip over them. The third rung is the cascade itself.
"""

from __future__ import annotations

import glob
import os
import random
import statistics
import time
from collections import defaultdict
from typing import Dict, List, Tuple

CLASS_NAMES = (
    "clean_html", "boilerplate_html", "pdf", "png", "garbled",
    "too_short", "oversize", "multibyte", "ws_noise", "empty",
)
SHIPPED = ["url", "warc_ts", "html", "lang"]
REPEATS = 3


def sample_pages(pages_dir: str, k: int, seed: int) -> List[Dict]:
    import pyarrow.parquet as pq

    rows = []
    for f in sorted(glob.glob(os.path.join(pages_dir, "*.parquet"))):
        rows.extend(pq.read_table(f, columns=["url", "html", "lang"]).to_pylist())
    return random.Random(seed).sample(rows, min(k, len(rows)))


def class_of(url: str) -> str:
    """Content class of a synthesize_pages url; dup-table pages are all
    clean HTML."""
    if "/doc/" in url:
        return CLASS_NAMES[int(url.split("/doc/")[1].split("/")[0])]
    return CLASS_NAMES[0]


def _best_ms(fn, *args) -> float:
    best = float("inf")
    for _ in range(REPEATS):
        t = time.perf_counter()
        fn(*args)
        best = min(best, time.perf_counter() - t)
    return best * 1000


def cascade(pages: List[Dict]) -> Tuple[Dict[str, float], float]:
    """Per-layer metrics, and the mean cascade ms per sampled page."""
    from jarvis_ocr_service_spark.operators import dispatch
    from jarvis_ocr_service_spark.operators.cascade import extract_document
    from jarvis_ocr_service_spark.operators.charset import decode_payload
    from jarvis_ocr_service_spark.operators.extract_html import extract_raw_blocks, parse_blocks
    from jarvis_ocr_service_spark.operators.extract_pdf import extract_pdf_text
    from jarvis_ocr_service_spark.operators.textops import normalize_text, truncate_with_len
    from jarvis_ocr_service_spark.operators.validate import validate_text

    per_class: Dict[str, List[float]] = defaultdict(list)
    steps: Dict[str, List[float]] = defaultdict(list)
    attempted = rejected = 0
    for p in pages:
        payload, lang = p["html"] or b"", p["lang"] or "en"
        per_class[class_of(p["url"])].append(_best_ms(extract_document, payload, lang))
        steps["dispatch.sniff_ms_per_doc"].append(_best_ms(dispatch.sniff_kind, payload))
        kind = dispatch.sniff_kind(payload)
        raw = None
        if kind in (dispatch.KIND_HTML, dispatch.KIND_TEXT):
            steps["charset.decode_ms_per_doc"].append(_best_ms(decode_payload, payload))
            raw = decode_payload(payload)
            if kind == dispatch.KIND_HTML:
                steps["extract_html.parse_ms_per_doc"].append(_best_ms(parse_blocks, raw))
                raw = extract_raw_blocks(parse_blocks(raw))[0]
        elif kind == dispatch.KIND_PDF:
            steps["extract_pdf.ms_per_doc"].append(_best_ms(extract_pdf_text, payload))
            raw = extract_pdf_text(payload)[0]
        if raw is not None:
            # the cascade re-normalizes only non-HTML text (HTML tier output
            # is normalize-stable by construction)
            if kind != dispatch.KIND_HTML:
                steps["textops.normalize_ms_per_doc"].append(_best_ms(normalize_text, raw))
            norm = normalize_text(raw)
            steps["validate.ms_per_doc"].append(_best_ms(validate_text, norm))
            if validate_text(norm)[0]:
                steps["textops.truncate_ms_per_doc"].append(_best_ms(truncate_with_len, norm))
        first = extract_document(payload, lang, enabled_tiers=["tesseract"])
        if first["tier"] == "tesseract":
            attempted += 1
            rejected += not first["is_valid"]
    out = {f"cascade.ms_per_doc.{c}": statistics.fmean(per_class[c]) if per_class[c] else 0.0
           for c in CLASS_NAMES}
    for name in ("dispatch.sniff_ms_per_doc", "charset.decode_ms_per_doc",
                 "extract_html.parse_ms_per_doc", "extract_pdf.ms_per_doc",
                 "textops.normalize_ms_per_doc", "validate.ms_per_doc",
                 "textops.truncate_ms_per_doc"):
        out[name] = statistics.fmean(steps[name]) if steps[name] else 0.0
    out["cascade.escalated_frac"] = rejected / attempted if attempted else 0.0
    return out, statistics.fmean(ms for v in per_class.values() for ms in v)


def _median_s(fn) -> float:
    times = []
    for _ in range(REPEATS):
        t = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t)
    return statistics.median(times)


def ladder(spark, pages_dir: str) -> Dict[str, float]:
    def scan():
        spark.read.parquet(pages_dir).select(*SHIPPED).write.format("noop").mode("overwrite").save()

    def identity(batches):
        yield from batches

    def roundtrip():
        df = spark.read.parquet(pages_dir).select(*SHIPPED)
        df.mapInPandas(identity, schema=df.schema).write.format("noop").mode("overwrite").save()

    size = sum(os.path.getsize(f) for f in glob.glob(os.path.join(pages_dir, "*.parquet")))
    return {
        "sources.scan_s": _median_s(scan),
        "sources.input_mb": size / (1 << 20),
        "udfs.arrow_roundtrip_s": _median_s(roundtrip),
    }
