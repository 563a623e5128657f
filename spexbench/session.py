"""One measured Spark session: set-up, the timed window, the output check
and, with ``--trace 1``, the traced pass and the layer probes.

Started by spexbench/run.py, which owns input generation and process
clean-up; the result goes to ``--result`` as JSON.
"""

from __future__ import annotations

import argparse
import inspect
import json
import os
import shutil
import statistics
import sys
import time
from typing import Dict, List

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from spexbench import host, probes  # noqa: E402
from spexbench.inputs import load_meta  # noqa: E402
from spexbench.trace import EventLog, Tracer, read_event_log  # noqa: E402
from spexbench.workloads import (  # noqa: E402
    WORKLOADS, Ctx, batches, check_resume, corrupt_copy, resume_pass,
)

CASCADE_SAMPLE = 300
ENGINE_LAYERS = ("pipeline", "textstats", "dedup", "prepare", "checkpoint")


def dir_mb(path: str) -> float:
    total = 0
    for base, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total / host.MIB


def window(ctx: Ctx, run_pass, seconds: float) -> List[Dict[str, float]]:
    """Closed loop, one client: whole passes, each started when the last
    ended, until ``seconds`` have passed (at least one pass)."""
    pid = os.getpid()
    passes: List[Dict[str, float]] = []
    start = time.perf_counter()
    while not passes or time.perf_counter() - start < seconds:
        c0, t0 = host.tree_cpu_s(pid), time.perf_counter()
        run_pass(ctx)
        passes.append({"s": time.perf_counter() - t0, "cpu_s": host.tree_cpu_s(pid) - c0})
    return passes


def worker_memory() -> Dict[str, float]:
    pids = host.python_workers(os.getpid())
    daemons = [p for p in pids if int((host.proc_stat(p) or [0, 0])[1]) not in pids]
    return {
        "py_rss_mb": sum(host.vm_hwm_mb(p) for p in pids),
        "python_workers": len(pids) - len(daemons),
    }


# ---------------------------------------------------------------------------
# Traced pass
# ---------------------------------------------------------------------------


def _writer_span_name(tracer: Tracer, path: str) -> str:
    if not tracer.inside("checkpoint.batch"):
        return "sink"
    if "/_digests/" in path:
        return "checkpoint.digest"
    return "checkpoint.manifest" if path.endswith("_manifest") else "checkpoint.write"


def instrument_writes(tracer: Tracer) -> None:
    from pyspark.sql.readwriter import DataFrameWriter

    def make(orig):
        def parquet(self, path, *a, **k):
            with tracer.span(_writer_span_name(tracer, path)):
                return orig(self, path, *a, **k)

        return parquet

    tracer.patch(DataFrameWriter, "parquet", make)


def instrument_prepare(tracer: Tracer) -> None:
    """Spans around every layer prepare_training_data calls into."""
    from jarvis_ocr_service_spark.functions import dedup, textstats
    from jarvis_ocr_service_spark.plans import prepare
    from pyspark.sql import functions as F

    gate = {
        k: v.default
        for k, v in inspect.signature(prepare.prepare_training_data).parameters.items()
        if k in ("min_tokens", "max_tokens", "min_quality")
    }
    tracer.wrap("plans.pipeline", "run_pipeline", "pipeline", materialize=True)

    def stats(orig):
        def traced(df, *a, **k):
            with tracer.span("textstats") as rec:
                rec["rows_in"] = df.count()
                out = tracer.materialize(orig(df, *a, **k), rec)
                rec["rows_out"] = out.filter(
                    (F.col("n_tokens") >= gate["min_tokens"])
                    & (F.col("n_tokens") <= gate["max_tokens"])
                    & (F.col("quality") >= gate["min_quality"])
                ).count()
                return out

        return traced

    def lsh(orig):
        def traced(df, *a, **k):
            # prepare persisted its exact-dedup output before this call;
            # counting it here runs the exact dedup under its own span
            with tracer.span("dedup.exact") as rec:
                rec["rows"] = df.count()
            with tracer.span("dedup.lsh") as rec:
                return tracer.materialize(orig(df, *a, **k), rec)

        return traced

    def clusters(orig):
        def traced(pairs, *a, **k):
            cls = type(pairs)
            count = cls.count
            rounds = []

            def counting(self):
                rounds.append(1)
                return count(self)

            with tracer.span("dedup.clusters") as rec:
                cls.count = counting
                try:
                    return orig(pairs, *a, **k)
                finally:
                    cls.count = count
                    rec["rounds"] = len(rounds)

        return traced

    def composed(orig):
        def traced(*a, **k):
            with tracer.span("prepare"):
                out = orig(*a, **k)
                with tracer.span("prepare.anti_join") as rec:
                    return tracer.materialize(out, rec)

        return traced

    tracer.patch(textstats, "with_text_stats", stats)
    tracer.patch(dedup, "minhash_lsh_pairs", lsh)
    tracer.patch(dedup, "dup_clusters", clusters)
    tracer.patch(prepare, "prepare_training_data", composed)


def instrument_checkpoint(tracer: Tracer) -> None:
    from jarvis_ocr_service_spark.plans import checkpoint

    def run(orig):
        def traced(*a, **k):
            with tracer.span("checkpoint.run") as rec:
                rec["stats"] = orig(*a, **k)
                return rec["stats"]

        return traced

    tracer.patch(checkpoint, "run_checkpointed", run)
    tracer.wrap("plans.checkpoint", "_run_one_batch", "checkpoint.batch")


def traced_run(tracer: Tracer, name: str, fn, ctx: Ctx) -> Dict:
    try:
        with tracer.span(name) as root:
            fn(ctx)
    finally:
        tracer.unpatch()
        tracer.release()
    return root


# ---------------------------------------------------------------------------
# Per-layer metrics
# ---------------------------------------------------------------------------


def _under(tracer: Tracer, root: Dict) -> List[Dict]:
    ids, out = {root["id"]}, []
    for s in tracer.spans:
        if s["parent"] in ids:
            ids.add(s["id"])
            out.append(s)
    return out


def layer_metrics(tracer: Tracer, log: EventLog, roots: Dict[str, Dict], meta: Dict,
                  n_cores: int) -> Dict[str, float]:
    m: Dict[str, float] = {}
    own = tracer.self_times()
    pass_root = roots["pass"]
    in_pass = _under(tracer, pass_root)

    def self_s(name: str, spans: List[Dict]) -> float:
        return sum(own[s["id"]] for s in spans if s["name"] == name)

    def rec(name: str, key: str) -> float:
        vals = [s[key] for s in tracer.spans if s["name"] == name and key in s]
        return float(sum(vals))

    m["pipeline.stage_s"] = self_s("pipeline", in_pass)
    m["textstats.gate_s"] = self_s("textstats", in_pass)
    m["textstats.rows_in"] = rec("textstats", "rows_in")
    m["textstats.rows_out"] = rec("textstats", "rows_out")
    m["dedup.exact_s"] = self_s("dedup.exact", in_pass)
    m["dedup.exact_rows_out"] = rec("dedup.exact", "rows")
    m["dedup.lsh_s"] = self_s("dedup.lsh", in_pass)
    m["dedup.lsh_verified"] = rec("dedup.lsh", "rows")
    m["dedup.clusters_s"] = self_s("dedup.clusters", in_pass)
    m["dedup.clusters_rounds"] = rec("dedup.clusters", "rounds")
    if "prepare" in meta and tracer.named("dedup.lsh"):
        # the candidate set is internal to minhash_lsh_pairs; these two come
        # from the benchmark's replica of its band layout (spexbench/dupgen.py)
        m["dedup.lsh_candidates"] = float(meta["prepare"]["lsh_candidates"])
        m["dedup.hot_buckets"] = float(meta["prepare"]["hot_buckets"])
        if m["dedup.lsh_candidates"]:
            m["dedup.verify_frac"] = m["dedup.lsh_verified"] / m["dedup.lsh_candidates"]
    m["prepare.rows.valid"] = m["textstats.rows_in"]
    m["prepare.rows.gated"] = m["textstats.rows_out"]
    m["prepare.rows.exact"] = m["dedup.exact_rows_out"]
    m["prepare.rows.corpus"] = rec("prepare.anti_join", "rows")
    m["prepare.anti_join_s"] = self_s("prepare.anti_join", in_pass)

    batches = tracer.named("checkpoint.batch")
    if batches:
        per = []
        for b in batches:
            kids = _under(tracer, b)
            write_end = max((s["end"] for s in kids if s["name"] == "checkpoint.write"), default=b["end"])
            per.append({
                "batch": b["end"] - b["start"],
                "digest": sum(s["end"] - s["start"] for s in kids if s["name"] == "checkpoint.digest"),
                "write": sum(s["end"] - s["start"] for s in kids if s["name"] == "checkpoint.write"),
                "manifest": b["end"] - write_end,
                "jobs": log.engine({b["id"]} | {s["id"] for s in kids})["jobs"],
            })
        for key, name in (("batch", "batch_s_p50"), ("digest", "digest_s"),
                          ("write", "write_s"), ("manifest", "manifest_s")):
            m[f"checkpoint.{name}"] = statistics.median(p[key] for p in per)
        m["checkpoint.jobs_per_batch"] = statistics.fmean(p["jobs"] for p in per)
        runs = tracer.named("checkpoint.run")
        m["checkpoint.batches_skipped"] = float(runs[-1]["stats"]["skipped_committed"])

    for layer in ENGINE_LAYERS:
        ids = {s["id"] for s in tracer.spans if s["name"] == layer or s["name"].startswith(layer + ".")}
        for k, v in log.engine(ids).items():
            m[f"{layer}.{k}"] = float(v)
    stage = log.python_stage({s["id"] for s in tracer.spans if s["name"] == "pipeline"})
    if stage is not None:
        m.update({f"udfs.{k}": v for k, v in log.udf_stage_metrics(stage, n_cores).items()})

    layer_self = sum(own[s["id"]] for s in in_pass)
    pass_s = pass_root["end"] - pass_root["start"]
    m["trace.layer_sum_frac"] = layer_self / pass_s
    return m


def cross_batch_drops(meta: Dict, out_rows: int) -> float:
    within = sum(len({d for _, d in rows}) for rows in batches(meta))
    return float(within - out_rows)


# ---------------------------------------------------------------------------


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--input", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--corrupt", type=int, default=0)
    ap.add_argument("--t0", type=float, required=True)
    ap.add_argument("--result", required=True)
    args = ap.parse_args()

    wl = WORKLOADS[args.workload]
    meta = load_meta(args.input)
    out_dir = os.path.join(args.work, "out", args.workload)
    spark = host.build_session(args.work, event_log=bool(args.trace))
    ctx = Ctx(spark, os.path.join(args.input, "pages"), out_dir, meta)
    traced = None
    try:
        # set-up: the cold first pass and a fixed number of warm passes, so
        # that every second of it is the program's
        cold = time.perf_counter()
        wl.run_pass(ctx)
        cold = time.perf_counter() - cold
        for _ in range(wl.warm_passes):
            wl.run_pass(ctx)
        result = {"setup_s": time.time() - args.t0, "first_pass_s": cold}

        ticks0, control0 = host.cpu_ticks(), host.md5_control_mib_s()
        with host.MemorySampler(spark) as mem:
            passes = window(ctx, wl.run_pass, args.seconds)
        ticks1, control1 = host.cpu_ticks(), host.md5_control_mib_s()
        n = meta["n"]
        result.update({
            "passes": passes,
            "pages_per_s": statistics.median(n / p["s"] for p in passes),
            "core_s_per_kpage": statistics.median(p["cpu_s"] / n * 1000 for p in passes),
            "heap_live_mb": mem.live_mb,
            "sink_mb": dir_mb(out_dir),
            "py_rss_mb": worker_memory()["py_rss_mb"],
            "host.steal_frac": host.steal_frac(ticks0, ticks1),
            "host.control_mib_s": min(control0, control1),
        })

        checked = corrupt_copy(ctx, out_dir, wl.corrupt_url(meta)) if args.corrupt else out_dir
        attempted, failed = wl.check(ctx, checked)
        result.update({"attempted": attempted, "failed": sorted(failed)})

        if args.trace:
            traced = traced_layers(args.workload, ctx, passes)
    finally:
        host.stop_session(spark)
    if traced is not None:
        tracer, roots, layers, ladder_s, resume_failed = traced
        log_dir = os.path.join(args.work, "eventlog")
        log = EventLog(read_event_log(log_dir))
        shutil.rmtree(log_dir)
        layers.update(layer_metrics(tracer, log, roots, meta, host.cores()))
        if layers["pipeline.stage_s"]:
            layers["pipeline.ladder_frac"] = ladder_s / layers["pipeline.stage_s"]
        for key in ("host.steal_frac", "host.control_mib_s"):
            layers[key] = result[key]
        # throughput of the untraced window: not an end-to-end metric, as it
        # does not repeat from run to run on a shared host (README, Steadiness)
        for key in ("pages_per_s", "core_s_per_kpage"):
            layers[f"window.{key}"] = result[key]
        tracer.dump(os.path.join(args.work, f"spans-{args.workload}.json"))
        result["layers"] = layers
        result["failed"] += resume_failed
    with open(args.result, "w") as f:
        json.dump(result, f)
    return 0


def traced_layers(workload: str, ctx: Ctx, passes: List[Dict]):
    """One traced pass, plus the checkpoint probe for extract_mixed and the
    layer probes. Returns what the per-layer metrics need once the event
    log is complete."""
    spark = ctx.spark
    m: Dict[str, float] = {}
    resume_failed: List[str] = []
    tracer = Tracer(spark)
    roots: Dict[str, Dict] = {}
    with host.MemorySampler(spark) as mem:
        instrument_writes(tracer)
        if workload == "prepare_dups":
            instrument_prepare(tracer)
        else:
            tracer.wrap("plans.pipeline", "run_pipeline", "pipeline", materialize=True)
        roots["pass"] = traced_run(tracer, "pass", WORKLOADS[workload].run_pass, ctx)
    m["caching.persisted_after"] = float(len(spark.sparkContext._jsc.getPersistentRDDs()))
    m["caching.storage_peak_mb"] = mem.storage_peak_mb
    m["udfs.python_workers"] = float(worker_memory()["python_workers"])
    pass_s = roots["pass"]["end"] - roots["pass"]["start"]
    m["trace.overhead_frac"] = pass_s / statistics.median(p["s"] for p in passes) - 1

    if workload == "extract_mixed":
        # the checkpointed, write-heavy use of the extraction layer
        rctx = Ctx(spark, ctx.pages, ctx.out + "_resume", ctx.meta)
        instrument_writes(tracer)
        instrument_checkpoint(tracer)
        roots["resume"] = traced_run(tracer, "resume", resume_pass, rctx)
        m["caching.persisted_after"] = max(
            m["caching.persisted_after"],
            float(len(spark.sparkContext._jsc.getPersistentRDDs())),
        )
        _, failed = check_resume(rctx, rctx.out)
        resume_failed = [f"resume:{u}" for u in sorted(failed)]
        m["checkpoint.rows_dropped_cross_batch"] = cross_batch_drops(
            ctx.meta, spark.read.parquet(rctx.out).count())

    cascade, ms_per_page = probes.cascade(
        probes.sample_pages(ctx.pages, CASCADE_SAMPLE, ctx.meta["seed"]))
    m.update(cascade)
    m.update(probes.ladder(spark, ctx.pages))
    # scan -> Arrow round trip -> cascade on every core: the extraction ladder
    ladder_s = m["udfs.arrow_roundtrip_s"] + ms_per_page * ctx.meta["n"] / host.cores() / 1000
    return tracer, roots, m, ladder_s, resume_failed


if __name__ == "__main__":
    sys.exit(main())
