"""Run one benchmark workload against the program in the current
checkout and print its metrics.

    python3 perfbench/run.py --workload spj_interactive --seed 1 \
        --seconds 10 --trace 0

Run it from the root of a checkout. Inputs are generated from
``--seed`` into ``.perfbench_work/`` (removed at exit); a traced run
also writes its spans to ``.perfbench_out/``. The last line of
standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. The lines before it name
every metric with its unit, including the workload-specific ones.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = Path.cwd()

WORKLOADS = ("spj_interactive", "corpus_curation", "corpus_upkeep")

E2E_UNITS = {
    "setup_s": "s",
    "latency_p50_ms": "ms",
    "latency_tail_ms": "ms",
    "items_per_s": "1/s",
}

CURATION_STAGES = (
    "text.quality", "dedup.exact", "dedup.minhash", "dedup.verify",
    "dedup.cluster", "pipeline.decontaminate", "bpe.encode",
    "similarity.neardup", "export.shards",
)
CODECS = ("png", "jpeg", "gif", "wav", "flac", "avi")
DECODERS = ("decode_media", "decode_audio", "decode_video")


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric with its unit. A workload reports 0 for
    a layer it never calls."""
    u = {
        "session.start_ms": "ms",
        "catalog.load_fixtures_ms": "ms",
        "session.jvm_gc_ms": "ms",
        "session.peak_rss_mb": "MB",
        "trace.overhead_ms": "ms",
        "dialect.parse_ms": "ms",
        "dialect.lower_ms": "ms",
        "engine.plan_ms": "ms",
        "engine.exec_ms": "ms",
        "engine.jobs_per_query": "count",
        "engine.stages_per_query": "count",
        "engine.tasks_per_query": "count",
        "engine.result_rows_per_query": "count",
    }
    for s in CURATION_STAGES:
        u |= {f"{s}.build_ms": "ms", f"{s}.build_jobs": "count",
              f"{s}.exec_ms": "ms", f"{s}.jobs": "count"}
    u |= {
        "dedup.minhash.candidate_precision": "ratio",
        "similarity.neardup.candidate_precision": "ratio",
        "streaming.trigger_ms": "ms",
        "streaming.add_batch_ms": "ms",
        "streaming.overhead_ms": "ms",
        "streaming.jobs_per_commit": "count",
        "versioned.bytes_added_per_commit": "bytes",
        "versioned.files_written_per_commit": "count",
        "versioned.files_carried_ratio": "ratio",
        "versioned.manifest_bytes_per_commit": "bytes",
        "versioned.file_count": "count",
        "versioned.stray_bytes": "bytes",
        "versioned.maintain_ms": "ms",
        "versioned.maintain_bytes_rewritten": "bytes",
        "versioned.snapshot_read_ms": "ms",
        "versioned.time_travel_ms": "ms",
        "versioned.read_changes_ms": "ms",
        "versioned.write_amp": "ratio",
        "versioned.space_amp": "ratio",
    }
    for c in CODECS:
        u[f"codec.{c}.decode_mb_per_s"] = "MB/s"
    for d in DECODERS:
        u |= {f"multimodal.{d}.build_ms": "ms", f"multimodal.{d}.exec_ms": "ms"}
    u["multimodal.non_codec_share"] = "ratio"
    u["multimodal.media_mb_per_s"] = "MB/s"
    return u


def _load_workload(name: str, ctx):
    if name == "spj_interactive":
        from spj import SpjInteractive as W
    elif name == "corpus_curation":
        from curation import CorpusCuration as W
    else:
        from upkeep import CorpusUpkeep as W
    return W(ctx)


class Context:
    """What a workload gets: the session, its seed, a private work
    directory, and the tracer for the current operation."""

    def __init__(self, spark, seed: int, work: Path, trace: bool):
        self.spark = spark
        self.seed = seed
        self.work = work
        self.trace = trace
        from harness import NoTrace, Tracer

        self.tracer = Tracer(spark) if trace else None
        self.notrace = NoTrace()


def measure(wl, ctx, seconds: float) -> dict:
    """The closed loop: one client issues the workload's next
    operation when the previous one returns, until ``seconds`` of
    operation time have passed, in whole cycles, and at least
    ``wl.min_cycles`` cycles. Result checks and per-operation
    bookkeeping run between operations and are excluded. A traced run
    traces every second cycle, starting with the first, and runs at
    least two cycles, so tracing overhead is the traced minus the
    untraced latency of the same mix."""
    ops: list[dict] = []
    failed = 0
    excluded = 0.0
    t0 = time.perf_counter()
    i = 0
    streak = 0
    min_ops = wl.cycle * max(wl.min_cycles, 2 if ctx.trace else 1)
    while (time.perf_counter() - t0 - excluded < seconds or i % wl.cycle
           or i < min_ops):
        x0 = time.perf_counter()
        wl.before(i)
        traced = ctx.trace and (i // wl.cycle) % 2 == 0
        tr = ctx.tracer if traced else ctx.notrace
        tr.op = i
        x1 = time.perf_counter()
        excluded += x1 - x0
        try:
            kind, items, result = wl.op(i, tr)
            ok = True
        except Exception:
            traceback.print_exc()
            kind, items, result, ok = "error", 0, None, False
        t1 = time.perf_counter()
        if ok and not wl.record(i, result):
            ok = False
        excluded += time.perf_counter() - t1
        failed += not ok
        streak = 0 if ok else streak + 1
        ops.append({"i": i, "kind": kind, "ms": (t1 - x1) * 1e3,
                    "items": items, "traced": traced, "ok": ok})
        i += 1
        if streak >= 3:
            break  # the program is broken; do not spin until timeout
    return {"ops": ops, "failed": failed}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "kaj_query_engine_spark" / "__init__.py").is_file():
        print(
            "perfbench: run from the root of a checkout that holds the "
            "kaj_query_engine_spark package", file=sys.stderr,
        )
        return 2
    sys.path.insert(0, str(ROOT))
    sys.path.insert(0, str(HERE))
    from harness import PREPARE_REPEATS, RssSampler, jvm_gc_ms, start_session, stop_session

    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    (work / "tmp").mkdir()
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # the Python workers import the program from the checkout too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    sampler = RssSampler().start()
    spark = None
    try:
        wall0 = time.perf_counter()
        spark, start_s = start_session(f"perfbench-{args.workload}", work)
        ctx = Context(spark, args.seed, work, bool(args.trace))
        wl = _load_workload(args.workload, ctx)
        wl.generate()
        load_s = wl.prepare_repeated()
        t = time.perf_counter()
        wl.warmup()
        warm_s = time.perf_counter() - t
        setup_s = start_s + load_s + warm_s
        gc0 = jvm_gc_ms(spark)
        run = measure(wl, ctx, args.seconds)
        gc_ms = jvm_gc_ms(spark) - gc0
        peak_mb = sampler.stop()
        attempted, failed = wl.verify(run)
        out = summarize(wl, ctx, run, args, setup_s, start_s, peak_mb, gc_ms)
        out["report"]["setup_parts"] = (
            f"session {start_s:.2f} + prepare {load_s:.2f} (median of "
            f"{PREPARE_REPEATS}) + warmup {warm_s:.2f}", "s")
        correct = failed == 0
        if ctx.tracer is not None:
            outdir = ROOT / ".perfbench_out"
            outdir.mkdir(exist_ok=True)
            ctx.tracer.dump(outdir / f"spans-{args.workload}-{args.seed}.jsonl")
        print(f"# workload {args.workload} seed {args.seed} "
              f"wall {time.perf_counter() - wall0:.1f}s")
        for k, (v, unit) in sorted(out["report"].items()):
            print(f"# {k} = {v} {unit}")
        print(json.dumps({
            "correct": correct,
            "attempted": attempted,
            "failed": failed,
            "metrics": out["metrics"],
        }))
        return 0
    finally:
        if spark is not None:
            stop_session(spark, sampler.seen)
        shutil.rmtree(work, ignore_errors=True)
        try:
            (ROOT / ".perfbench_work").rmdir()
        except OSError:
            pass


def summarize(wl, ctx, run, args, setup_s, start_s, peak_mb, gc_ms) -> dict:
    from harness import median, tail

    ops = [o for o in run["ops"] if o["ok"]]

    def samples(kinds):
        sel = [o for o in ops if o["kind"] in kinds]
        return ([o["ms"] for o in sel if not o["traced"]],
                [o["ms"] for o in sel if o["traced"]])

    untraced, traced = samples((wl.latency_kind,))
    lat = untraced or traced or [0.0]
    t = tail(next(s for s in samples((wl.latency_kind, *wl.tail_kinds)) + ([0.0],)
                  if s))
    busy_s = sum(o["ms"] for o in ops if not o["traced"]) / 1e3
    items = sum(o["items"] for o in ops if not o["traced"])
    if not busy_s:  # a traced run whose only operations were traced
        busy_s = sum(o["ms"] for o in ops) / 1e3
        items = sum(o["items"] for o in ops)
    e2e = {
        "setup_s": setup_s,
        "latency_p50_ms": median(lat),
        "latency_tail_ms": t["value"],
        "items_per_s": items / busy_s if busy_s else 0.0,
    }
    attempted = len(run["ops"])
    report = {k: (round(v, 4), E2E_UNITS[k]) for k, v in e2e.items()}
    report["latency_tail_ms"] = (
        round(t["value"], 4),
        f"ms (p{t['q']:.4g} of {t['n']} {'/'.join((wl.latency_kind, *wl.tail_kinds))} "
        f"samples, {t['beyond']} beyond)",
    )
    report["error_rate"] = (round(run["failed"] / max(1, attempted), 6), "ratio")
    report["peak_rss_mb"] = (round(peak_mb, 4), "MB")
    report["items_per_s"] = (round(e2e["items_per_s"], 4), f"1/s ({wl.item})")
    for kind in sorted({o["kind"] for o in ops}):
        ms = [o["ms"] for o in ops if o["kind"] == kind]
        report[f"ops.{kind}"] = (f"{len(ms)} x median {median(ms):.1f}", "ms")
    report |= wl.report(run)
    if not args.trace:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
        return {"metrics": metrics, "report": report}

    units = per_layer_units()
    layer = {k: 0.0 for k in units}
    layer["session.start_ms"] = start_s * 1e3
    layer["catalog.load_fixtures_ms"] = wl.load_ms
    layer["session.jvm_gc_ms"] = gc_ms
    layer["session.peak_rss_mb"] = peak_mb
    # tracing overhead: traced minus untraced median latency, per
    # operation kind seen both ways, then the median over kinds
    deltas = []
    for kind in {o["kind"] for o in ops}:
        u, tr = samples((kind,))
        if u and tr:
            deltas.append(median(tr) - median(u))
    layer["trace.overhead_ms"] = median(deltas)
    layer |= wl.layer_metrics(ctx.tracer)
    unknown = set(layer) - set(units)
    if unknown:
        raise KeyError(f"unregistered per-layer metrics: {sorted(unknown)}")
    for k in sorted(layer):
        if k not in report:
            report[k] = (round(layer[k], 4), units[k])
    metrics = {k: {"value": layer[k], "unit": units[k]} for k in units}
    return {"metrics": metrics, "report": report}


if __name__ == "__main__":
    sys.exit(main())
