"""grisp_spark benchmark: one seeded workload per run.

    python3 perfbench/run.py --workload kg_fused --seed 1 --seconds 5 --trace 0

Builds nothing; runs the package from the checkout it sits in. Prints
the session settings, each op and the run's steal time as ``#`` lines,
then, as the last line, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. Exits 1 when
an op's output is wrong, 2 when the package cannot be imported.
Workloads and metrics are described in ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import config  # noqa: E402

EVENT_LOG = os.path.join(config.RUNS, "eventlog")
END_TO_END = [
    ("setup_s", "s"), ("op_p50_s", "s"), ("op_tail_s", "s"),
    ("turns_per_s", "1/s"), ("peak_rss_mb", "MB"),
]


T0 = time.monotonic()


def log(**fields) -> None:
    """A ``#`` report line, stamped with seconds since the run began."""
    fields["t_s"] = round(time.monotonic() - T0, 2)
    print("# " + json.dumps(fields, default=str), flush=True)


def _settings(w, seed: int, seconds: int, sizes: dict) -> dict:
    return {
        "workload": w.name, "seed": seed, "seconds": seconds,
        "master": f"local[{config.CORES}]", "driver_memory": config.DRIVER_MEMORY,
        "young_gen": config.YOUNG_GEN, "jit_warmup_ops": w.jit_warmup_ops,
        "SPARK_LOCAL_DIRS": config.SPARK_LOCAL_DIRS,
        "kg_partitions": config.KG_PARTITIONS,
        "pipeline_buckets": config.PIPELINE_BUCKETS, "sizes": sizes,
    }


def _setup(w, sess, event_log_dir: str | None = None) -> tuple[float, dict, list]:
    """Cold session start (with the session's own warm-up) + input
    load + the first op, which fills the caches, + the workload's JIT
    warm-up ops; returns (set-up seconds, its parts, the records of
    the set-up's ops)."""
    start_s, warmup_s = sess.start(event_log_dir)
    t0 = time.perf_counter()
    w.load(sess.spark)
    load_s = time.perf_counter() - t0
    ops = [w.op(sess.spark) for _ in range(1 + w.jit_warmup_ops)]
    parts = {"start_s": start_s, "warmup_s": warmup_s, "load_s": load_s,
             "first_op_s": ops[0]["s"], "jit_warmup_ops_s": sum(r["s"] for r in ops[1:])}
    return start_s + warmup_s + load_s + sum(r["s"] for r in ops), parts, ops


def timed_run(w, sess, seconds: int) -> dict:
    """Set-up + timed ops, untraced."""
    from perfbench.harness import RssSampler, run_ops

    with RssSampler() as rss:
        setup_s, parts, setup_ops = _setup(w, sess)
        records = run_ops(lambda: w.op(sess.spark), seconds, w.min_ops, w.remaining())
    log(setup_parts_s={k: round(v, 4) for k, v in parts.items()},
        peak_rss_parts_mb={k: v if k == "n_workers" else round(v / 2**20, 1)
                           for k, v in rss.parts.items()})
    return {"setup_s": setup_s, "setup_ops": setup_ops, "records": records,
            "peak_rss_mb": rss.peak / 2**20}


def end_to_end(run: dict) -> dict:
    from perfbench.harness import tail

    secs = [r["s"] for r in run["records"]]
    op_tail, label = tail(secs)
    log(op_s=[round(s, 4) for s in secs], op_tail=label, op_samples=len(secs))
    return {
        "setup_s": run["setup_s"],
        "op_p50_s": statistics.median(secs),
        "op_tail_s": op_tail,
        "turns_per_s": statistics.median(r["turns"] / r["s"] for r in run["records"]),
        "peak_rss_mb": run["peak_rss_mb"],
    }


def traced_run(w, sess, seconds: int, out: dict) -> tuple[list[bool], list, list]:
    """One session with the Spark event log on: set-up, then for
    ``seconds`` pairs of an untraced op (the overhead baseline) and an
    op with the layer probes installed. Fills ``out`` with the
    per-layer metrics; returns every op's check, the wall-clock window
    of each traced op and the traced ops' records."""
    from perfbench import tracing

    shutil.rmtree(EVENT_LOG, ignore_errors=True)
    os.makedirs(EVENT_LOG)
    # stream_incremental builds its KB once, in set-up; the others in
    # every op, and there the traced ops' builds are reported
    setup_kb, kb, pipe = tracing.KbProbe(), tracing.KbProbe(), tracing.PipelineProbe()
    with setup_kb.active():
        _, parts, setup_ops = _setup(w, sess, event_log_dir=EVENT_LOG)
    out.update({"session.start_s": parts["start_s"], "session.warmup_s": parts["warmup_s"]})
    windows, plain, traced = [], [], []

    def traced_op():
        t0 = time.time() * 1000
        with kb.active(), pipe.active():
            r = w.op(sess.spark)
        windows.append((t0, time.time() * 1000))
        r["pipeline"] = pipe.take()
        return r

    # untraced and traced ops alternate, so that the JIT warming over a
    # run's first ops favours neither side of the overhead comparison
    end = time.monotonic() + seconds
    while not traced or (time.monotonic() < end
                         and (w.remaining() is None or w.remaining() >= 2)):
        plain.append(w.op(sess.spark))
        traced.append(traced_op())
    p_plain = statistics.median(r["s"] for r in plain)
    p_traced = statistics.median(r["s"] for r in traced)
    out.update({
        "trace.untraced_op_p50_s": p_plain, "trace.traced_op_p50_s": p_traced,
        "trace.overhead_pct": 100 * (p_traced / p_plain - 1),
    })
    out.update((kb if kb.seconds else setup_kb).metrics())
    log(traced_op_s=[round(r["s"], 4) for r in traced])
    if kb.seconds:  # the KB is built in every op
        log(kb_build_share=out["kb.build_s"] / p_traced)

    if w.name == "kg_fused":
        out["fused.job_s"] = statistics.median(r["job_s"] for r in traced)
        out["fused.triples_out"] = traced[-1]["digest"]["rows"]
        log(fused_job_share=out["fused.job_s"] / p_traced)
        import pandas as pd

        batches = tracing.kernel_slice(
            pd.read_parquet(os.path.join(w.dir, "fused.parquet")),
            w.sizes["kernel_slice_turns"])
        out.update(tracing.kernel_metrics(kb.broadcasts, batches))
    extra = []
    if w.name == "kg_batch":
        out.update(tracing.pipeline_metrics(traced))
        # the pinned queries, after the timed ops: a first pass fills
        # the caches, the second is reported
        extra = [w.query_pass(sess.spark) for _ in range(2)]
        out.update(tracing.query_metrics(extra[-1]))
    if w.name == "stream_incremental":
        out.update(tracing.stream_metrics(traced))
    return w.check(sess.spark, [*setup_ops, *plain, *traced, *extra]), windows, traced


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true", help="smoke-test input sizes")
    args = p.parse_args(argv)

    try:
        import pyspark  # noqa: F401

        import grisp_spark.kg.linking  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the package under test: {exc}", file=sys.stderr)
        return 2
    from perfbench import harness, tracing, workloads

    if args.workload not in workloads.WORKLOADS:
        p.error(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    sizes = config.TINY_SIZES if args.tiny else config.SIZES
    w = workloads.WORKLOADS[args.workload]()
    w.sizes = sizes
    log(settings=_settings(w, args.seed, args.seconds, sizes))

    steal0 = harness.steal_ticks()
    datagen_s = w.prepare(args.seed, sizes)
    log(datagen_s=round(datagen_s, 3), cached=datagen_s == 0.0)

    sess = harness.Session()
    layers: dict = {}
    try:
        if args.trace:
            oks, windows, traced = traced_run(w, sess, args.seconds, layers)
        else:
            run = timed_run(w, sess, args.seconds)
            oks = w.check(sess.spark, [*run["setup_ops"], *run["records"]])
    finally:
        w.close()
        sess.stop()
    if args.trace:
        stages = tracing.stage_digest(EVENT_LOG, windows)
        digest = os.path.join(config.RUNS, "stages.json")
        with open(digest, "w") as fh:
            json.dump(stages, fh, indent=1)
        log(stage_digest=digest)
        layers.update(tracing.event_log_metrics(stages, len(windows)))
        if w.name == "kg_batch":
            layers.update(tracing.pipeline_jobs(stages, traced))

    failed = oks.count(False)
    steal_s = (harness.steal_ticks() - steal0) / 100
    log(steal_cpu_s=steal_s, attempted=len(oks), failed=failed,
        error_rate=failed / len(oks))
    if args.trace:
        layers.update({"inputs.datagen_s": datagen_s, "host.steal_cpu_s": steal_s})
        metrics = {n: {"value": layers.get(n, 0), "unit": u} for n, u in tracing.METRICS}
    else:
        values = end_to_end(run)
        metrics = {n: {"value": values[n], "unit": u} for n, u in END_TO_END}
    print(json.dumps({"correct": failed == 0, "attempted": len(oks), "failed": failed,
                      "metrics": metrics}), flush=True)
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
