"""Per-layer measurements for the traced run (``--trace 1``).

Spans are taken from outside the program, around the calls into each
layer: wrappers installed on module attributes for the duration of the
traced phase, the Spark event log of the traced session, and
``StreamingQueryProgress``. Nothing here runs in an untraced run.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import pickle
import statistics
import time

import pandas as pd

# the staged pipeline's tables, in the order it writes them
PIPELINE_STAGES = ("linked", "canonical_map", "linked_canonical", "triples", "label_stats_out",
                   "edges", "adjacency", "entity_labels", "counters")
# kg_batch's pinned queries
with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "queries.json")) as _fh:
    QUERIES = tuple(json.load(_fh)["queries"])

# every per-layer metric with its unit, in report order; a layer that
# does not run in a workload reports 0
METRICS = [
    ("session.start_s", "s"), ("session.warmup_s", "s"),
    ("kb.build_s", "s"), ("kb.gazetteer_entries", "count"),
    ("kb.entity_vectors", "count"), ("kb.broadcast_bytes", "bytes"),
    ("fused.job_s", "s"), ("fused.triples_out", "count"),
    ("spark.layout.shuffle_write_bytes", "bytes"), ("spark.layout.run_s", "s"),
    ("spark.kernel.run_s", "s"), ("spark.kernel.cpu_s", "s"),
    ("spark.kernel.tasks", "count"), ("spark.kernel.max_task_s", "s"),
    ("spark.shuffle_fetch_wait_s", "s"), ("spark.gc_s", "s"),
    ("spark.spill_bytes", "bytes"), ("spark.failed_tasks", "count"), ("spark.jobs", "count"),
    ("kernel.tokenize_s", "s"), ("kernel.intern_s", "s"), ("kernel.detect_s", "s"),
    ("kernel.score_s", "s"), ("kernel.emit_s", "s"), ("kernel.turns_per_s", "1/s"),
    ("kernel.mentions", "count"), ("kernel.linked", "count"),
    ("kernel.link_ratio", "ratio"), ("kernel.word_vec_computed", "count"),
    ("stream.add_batch_ms", "ms"), ("stream.trigger_ms", "ms"),
    ("stream.wal_commit_ms", "ms"), ("stream.state_rows", "count"),
    ("stream.state_bytes", "bytes"), ("stream.state_commit_ms", "ms"),
    ("stream.input_rows", "count"),
    *[(f"pipeline.{st}_{k}", u) for st in PIPELINE_STAGES for k, u in (("s", "s"), ("rows", "count"))],
    ("pipeline.spark_jobs", "count"),
    *[(f"query.{q}_s", "s") for q in QUERIES], ("query.geomean_s", "s"),
    ("trace.untraced_op_p50_s", "s"), ("trace.traced_op_p50_s", "s"),
    ("trace.overhead_pct", "%"),
    ("inputs.datagen_s", "s"), ("host.steal_cpu_s", "s"),
]


def _median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


@contextlib.contextmanager
def patched(obj, attr: str, wrapper_factory):
    """Replace ``obj.attr`` with ``wrapper_factory(original)`` inside
    the block."""
    original = getattr(obj, attr)
    setattr(obj, attr, wrapper_factory(original))
    try:
        yield
    finally:
        setattr(obj, attr, original)


class KbProbe:
    """Times every KB broadcast build (``build_kb_broadcasts``, and
    ``build_broadcasts`` of the staged pipeline) and keeps the
    broadcasts of the last one."""

    def __init__(self):
        self.seconds: list[float] = []
        self.broadcasts = None

    def _wrap(self, fn):
        def timed(*args, **kwargs):
            t0 = time.perf_counter()
            out = fn(*args, **kwargs)
            self.seconds.append(time.perf_counter() - t0)
            self.broadcasts = out
            return out
        return timed

    @contextlib.contextmanager
    def active(self):
        from grisp_spark.kg import linking

        with patched(linking, "build_kb_broadcasts", self._wrap), \
                patched(linking, "build_broadcasts", self._wrap):
            yield

    def metrics(self) -> dict:
        if self.broadcasts is None:
            return {}
        gaz, evec = self.broadcasts[0], self.broadcasts[1]
        size = 0
        for bc in self.broadcasts:
            path = getattr(bc, "_path", None)
            size += os.path.getsize(path) if path and os.path.exists(path) else len(
                pickle.dumps(bc.value, protocol=pickle.HIGHEST_PROTOCOL))
        return {"kb.build_s": _median(self.seconds),
                "kb.gazetteer_entries": len(gaz.value),
                "kb.entity_vectors": len(evec.value),
                "kb.broadcast_bytes": size}


class PipelineProbe:
    """Times each stage of ``KGPipeline.run``: ``stage_linked`` and
    every ``_stage`` call (the entity-bucketed tables go through it
    too), and the wall-clock window of the whole run."""

    def __init__(self):
        self.stages: dict[str, float] = {}
        self.window = None

    def _wrap_stage(self, fn):
        probe = self

        def timed(pipe, name, *args, **kwargs):
            t0 = time.perf_counter()
            out = fn(pipe, name, *args, **kwargs)
            probe.stages[name] = time.perf_counter() - t0
            return out
        return timed

    def _wrap_linked(self, fn):
        probe = self

        def timed(pipe, *args, **kwargs):
            t0 = time.perf_counter()
            out = fn(pipe, *args, **kwargs)
            probe.stages["linked"] = time.perf_counter() - t0
            return out
        return timed

    def _wrap_run(self, fn):
        probe = self

        def timed(pipe, *args, **kwargs):
            t0 = time.time() * 1000
            out = fn(pipe, *args, **kwargs)
            probe.window = (t0, time.time() * 1000)
            return out
        return timed

    @contextlib.contextmanager
    def active(self):
        from grisp_spark.kg.pipeline import KGPipeline

        with patched(KGPipeline, "_stage", self._wrap_stage), \
                patched(KGPipeline, "stage_linked", self._wrap_linked), \
                patched(KGPipeline, "run", self._wrap_run):
            yield

    def take(self) -> dict:
        """The stage times and window of the run since the last take."""
        out = {"stages": self.stages, "window": self.window}
        self.stages, self.window = {}, None
        return out


def pipeline_metrics(records: list[dict]) -> dict:
    """Per stage, its seconds (from the probe) and its table's rows
    (counted for the op's check); medians over ops."""
    out = {}
    for st in PIPELINE_STAGES:
        out[f"pipeline.{st}_s"] = _median(r["pipeline"]["stages"][st] for r in records)
        out[f"pipeline.{st}_rows"] = _median(r["rows"][st] for r in records)
    return out


def query_metrics(query_pass: dict) -> dict:
    """Each pinned query's seconds and their geometric mean."""
    secs = query_pass["query_s"]
    out = {f"query.{q}_s": secs[q] for q in QUERIES}
    out["query.geomean_s"] = statistics.geometric_mean(secs.values())
    return out


def pipeline_jobs(stages: list[dict], records: list[dict]) -> dict:
    """Spark jobs submitted inside each op's pipeline run; median over
    ops."""
    counts = []
    for r in records:
        t0, t1 = r["pipeline"]["window"]
        counts.append(len({s["job"] for s in stages if t0 <= s["submitted"] <= t1}))
    return {"pipeline.spark_jobs": _median(counts)}


class _Capture:
    """Stands in for the conversations DataFrame to capture the
    function a kernel entry point hands to ``mapInPandas``."""

    fn = None

    def select(self, *cols):
        return self

    def repartition(self, *args):
        return self

    def sortWithinPartitions(self, *cols):
        return self

    def mapInPandas(self, fn, schema):
        self.fn = fn
        return self


class KernelSpans:
    """Self time of the fused kernel's layers, driven single-threaded
    in this process: tokenize (``spec.tokenize``), intern
    (``linking._intern_tokens``), detect (``linking._detect_all``),
    score (``linking._pick_all``); emit is the kernel's remaining
    self time. ``spec.word_vec`` calls count word-vector cache misses."""

    SPANS = (("spec", "tokenize", "tokenize"), ("linking", "_intern_tokens", "intern"),
             ("linking", "_detect_all", "detect"), ("linking", "_pick_all", "score"))

    def __init__(self):
        self.t = dict.fromkeys(("tokenize", "intern", "detect", "score"), 0.0)
        self.mentions = self.linked = self.word_vec_computed = 0

    def _span(self, name):
        def factory(fn):
            def timed(*args, **kwargs):
                t0 = time.perf_counter()
                out = fn(*args, **kwargs)
                self.t[name] += time.perf_counter() - t0
                if name == "detect":
                    self.mentions += sum(len(f) for f in out)
                elif name == "score":
                    self.linked += sum(len(p) for p in out)
                return out
            return timed
        return factory

    def _count_word_vec(self, fn):
        def counted(word):
            self.word_vec_computed += 1
            return fn(word)
        return counted

    @contextlib.contextmanager
    def active(self):
        from grisp_spark.kg import linking, spec

        mods = {"spec": spec, "linking": linking}
        with contextlib.ExitStack() as stack:
            for mod, attr, name in self.SPANS:
                stack.enter_context(patched(mods[mod], attr, self._span(name)))
            stack.enter_context(patched(spec, "word_vec", self._count_word_vec))
            yield


def kernel_slice(conversations: pd.DataFrame, turns: int) -> list[pd.DataFrame]:
    """The first whole conversations (in conv_id order) holding at
    least ``turns`` turns, turn-ordered, in Arrow-sized batches."""
    conv = conversations.sort_values(["conv_id", "turn_idx"], kind="mergesort")
    conv = conv[["conv_id", "turn_idx", "role", "tool", "text"]].reset_index(drop=True)
    if len(conv) > turns:
        last = conv["conv_id"].iloc[turns - 1]
        conv = conv[conv["conv_id"] <= last]
    return [conv.iloc[i:i + 10_000] for i in range(0, len(conv), 10_000)]


def kernel_metrics(broadcasts, batches: list[pd.DataFrame], passes: int = 3) -> dict:
    """Capture the kernel function ``linking.link_and_extract`` builds
    for the given broadcasts and drive it over ``batches``: one cold
    pass for the cache-miss count, then ``passes`` warm passes for the
    spans."""
    from grisp_spark.kg import linking

    cap = _Capture()
    linking.link_and_extract(cap, *broadcasts, 1)
    turns = sum(len(b) for b in batches)

    def one_pass() -> tuple[KernelSpans, float]:
        spans = KernelSpans()
        with spans.active():
            t0 = time.perf_counter()
            for _out in cap.fn(iter(batches)):
                pass
            total = time.perf_counter() - t0
        return spans, total

    cold, _ = one_pass()
    warm = [one_pass() for _ in range(passes)]
    total = _median(t for _, t in warm)
    out = {f"kernel.{k}_s": _median(s.t[k] for s, _ in warm) for k in cold.t}
    out["kernel.emit_s"] = _median(t - sum(s.t.values()) for s, t in warm)
    out.update({
        "kernel.turns_per_s": turns / total,
        "kernel.mentions": cold.mentions,
        "kernel.linked": cold.linked,
        "kernel.link_ratio": cold.linked / cold.mentions if cold.mentions else 0.0,
        "kernel.word_vec_computed": cold.word_vec_computed,
    })
    return out


def stream_metrics(records: list[dict]) -> dict:
    """Per op, the ``StreamingQueryProgress`` of the micro-batches that
    read its delivery; medians over ops."""
    def per_op(r):
        ps = [p for p in r["progress"] if p.get("numInputRows", 0) > 0] or r["progress"]
        state = [p["stateOperators"][0] for p in ps if p.get("stateOperators")]

        def ms(key: str) -> int:
            return sum(p["durationMs"].get(key, 0) for p in ps)

        return {
            "stream.add_batch_ms": ms("addBatch"),
            "stream.trigger_ms": ms("triggerExecution"),
            "stream.wal_commit_ms": ms("walCommit"),
            "stream.state_rows": state[-1]["numRowsTotal"] if state else 0,
            "stream.state_bytes": state[-1]["memoryUsedBytes"] if state else 0,
            "stream.state_commit_ms": sum(s.get("commitTimeMs", 0) for s in state),
            "stream.input_rows": sum(p.get("numInputRows", 0) for p in ps),
        }
    rows = [per_op(r) for r in records]
    return {k: _median(r[k] for r in rows) for k in rows[0]} if rows else {}


def stage_digest(log_dir: str, windows: list[tuple[float, float]]) -> list[dict]:
    """One record per completed stage of the jobs submitted inside an
    op's wall-clock window (``op`` is the window's index): its wall
    time and task totals from the traced session's event log."""
    files = glob.glob(os.path.join(log_dir, "*"))
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    job_of, stages, tasks = {}, {}, {}
    with open(files[0]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                op = next((i for i, (t0, t1) in enumerate(windows)
                           if t0 <= ev["Submission Time"] <= t1), None)
                if op is not None:
                    for s in ev["Stage IDs"]:
                        job_of[s] = (op, ev["Job ID"], ev["Submission Time"])
            elif kind == "SparkListenerStageCompleted":
                stages[ev["Stage Info"]["Stage ID"]] = ev["Stage Info"]
            elif kind == "SparkListenerTaskEnd":
                tasks.setdefault(ev["Stage ID"], []).append(ev)
    out = []
    for sid, (op, job, submitted) in sorted(job_of.items()):
        if sid not in stages:  # skipped: its output was reused
            continue
        info, ts = stages[sid], tasks.get(sid, [])
        tm = [t.get("Task Metrics") or {} for t in ts]
        read = [x.get("Shuffle Read Metrics", {}) for x in tm]
        out.append({
            "op": op, "job": job, "submitted": submitted, "stage": sid, "name": info.get("Stage Name"),
            "run_s": (info["Completion Time"] - info["Submission Time"]) / 1000,
            "tasks": len(ts),
            "failed_tasks": sum(1 for t in ts if t.get("Task Info", {}).get("Failed")),
            "executor_run_s": sum(x.get("Executor Run Time", 0) for x in tm) / 1000,
            "max_task_s": max((x.get("Executor Run Time", 0) for x in tm), default=0) / 1000,
            "cpu_s": sum(x.get("Executor CPU Time", 0) for x in tm) / 1e9,
            "gc_s": sum(x.get("JVM GC Time", 0) for x in tm) / 1000,
            "spill_bytes": sum(x.get("Memory Bytes Spilled", 0)
                               + x.get("Disk Bytes Spilled", 0) for x in tm),
            "shuffle_read_records": sum(r.get("Total Records Read", 0) for r in read),
            "shuffle_fetch_wait_s": sum(r.get("Fetch Wait Time", 0) for r in read) / 1000,
            "shuffle_write_bytes": sum(
                x.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) for x in tm),
        })
    return out


def event_log_metrics(stages: list[dict], n_ops: int) -> dict:
    """Per op: the layout stages (those writing shuffle output), the
    kernel stages (reading shuffle output, writing none) and totals
    over all its stages; medians over ops."""
    rows = []
    for op in range(n_ops):
        st = [s for s in stages if s["op"] == op]
        layout = [s for s in st if s["shuffle_write_bytes"]]
        kernel = [s for s in st if not s["shuffle_write_bytes"] and s["shuffle_read_records"]]
        rows.append({
            "spark.layout.shuffle_write_bytes": sum(s["shuffle_write_bytes"] for s in layout),
            "spark.layout.run_s": sum(s["run_s"] for s in layout),
            "spark.kernel.run_s": sum(s["run_s"] for s in kernel),
            "spark.kernel.cpu_s": sum(s["cpu_s"] for s in kernel),
            "spark.kernel.tasks": sum(s["tasks"] for s in kernel),
            "spark.kernel.max_task_s": max((s["max_task_s"] for s in kernel), default=0),
            "spark.shuffle_fetch_wait_s": sum(s["shuffle_fetch_wait_s"] for s in st),
            "spark.gc_s": sum(s["gc_s"] for s in st),
            "spark.spill_bytes": sum(s["spill_bytes"] for s in st),
            "spark.failed_tasks": sum(s["failed_tasks"] for s in st),
            "spark.jobs": len({s["job"] for s in st}),
        })
    return {k: _median(r[k] for r in rows) for k in rows[0]} if rows else {}
