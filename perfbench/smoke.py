"""Smoke test of the benchmark itself, at tiny input sizes.

    python3 perfbench/smoke.py

Checks that
- every workload runs untraced and traced, and prints exactly the
  metrics ``BENCHMARK.json`` names;
- every correctness check fires: with a perturbed expected result the
  run reports failed ops, ``correct: false`` and exits 1;
- in a directory holding only ``BENCHMARK.json`` and ``perfbench/``
  the benchmark exits non-zero without printing a result.
Takes about fifteen minutes; exits 1 on the first failed check.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import config  # noqa: E402


def _run(workload: str, trace: int, perturb: str = "") -> tuple[int, dict | None]:
    """One tiny run in its own process (each run owns one JVM), with
    the named expectation perturbed."""
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--child", workload, str(trace), perturb],
        capture_output=True, text=True, timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    last = lines[-1] if lines else ""
    return proc.returncode, json.loads(last) if last.startswith("{") else None


def _child(workload: str, trace: str, perturb: str) -> int:
    from perfbench import run, workloads

    if perturb:
        cls_name, attr, wrap = PERTURB[perturb]
        cls = workloads.WORKLOADS[cls_name]
        setattr(cls, attr, wrap(getattr(cls, attr)))
    return run.main(["--workload", workload, "--seed", "7", "--seconds", "1",
                     "--trace", trace, "--tiny"])


def _expect(ok: bool, what: str) -> None:
    print(("ok   " if ok else "FAIL ") + what, flush=True)
    if not ok:
        sys.exit(1)


def _perturbed_digest(fn):
    def wrong(self, spark):
        d = dict(fn(self, spark))
        d["hash_xor"] ^= 1
        return d
    return wrong


def _perturbed_triples(fn):
    def wrong(self):
        pdf = fn(self).copy()
        pdf.loc[0, "obj"] = pdf.loc[0, "obj"] + "x"
        return pdf
    return wrong


def _perturbed_expected(part: int):
    """Batch.expected with one of (row counts, triples, query digests)
    perturbed."""
    def factory(fn):
        def wrong(self):
            out = list(fn(self))
            if part == 0:
                out[0] = {**out[0], "edges": out[0]["edges"] + 1}
            elif part == 1:
                out[1] = set(list(out[1])[1:])
            else:
                name = next(iter(out[2]))
                out[2] = {**out[2], name: {**out[2][name], "sha1": "0" * 40}}
            return tuple(out)
        return wrong
    return factory


# name: (workload, method of the expected result, perturbation)
PERTURB = {
    "fused_digest": ("kg_fused", "expected_digest", _perturbed_digest),
    "batch_rows": ("kg_batch", "expected", _perturbed_expected(0)),
    "batch_triples": ("kg_batch", "expected", _perturbed_expected(1)),
    "batch_queries": ("kg_batch", "expected", _perturbed_expected(2)),
    "stream_triples": ("stream_incremental", "expected_triples", _perturbed_triples),
}


def main() -> None:
    from perfbench import run, tracing, workloads

    with open(os.path.join(config.ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    names = {0: [m["name"] for m in bench["end_to_end"]],
             1: [m["name"] for m in bench["per_layer"]]}
    _expect(names[0] == [n for n, _ in run.END_TO_END], "end_to_end names match run.py")
    _expect(names[1] == [n for n, _ in tracing.METRICS], "per_layer names match tracing.py")
    _expect(sorted(w["name"] for w in bench["workloads"]) == sorted(workloads.WORKLOADS),
            "workloads match")

    for w in workloads.WORKLOADS:
        for trace in (0, 1):
            rc, out = _run(w, trace)
            _expect(rc == 0 and out is not None and out["correct"]
                    and list(out["metrics"]) == names[trace],
                    f"{w} --trace {trace} runs, is correct, prints every metric")

    for name, (w, _attr, _wrap) in PERTURB.items():
        trace = int(name == "batch_queries")  # the queries run in traced runs only
        rc, out = _run(w, trace, name)
        _expect(rc == 1 and out is not None and not out["correct"] and out["failed"] >= 1,
                f"check fires: {name} perturbed on {w} --trace {trace}")

    bare = os.path.join(config.WORK, "bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(os.path.join(config.ROOT, "perfbench"), os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    shutil.copy(os.path.join(config.ROOT, "BENCHMARK.json"), bare)
    proc = subprocess.run(
        [sys.executable, *bench["command"][1:], "--workload", "kg_fused", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=bare, capture_output=True, text=True, timeout=180,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"},
    )
    shutil.rmtree(bare)
    _expect(proc.returncode != 0 and "{" not in proc.stdout,
            "a checkout without the package exits non-zero and prints no result")


if __name__ == "__main__":
    if sys.argv[1:2] == ["--child"]:
        sys.exit(_child(*sys.argv[2:5]))
    main()
