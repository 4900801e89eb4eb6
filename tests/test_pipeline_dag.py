"""Spark-free checks of how ``KGPipeline.run`` schedules its stage DAG:
every stage starts only after its inputs end, independent stages
overlap, and a failed stage stops only the stages that read it."""

import threading
import time
from concurrent.futures import ThreadPoolExecutor

import pytest

from grisp_spark.kg import pipeline
from grisp_spark.kg.pipeline import KGPipeline

# the stage DAG, declared here independently of the pipeline
INPUTS = {
    "linked": (),
    "canonical_map": (),
    "counters": (),
    "linked_canonical": ("linked", "canonical_map"),
    "triples": ("linked_canonical",),
    "edges": ("triples",),
    "adjacency": ("edges",),
    "label_stats_out": ("linked",),
    "entity_labels": ("label_stats_out",),
}
# linked runs long enough for its independent stages to start under
# it; entity_labels is still running when edges ends
SLEEP_S = {"linked": 0.3, "entity_labels": 0.6}


class StageFailed(Exception):
    pass


class Recorder:
    """Stands in for every stage: logs its start and end, sleeps, and
    returns a token for its table (or raises, for ``fail``)."""

    def __init__(self, fail: str | None = None):
        self.fail = fail
        self.start: dict[str, float] = {}
        self.end: dict[str, float] = {}
        self.lock = threading.Lock()

    def stage(self, name: str) -> str:
        with self.lock:
            assert name not in self.start, f"{name} started twice"
            self.start[name] = time.monotonic()
        time.sleep(SLEEP_S.get(name, 0.05))
        if name == self.fail:
            raise StageFailed(name)
        with self.lock:
            self.end[name] = time.monotonic()
        return f"table:{name}"


def _run(tmp_path, monkeypatch, rec: Recorder) -> dict:
    monkeypatch.setattr(
        pipeline, "inheritable_thread_target", lambda spark: (lambda f: f),
        raising=False,
    )
    monkeypatch.setattr(KGPipeline, "conversations", lambda self: "conversations")
    monkeypatch.setattr(KGPipeline, "kb", lambda self: {"entities": "entities"})
    monkeypatch.setattr(
        KGPipeline, "stage_linked", lambda self, *a, **kw: rec.stage("linked")
    )
    monkeypatch.setattr(
        KGPipeline, "_stage", lambda self, name, *a, **kw: rec.stage(name)
    )
    monkeypatch.setattr(
        KGPipeline, "_stage_entity_bucketed",
        lambda self, name, *a, **kw: rec.stage(name),
    )
    pipe = KGPipeline(None, str(tmp_path / "in"), str(tmp_path / "out"))
    with ThreadPoolExecutor(1) as ex:
        return ex.submit(pipe.run, False).result(timeout=60)


def test_stages_follow_inputs_and_overlap(tmp_path, monkeypatch):
    rec = Recorder()
    result = _run(tmp_path, monkeypatch, rec)
    assert set(rec.end) == set(INPUTS)
    for stage, inputs in INPUTS.items():
        for i in inputs:
            assert rec.start[stage] >= rec.end[i], f"{stage} started before {i} ended"
    assert rec.start["canonical_map"] < rec.end["linked"]
    assert rec.start["counters"] < rec.end["linked"]
    assert result == {
        "linked": "table:linked",
        "canonical_map": "table:canonical_map",
        "triples": "table:triples",
        "label_stats": "table:label_stats_out",
        "edges": "table:edges",
        "adjacency": "table:adjacency",
        "entity_labels": "table:entity_labels",
        "counters": "table:counters",
    }


def test_failed_stage_stops_only_its_readers(tmp_path, monkeypatch):
    rec = Recorder(fail="edges")
    with pytest.raises(StageFailed) as err:
        _run(tmp_path, monkeypatch, rec)
    assert err.value.args == ("edges",)
    assert "adjacency" not in rec.start
    # run() returns only after the stages that do not read edges end,
    # entity_labels included, which was still running when edges failed
    assert {"label_stats_out", "entity_labels", "counters"} <= set(rec.end)
    assert rec.end["entity_labels"] > rec.start["edges"]
