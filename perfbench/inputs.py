"""Seeded benchmark inputs and their expected results, cached on disk.

Inputs come from the public ``grisp_spark.kg.datagen`` functions; the
expected results come from the independent reference oracle
(``grisp_spark.kg.oracle.run_oracle``) on the same seed. Both are
cached under ``perfbench/.work/cache`` keyed by (input, seed, sizes,
``DATAGEN_VERSION``), so a repeated seed pays for neither.
"""

from __future__ import annotations

import functools
import hashlib
import json
import multiprocessing
import os
import shutil
import time
from concurrent.futures import ProcessPoolExecutor
from multiprocessing import resource_tracker

import numpy as np
import pandas as pd

from perfbench import config

TRIPLE_COLS = ["conv_id", "turn_idx", "subj", "pred", "obj"]


def _oracle_chunk(conv: pd.DataFrame, kb: dict) -> tuple[set, int, set]:
    """One oracle shard's triple set, linked-mention count and
    (label, entity_id) keys of its label statistics, run in a worker
    process. ``spec.word_vec`` is a pure function of the word;
    memoizing it in this process changes no value and cuts the
    oracle's time by about two thirds."""
    from grisp_spark.kg import oracle, spec

    if not hasattr(spec.word_vec, "cache_info"):
        spec.word_vec = functools.lru_cache(maxsize=None)(spec.word_vec)
    out = oracle.run_oracle(conv, kb)
    labels = out["label_stats"]
    return (out["triples"], len(out["linked"]),
            set(zip(labels["label"], labels["entity_id"].astype(int))))


def run_oracle(conv: pd.DataFrame, kb: dict) -> tuple[set, int, set]:
    """The reference oracle's triple set, linked-mention count and
    label-statistics keys, sharded by conversation over worker
    processes. Triples and linked mentions are per conversation, so
    shards merge by union and sum; a (label, entity) pair has a
    label-statistics row when any shard links the label to the
    entity."""
    ids = np.sort(conv["conv_id"].unique())
    n = max(1, min(config.CORES, len(ids) // 20))
    shard_of = dict(zip(ids, np.arange(len(ids)) % n))
    shards = conv.groupby(conv["conv_id"].map(shard_of))
    ctx = multiprocessing.get_context("spawn")
    with ProcessPoolExecutor(max_workers=n, mp_context=ctx) as pool:
        parts = [f.result() for f in
                 [pool.submit(_oracle_chunk, part, kb) for _, part in shards]]
    return (set().union(*(p[0] for p in parts)), sum(p[1] for p in parts),
            set().union(*(p[2] for p in parts)))


def pipeline_rows(kb: dict, triples: set, linked: int, label_keys: set) -> dict:
    """Row counts of the staged pipeline's 9 tables, derived from the
    oracle's outputs by the definitions in ``kg.materialize`` and
    ``kg.canonicalize``."""
    from grisp_spark.kg import oracle
    from grisp_spark.kg.spec import MAX_LABELS_PER_ENTITY

    edges = {(s, int(o)) for _c, _t, s, p, o in triples if p == "co_occurs_with"}
    per_entity = pd.Series([e for _label, e in label_keys]).value_counts()
    return {
        "linked": linked,
        "canonical_map": len(oracle.canonical_map(kb)),
        "linked_canonical": linked,
        "triples": len(triples),
        "label_stats_out": len(label_keys),
        "edges": len(edges),
        "adjacency": len({s for s, _ in edges}) + len({d for _, d in edges}),
        "entity_labels": int(per_entity.clip(upper=MAX_LABELS_PER_ENTITY).sum()),
        "counters": kb["entities"]["entity_type"].nunique() + 3,
    }


def triples_frame(triples) -> pd.DataFrame:
    pdf = pd.DataFrame(sorted(triples), columns=TRIPLE_COLS)
    return pdf.astype({"turn_idx": "int32", "subj": "int64"})


def _write(pdf: pd.DataFrame, path: str, parts: int = 1) -> None:
    pdf = pdf.copy()
    for c in pdf.columns:  # Spark cannot read nanosecond parquet timestamps
        if str(pdf[c].dtype).startswith("datetime64"):
            pdf[c] = pdf[c].astype("datetime64[us]")
    if parts == 1:
        pdf.to_parquet(path, index=False)
        return
    os.makedirs(path)
    part = np.arange(len(pdf)) % parts
    for p in range(parts):
        pdf[part == p].to_parquet(os.path.join(path, f"part-{p:04d}.parquet"), index=False)


def _cached(name: str, seed: int, sizes: dict, build) -> tuple[str, dict, float]:
    """(directory, meta, seconds spent building).
    ``build(tmp_dir, seed, sizes)`` writes the input files into tmp_dir
    and returns the meta dict."""
    from grisp_spark.kg.datagen import DATAGEN_VERSION

    key = json.dumps([name, sizes, DATAGEN_VERSION, config.INPUT_VERSION], sort_keys=True)
    tag = hashlib.sha1(key.encode()).hexdigest()[:12]
    out = os.path.join(config.CACHE, f"{name}-s{seed}-{tag}")
    meta_path = os.path.join(out, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as fh:
            return out, json.load(fh), 0.0
    t0 = time.monotonic()
    tmp = out + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    # built in a child process, so that the benchmark process's own
    # memory (part of peak_rss_mb) does not depend on whether the cache
    # already held the seed
    child = multiprocessing.get_context("spawn").Process(
        target=_build_in_child, args=(build, tmp, seed, sizes))
    child.start()
    child.join()
    # spawning also started a resource-tracker process (the child's own
    # worker processes share it); stop it and wait for it now rather
    # than let it outlive the run
    resource_tracker._resource_tracker._stop()
    if child.exitcode != 0:
        raise RuntimeError(f"building the {name} input for seed {seed} failed")
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    with open(meta_path) as fh:
        return out, json.load(fh), time.monotonic() - t0


def _build_in_child(build, tmp: str, seed: int, sizes: dict) -> None:
    meta = build(tmp, seed, sizes)
    with open(os.path.join(tmp, "meta.json"), "w") as fh:
        json.dump(meta, fh)


def update_meta(directory: str, **fields) -> None:
    path = os.path.join(directory, "meta.json")
    with open(path) as fh:
        meta = json.load(fh)
    meta.update(fields)
    with open(path + ".tmp", "w") as fh:
        json.dump(meta, fh)
    os.replace(path + ".tmp", path)


def base_corpus(seed: int, sizes: dict) -> tuple[str, dict, float]:
    """Conversations against the 120-entity datagen KB, with
    - ``conversations.parquet`` and the KB tables: the staged
      pipeline's input, and ``meta["pipeline_rows"]``, the expected row
      count of each of its tables;
    - ``fused.parquet``: the corpus tiled ``fused_tiles`` times under
      fresh conv_ids (``<conv_id>~<tile>``), and its oracle triples
      ``fused_triples.parquet``;
    - ``deliveries/NNNN.parquet``: the stream deliveries. Group g of
      the conversations sends its first half-turns in delivery g and
      the rest in delivery g + 1, so the window state of every
      conversation carries across one micro-batch boundary. Delivery
      0 holds first halves only; deliveries 1 .. groups-1 are full.
      ``triples.parquet`` is the oracle's triple set of the
      whole corpus; a delivered prefix of a conversation has exactly
      its turns' subset of it."""
    return _cached("base", seed, sizes, _build_base)


def _build_base(d: str, seed: int, sizes: dict) -> dict:
    from grisp_spark.kg import datagen

    kb = datagen.generate_kb(seed)
    conv, _gold = datagen.generate_conversations(seed, sizes["base_convs"], kb)
    for name in ("entities", "aliases", "label_stats"):
        _write(kb[name], os.path.join(d, f"{name}.parquet"))
    triples, linked, label_keys = run_oracle(conv, kb)
    _write(conv, os.path.join(d, "conversations.parquet"), parts=config.CORES)
    base = triples_frame(triples)
    _write(base, os.path.join(d, "triples.parquet"))

    tiles = sizes["fused_tiles"]
    fused = pd.concat(
        [conv.assign(conv_id=conv["conv_id"] + f"~{k}") for k in range(tiles)],
        ignore_index=True,
    )
    _write(fused, os.path.join(d, "fused.parquet"), parts=config.CORES)
    _write(
        pd.concat(
            [base.assign(conv_id=base["conv_id"] + f"~{k}") for k in range(tiles)],
            ignore_index=True,
        ),
        os.path.join(d, "fused_triples.parquet"),
    )

    groups = sizes["stream_groups"]
    ids = np.sort(conv["conv_id"].unique())
    group = dict(zip(ids, np.arange(len(ids)) * groups // len(ids)))
    length = conv.groupby("conv_id")["turn_idx"].transform("max") + 1
    delivery = conv["conv_id"].map(group) + (conv["turn_idx"] >= length // 2)
    os.makedirs(os.path.join(d, "deliveries"))
    turns = []
    for k in range(groups):  # the last group's second halves are never sent
        part = conv[delivery == k]
        _write(part, os.path.join(d, "deliveries", f"{k:04d}.parquet"))
        turns.append(len(part))
    return {"turns": len(conv), "fused_turns": len(fused), "delivery_turns": turns,
            "pipeline_rows": pipeline_rows(kb, triples, linked, label_keys)}

