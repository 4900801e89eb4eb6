"""One turn-window rule on every path: the fused kernel, both staged
linking regimes, the streaming processor and the oracle emit one
triple set when conversations have turn_idx gaps, and the streaming
window carries across micro-batches exactly like the batch carry.

The rule: turn t's window is E_{t-1} ∪ E_t only when the previous row
of the conversation is turn t−1; a gap starts an empty window."""

import os
import shutil

import pandas as pd
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from grisp_spark.kg import datagen, linking, oracle
from grisp_spark.kg.pipeline import KGPipeline
from grisp_spark.streaming import ingest, stateful

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DATA = os.path.join(REPO, ".data", "window_rule")
KB_TABLES = ("entities", "aliases", "label_stats")


def _triples(df):
    return {
        (r.conv_id, int(r.turn_idx), int(r.subj), r.pred, r.obj)
        for r in df.select("conv_id", "turn_idx", "subj", "pred", "obj").collect()
    }


def _read_kb(spark, data_dir):
    return {n: spark.read.parquet(os.path.join(data_dir, f"{n}.parquet")) for n in KB_TABLES}


def _stream_triples(spark, name, broadcasts, deliveries):
    """Run streaming_triples over ``deliveries`` (one file each, each
    processed before the next lands). Returns (triples, number of
    micro-batches that read input)."""
    in_dir = os.path.join(DATA, name)
    shutil.rmtree(in_dir, ignore_errors=True)
    q = None
    try:
        for d in deliveries:
            d.coalesce(1).write.mode("append").parquet(in_dir)
            if q is None:
                q = (
                    stateful.streaming_triples(
                        ingest.stream_conversations(spark, in_dir), *broadcasts
                    )
                    .writeStream.outputMode("append")
                    .format("memory")
                    .queryName(name)
                    .start()
                )
            q.processAllAvailable()
        batches = sum(1 for p in q.recentProgress if p["numInputRows"] > 0)
    finally:
        if q is not None:
            q.stop()
    return _triples(spark.sql(f"SELECT * FROM {name}")), batches


@pytest.fixture(scope="module")
def gapped(spark):
    """datagen seed 42, 60 conversations, every turn_idx == 1 dropped."""
    full, gap = os.path.join(DATA, "full"), os.path.join(DATA, "gap")
    shutil.rmtree(gap, ignore_errors=True)
    datagen.write_dataset(full, seed=42, n_convs=60)
    os.makedirs(gap)
    for n in KB_TABLES:
        shutil.copyfile(
            os.path.join(full, f"{n}.parquet"), os.path.join(gap, f"{n}.parquet")
        )
    spark.read.parquet(os.path.join(full, "conversations.parquet")).filter(
        "turn_idx != 1"
    ).write.parquet(os.path.join(gap, "conversations.parquet"))
    return gap


def test_gapped_turns_one_triple_set(spark, gapped):
    conv = spark.read.parquet(os.path.join(gapped, "conversations.parquet"))
    kb = _read_kb(spark, gapped)
    broadcasts = linking.build_kb_broadcasts(spark, kb)

    expected = oracle.run_oracle(
        pd.read_parquet(os.path.join(gapped, "conversations.parquet")),
        {n: pd.read_parquet(os.path.join(gapped, f"{n}.parquet")) for n in KB_TABLES},
    )["triples"]
    # the gap must matter: some conversation links entities at turns 0
    # and 2 that the reset keeps out of one window
    ents: dict[tuple[str, int], set[int]] = {}
    for c, t, s, p, _o in expected:
        if p == "mentioned_by":
            ents.setdefault((c, t), set()).add(s)
    assert any(
        ents.get((c, 0), set()) - ents[(c, 2)] for c, t in ents if t == 2
    ), "corpus must put distinct entities on both sides of a gap"
    # ...and no pair at turn 2 may reach back into turn 0
    assert all(
        s in ents[(c, t)] and int(o) in ents[(c, t)]
        for c, t, s, p, o in expected
        if p == "co_occurs_with" and t == 2
    )

    fused = _triples(linking.link_and_extract(conv, *broadcasts, 8))
    paths = {"fused": fused}
    for regime, limit in (("broadcast", None), ("shuffle", 0)):
        out = os.path.join(DATA, f"staged_{regime}")
        shutil.rmtree(out, ignore_errors=True)
        kwargs = {} if limit is None else {"broadcast_label_limit": limit}
        res = KGPipeline(
            spark, gapped, out, n_buckets=2, n_partitions=8, **kwargs
        ).run(resume=False)
        paths[f"staged_{regime}"] = _triples(res["triples"])
    paths["streaming"], _ = _stream_triples(spark, "gap_stream", broadcasts, [conv])
    for name, got in paths.items():
        assert got == expected, f"{name}: {len(got)} triples vs oracle {len(expected)}"


def test_streaming_window_carries_across_deliveries(spark):
    """Each conversation's turns arrive in two deliveries (first half,
    then the rest), so every conversation's window must carry through
    the state store into the second micro-batch."""
    data = os.path.join(DATA, "two_deliveries")
    datagen.write_dataset(data, seed=21, n_convs=25)
    conv = spark.read.parquet(os.path.join(data, "conversations.parquet"))
    broadcasts = linking.build_kb_broadcasts(spark, _read_kb(spark, data))

    last = F.max("turn_idx").over(Window.partitionBy("conv_id"))
    split = conv.withColumn("early", F.col("turn_idx") * 2 <= last)
    first = split.filter("early").drop("early")
    second = split.filter("NOT early").drop("early")
    got, batches = _stream_triples(spark, "two_delivery_stream", broadcasts, [first, second])

    expected = _triples(linking.link_and_extract(conv, *broadcasts, 4))
    assert batches == 2
    assert got == expected
    # the carry must be load-bearing: the second delivery on its own
    # (fresh windows) emits a different triple set for its turns
    second_keys = {(r.conv_id, r.turn_idx) for r in second.select("conv_id", "turn_idx").collect()}
    alone = _triples(linking.link_and_extract(second, *broadcasts, 4))
    assert alone != {t for t in expected if t[:2] in second_keys}
