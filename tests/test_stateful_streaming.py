"""applyInPandasWithState incremental triples: a single-delivery
stream must produce the same triples as the fused batch path (state
carries the 2-turn window across micro-batches per conversation)."""

import os
import shutil

from grisp_spark.kg import datagen, linking
from grisp_spark.streaming import ingest, stateful

DATA = "/root/repo/.data/stateful_test"


def test_stateful_matches_batch(spark):
    shutil.rmtree(DATA, ignore_errors=True)
    datagen.write_dataset(os.path.join(DATA, "kb"), seed=21, n_convs=25)
    conv = spark.read.parquet(os.path.join(DATA, "kb", "conversations.parquet"))
    in_dir = os.path.join(DATA, "incoming")
    # one file => one micro-batch delivering whole conversations
    conv.coalesce(1).write.mode("overwrite").parquet(in_dir)

    kb = {
        n: spark.read.parquet(os.path.join(DATA, "kb", f"{n}.parquet"))
        for n in ("entities", "aliases", "label_stats")
    }
    gaz_bc, evec_bc, canon_bc = linking.build_kb_broadcasts(spark, kb)

    stream = ingest.stream_conversations(spark, in_dir)
    triples_stream = stateful.streaming_triples(stream, gaz_bc, evec_bc, canon_bc)
    q = (
        triples_stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("stream_triples")
        .start()
    )
    q.processAllAvailable()
    q.stop()

    got = {
        (r.conv_id, int(r.turn_idx), int(r.subj), r.pred, r.obj)
        for r in spark.sql("SELECT * FROM stream_triples").collect()
    }
    batch = linking.link_and_extract(conv, gaz_bc, evec_bc, canon_bc, 4)
    expected = {
        (r.conv_id, int(r.turn_idx), int(r.subj), r.pred, r.obj)
        for r in batch.collect()
    }
    assert got == expected
    assert len(got) > 0


def test_stateful_dangling_entity(spark):
    """A KB whose label_stats reference an entity with no entities row
    must flow through the STREAMING path too (zero-vector score via
    spec.entity_vec, not a KeyError inside applyInPandasWithState) and
    match the batch path on the same dirty KB (ADVICE r4 — streaming
    was the third, unhardened scoring path)."""
    shutil.rmtree(DATA, ignore_errors=True)
    datagen.write_dataset(os.path.join(DATA, "kb"), seed=21, n_convs=25)
    conv = spark.read.parquet(os.path.join(DATA, "kb", "conversations.parquet"))
    in_dir = os.path.join(DATA, "incoming")
    conv.coalesce(1).write.mode("overwrite").parquet(in_dir)

    kb = {
        n: spark.read.parquet(os.path.join(DATA, "kb", f"{n}.parquet"))
        for n in ("entities", "aliases", "label_stats")
    }
    # entity 0 is the planted hot entity — dropping it guarantees
    # dangling senses that actually match text
    dirty = {**kb, "entities": kb["entities"].filter("entity_id != 0")}
    gaz_bc, evec_bc, canon_bc = linking.build_kb_broadcasts(spark, dirty)

    stream = ingest.stream_conversations(spark, in_dir)
    triples_stream = stateful.streaming_triples(stream, gaz_bc, evec_bc, canon_bc)
    q = (
        triples_stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("stream_triples_dangling")
        .start()
    )
    q.processAllAvailable()
    q.stop()

    got = {
        (r.conv_id, int(r.turn_idx), int(r.subj), r.pred, r.obj)
        for r in spark.sql("SELECT * FROM stream_triples_dangling").collect()
    }
    batch = linking.link_and_extract(conv, gaz_bc, evec_bc, canon_bc, 4)
    expected = {
        (r.conv_id, int(r.turn_idx), int(r.subj), r.pred, r.obj)
        for r in batch.collect()
    }
    assert got == expected
    assert len(got) > 0
