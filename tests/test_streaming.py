"""Structured-streaming ingest smoke: file-source micro-batches drive
the same linking stage; results equal the batch run."""

import os
import shutil

from grisp_spark.kg import datagen, linking
from grisp_spark.streaming import ingest

DATA = "/root/repo/.data/stream_test"


def test_stream_matches_batch(spark):
    shutil.rmtree(DATA, ignore_errors=True)
    datagen.write_dataset(os.path.join(DATA, "kb"), seed=11, n_convs=20)
    # split conversations into two "arriving" files
    conv = spark.read.parquet(os.path.join(DATA, "kb", "conversations.parquet"))
    in_dir = os.path.join(DATA, "incoming")
    conv.repartition(3).write.mode("overwrite").parquet(in_dir)

    kb = {
        n: spark.read.parquet(os.path.join(DATA, "kb", f"{n}.parquet"))
        for n in ("entities", "aliases", "label_stats")
    }
    gaz_bc, evec_bc, _canon_bc = linking.build_kb_broadcasts(spark, kb)

    out_dir = os.path.join(DATA, "linked_stream")
    q = ingest.stream_linked_mentions(spark, in_dir, out_dir, gaz_bc, evec_bc)
    q.processAllAvailable()
    q.stop()

    got = spark.read.parquet(out_dir)
    batch = linking.link_mentions(conv, gaz_bc, evec_bc, 8)
    key = lambda r: (r.conv_id, r.turn_idx, r.begin, r.end, int(r.entity_id))  # noqa: E731
    assert {key(r) for r in got.collect()} == {key(r) for r in batch.collect()}


def test_watermark_drops_late_rows(spark):
    """Append-mode windowed agg with a 5-minute watermark: a row
    arriving AFTER its window's watermark has passed must be dropped,
    not re-open the window — the late-data semantics the scale design
    leans on (state for closed windows is freed)."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1, 0, 0, 0)

    def rows(minutes_roles):
        return [
            ("c1", i, role, "text", None, base + dt.timedelta(minutes=m))
            for i, (m, role) in enumerate(minutes_roles)
        ]

    in_dir = os.path.join(DATA, "late_incoming")
    shutil.rmtree(in_dir, ignore_errors=True)
    shutil.rmtree(os.path.join(DATA, "late_ckpt"), ignore_errors=True)
    schema = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"

    # batch 1 (written before the stream starts — the file source needs
    # the path to exist): three on-time rows in window [0,1) + one at
    # minute 10 (advances the watermark to 10-5=5 min, closing [0,1))
    spark.createDataFrame(
        rows([(0, "user"), (0, "user"), (0, "user"), (10, "user")]), schema
    ).coalesce(1).write.mode("append").parquet(in_dir)

    stream = ingest.stream_conversations(spark, in_dir)
    agg = ingest.windowed_turn_counts(stream)
    q = (
        agg.writeStream.outputMode("append")
        .option("checkpointLocation", os.path.join(DATA, "late_ckpt"))
        .format("memory")
        .queryName("late_counts")
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2: a LATE row for the closed [0,1) window (must be
        # dropped) + a fresh row at minute 20 (advances the watermark
        # past [10,11) so that window emits too)
        spark.createDataFrame(
            rows([(0, "user"), (20, "user")]), schema
        ).coalesce(1).write.mode("append").parquet(in_dir)
        q.processAllAvailable()
    finally:
        q.stop()

    got = {
        (r.window.start.minute, r.n_turns)
        for r in spark.sql("SELECT window, n_turns FROM late_counts").collect()
    }
    # [0,1) emitted once with the ON-TIME count only; the late row
    # neither re-emitted nor bumped it. [10,11) emitted with 1.
    assert (0, 3) in got, got
    assert (0, 4) not in got, got
    assert (10, 1) in got, got


def test_windowed_counts(spark):
    conv = spark.read.parquet(os.path.join(DATA, "kb", "conversations.parquet"))
    in_dir = os.path.join(DATA, "incoming")
    stream = ingest.stream_conversations(spark, in_dir)
    agg = ingest.windowed_turn_counts(stream)
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("turn_counts")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = spark.sql(
        "SELECT sum(n_turns) AS n FROM turn_counts"
    ).collect()[0].n
    assert got == conv.count()


def test_dedup_stream_drops_in_horizon_copies(spark):
    """Streaming exact dedup: duplicate text inside the watermark
    horizon is dropped; the first copy survives. State eviction past
    the horizon is Spark-managed (dropDuplicatesWithinWatermark)."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    in_dir = os.path.join(DATA, "dedup_incoming")
    shutil.rmtree(in_dir, ignore_errors=True)
    schema = (
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp"
    )
    rows = [
        ("c1", 0, "user", "same text", None, base),
        ("c1", 1, "user", "same text", None, base + dt.timedelta(minutes=1)),
        ("c2", 0, "user", "other text", None, base + dt.timedelta(minutes=2)),
        ("c2", 1, "user", "same text", None, base + dt.timedelta(minutes=3)),
    ]
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(in_dir)

    out = ingest.dedup_stream(ingest.stream_conversations(spark, in_dir))
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_out")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.sql("SELECT text, count(*) AS n FROM dedup_out GROUP BY text")
    counts = {r.text: r.n for r in got.collect()}
    assert counts == {"same text": 1, "other text": 1}
