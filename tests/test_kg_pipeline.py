"""End-to-end KG pipeline vs the reference-semantics oracle:
triple P/R ≥ 0.95 (BASELINE.json gate), stage parity, resume identity."""

import os

import pytest

from grisp_spark.kg import datagen, linking, oracle
from grisp_spark.kg.pipeline import KGPipeline

DATA = "/root/repo/.data/kg_test"
OUT = "/root/repo/.data/kg_test_out"


@pytest.fixture(scope="module")
def dataset():
    datagen.write_dataset(DATA, seed=42, n_convs=60)
    return DATA


@pytest.fixture(scope="module")
def oracle_result(dataset):
    import pandas as pd

    kb = {
        n: pd.read_parquet(os.path.join(dataset, f"{n}.parquet"))
        for n in ("entities", "aliases", "label_stats")
    }
    conv = pd.read_parquet(os.path.join(dataset, "conversations.parquet"))
    return oracle.run_oracle(conv, kb)


@pytest.fixture(scope="module")
def pipeline_result(spark, dataset):
    import shutil

    shutil.rmtree(OUT, ignore_errors=True)
    pipe = KGPipeline(spark, dataset, OUT, n_buckets=4, n_partitions=8)
    return pipe.run(resume=False)


def _triples_set(df):
    return {
        (r.conv_id, int(r.turn_idx), int(r.subj), r.pred, r.obj)
        for r in df.collect()
    }


def _rows_set(df):
    return {
        tuple(tuple(v) if isinstance(v, list) else v for v in r)
        for r in df.collect()
    }


def _turns_per_bucket(spark, dataset, n_buckets):
    """{bucket: conversation turns}, recomputed from the input."""
    from pyspark.sql import functions as F

    conv = spark.read.parquet(os.path.join(dataset, "conversations.parquet"))
    return dict(
        conv.groupBy(F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets))).count().collect()
    )


def test_triples_pr_gate(pipeline_result, oracle_result):
    got = _triples_set(pipeline_result["triples"])
    expected = oracle_result["triples"]
    p, r = oracle.precision_recall(got, expected)
    assert p >= 0.95 and r >= 0.95, f"precision={p:.4f} recall={r:.4f}"
    # with shared primitives the match should in fact be exact
    assert p == 1.0 and r == 1.0, f"precision={p:.4f} recall={r:.4f}"


def test_mention_parity(spark, dataset, oracle_result):
    import pandas as pd

    kb_df = {
        n: spark.read.parquet(os.path.join(dataset, f"{n}.parquet"))
        for n in ("entities", "aliases", "label_stats")
    }
    conv = spark.read.parquet(os.path.join(dataset, "conversations.parquet"))
    gaz_bc, evec_bc, _canon_bc = linking.build_kb_broadcasts(spark, kb_df)
    # every detected span is linked (each gazetteer surface has at
    # least one sense), so linked rows projected onto the span columns
    # are the detected mention set
    got = (
        linking.link_mentions(conv, gaz_bc, evec_bc, 8)
        .select("conv_id", "turn_idx", "begin", "end", "surface")
        .toPandas()
    )
    got_set = {
        (r.conv_id, int(r.turn_idx), int(r.begin), int(r.end), r.surface)
        for r in got.itertuples(index=False)
    }
    exp = oracle_result["mentions"]
    exp_set = {
        (r.conv_id, int(r.turn_idx), int(r.begin), int(r.end), r.surface)
        for r in exp.itertuples(index=False)
    }
    assert got_set == exp_set


def test_label_stats_parity(pipeline_result, oracle_result):
    got = pipeline_result["label_stats"].toPandas()
    got_set = {
        (r.label, int(r.entity_id), int(r.link_occ), int(r.link_doc),
         int(r.text_occ), int(r.text_doc))
        for r in got.itertuples(index=False)
    }
    exp_set = {
        (r.label, int(r.entity_id), int(r.link_occ), int(r.link_doc),
         int(r.text_occ), int(r.text_doc))
        for r in oracle_result["label_stats"].itertuples(index=False)
    }
    assert got_set == exp_set


def test_canonical_map_parity(pipeline_result, oracle_result):
    got = {
        int(r.entity_id): int(r.canonical_id)
        for r in pipeline_result["canonical_map"].collect()
    }
    assert got == oracle_result["canonical_map"]
    # chains from datagen: 90->91->0, 92->93->94->1, cycle 95<->96, 97->2
    assert got[90] == 0 and got[91] == 0
    assert got[92] == 1 and got[93] == 1 and got[94] == 1
    assert got[95] == 95 and got[96] == 95  # cycle → one component, min id
    assert got[97] == 2


def test_lineage_metrics(spark, dataset, pipeline_result):
    """Lineage records carry the north-star per-partition metrics:
    conv_id range + link-score histogram, counts consistent, and each
    histogram equal to one recomputed from the bucket's written rows."""
    import json
    import os

    from pyspark.sql import functions as F

    linked = pipeline_result["linked"]
    ldir = os.path.join(OUT, "_lineage")
    recs = [
        json.load(open(os.path.join(ldir, f)))
        for f in os.listdir(ldir)
        if f.startswith("linked.") and f.endswith(".json")
    ]
    assert len(recs) == 4
    turns = _turns_per_bucket(spark, dataset, 4)
    total_hist = 0
    for r in recs:
        assert r["rows_in"] == turns[r["bucket"]]
        assert sum(r["score_histogram"].values()) == r["rows_out"]
        lo, hi = r["conv_id_range"]
        assert (lo is None) == (r["rows_out"] == 0)
        if lo is not None:
            assert lo <= hi
        written = (
            linked.filter(F.col("bucket") == r["bucket"])
            .groupBy(F.floor(F.col("score") * 10).alias("decile"))
            .count()
            .collect()
        )
        assert r["score_histogram"] == {
            str(w["decile"]): w["count"] for w in written
        }
        total_hist += r["rows_out"]
    assert total_hist == linked.count()


def test_entity_tables_bucket_partitioned(pipeline_result):
    """Graph tables materialize partitioned by the entity-key hash
    bucket (the parquet stand-in for Iceberg bucket(N, entity_id)) —
    partition dirs must exist and row counts survive the layout."""
    for table, key in (("edges", "src"), ("adjacency", "id"),
                       ("entity_labels", "entity_id")):
        tdir = os.path.join(OUT, table)
        parts = [d for d in os.listdir(tdir) if d.startswith("ebucket=")]
        assert parts, f"{table}: no ebucket partitions in {os.listdir(tdir)}"
        df = pipeline_result[table]
        assert "ebucket" in df.columns and key in df.columns


def test_empty_corpus_runs_and_resumes(spark, dataset):
    """A corpus that links nothing (here: zero conversations) must
    produce empty outputs, not crash — zero-row stages write no
    parquet footers, so read-back needs the explicit schema, and
    resume must rebuild rather than fail schema inference."""
    import shutil

    import pandas as pd

    src = OUT + "_empty_src"
    out = OUT + "_empty_out"
    shutil.rmtree(src, ignore_errors=True)
    shutil.rmtree(out, ignore_errors=True)
    shutil.copytree(dataset, src)
    conv = pd.read_parquet(os.path.join(src, "conversations.parquet")).iloc[0:0]
    conv.to_parquet(os.path.join(src, "conversations.parquet"))
    pipe = KGPipeline(spark, src, out, n_buckets=4, n_partitions=4)
    res = pipe.run(resume=False)
    assert res["triples"].count() == 0
    assert res["linked"].count() == 0
    assert {b: r["rows_in"] for b, r in pipe.lineage.done_buckets("linked").items()} == {
        b: 0 for b in range(4)
    }
    res2 = KGPipeline(spark, src, out, n_buckets=4, n_partitions=4).run(resume=True)
    assert res2["triples"].count() == 0


def test_sanity_no_violations(pipeline_result):
    from grisp_spark.kg.stats import sanity_violations

    assert sanity_violations(pipeline_result["label_stats"]).count() == 0


def test_pipeline_shuffle_regime(spark, dataset, pipeline_result):
    """The pipeline's own adaptive escape hatch (VERDICT r5 #8): with
    broadcast_label_limit forced to 0 every bucket of stage_linked
    must route through the distributed shuffle-join linking plan
    (linking_shuffle.link_mentions_shuffle — the 64M-label regime of
    util/LabelCache.java:46, where collecting the gazetteer to a
    broadcast dict is impossible) and still produce the IDENTICAL
    staged outputs: same triples, same linked-mention scores."""
    import shutil

    out = OUT + "_shuffle_regime"
    shutil.rmtree(out, ignore_errors=True)
    pipe = KGPipeline(
        spark, dataset, out, n_buckets=4, n_partitions=8,
        broadcast_label_limit=0,
    )
    res = pipe.run(resume=False)
    assert _triples_set(res["triples"]) == _triples_set(
        pipeline_result["triples"]
    )
    # linked mentions bit-identical across regimes (scores included —
    # the shuffle kernel shares spec's batch primitives)
    cols = ["conv_id", "turn_idx", "begin", "end", "surface", "entity_id", "score"]
    a = {tuple(r) for r in res["linked"].select(*cols).collect()}
    b = {tuple(r) for r in pipeline_result["linked"].select(*cols).collect()}
    assert a == b
    # rows_in is exact in this plan too, which scans (and observes)
    # each bucket's input more than once
    assert {
        b: r["rows_in"] for b, r in pipe.lineage.done_buckets("linked").items()
    } == _turns_per_bucket(spark, dataset, 4)
    shutil.rmtree(out, ignore_errors=True)


def test_fused_matches_staged_and_oracle(spark, dataset, pipeline_result, oracle_result):
    """The fused map-side path (one Arrow pass, no post-layout
    shuffles) must emit the identical triple set as the staged
    resumable path and the oracle."""
    from grisp_spark.kg import linking

    conv = spark.read.parquet(os.path.join(dataset, "conversations.parquet"))
    kb = {
        n: spark.read.parquet(os.path.join(dataset, f"{n}.parquet"))
        for n in ("entities", "aliases", "label_stats")
    }
    gaz_bc, evec_bc, canon_bc = linking.build_kb_broadcasts(spark, kb)
    fused = linking.link_and_extract(conv, gaz_bc, evec_bc, canon_bc, 8)
    got = _triples_set(fused)
    assert got == _triples_set(pipeline_result["triples"])
    assert got == oracle_result["triples"]


def test_fused_batch_straddling(spark, dataset):
    """Window carry must survive pandas-batch boundaries: force
    2-row Arrow batches so every conversation straddles batches, in
    the fused kernel and in the staged triples stage (one row per
    turn), which must both still give the normal-batch triples."""
    from grisp_spark.kg import canonicalize, linking
    from grisp_spark.kg.triples import extract_triples

    conv = spark.read.parquet(os.path.join(dataset, "conversations.parquet"))
    kb = {
        n: spark.read.parquet(os.path.join(dataset, f"{n}.parquet"))
        for n in ("entities", "aliases", "label_stats")
    }
    gaz_bc, evec_bc, canon_bc = linking.build_kb_broadcasts(spark, kb)
    staged = extract_triples(
        canonicalize.rewrite_linked(
            linking.link_mentions(conv, gaz_bc, evec_bc, 4),
            canonicalize.canonical_map(kb["entities"]),
        )
    )
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    try:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2")
        tiny = _triples_set(
            linking.link_and_extract(conv, gaz_bc, evec_bc, canon_bc, 4)
        )
        tiny_staged = _triples_set(staged)
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    normal = _triples_set(
        linking.link_and_extract(conv, gaz_bc, evec_bc, canon_bc, 4)
    )
    assert tiny == normal
    assert tiny_staged == _triples_set(staged) == normal


def test_staged_triples_leave_no_cache(spark, pipeline_result):
    """The staged triples stage persists nothing: running it leaves
    the context's persisted-RDD count where it was."""
    from grisp_spark.kg import canonicalize
    from grisp_spark.kg.triples import extract_triples

    def persisted():
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    before = persisted()
    extract_triples(
        canonicalize.rewrite_linked(
            pipeline_result["linked"], pipeline_result["canonical_map"]
        )
    ).collect()
    assert persisted() == before


def test_lr_scoring_mode_parity(spark, dataset):
    """Both context scorers the reference ships (CentroidEntityScorer
    and LREntityScorer.java:36-50) must hold P/R=1.0 vs the oracle run
    in the same mode."""
    import pandas as pd

    from grisp_spark.kg import linking, oracle

    kb_df = {
        n: spark.read.parquet(os.path.join(dataset, f"{n}.parquet"))
        for n in ("entities", "aliases", "label_stats")
    }
    conv = spark.read.parquet(os.path.join(dataset, "conversations.parquet"))
    gaz_bc, evec_bc, canon_bc = linking.build_kb_broadcasts(spark, kb_df)
    got = _triples_set(
        linking.link_and_extract(conv, gaz_bc, evec_bc, canon_bc, 8, score_mode="lr")
    )
    kb_pd = {
        n: pd.read_parquet(os.path.join(dataset, f"{n}.parquet"))
        for n in ("entities", "aliases", "label_stats")
    }
    conv_pd = pd.read_parquet(os.path.join(dataset, "conversations.parquet"))
    expected = oracle.run_oracle(conv_pd, kb_pd, score_mode="lr")["triples"]
    p, r = oracle.precision_recall(got, expected)
    assert p == 1.0 and r == 1.0, f"lr mode: precision={p:.4f} recall={r:.4f}"


def test_file_backed_vector_store_parity(spark, dataset):
    """Linking consumes a real (word, vec) parquet table instead of the
    md5 pseudo-vectors: the table is broadcast, OOV words are skipped
    in context scoring (the reference's Word2VecCompress returns null
    for unknown words), and Spark vs oracle parity must still hold."""
    import numpy as np
    import pandas as pd

    from grisp_spark.kg import linking, oracle, spec

    kb_pd = {
        n: pd.read_parquet(os.path.join(dataset, f"{n}.parquet"))
        for n in ("entities", "aliases", "label_stats")
    }
    conv_pd = pd.read_parquet(os.path.join(dataset, "conversations.parquet"))
    # vocabulary = every token in the corpus + KB context vocab; drop
    # every 7th word to create genuine OOV misses
    words = set()
    for t in conv_pd["text"]:
        words.update(spec.tokenize(t or ""))
    for cv in kb_pd["entities"]["context_vocab"]:
        words.update(cv)
    kept = [w for i, w in enumerate(sorted(words)) if i % 7 != 0]
    assert len(kept) < len(words)
    vec_pdf = pd.DataFrame(
        {"word": kept, "vec": [spec.word_vec(w).tolist() for w in kept]}
    )
    vec_path = os.path.join(DATA, "word_vectors.parquet")
    vec_pdf.to_parquet(vec_path)

    vectors_df = spark.read.parquet(vec_path)
    wvec_bc = linking.load_word_vectors(spark, vectors_df)
    kb_df = {
        n: spark.read.parquet(os.path.join(dataset, f"{n}.parquet"))
        for n in ("entities", "aliases", "label_stats")
    }
    conv = spark.read.parquet(os.path.join(dataset, "conversations.parquet"))
    gaz_bc, evec_bc, canon_bc = linking.build_kb_broadcasts(spark, kb_df, wvec_bc)
    got = _triples_set(
        linking.link_and_extract(conv, gaz_bc, evec_bc, canon_bc, 8, wvec_bc=wvec_bc)
    )

    store = {
        r.word: np.asarray(list(r.vec), dtype=np.float32)
        for r in vec_pdf.itertuples(index=False)
    }
    expected = oracle.run_oracle(conv_pd, kb_pd, word_vectors=store)["triples"]
    p, r = oracle.precision_recall(got, expected)
    assert p == 1.0 and r == 1.0, f"file-backed vectors: p={p:.4f} r={r:.4f}"

    # the store must actually be consulted: with OOV drops, at least
    # one entity centroid differs from the pseudo-vector baseline
    pseudo_evecs = oracle.entity_vectors(kb_pd)
    store_evecs = oracle.entity_vectors(kb_pd, spec.store_vec_fn(store))
    assert any(
        not np.allclose(pseudo_evecs[e], store_evecs[e]) for e in pseudo_evecs
    )


def test_resume_identity(spark, dataset, pipeline_result):
    """Delete part of the lineage (simulate a crash after bucket 0+1),
    resume, and require the identical triple set."""
    import shutil

    baseline = _triples_set(pipeline_result["triples"])

    out2 = OUT + "_resume"
    shutil.rmtree(out2, ignore_errors=True)
    pipe = KGPipeline(spark, dataset, out2, n_buckets=4, n_partitions=8)
    # run only buckets 0,1 of the linking stage, then "crash"
    conv = pipe.conversations()
    from pyspark.sql import functions as F

    conv_b = conv.withColumn("bucket", F.pmod(F.xxhash64("conv_id"), F.lit(4)))
    kb = pipe.kb()
    gaz_bc, evec_bc, _canon_bc = linking.build_kb_broadcasts(spark, kb)
    for b in (0, 1):
        part = conv_b.filter(F.col("bucket") == b).drop("bucket")
        linked_b = linking.link_mentions(part, gaz_bc, evec_bc, 8).withColumn(
            "bucket", F.lit(b)
        )
        linked_b.write.mode("append").partitionBy("bucket").parquet(
            os.path.join(out2, "linked")
        )
        pipe.lineage.record("linked", b, 0, 0, 0)

    # resume completes buckets 2,3 and the downstream stages
    result = pipe.run(resume=True)
    assert _triples_set(result["triples"]) == baseline


def test_resume_lineage_outlived_output(spark, dataset, pipeline_result):
    """The inverse crash state: lineage record present but the bucket's
    parquet partition deleted (manual cleanup / partial restore). The
    bucket must be recomputed, not crash the resume read."""
    import shutil

    baseline = _triples_set(pipeline_result["triples"])
    out4 = OUT + "_orphan_lineage"
    shutil.rmtree(out4, ignore_errors=True)
    pipe = KGPipeline(spark, dataset, out4, n_buckets=4, n_partitions=8)
    pipe.run(resume=False)
    # delete bucket 1's output but keep its (rows_out>0) lineage record
    recs = pipe.lineage.done_buckets("linked")
    assert recs[1]["rows_out"] > 0
    shutil.rmtree(os.path.join(out4, "linked", "bucket=1"))
    # downstream stages must also recompute from the restored bucket
    for fn in os.listdir(pipe.lineage.dir):
        if fn.endswith(".done"):
            os.remove(os.path.join(pipe.lineage.dir, fn))
    result = pipe.run(resume=True)
    assert _triples_set(result["triples"]) == baseline


def test_resume_rejects_changed_bucket_layout(spark, dataset, pipeline_result):
    """Resuming under a different n_buckets must NOT reuse lineage
    written for the old layout (bucket→conv_id mapping changed): the
    pipeline restarts fresh and still produces the identical triples."""
    import shutil

    baseline = _triples_set(pipeline_result["triples"])
    out5 = OUT + "_relayout"
    shutil.rmtree(out5, ignore_errors=True)
    KGPipeline(spark, dataset, out5, n_buckets=4, n_partitions=8).run(resume=False)
    pipe2 = KGPipeline(spark, dataset, out5, n_buckets=2, n_partitions=8)
    result = pipe2.run(resume=True)
    assert _triples_set(result["triples"]) == baseline
    # lineage must now describe the NEW layout
    assert set(pipe2.lineage.done_buckets("linked")) == {0, 1}


def test_resume_after_midwrite_crash(spark, dataset, pipeline_result):
    """A bucket written to disk WITHOUT a lineage record (crash between
    write and record) must be rewritten, not double-appended."""
    import shutil

    from pyspark.sql import functions as F

    baseline = _triples_set(pipeline_result["triples"])
    out3 = OUT + "_crash"
    shutil.rmtree(out3, ignore_errors=True)
    pipe = KGPipeline(spark, dataset, out3, n_buckets=4, n_partitions=8)
    conv_b = pipe.conversations().withColumn(
        "bucket", F.pmod(F.xxhash64("conv_id"), F.lit(4))
    )
    kb = pipe.kb()
    gaz_bc, evec_bc, _canon_bc = linking.build_kb_broadcasts(spark, kb)
    # bucket 0: written fully but NO lineage record (simulated crash)
    part = conv_b.filter(F.col("bucket") == 0).drop("bucket")
    linked_0 = linking.link_mentions(part, gaz_bc, evec_bc, 8).withColumn(
        "bucket", F.lit(0)
    )
    linked_0.write.mode("append").partitionBy("bucket").parquet(
        os.path.join(out3, "linked")
    )
    result = pipe.run(resume=True)
    linked = spark.read.parquet(os.path.join(out3, "linked"))
    dups = (
        linked.groupBy("conv_id", "turn_idx", "begin", "end")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert dups == 0
    assert _triples_set(result["triples"]) == baseline


def test_resume_after_stage_failure(spark, dataset, pipeline_result, monkeypatch):
    """A stage that fails (here edges) stops only the stages that read
    it: the others still finish and mark themselves done, and a resume
    rebuilds edges and adjacency alone, to the uninterrupted run's
    tables."""
    import shutil

    from grisp_spark.kg import materialize

    out = OUT + "_stage_failure"
    shutil.rmtree(out, ignore_errors=True)
    pipe = KGPipeline(spark, dataset, out, n_buckets=4, n_partitions=8)

    def fail(triples):
        raise RuntimeError("edges stage failed")

    with monkeypatch.context() as m:
        m.setattr(materialize, "entity_edges", fail)
        with pytest.raises(RuntimeError, match="edges stage failed"):
            pipe.run(resume=False)

    def written():
        ldir = pipe.lineage.dir
        return {
            fn: os.stat(os.path.join(ldir, fn)).st_mtime_ns
            for fn in os.listdir(ldir)
            if fn.endswith(".done") or fn.startswith("linked.")
        }

    before = written()
    assert {fn for fn in before if fn.endswith(".done")} == {
        f"{s}.done"
        for s in ("canonical_map", "counters", "linked_canonical", "triples",
                  "label_stats_out", "entity_labels")
    }
    result = pipe.run(resume=True)
    after = written()
    assert set(after) - set(before) == {"edges.done", "adjacency.done"}
    assert {fn: after[fn] for fn in before} == before
    assert _triples_set(result["triples"]) == _triples_set(pipeline_result["triples"])
    for table in ("edges", "adjacency"):
        assert _rows_set(result[table]) == _rows_set(pipeline_result[table])
    shutil.rmtree(out, ignore_errors=True)


def test_occ_doc_agg_null_doc_parity(spark):
    """The two-level occ/doc aggregate must reproduce
    count(*) + countDistinct exactly, including NULL-doc rows:
    countDistinct excludes NULLs from the doc count while occ counts
    every row (round-4 review finding)."""
    from pyspark.sql import functions as F

    from grisp_spark.kg.stats import occ_doc_agg

    df = spark.createDataFrame(
        [("a", "c1"), ("a", "c1"), ("a", None), ("b", "c2")],
        "surface string, conv_id string",
    )
    new = {
        r.surface: (r.o, r.d)
        for r in occ_doc_agg(df, ["surface"], "o", "d").collect()
    }
    old = {
        r.surface: (r.o, r.d)
        for r in df.groupBy("surface")
        .agg(F.count("*").alias("o"), F.countDistinct("conv_id").alias("d"))
        .collect()
    }
    assert new == old


def test_global_counters_empty_input(spark):
    """sum over zero groups is NULL — the counter contract is the
    string '0' (stats.csv consumers parse ints)."""
    from grisp_spark.kg.materialize import global_counters

    ents = spark.createDataFrame([], "entity_id long, entity_type string")
    conv = spark.createDataFrame([], "conv_id string, turn_idx int, ts timestamp")
    rows = {r.name: r.value for r in global_counters(ents, conv).collect()}
    assert rows["turn_count"] == "0"
    assert rows["conversation_count"] == "0"
