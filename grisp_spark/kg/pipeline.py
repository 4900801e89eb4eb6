"""End-to-end KG-construction pipeline with per-partition lineage
checkpoints and resume-from-partition.

The reference's resume is stage-ordinal granularity
(tempProgress.csv, DumpExtractor.java:214-250,515-537); the north
rule requires per-partition resume. Here every stage writes parquet
partitioned by a conv_id hash bucket plus a lineage sidecar
(stage, bucket, rows_in, rows_out, wall_ms); on resume, buckets with
lineage rows are skipped and only missing buckets recompute. The
expensive Arrow linking stage is bucket-resumable; downstream
shuffle stages are cheap relative to it and resume at stage
granularity (whole-stage skip when complete).

The reference runs its steps strictly in order (DumpExtractor.java:
214-250). The stages here form a DAG instead, and ``run`` starts each
one on its own thread as soon as the stages it reads have finished:

    linked ──────────┬─▶ label_stats_out ─▶ entity_labels
                     ▼
    canonical_map ─▶ linked_canonical ─▶ triples ─▶ edges ─▶ adjacency
    counters

Every stage is a pure function of its input tables and writes its own
directory, lineage file and ``.done`` marker, so any two stages
where neither is downstream of the other can run at once, and resume
stays per stage. A failed stage stops only the stages downstream of
it. Because stages overlap, the lineage ``wall_ms`` values no longer
add up to the run's wall time.

Run via spark-submit --py-files grisp_spark.zip as
``python -m grisp_spark.kg.pipeline <data_dir> <out_dir>``."""

from __future__ import annotations

import json
import math
import os
import shutil
import time
from concurrent.futures import Future, ThreadPoolExecutor, wait

from py4j.protocol import Py4JJavaError
from pyspark import inheritable_thread_target
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from grisp_spark.kg import (
    canonicalize,
    linking,
    linking_shuffle,
    materialize,
    spec,
    stats,
    triples as triples_mod,
)

LINEAGE_DIR = "_lineage"

# every floor(score * 10): scores lie in [-CONTEXT_WEIGHT, PRIOR_WEIGHT
# + CONTEXT_WEIGHT], plus one decile below for a cosine rounded past -1
SCORE_DECILES = range(
    math.floor(-spec.CONTEXT_WEIGHT * 10) - 1,
    math.floor((spec.PRIOR_WEIGHT + spec.CONTEXT_WEIGHT) * 10) + 1,
)


class Lineage:
    """JSON-lines lineage sidecar, one file per (stage, bucket)."""

    def __init__(self, out_dir: str):
        self.dir = os.path.join(out_dir, LINEAGE_DIR)
        os.makedirs(self.dir, exist_ok=True)

    def done_buckets(self, stage: str) -> dict[int, dict]:
        done: dict[int, dict] = {}
        for fn in os.listdir(self.dir):
            if fn.startswith(f"{stage}.") and fn.endswith(".json"):
                with open(os.path.join(self.dir, fn)) as f:
                    rec = json.load(f)
                done[rec["bucket"]] = rec
        return done

    def record(self, stage: str, bucket: int, rows_in: int, rows_out: int, wall_ms: int, **extra) -> None:
        rec = {"stage": stage, "bucket": bucket, "rows_in": rows_in,
               "rows_out": rows_out, "wall_ms": wall_ms, **extra}
        path = os.path.join(self.dir, f"{stage}.{bucket}.json")
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(rec, f)
        os.replace(tmp, path)

    def stage_complete(self, stage: str) -> bool:
        return os.path.exists(os.path.join(self.dir, f"{stage}.done"))

    def mark_stage(self, stage: str) -> None:
        with open(os.path.join(self.dir, f"{stage}.done"), "w") as f:
            f.write("1")

    def clear(self) -> None:
        shutil.rmtree(self.dir, ignore_errors=True)
        os.makedirs(self.dir, exist_ok=True)

    def check_config(self, **config) -> bool:
        """Guard resume against a changed partitioning config: lineage
        written under a different n_buckets maps buckets to different
        conv_id sets, so resuming across it would silently skip or
        duplicate work. Returns True if the stored config matches (or
        was just written); False means the caller must start fresh."""
        path = os.path.join(self.dir, "config.json")
        if os.path.exists(path):
            with open(path) as f:
                return json.load(f) == config
        # lineage records WITHOUT a config file (pre-config layout or
        # hand-cleaned dir) are unverifiable — treat as mismatch, or a
        # changed n_buckets would silently skip buckets mapped by the
        # old layout
        if any(f.endswith(".json") for f in os.listdir(self.dir)):
            return False
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(config, f)
        os.replace(tmp, path)
        return True


class KGPipeline:
    def __init__(
        self,
        spark: SparkSession,
        data_dir: str,
        out_dir: str,
        n_buckets: int = 8,
        n_partitions: int | None = None,
        broadcast_label_limit: int = linking_shuffle.BROADCAST_LABEL_LIMIT,
    ):
        self.spark = spark
        self.data_dir = data_dir
        self.out_dir = out_dir
        self.n_buckets = n_buckets
        self.n_partitions = n_partitions
        self.broadcast_label_limit = broadcast_label_limit
        self.lineage = Lineage(out_dir)

    # -- inputs ------------------------------------------------------------
    def _read(self, name: str) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self.data_dir, f"{name}.parquet"))

    def conversations(self) -> DataFrame:
        return self._read("conversations")

    def kb(self) -> dict[str, DataFrame]:
        return {n: self._read(n) for n in ("entities", "label_stats")}

    # -- stage 1: linked mentions (bucket-resumable Arrow stage) -----------
    def stage_linked(
        self, conv: DataFrame, kb: dict[str, DataFrame], resume: bool = True
    ) -> DataFrame:
        out = os.path.join(self.out_dir, "linked")
        stage = "linked"
        # a bucket counts as done only if its lineage record AND its
        # parquet partition both survive (lineage-present/output-deleted
        # state must rebuild, not crash the resume read — mirrors the
        # os.path.exists(out) guard in _stage). Zero-row buckets write
        # no partition dir, so rows_out==0 stands in for it.
        recs = self.lineage.done_buckets(stage) if resume else {}
        done = {
            b
            for b, rec in recs.items()
            if rec.get("rows_out") == 0
            or os.path.isdir(os.path.join(out, f"bucket={b}"))
        }
        if not resume:
            shutil.rmtree(out, ignore_errors=True)
            for fn in os.listdir(self.lineage.dir):
                if fn.startswith(f"{stage}."):
                    os.remove(os.path.join(self.lineage.dir, fn))
        todo = [b for b in range(self.n_buckets) if b not in done]
        if todo:
            conv = conv.withColumn(
                "bucket", F.pmod(F.xxhash64("conv_id"), F.lit(self.n_buckets))
            )
            # the plan (broadcast dict while the gazetteer fits
            # executor memory, shuffle joins in the 64M-label regime of
            # util/LabelCache.java:46) is decided ONCE for the whole
            # stage by linking_shuffle.adaptive_linker, and the KB is
            # broadcast at most once; every bucket reuses the returned
            # linker. Parity across regimes is pinned by
            # tests/test_kg_pipeline.py::test_pipeline_shuffle_regime.
            link = linking_shuffle.adaptive_linker(
                kb, self.n_partitions,
                broadcast_label_limit=self.broadcast_label_limit,
            )
            for b in todo:
                t0 = time.monotonic()
                # lineage metrics ride the write, as in _stage: input
                # rows, row count, conv_id range, link-score decile
                # histogram
                obs_in = Observation(f"{stage}_{b}_in")
                part = conv.filter(F.col("bucket") == b).drop("bucket").observe(
                    obs_in, F.count(F.lit(1)).alias("rows_in")
                )
                obs = Observation(f"{stage}_{b}")
                linked_b = link(part).observe(
                    obs,
                    F.count(F.lit(1)).alias("rows_out"),
                    F.min("conv_id").alias("cmin"),
                    F.max("conv_id").alias("cmax"),
                    *(
                        F.count_if(F.floor(F.col("score") * 10) == d).alias(str(d))
                        for d in SCORE_DECILES
                    ),
                ).withColumn("bucket", F.lit(b))
                # dynamic partition overwrite: replaces ONLY bucket=b,
                # so a bucket that crashed mid-write (files on disk,
                # no lineage record) is cleanly rewritten on resume
                # instead of double-appended
                (
                    linked_b.write.mode("overwrite")
                    .option("partitionOverwriteMode", "dynamic")
                    .partitionBy("bucket")
                    .parquet(out)
                )
                m = obs.get
                try:
                    rows_in = obs_in.get["rows_in"]
                except Py4JJavaError:
                    # the input is observed below the linker's layout
                    # exchange; AQE drops that node from the final plan
                    # when the operator above the exchange proves empty
                    # (a sort over an empty bucket, a join with no
                    # matched spans), so count the bucket instead
                    rows_in = part.count()
                self.lineage.record(
                    stage, b, rows_in, m["rows_out"],
                    int((time.monotonic() - t0) * 1000),
                    conv_id_range=[m["cmin"], m["cmax"]],
                    score_histogram={
                        str(d): m[str(d)] for d in SCORE_DECILES if m[str(d)]
                    },
                )
        # explicit schema: a bucket with zero mentions writes a
        # schema-less (empty) parquet dir, which breaks inference
        return self.spark.read.schema(linking.LINKED_SCHEMA + ", bucket int").parquet(out)

    # -- downstream stages (stage-granular resume) --------------------------
    def _stage(
        self,
        name: str,
        build,
        resume: bool = True,
        partition_by: list[str] | None = None,
    ) -> DataFrame:
        out = os.path.join(self.out_dir, name)
        # a .done marker without output on disk (manual cleanup /
        # partial restore) must rebuild, not crash on read; likewise a
        # zero-row output (no footers → schema inference fails) is
        # rebuilt, which is cheap because its input was empty too
        if resume and self.lineage.stage_complete(name) and os.path.exists(out):
            try:
                return self.spark.read.parquet(out)
            except AnalysisException:
                pass
        t0 = time.monotonic()
        df = build()
        # observe() rides the write action (the Hadoop-counter
        # replacement from SURVEY §7) — no second scan of the output
        # just to count rows for lineage
        obs = Observation(f"{name}_rows")
        df = df.observe(obs, F.count(F.lit(1)).alias("rows_out"))
        shutil.rmtree(out, ignore_errors=True)
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(out)
        self.lineage.record(
            name, -1, -1, int(obs.get["rows_out"]),
            int((time.monotonic() - t0) * 1000),
        )
        self.lineage.mark_stage(name)
        # explicit schema: a zero-row stage writes no parquet footers,
        # which would break inference on read-back
        return self.spark.read.schema(df.schema).parquet(out)

    ENTITY_BUCKETS = 16

    def _stage_entity_bucketed(
        self, name: str, build, key: str, resume: bool = True
    ) -> DataFrame:
        """Materialize an entity-keyed graph table partitioned by an
        explicit hash bucket of its entity key — the parquet stand-in
        for Iceberg's PARTITIONED BY (bucket(N, entity_id)) layout
        (sources/iceberg.py): downstream equi-joins on the key read
        co-located buckets, and point lookups prune to one bucket."""
        return self._stage(
            name,
            # int cast: partition-column inference types ebucket as int
            # on (resumed) reads — match it so fresh and resumed runs
            # return the same schema
            lambda: build().withColumn(
                "ebucket",
                F.pmod(F.xxhash64(F.col(key)), F.lit(self.ENTITY_BUCKETS)).cast(
                    "int"
                ),
            ),
            resume,
            partition_by=["ebucket"],
        )

    def run(self, resume: bool = True) -> dict[str, DataFrame]:
        if resume and not self.lineage.check_config(n_buckets=self.n_buckets):
            # stale lineage from a different bucket layout — recompute
            # from scratch rather than resume across incompatible state
            resume = False
        if not resume:
            self.lineage.clear()
            self.lineage.check_config(n_buckets=self.n_buckets)
        # each input is read once per run (a read infers its schema in
        # a Spark job) and not kept on the instance, so the next run
        # lists new input files
        conv, kb = self.conversations(), self.kb()
        ents = kb["entities"]
        # the stage DAG: stage → (the stages whose tables it reads,
        # materialize it from those tables), each after its inputs.
        # Stages are called through self.<name> because perfbench
        # times them by patching those names on the class.
        dag = {
            "linked": ((), lambda: self.stage_linked(conv, kb, resume)),
            "canonical_map": ((), lambda: self._stage(
                "canonical_map", lambda: canonicalize.canonical_map(ents), resume
            )),
            "counters": ((), lambda: self._stage(
                "counters", lambda: materialize.global_counters(ents, conv), resume
            )),
            "linked_canonical": (
                ("linked", "canonical_map"),
                lambda linked, canon: self._stage(
                    "linked_canonical",
                    lambda: canonicalize.rewrite_linked(linked, canon),
                    resume,
                ),
            ),
            "triples": (
                ("linked_canonical",),
                lambda linked_canon: self._stage(
                    "triples", lambda: triples_mod.extract_triples(linked_canon), resume
                ),
            ),
            "edges": (
                ("triples",),
                lambda trip: self._stage_entity_bucketed(
                    "edges", lambda: materialize.entity_edges(trip), "src", resume
                ),
            ),
            "adjacency": (
                ("edges",),
                lambda edges: self._stage_entity_bucketed(
                    "adjacency", lambda: materialize.adjacency(edges), "id", resume
                ),
            ),
            "label_stats_out": (
                ("linked",),
                lambda linked: self._stage(
                    "label_stats_out",
                    lambda: stats.build_label_stats(
                        linked.select("conv_id", "turn_idx", "begin", "end", "surface"),
                        linked,
                    ),
                    resume,
                ),
            ),
            "entity_labels": (
                ("label_stats_out",),
                lambda lstats: self._stage_entity_bucketed(
                    "entity_labels",
                    lambda: materialize.entity_labels(lstats),
                    "entity_id",
                    resume,
                ),
            ),
        }
        t = self._run_dag(dag)
        return {
            "linked": t["linked"],
            "canonical_map": t["canonical_map"],
            "triples": t["triples"],
            "label_stats": t["label_stats_out"],
            "edges": t["edges"],
            "adjacency": t["adjacency"],
            "entity_labels": t["entity_labels"],
            "counters": t["counters"],
        }

    def _run_dag(self, dag: dict) -> dict[str, DataFrame]:
        """Runs every stage of ``dag`` on its own thread as soon as its
        inputs' tables exist; returns {stage: table}. Waits for every
        stage, then raises the first failure in ``dag`` order; a stage
        whose input failed fails with that input's exception and never
        starts. Each task carries the caller's local properties
        (pinned-thread mode), wrapped per stage so that no two threads
        share one properties object."""
        with ThreadPoolExecutor(len(dag), thread_name_prefix="kg-stage") as pool:
            futures: dict[str, Future] = {}
            for name, (inputs, start) in dag.items():
                futures[name] = pool.submit(
                    inheritable_thread_target(self.spark)(_after),
                    [futures[i] for i in inputs],
                    start,
                )
            wait(futures.values())
            return {name: f.result() for name, f in futures.items()}


def _after(inputs: list[Future], start):
    """``start`` on the results of ``inputs``, once they all exist."""
    return start(*(f.result() for f in inputs))


def main() -> None:
    import sys

    from grisp_spark.session import get_spark

    data_dir, out_dir = sys.argv[1], sys.argv[2]
    spark = get_spark("kg_pipeline")
    result = KGPipeline(spark, data_dir, out_dir).run()
    print(json.dumps({k: v.count() for k, v in result.items()}))


if __name__ == "__main__":
    main()
