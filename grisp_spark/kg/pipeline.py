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

Run via spark-submit --py-files grisp_spark.zip as
``python -m grisp_spark.kg.pipeline <data_dir> <out_dir>``."""

from __future__ import annotations

import json
import math
import os
import shutil
import time

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
        return {n: self._read(n) for n in ("entities", "aliases", "label_stats")}

    # -- stage 1: linked mentions (bucket-resumable Arrow stage) -----------
    def stage_linked(self, resume: bool = True) -> DataFrame:
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
            conv = self.conversations().withColumn(
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
                self.kb(), self.n_partitions,
                broadcast_label_limit=self.broadcast_label_limit,
            )
            rows_in = dict(conv.groupBy("bucket").count().collect())
            for b in todo:
                t0 = time.monotonic()
                part = conv.filter(F.col("bucket") == b).drop("bucket")
                # lineage metrics ride the write, as in _stage: row
                # count, conv_id range, link-score decile histogram
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
                self.lineage.record(
                    stage, b, rows_in.get(b, 0), m["rows_out"],
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
        linked = self.stage_linked(resume)
        kb = self.kb()

        canon = self._stage(
            "canonical_map", lambda: canonicalize.canonical_map(kb["entities"]), resume
        )
        linked_canon = self._stage(
            "linked_canonical",
            lambda: canonicalize.rewrite_linked(linked, canon),
            resume,
        )
        trip = self._stage(
            "triples",
            lambda: triples_mod.extract_triples(linked_canon),
            resume,
        )
        lstats = self._stage(
            "label_stats_out",
            lambda: stats.build_label_stats(
                linked.select("conv_id", "turn_idx", "begin", "end", "surface"),
                linked,
            ),
            resume,
        )
        edges = self._stage_entity_bucketed(
            "edges", lambda: materialize.entity_edges(trip), "src", resume
        )
        adj = self._stage_entity_bucketed(
            "adjacency", lambda: materialize.adjacency(edges), "id", resume
        )
        elabels = self._stage_entity_bucketed(
            "entity_labels",
            lambda: materialize.entity_labels(lstats),
            "entity_id",
            resume,
        )
        counters = self._stage(
            "counters",
            lambda: materialize.global_counters(kb["entities"], self.conversations()),
            resume,
        )
        return {
            "linked": linked,
            "canonical_map": canon,
            "triples": trip,
            "label_stats": lstats,
            "edges": edges,
            "adjacency": adj,
            "entity_labels": elabels,
            "counters": counters,
        }


def main() -> None:
    import sys

    from grisp_spark.session import get_spark

    data_dir, out_dir = sys.argv[1], sys.argv[2]
    spark = get_spark("kg_pipeline")
    result = KGPipeline(spark, data_dir, out_dir).run()
    print(json.dumps({k: v.count() for k, v in result.items()}))


if __name__ == "__main__":
    main()
