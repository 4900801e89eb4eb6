"""The benchmark workloads. Each drives public entry points of
``grisp_spark`` and checks every op against the reference oracle.

A workload has the same life cycle in every run:

- ``prepare(seed, sizes)`` makes (or finds cached) seeded inputs;
- ``load(spark)`` reads the inputs in a fresh session (part of set-up);
- ``op(spark)`` runs one timed op and returns its record: ``s`` (op
  seconds), ``turns`` and whatever the check needs;
- ``check(spark, records)`` returns one bool per record;
- ``remaining()`` is how many more ops the input allows (None: any);
- ``jit_warmup_ops`` ops follow the first in set-up: the first few
  ops after the cache-filling one still get faster as the JVM's JIT
  compiles their code paths;
- ``min_ops`` is how many timed ops a run makes at least, however long
  they take, so that a run on a slow host does not report the median
  or the tail of fewer ops than elsewhere;
- ``close()`` releases what ``load`` opened.

Set-up additionally runs the first op, which fills the caches, and
the JIT warm-up ops.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import shutil
import time

import pandas as pd

from perfbench import config, inputs


def _triple_set(pdf: pd.DataFrame) -> set:
    return set(zip(
        pdf["conv_id"], pdf["turn_idx"].astype(int), pdf["subj"].astype(int),
        pdf["pred"], pdf["obj"],
    ))


def _read_kb(spark, directory: str) -> dict:
    return {
        n: spark.read.parquet(os.path.join(directory, f"{n}.parquet"))
        for n in ("entities", "aliases", "label_stats")
    }


def _digest_exprs():
    """Order-insensitive digest of a triple frame: row count, sum of
    the 32-bit hashes and xor of the 64-bit hashes of every row."""
    from pyspark.sql import functions as F

    cols = [F.col(c) for c in inputs.TRIPLE_COLS]
    return [
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.hash(*cols).cast("long")).alias("hash_sum"),
        F.bit_xor(F.xxhash64(*cols)).alias("hash_xor"),
    ]


class Fused:
    """``linking.build_kb_broadcasts`` + ``linking.link_and_extract``
    into a noop sink. One op is one full pass, KB build included. The
    triple digest rides the write as an observed metric, so every op is
    checked without collecting its output."""

    name = "kg_fused"
    jit_warmup_ops = 2
    min_ops = 3

    def prepare(self, seed: int, sizes: dict) -> float:
        self.dir, self.meta, spent = inputs.base_corpus(seed, sizes)
        return spent

    def load(self, spark) -> None:
        self.conv = spark.read.parquet(os.path.join(self.dir, "fused.parquet"))
        self.kb = _read_kb(spark, self.dir)
        for df in (self.conv, *self.kb.values()):
            df.count()

    def op(self, spark) -> dict:
        from pyspark.sql import Observation

        from grisp_spark.kg import linking

        from perfbench.harness import noop

        t0 = time.perf_counter()
        bcs = linking.build_kb_broadcasts(spark, self.kb)
        t1 = time.perf_counter()
        obs = Observation("triples")
        noop(linking.link_and_extract(self.conv, *bcs, config.KG_PARTITIONS)
             .observe(obs, *_digest_exprs()))
        t2 = time.perf_counter()
        return {"s": t2 - t0, "job_s": t2 - t1,
                "turns": self.meta["fused_turns"], "digest": dict(obs.get)}

    def expected_digest(self, spark) -> dict:
        from grisp_spark.kg.linking import TRIPLES_SCHEMA

        if "digest" not in self.meta:
            pdf = pd.read_parquet(os.path.join(self.dir, "fused_triples.parquet"))
            row = spark.createDataFrame(pdf, TRIPLES_SCHEMA).agg(*_digest_exprs()).first()
            self.meta["digest"] = row.asDict()
            inputs.update_meta(self.dir, digest=self.meta["digest"])
        return self.meta["digest"]

    def check(self, spark, records: list[dict]) -> list[bool]:
        want = self.expected_digest(spark)
        return [r["digest"] == want for r in records]

    def remaining(self) -> None:
        return None  # the same input serves any number of ops

    def close(self) -> None:
        pass


class Stream:
    """``stateful.streaming_triples`` over
    ``ingest.stream_conversations`` into a parquet sink, driven by one
    closed-loop client: write the next delivery file, rename it into
    the input directory, wait for ``processAllAvailable``. One op is
    one micro-batch, timed from the rename until that call returns.
    Conversations straddle deliveries, so window state carries across
    micro-batches. Each op's turns are checked against the oracle's
    triples for them once the run ends."""

    name = "stream_incremental"
    jit_warmup_ops = 2
    min_ops = 3

    def prepare(self, seed: int, sizes: dict) -> float:
        self.dir, self.meta, spent = inputs.base_corpus(seed, sizes)
        self.root = os.path.join(config.RUNS, self.name)
        self.query = None
        return spent

    def load(self, spark) -> None:
        from grisp_spark.kg import linking
        from grisp_spark.streaming import ingest, stateful

        self.close()
        shutil.rmtree(self.root, ignore_errors=True)
        self.in_dir = os.path.join(self.root, "in")
        self.staging = os.path.join(self.root, "staging")
        self.sink = os.path.join(self.root, "out")
        os.makedirs(self.in_dir)
        os.makedirs(self.staging)
        broadcasts = linking.build_kb_broadcasts(spark, _read_kb(spark, self.dir))
        self.query = (
            stateful.streaming_triples(
                ingest.stream_conversations(spark, self.in_dir), *broadcasts
            )
            .writeStream.format("parquet")
            .option("path", self.sink)
            .option("checkpointLocation", os.path.join(self.root, "checkpoint"))
            .outputMode("append")
            .start()
        )
        self.sent = 0

    def remaining(self) -> int:
        """Deliveries not yet sent."""
        return len(self.meta["delivery_turns"]) - self.sent

    def op(self, spark) -> dict:
        k = self.sent
        name = f"{k:04d}.parquet"
        staged = os.path.join(self.staging, name)
        shutil.copyfile(os.path.join(self.dir, "deliveries", name), staged)
        last = self.query.lastProgress
        t0 = time.perf_counter()
        os.rename(staged, os.path.join(self.in_dir, name))
        self.query.processAllAvailable()
        s = time.perf_counter() - t0
        self.sent += 1
        after = (last or {}).get("batchId", -1)
        progress = [p for p in self.query.recentProgress if p["batchId"] > after]
        return {"s": s, "turns": self.meta["delivery_turns"][k], "delivery": k,
                "progress": progress}

    def check(self, spark, records: list[dict]) -> list[bool]:
        """Per delivery: the sink's triples for that delivery's turns
        equal the oracle's; a triple on a turn no delivery sent, or a
        triple written twice, fails the whole run."""
        self.close()
        got = pd.read_parquet(self.sink) if os.path.isdir(self.sink) else pd.DataFrame(
            columns=inputs.TRIPLE_COLS)
        want = self.expected_triples()
        keys = []
        for r in records:
            part = pd.read_parquet(
                os.path.join(self.dir, "deliveries", f"{r['delivery']:04d}.parquet"),
                columns=["conv_id", "turn_idx"],
            )
            keys.append(set(zip(part["conv_id"], part["turn_idx"].astype(int))))
        sent = set().union(*keys)
        got_set, want_set = _triple_set(got), _triple_set(want)
        stray = len(got_set) != len(got) or any((c, t) not in sent for c, t, *_ in got_set)
        return [
            not stray
            and {x for x in got_set if x[:2] in k} == {x for x in want_set if x[:2] in k}
            for k in keys
        ]

    def expected_triples(self) -> pd.DataFrame:
        return pd.read_parquet(os.path.join(self.dir, "triples.parquet"))

    def close(self) -> None:
        if self.query is not None:
            self.query.stop()
            self.query = None


def _cell(v) -> str:
    """A result cell as text: floats to 6 significant digits (so the
    summation order of a float aggregate does not change the digest),
    lists and structs element-wise."""
    if v is None:
        return "null"
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.6g}"
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return "[" + ",".join(_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_cell(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, pd.Timestamp):
        return v.tz_localize(None).isoformat() if v.tzinfo else v.isoformat()
    return str(v)


def result_digest(pdf: pd.DataFrame) -> dict:
    """Order-insensitive digest of a query result: its row count and
    the SHA-1 of its column names and sorted canonical rows."""
    cols = sorted(pdf.columns)
    rows = sorted(repr(tuple(_cell(v) for v in row))
                  for row in pdf[cols].itertuples(index=False))
    h = hashlib.sha1(repr(cols).encode())
    for r in rows:
        h.update(r.encode())
    return {"rows": len(rows), "sha1": h.hexdigest()}


def query_functions() -> dict:
    """Every query of the package's query modules, by name."""
    from grisp_spark import (queries_kg, queries_relational, queries_relational2,
                             queries_relational3, queries_traindata)

    out = {}
    for mod in (queries_relational, queries_relational2, queries_relational3,
                queries_traindata, queries_kg):
        out.update(mod.QUERIES)
    return out


def pinned_queries() -> dict:
    """The pinned queries with their expected result digests."""
    with open(config.QUERY_PINS) as fh:
        return json.load(fh)["queries"]


def _parquet_rows(path: str) -> int:
    import pyarrow.dataset as ds

    return ds.dataset(path, format="parquet", partitioning="hive").count_rows()


class Batch:
    """The batch path: one op is ``KGPipeline(...).run(resume=False)``,
    which writes the 9 parquet tables of the staged KG build from the
    seeded corpus. Every op is checked right after it: each table's
    row count and the triple set against the oracle's.

    ``query_pass`` runs the pinned queries (``perfbench/queries.json``)
    on the fixed tables under ``perfbench/data`` and checks each result
    digest against its pinned one; only the traced run calls it."""

    name = "kg_batch"
    jit_warmup_ops = 0  # an op is long enough to warm itself up
    min_ops = 1

    def prepare(self, seed: int, sizes: dict) -> float:
        self.dir, self.meta, spent = inputs.base_corpus(seed, sizes)
        self.out = os.path.join(config.RUNS, self.name)
        self.queries = pinned_queries()
        return spent

    def load(self, spark) -> None:
        pass  # the pipeline reads its inputs in every op

    def op(self, spark) -> dict:
        from grisp_spark.kg.pipeline import KGPipeline

        t0 = time.perf_counter()
        KGPipeline(spark, self.dir, self.out, n_buckets=config.PIPELINE_BUCKETS,
                   n_partitions=config.KG_PARTITIONS).run(resume=False)
        s = time.perf_counter() - t0
        rows = {n: _parquet_rows(os.path.join(self.out, n)) for n in self.meta["pipeline_rows"]}
        triples = _triple_set(pd.read_parquet(os.path.join(self.out, "triples")))
        return {"s": s, "turns": self.meta["turns"], "rows": rows, "triples": triples}

    def query_pass(self, spark) -> dict:
        """One pass over the pinned queries, each result collected:
        per-query seconds and result digests."""
        fns = query_functions()
        query_s, digests = {}, {}
        for name in self.queries:
            t = time.perf_counter()
            pdf = fns[name](spark, config.QUERY_DATA).toPandas()
            query_s[name] = time.perf_counter() - t
            digests[name] = result_digest(pdf)
        return {"query_s": query_s, "digests": digests}

    def expected(self) -> tuple[dict, set, dict]:
        """(table row counts, triple set, query digests) the ops and
        query passes must produce."""
        return (self.meta["pipeline_rows"], _triple_set(self.expected_triples()),
                self.queries)

    def expected_triples(self) -> pd.DataFrame:
        return pd.read_parquet(os.path.join(self.dir, "triples.parquet"))

    def check(self, spark, records: list[dict]) -> list[bool]:
        """One bool per record: an op's tables, or a query pass's
        digests."""
        rows, triples, digests = self.expected()
        return [r["digests"] == digests if "digests" in r
                else r["rows"] == rows and r["triples"] == triples
                for r in records]

    def remaining(self) -> None:
        return None

    def close(self) -> None:
        pass


WORKLOADS = {w.name: w for w in (Fused, Batch, Stream)}
