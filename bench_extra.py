"""Extra benchmarks for the optimization rounds (bench.py is FROZEN
for driver measurement — guide §1.4 noop-sink isolation lives here).

Modes:
  python bench_extra.py                  # headline queries, N passes
                                         # each, per-pass steal ticks
  python bench_extra.py --queries a,b,c  # specific queries
  python bench_extra.py --plans out_dir  # write explain('formatted')
                                         # for every headline query
  python bench_extra.py --all            # every declared query, 1 pass
  python bench_extra.py --task-overhead  # fixed per-task cost of a
                                         # JVM-only vs Python stage
  python bench_extra.py --kb-build       # driver KB build (collect,
                                         # gazetteer, vectors, canon,
                                         # broadcast) and its entity-
                                         # vector step alone, at 120
                                         # and 20k datagen entities

Protocol mirrors bench.py (same warmups, same noop sink, same
local[$SPARK_GRAFT_CPUS] master, same $SPARK_GRAFT_SF_DIR data) but
runs each query ``--passes`` times (default 3) so minima are
comparable under this host's one-sided steal noise. Prints one JSON
line per query with all passes + per-pass steal CPU-seconds."""

from __future__ import annotations

import argparse
import io
import contextlib
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _steal() -> int | None:
    try:
        with open("/proc/stat") as fh:
            return int(fh.readline().split()[8])
    except (OSError, IndexError, ValueError):
        return None


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _session():
    from grisp_spark.session import get_spark

    spark = get_spark(
        "bench_extra", cores=CPUS,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    # bench.py's exact warmups: JVM codegen/scheduler + Arrow channel
    _noop(spark.range(1_000_000).selectExpr("id % 7 AS k").groupBy("k").count())
    _noop(spark.range(100_000).repartition(CPUS).mapInPandas(lambda it: it, "id long"))
    return spark


def _py_noop(batches):
    # Unpickling any grisp kernel imports the package on the worker;
    # do the same, so the no-op job pays what a kernel task pays.
    import grisp_spark  # noqa: F401

    yield from batches


def task_overhead(passes: int) -> dict:
    """Median wall ms over ``passes`` (after 3 warm-ups) of no-op jobs
    that differ only in whether a Python worker runs the stage: a
    JVM-only 4-partition job, and 4- and 16-partition ``mapInArrow``
    identity jobs. The jobs move 1 row per partition, so the Python
    legs measure the fixed cost each task pays before kernel code
    runs."""
    from grisp_spark.session import get_spark

    spark = get_spark(
        "bench_extra", cores=CPUS,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    jobs = {
        "jvm_noop_4p_ms": lambda: spark.range(4, numPartitions=4),
        "py_noop_4p_ms": lambda: spark.range(4, numPartitions=4)
        .mapInArrow(_py_noop, "id long"),
        "py_noop_16p_ms": lambda: spark.range(16, numPartitions=16)
        .mapInArrow(_py_noop, "id long"),
    }
    out = {}
    for key, make in jobs.items():
        for _ in range(3):
            _noop(make())
        secs = []
        for _ in range(passes):
            t0 = time.perf_counter()
            _noop(make())
            secs.append(time.perf_counter() - t0)
        secs.sort()
        out[key] = round(1000 * secs[len(secs) // 2], 1)
    out.update(passes=passes, warmups=3, cores=CPUS)
    return out


KB_BUILD_SIZES = (120, 20_000)


def kb_build(passes: int) -> dict:
    """Median wall ms over ``passes`` (after 2 warm-ups) of the driver
    KB builder, ``linking.build_kb_broadcasts``, on datagen KBs of
    KB_BUILD_SIZES entities written to parquet. The warm-ups fill the
    driver's word-vector memo, so the passes time the collects, the
    gazetteer dict, the entity vectors, the canonical map and the
    broadcasts, as a repeated build in one driver pays them.
    ``kb_build_<n>_vectors_ms`` times the builder's entity-vector step
    alone ({entity_id: vector} from the collected entities, warm
    memo)."""
    import shutil
    import tempfile

    from grisp_spark.kg import datagen, linking
    from grisp_spark.session import get_spark

    spark = get_spark(
        "bench_extra", cores=CPUS,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    out = {}
    tmp = tempfile.mkdtemp(prefix="kb_build_")
    try:
        for n in KB_BUILD_SIZES:
            kb = {}
            for name, pdf in datagen.generate_kb(seed=7, n_entities=n).items():
                path = os.path.join(tmp, f"{name}_{n}.parquet")
                pdf.to_parquet(path, index=False)
                kb[name] = spark.read.parquet(path)
            for _ in range(2):
                linking.build_kb_broadcasts(spark, kb)
            ents = kb["entities"].select("entity_id", "context_vocab").toPandas()
            secs = []
            for _ in range(passes):
                t0 = time.perf_counter()
                dict(zip(
                    ents["entity_id"].tolist(),
                    linking.entity_vectors(
                        ents["context_vocab"], linking._cached_word_vec
                    ),
                ))
                secs.append(time.perf_counter() - t0)
            secs.sort()
            out[f"kb_build_{n}_vectors_ms"] = round(1000 * secs[len(secs) // 2], 1)
            secs = []
            s0 = _steal()
            for _ in range(passes):
                t0 = time.perf_counter()
                linking.build_kb_broadcasts(spark, kb)
                secs.append(time.perf_counter() - t0)
            s1 = _steal()
            secs.sort()
            out[f"kb_build_{n}_ms"] = round(1000 * secs[len(secs) // 2], 1)
            out[f"kb_build_{n}_steal_cpu_s"] = (
                round((s1 - s0) / 100.0, 1)
                if s0 is not None and s1 is not None
                else None
            )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    out.update(passes=passes, warmups=2, cores=CPUS)
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--queries", default=None)
    ap.add_argument("--passes", type=int, default=3)
    ap.add_argument("--plans", default=None, metavar="DIR")
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--task-overhead", action="store_true")
    ap.add_argument("--kb-build", action="store_true")
    args = ap.parse_args()

    if args.task_overhead:
        print(json.dumps(task_overhead(max(args.passes, 5))), flush=True)
        return
    if args.kb_build:
        print(json.dumps(kb_build(max(args.passes, 5))), flush=True)
        return

    import __spark_entry__ as entry_mod
    import bench as bench_mod

    qs = entry_mod.queries()
    if args.queries:
        names = args.queries.split(",")
    elif args.all:
        names = list(qs)
    else:
        names = list(bench_mod.HEADLINE)
    spark = _session()

    if args.plans:
        os.makedirs(args.plans, exist_ok=True)
        for name in names:
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                qs[name](spark, SF_DIR).explain("formatted")
            with open(os.path.join(args.plans, f"{name}.txt"), "w") as f:
                f.write(buf.getvalue())
            print(f"wrote {name}", file=sys.stderr)
        return

    passes = 1 if args.all else args.passes
    for name in names:
        secs, steals = [], []
        for _ in range(passes):
            s0 = _steal()
            spark.sparkContext.setJobDescription(name)
            t0 = time.monotonic()
            _noop(qs[name](spark, SF_DIR))
            secs.append(round(time.monotonic() - t0, 3))
            s1 = _steal()
            steals.append(
                round((s1 - s0) / 100.0, 1)
                if s0 is not None and s1 is not None
                else None
            )
        print(
            json.dumps(
                {"query": name, "passes": secs, "min": min(secs),
                 "steal_cpu_s": steals, "sf": SF_DIR.rstrip("/").rsplit("sf", 1)[-1]}
            ),
            flush=True,
        )


if __name__ == "__main__":
    main()
