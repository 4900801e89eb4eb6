"""Fixed settings of every benchmark run: session, sizes and paths.

Everything a workload depends on lives here, so that a change to
``bench.py`` or to the package defaults cannot change what the
benchmark measures.
"""

from __future__ import annotations

import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# scratch space of the benchmark (gitignored): input cache, Spark
# local dirs, outputs, event logs
WORK = os.path.join(ROOT, "perfbench", ".work")
CACHE = os.path.join(WORK, "cache")
SPARK_LOCAL_DIRS = os.path.join(WORK, "spark-local")
TMP = os.path.join(WORK, "tmp")
RUNS = os.path.join(WORK, "runs")

CORES = len(os.sched_getaffinity(0))


# The driver JVM also hosts the executors in local mode; the package
# default (48g) is larger than the machine. The heap and its young
# generation have fixed sizes and are not touched at start-up: G1 then
# makes no timing-driven resizing decisions, which moved the JVM's
# resident size by ±12% from run to run, while the resident part of the
# heap still grows with what the program keeps (about 1 GiB of the 2).
DRIVER_MEMORY = "2g"
YOUNG_GEN = "256m"

# input splits of the fused KG job (its layout shuffle) and of the
# staged pipeline's linking stage
KG_PARTITIONS = CORES
# conversation buckets of the staged pipeline's resumable linking stage
PIPELINE_BUCKETS = 1

# the fixed tables the pinned queries read: a copy of the repository's
# sf0.001 test data, so the benchmark reads nothing outside its checkout
QUERY_DATA = os.path.join(ROOT, "perfbench", "data", "sf0.001")
# pinned queries of kg_batch with the digests of their oracle-checked
# results (``perfbench/pin_queries.py`` writes it)
QUERY_PINS = os.path.join(ROOT, "perfbench", "queries.json")


def session_conf(event_log_dir: str | None = None) -> dict[str, str]:
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        # temporary files stay in the checkout; no hsperfdata in /tmp
        "spark.driver.extraJavaOptions": (
            f"-Xms{DRIVER_MEMORY} -Xmn{YOUNG_GEN} -XX:-UsePerfData"
            f" -Djava.io.tmpdir={TMP}"
        ),
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.shuffle.partitions": str(CORES),
    }
    if event_log_dir:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


# Input sizes: ``base_convs`` conversations against the 120-entity
# datagen KB, shared by every workload: kg_fused tiles them
# ``fused_tiles`` times under fresh conv_ids (so the oracle runs once on
# the base), kg_batch reads them as they are, stream_incremental cuts
# them into ``stream_groups`` delivery groups.
SIZES = {
    "base_convs": 1200,
    "fused_tiles": 6,
    "stream_groups": 10,
    # turns the in-process kernel trace drives (whole conversations)
    "kernel_slice_turns": 20000,
}

# the smoke test's sizes (perfbench/smoke.py)
TINY_SIZES = {
    "base_convs": 60,
    "fused_tiles": 2,
    "stream_groups": 6,
    "kernel_slice_turns": 300,
}

# bump when the way inputs are derived from the seed changes
INPUT_VERSION = 2
