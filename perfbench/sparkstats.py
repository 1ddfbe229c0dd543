"""Spark session lifetime and the status-store reader.

Metrics come from Spark's own application status store, per job group:
the benchmark gives each operation (and, when tracing, each span) a job
group of its own, so every job, lazy or not, is charged to the call
that ran it. Reading happens after the timed region.
"""

from __future__ import annotations

import hashlib
import os
import platform

from pyspark.sql import SparkSession

MB = 1024 * 1024

# Group metrics a reader returns; all are sums over the group's jobs.
FIELDS = ("jobs", "stages", "tasks", "task_s", "input_mb", "shuffle_read_mb",
          "shuffle_write_mb", "spill_mb")


def start_spark(work: str, cpus: int) -> SparkSession:
    """The engine's own session factory, pinned to ``cpus`` local cores,
    with its warehouse and local dirs inside ``work``."""
    from ironman_medallion_lakehouse_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        warehouse_dir=os.path.join(work, "spark-warehouse"),
        extra_conf={
            "spark.default.parallelism": str(cpus),
            "spark.driver.memory": "2g",
            "spark.local.dir": os.path.join(work, "local"),
            "spark.ui.showConsoleProgress": "false",
            # one operation runs a few hundred jobs; keep all of them
            # readable until the operation's metrics are taken
            "spark.ui.retainedJobs": "5000",
            "spark.ui.retainedStages": "10000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark: SparkSession) -> None:
    """Stop the session and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=60)


class StatusReader:
    """Sums stage metrics over the jobs of a job group."""

    def __init__(self, spark: SparkSession):
        sc = spark.sparkContext
        self._sc = sc
        self._tracker = sc.statusTracker()
        self._store = sc._jsc.sc().statusStore()
        self._bus = sc._jsc.sc().listenerBus()
        self._no_tasks = sc._jvm.java.util.ArrayList()
        self._no_quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 0)

    def settle(self) -> None:
        """Wait until the status store has seen every finished job."""
        self._bus.waitUntilEmpty()

    def group(self, name: str) -> dict[str, float]:
        out = dict.fromkeys(FIELDS, 0.0)
        stage_ids: set[int] = set()
        for job in self._tracker.getJobIdsForGroup(name):
            out["jobs"] += 1
            info = self._tracker.getJobInfo(job)
            if info is not None:
                stage_ids.update(info.stageIds)
        for sid in stage_ids:
            attempts = self._store.stageData(
                sid, False, self._no_tasks, False, self._no_quantiles
            ).iterator()
            while attempts.hasNext():
                sd = attempts.next()
                if str(sd.status()) == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numCompleteTasks()
                out["task_s"] += sd.executorRunTime() / 1000.0
                out["input_mb"] += sd.inputBytes() / MB
                out["shuffle_read_mb"] += sd.shuffleReadBytes() / MB
                out["shuffle_write_mb"] += sd.shuffleWriteBytes() / MB
                out["spill_mb"] += sd.diskBytesSpilled() / MB
        return out


def git_tree_hash(path: str) -> str:
    """The git tree object id of directory ``path`` (what
    ``git rev-parse HEAD:<path>`` prints for a clean checkout), computed
    from the files so it works where no ``.git`` exists. Byte-compiled
    caches are skipped, as the repository ignores them."""
    entries = []
    for name in os.listdir(path):
        full = os.path.join(path, name)
        if name == "__pycache__" or name.endswith(".pyc"):
            continue
        if os.path.isdir(full):
            entries.append((name + "/", b"40000", name, bytes.fromhex(git_tree_hash(full))))
        else:
            with open(full, "rb") as fh:
                data = fh.read()
            blob = hashlib.sha1(b"blob %d\0" % len(data) + data).digest()
            mode = b"100755" if os.access(full, os.X_OK) else b"100644"
            entries.append((name, mode, name, blob))
    body = b"".join(
        mode + b" " + name.encode() + b"\0" + oid
        for _key, mode, name, oid in sorted(entries)
    )
    return hashlib.sha1(b"tree %d\0" % len(body) + body).hexdigest()


def environment(spark: SparkSession, root: str) -> dict:
    return {
        "cpus": len(os.sched_getaffinity(0)),
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "spark": spark.version,
        "python": platform.python_version(),
        "engine_tree": git_tree_hash(os.path.join(root, "ironman_medallion_lakehouse_spark")),
        "benchmark_tree": git_tree_hash(os.path.join(root, "perfbench")),
    }
