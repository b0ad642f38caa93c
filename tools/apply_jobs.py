"""List the Spark jobs of one small CDC apply.

Runs :func:`scenario` — a map and an algebraic sum/count view over nine
rows, resynced, then one batch of two creates, an update and a delete; the
scenario whose job count ``tests/test_incremental.py::
test_small_apply_job_budget`` bounds — and prints every Spark job
that batch's ``apply_changes`` launched: its job id, the ids and names
(call sites) of its stages, and its task count, all read from
``statusTracker``. A shuffle stage that a later job reuses is listed again
in that job's stage ids; it is counted once, under the job that ran it,
and shown as ``reused`` where it reappears.

    python tools/apply_jobs.py            # the form the batch size picks
    python tools/apply_jobs.py --frame    # force broadcast key-set frames
"""

from __future__ import annotations

import argparse
import os
import sys
import tempfile
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from qvarn_mr_spark.catalog import Catalog  # noqa: E402
from qvarn_mr_spark.operators import (  # noqa: E402
    IncrementalEngine, ParquetStateStore, ViewEngine, map_item, reduce_agg)
from qvarn_mr_spark.operators import incremental  # noqa: E402
from qvarn_mr_spark.operators.incremental import notifications  # noqa: E402
from qvarn_mr_spark.operators.mapreduce import MERGE_ADD  # noqa: E402
from qvarn_mr_spark.session import get_spark  # noqa: E402


def scenario(spark, root: str):
    """``(engine, view engine, batch)``: an incremental engine over a map
    and an algebraic view after its bootstrap, and a batch that creates
    ids 10 (key 1) and 11 (new key 5), updates 2 (value 2 → 20) and
    deletes 3 (key 0). The view's handler versions match the stored ones,
    so its apply skips the version-barrier scan."""
    cat = Catalog(spark)

    def set_source(rows):
        cat.register("source", spark.createDataFrame(
            rows, "id string, key long, value long"))

    set_source([(str(i), i % 3, i) for i in range(1, 10)])
    eng = ViewEngine(cat, {
        "m": {"source": map_item("key", "value")},
        "v": {"m": reduce_agg({"s": F.sum, "n": F.count},
                              merge={"s": MERGE_ADD, "n": MERGE_ADD})},
    })
    inc = IncrementalEngine(eng, ParquetStateStore(spark, root))
    inc.resync_all()
    set_source([(str(i), i % 3, 20 if i == 2 else i)
                for i in range(1, 10) if i != 3] + [("10", 1, 10),
                                                   ("11", 5, 11)])
    batch = notifications(spark, [
        ("source", "created", "10"), ("source", "created", "11"),
        ("source", "updated", "2"), ("source", "deleted", "3")])
    return inc, eng, batch


def _list_jobs(spark, fn) -> None:
    """Run ``fn`` under a job group of its own and print its jobs."""
    sc = spark.sparkContext
    group = f"apply-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    seen: set[int] = set()
    total_tasks = 0
    jobs = sorted(tracker.getJobIdsForGroup(group))
    for job in jobs:
        info = tracker.getJobInfo(job)
        tasks, lines = 0, []
        for sid in sorted(set(info.stageIds)):
            stage = tracker.getStageInfo(sid)
            name = stage.name if stage else "?"
            if sid in seen:
                lines.append(f"    stage {sid:4d}  reused         {name}")
                continue
            seen.add(sid)
            done = stage.numCompletedTasks if stage else 0
            tasks += done
            lines.append(f"    stage {sid:4d}  {done:3d} tasks      {name}")
        total_tasks += tasks
        print(f"job {job}: {tasks} tasks")
        print("\n".join(lines))
    print(f"{len(jobs)} jobs, {len(seen)} distinct stages, "
          f"{total_tasks} tasks")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--frame", action="store_true",
                    help="apply with broadcast key-set frames (N = 0)")
    args = ap.parse_args()
    if args.frame:
        incremental.MAX_LITERALS = 0
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    spark = get_spark(app_name="apply-jobs", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    with tempfile.TemporaryDirectory() as root:
        inc, _, batch = scenario(spark, os.path.join(root, "state"))
        _list_jobs(spark, lambda: inc.apply_changes(batch))
    spark.stop()


if __name__ == "__main__":
    main()
