"""Resource records read back from Spark's status store.

Each call the benchmark makes into a layer runs under its own Spark job
group. After the call the group's jobs are looked up through the status
tracker, and the last attempt of each of their stages is read from the
status store: executor CPU time, shuffle read and write, spill,
task and job counts. The store is fed by the application status
listener, not by the web UI, so this works with
``spark.ui.enabled=false``.

A record must be read soon after its call: the store keeps only the
newest ``spark.ui.retainedJobs`` jobs and ``spark.ui.retainedStages``
stages (1000 each by default).
"""

from __future__ import annotations

import contextlib
import itertools
from dataclasses import dataclass

from py4j.protocol import Py4JJavaError

MB = 1024 * 1024


@dataclass
class Record:
    """Resources used by the jobs of one or more job groups."""

    jobs: int = 0
    tasks: int = 0
    cpu_s: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0


class ResourceReader:
    """Runs blocks under fresh job groups and reads their records."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._scala_sc = self._sc._jsc.sc()
        self._seq = itertools.count()

    @contextlib.contextmanager
    def group(self, name: str):
        """Run the block's Spark jobs in a new job group; yields its id."""
        group_id = f"{name}#{next(self._seq)}"
        self._sc.setJobGroup(group_id, name)
        try:
            yield group_id
        finally:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)

    def read(self, *group_ids: str) -> Record:
        """Sum the resource record of every job in ``group_ids``."""
        self._scala_sc.listenerBus().waitUntilEmpty()
        tracker = self._sc.statusTracker()
        store = self._scala_sc.statusStore()
        rec = Record()
        seen: set[int] = set()
        for group_id in group_ids:
            for job_id in tracker.getJobIdsForGroup(group_id):
                info = tracker.getJobInfo(job_id)
                if info is None:
                    continue
                rec.jobs += 1
                for sid in info.stageIds:
                    if sid in seen:
                        continue
                    seen.add(sid)
                    try:
                        st = store.lastStageAttempt(sid)
                    except Py4JJavaError:  # evicted from the store
                        continue
                    rec.tasks += st.numCompleteTasks()
                    rec.cpu_s += st.executorCpuTime() / 1e9
                    rec.shuffle_read_mb += st.shuffleReadBytes() / MB
                    rec.shuffle_write_mb += st.shuffleWriteBytes() / MB
                    rec.spill_mb += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / MB
        return rec

    def cache_counts(self, spark) -> tuple[int, int]:
        """(persisted RDDs, cached relations) held by the session now."""
        persisted = self._sc._jsc.getPersistentRDDs().size()
        cached = spark._jsparkSession.sharedState().cacheManager().numCachedEntries()
        return persisted, cached
