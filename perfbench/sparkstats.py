"""Spark work counted from outside the library.

Jobs come from ``SparkContext.statusTracker()``. ``build_index`` submits
stage jobs from its own thread pool and those threads carry no job group,
so jobs are counted by job-id range: ids are dense and increase per
context, so the jobs a call launched are the ids above the highest id
seen before it. Shuffle bytes and task times come from the UI's REST API,
which exists only when the session was started with ``SPARK_UI=true``
(the traced run).
"""

from __future__ import annotations

import json
import statistics
import urllib.request
from dataclasses import dataclass


@dataclass
class JobRange:
    first: int  # first job id of the window
    end: int    # one past the last

    @property
    def jobs(self) -> int:
        return self.end - self.first


class SparkWatch:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self._jtracker = self.tracker._jtracker
        self._max = self.sc._jvm.org.apache.commons.lang3.math.NumberUtils.max

    def next_job_id(self) -> int:
        # the max is taken JVM-side: converting the id array to a Python
        # list costs one py4j round trip per element
        ids = self._jtracker.getJobIdsForGroup(None)
        if len(ids) == 0:
            return 0
        return self._max(ids) + 1

    def tasks(self, r: JobRange) -> tuple[int, int]:
        """(tasks, failed tasks) of the jobs in ``r``."""
        n = failed = 0
        for jid in range(r.first, r.end):
            info = self.tracker.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                st = self.tracker.getStageInfo(sid)
                if st is not None:
                    n += st.numTasks
                    failed += st.numFailedTasks
        return n, failed

    # -- REST (traced run only) ------------------------------------------
    def _rest(self, path: str):
        url = self.sc.uiWebUrl
        if not url:
            return None
        base = f"{url}/api/v1/applications/{self.sc.applicationId}"
        with urllib.request.urlopen(base + path, timeout=10) as resp:
            return json.loads(resp.read())

    def stage_ids(self, r: JobRange) -> list[int]:
        out: list[int] = []
        for jid in range(r.first, r.end):
            info = self.tracker.getJobInfo(jid)
            if info is not None:
                out.extend(info.stageIds)
        return out

    def stage_metrics(self, r: JobRange) -> dict:
        """Shuffle write bytes, executor run time and the skew (max over
        median task time) of the heaviest shuffle-reading stage in ``r``.
        Empty when the UI is off."""
        stages = self._rest("/stages?status=complete")
        if stages is None:
            return {}
        mine = set(self.stage_ids(r))
        rows = [s for s in stages if s["stageId"] in mine]
        out = {
            "shuffle_write_bytes": sum(s.get("shuffleWriteBytes", 0)
                                       for s in rows),
            "executor_run_s": sum(s.get("executorRunTime", 0)
                                  for s in rows) / 1000.0,
        }
        heavy = max(rows, key=lambda s: s.get("shuffleReadBytes", 0),
                    default=None)
        if heavy is not None and heavy.get("shuffleReadBytes", 0) > 0:
            tasks = self._rest(f"/stages/{heavy['stageId']}/"
                               f"{heavy['attemptId']}/taskList?length=10000")
            times = [t["taskMetrics"]["executorRunTime"] for t in tasks
                     if t.get("taskMetrics")]
            if times and statistics.median(times) > 0:
                out["task_skew"] = max(times) / statistics.median(times)
        return out
