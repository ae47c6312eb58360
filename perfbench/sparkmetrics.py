"""Numbers read from Spark's public interfaces: streaming progress
events (through a listener the benchmark owns) and the status tracker."""

from __future__ import annotations

import threading

from pyspark.sql.streaming import StreamingQueryListener


class ProgressLog(StreamingQueryListener):
    """Keeps every ``QueryProgressEvent`` of the run, flattened."""

    def __init__(self) -> None:
        self.events: list[dict] = []
        self.run_ids: list[str] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:
        with self._lock:
            self.run_ids.append(str(event.runId))

    def onQueryProgress(self, event) -> None:
        p = event.progress
        d = p.durationMs or {}
        ops = p.stateOperators or []
        row = {
            "run_id": str(p.runId),
            "trigger_ms": d.get("triggerExecution", 0),
            "add_batch_ms": d.get("addBatch", 0),
            "latest_offset_ms": d.get("latestOffset", 0),
            "query_planning_ms": d.get("queryPlanning", 0),
            "wal_commit_ms": d.get("walCommit", 0),
            "input_rows": p.numInputRows,
            "state_commit_ms": sum(s.commitTimeMs for s in ops),
            "state_partitions": sum(s.numShufflePartitions for s in ops),
            "state_rows_total": sum(s.numRowsTotal for s in ops),
            "state_memory_bytes": sum(s.memoryUsedBytes for s in ops),
        }
        with self._lock:
            self.events.append(row)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def snapshot(self) -> tuple[list[dict], list[str]]:
        with self._lock:
            return list(self.events), list(self.run_ids)


def jobs_in_groups(sc, groups: list[str]) -> list[int]:
    tracker = sc.statusTracker()
    return [j for g in groups for j in tracker.getJobIdsForGroup(g)]


def task_counts(sc, job_ids: list[int]) -> tuple[int, int]:
    """(tasks run, tasks failed) over the stages of the given jobs."""
    tracker = sc.statusTracker()
    stages = set()
    for j in job_ids:
        info = tracker.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    run = failed = 0
    for s in stages:
        info = tracker.getStageInfo(s)
        if info is not None:
            run += info.numCompletedTasks + info.numFailedTasks
            failed += info.numFailedTasks
    return run, failed
