"""Benchmark-side tracing for ``--trace 1`` runs.

Everything here wraps the calls the benchmark makes into the program;
nothing is installed inside ``cli_spark``. Per operation it

* tags the calling thread's Spark jobs with ``SparkContext.setJobGroup``;
* attributes jobs by job-id range (operations run one at a time, so the
  jobs submitted between an operation's start and end are its own — this
  also catches micro-batch jobs a stream runs on its own thread);
* reads job and stage metrics from the JVM status store after the
  listener bus has drained;
* records stream trigger phases with a ``StreamingQueryListener``.

Spans (name, start, end, parent, operation id) stay in memory and are
written once, by the caller, when the run ends.
"""

from __future__ import annotations

import threading
from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener


class _ProgressListener(StreamingQueryListener):
    def __init__(self) -> None:
        self.events: list[dict] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        start = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
        dur = dict(p.durationMs)
        rec = {
            "batch": p.batchId,
            "rows": p.numInputRows,
            "start": start,
            "end": start + dur.get("triggerExecution", 0) / 1000.0,
            "ms": dur,
            "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
            "state_commit_ms": sum(s.commitTimeMs for s in p.stateOperators),
        }
        with self._lock:
            self.events.append(rec)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def count(self) -> int:
        with self._lock:
            return len(self.events)

    def since(self, index: int) -> list[dict]:
        with self._lock:
            return list(self.events[index:])


class Tracer:
    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._store = self._jsc.statusStore()
        gw = self.sc._gateway
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)
        self._no_status = gw.jvm.java.util.ArrayList()
        self.listener = _ProgressListener()
        spark.streams.addListener(self.listener)

    def close(self) -> None:
        self.spark.streams.removeListener(self.listener)

    # ---------------------------------------------------------- per operation
    def begin(self, group: str) -> dict:
        self.sc.setJobGroup(group, group)
        return {"job0": self._jsc.dagScheduler().numTotalJobs(),
                "progress0": self.listener.count(),
                "persisted0": self.sc._jsc.getPersistentRDDs().size()}

    def end(self, mark: dict) -> dict:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)
        self._jsc.listenerBus().waitUntilEmpty()
        job1 = self._jsc.dagScheduler().numTotalJobs()
        return {
            "jobs": [self._job(j) for j in range(mark["job0"], job1)],
            "progress": self.listener.since(mark["progress0"]),
            "cache_grew": self.sc._jsc.getPersistentRDDs().size() > mark["persisted0"],
            "persisted_bytes": sum(i.memSize() + i.diskSize()
                                   for i in self._jsc.getRDDStorageInfo()),
        }

    def _job(self, job_id: int) -> dict:
        try:
            jd = self._store.job(job_id)
        except Exception:  # py4j error: job evicted from the status store
            return {"id": job_id, "missing": True}
        sub, comp = jd.submissionTime(), jd.completionTime()
        stages = []
        sids = jd.stageIds()
        for i in range(sids.size()):
            atts = self._store.stageData(sids.apply(i), False, self._no_status,
                                         False, self._no_quantiles)
            for a in range(atts.size()):
                s = atts.apply(a)
                if s.status().toString() == "SKIPPED":
                    continue
                stages.append({
                    "tasks": s.numTasks(),
                    "failed_tasks": s.numFailedTasks(),
                    "run_ms": s.executorRunTime(),
                    "cpu_ns": s.executorCpuTime(),
                    "shuffle_read": s.shuffleReadBytes(),
                    "shuffle_write": s.shuffleWriteBytes(),
                    "spill": s.memoryBytesSpilled() + s.diskBytesSpilled(),
                    "input_bytes": s.inputBytes(),
                    "input_records": s.inputRecords(),
                })
        return {
            "id": job_id,
            "start": sub.get().getTime() / 1000.0 if sub.isDefined() else None,
            "end": comp.get().getTime() / 1000.0 if comp.isDefined() else None,
            "stages": stages,
        }
