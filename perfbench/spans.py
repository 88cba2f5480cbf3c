"""Spans around the benchmark's calls into the library (``--trace 1``).

A span has a name, a start, an end, a parent and a request id. The Spark
jobs started inside a span are tagged with a job group named after the
span, so their stages can be read back from ``statusTracker`` and the
driver's status store (the UI is off). Spans stay in memory; ``dump``
writes them out once at the end. With tracing off every call is a no-op,
so untraced runs pay nothing.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import time


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def storage_mb(spark) -> float:
    """Bytes held by persisted RDDs and cached tables, in MiB."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 2**20


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.py4j_calls = 0
        if enabled:
            from py4j.protocol import MEMORY_COMMAND_NAME, MEMORY_DEL_SUBCOMMAND_NAME

            client = spark.sparkContext._gateway._gateway_client
            send = client.send_command
            # object releases are sent whenever Python's collector runs,
            # from a finalizer thread; counting them would make the count
            # differ between runs of the same work
            release = MEMORY_COMMAND_NAME + MEMORY_DEL_SUBCOMMAND_NAME

            def counting_send(command, *args, **kwargs):
                if not command.startswith(release):
                    self.py4j_calls += 1
                return send(command, *args, **kwargs)

            client.send_command = counting_send

    @contextlib.contextmanager
    def span(self, name: str, req: str | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "req": req if req is not None else (parent["req"] if parent else None),
            "group": f"perfbench-{len(self.spans)}",
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        sc.setJobGroup(rec["group"], name)
        calls0 = self.py4j_calls
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["py4j_calls"] = self.py4j_calls - calls0
            self._stack.pop()
            if parent is not None:
                sc.setJobGroup(parent["group"], parent["name"])
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    def collect_stages(self) -> None:
        """Attach job and stage metrics to every span that has none yet.
        Called between requests, outside any timed span."""
        if not self.enabled:
            return
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        quantiles = sc._gateway.new_array(sc._jvm.double, 2)
        quantiles[0], quantiles[1] = 0.5, 1.0
        for rec in self.spans:
            if "jobs" in rec or "end" not in rec:
                continue
            stages = []
            job_ids = tracker.getJobIdsForGroup(rec["group"])
            for jid in job_ids:
                info = tracker.getJobInfo(jid)
                for sid in info.stageIds if info is not None else ():
                    stages.append(_stage_metrics(store, sid, quantiles))
            rec["jobs"] = len(job_ids)
            rec["stages"] = [s for s in stages if s is not None]

    def self_time(self, rec: dict) -> float:
        children = [s for s in self.spans if s["parent"] == rec["id"]]
        return (rec["end"] - rec["start"]) - sum(
            c["end"] - c["start"] for c in children
        )

    def dump(self, path: str) -> None:
        if not self.enabled:
            return
        out = []
        for rec in self.spans:
            row = {k: v for k, v in rec.items() if k != "group"}
            if "end" in rec:
                row["self_s"] = self.self_time(rec)
            out.append(row)
        with open(path, "w") as fh:
            json.dump(out, fh)


def _stage_metrics(store, sid: int, quantiles) -> dict | None:
    try:
        data = store.stageData(sid, False, None, False, None)
    except Exception:  # noqa: BLE001 — stage evicted or never ran
        return None
    s = data.head()
    out = {
        "stage": sid,
        "tasks": s.numTasks(),
        "executor_run_s": s.executorRunTime() / 1e3,
        "shuffle_read_mb": s.shuffleReadBytes() / 2**20,
        "shuffle_write_mb": s.shuffleWriteBytes() / 2**20,
        "spill_mb": (s.memoryBytesSpilled() + s.diskBytesSpilled()) / 2**20,
        "skew": 1.0,
    }
    summary = store.taskSummary(sid, s.attemptId(), quantiles)
    if summary.isDefined():
        run = summary.get().executorRunTime()
        median, top = run.apply(0), run.apply(1)
        out["skew"] = top / median if median > 0 else 1.0
    return out
