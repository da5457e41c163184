"""Measurement probes that sit outside the engine.

* :class:`Spans`  — wall-clock spans around the calls into each layer. Every
  span also tags its Spark jobs with a job group ``<layer>/<name>/<cycle>``,
  so the Spark UI shows which layer ran which job for which op. Spans stay in memory and are
  written out once, at the end of a run.
* :class:`RestLedger` — (traced runs only) reads job, stage and executor
  metrics from the Spark UI REST API and attributes them to spans.
* :func:`catalyst_phases` — the analysis / optimization / planning times
  the Catalyst phase tracker recorded for a DataFrame.
* :func:`box_calibration` — fixed workloads that show how fast the machine
  itself is right now.
* :class:`RssSampler` — peak resident memory (VmHWM) of the JVM and its
  Python workers.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import json
import os
import statistics
import time
import urllib.request


class Spans:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.records: list[dict] = []
        self.cycle = "setup"  # which part of the run new spans belong to

    @contextlib.contextmanager
    def span(self, layer: str, name: str, **attrs):
        group = f"{layer}/{name}/{self.cycle}"
        self.sc.setJobGroup(group, group)
        rec = {"layer": layer, "name": name, "group": group, "cycle": self.cycle, **attrs}
        rec["t0"] = time.time()
        p0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["seconds"] = time.perf_counter() - p0
            rec["t1"] = time.time()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            self.records.append(rec)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for rec in self.records:
                fh.write(json.dumps(rec, default=str) + "\n")


def _rest_time(s: str) -> float:
    return dt.datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%f%Z").replace(
        tzinfo=dt.timezone.utc
    ).timestamp()


class RestLedger:
    """Jobs and stages from the UI REST API, attributed to spans: by job
    group when the job carries a span's group, otherwise (jobs that a
    streaming query submits from its own thread) by submission time."""

    def __init__(self, spark):
        sc = spark.sparkContext
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
        self.bus = sc._jsc.sc().listenerBus()

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as fh:
            return json.load(fh)

    def attribute(self, spans: list[dict]) -> None:
        """Adds jobs, stages, task_s, input/shuffle/spill bytes to each
        span in ``spans``."""
        self.bus.waitUntilEmpty(30_000)
        jobs = self._get("/jobs")
        stages: dict[int, list[dict]] = {}
        for st in self._get("/stages"):
            stages.setdefault(st["stageId"], []).append(st)
        by_group = {s["group"]: s for s in spans}
        for s in spans:
            s.update(jobs=0, stages=0, task_s=0.0, input_bytes=0,
                     shuffle_bytes=0, spill_bytes=0)
        seen: set[int] = set()  # a stage reused by a later job counts once
        for job in sorted(jobs, key=lambda j: j["jobId"]):
            owner = by_group.get(job.get("jobGroup"))
            if owner is None:
                t = _rest_time(job["submissionTime"])
                owner = next(
                    (s for s in spans if s["t0"] - 0.001 <= t <= s["t1"] + 0.001), None
                )
            if owner is None:
                continue
            owner["jobs"] += 1
            for sid in set(job["stageIds"]) - seen:
                seen.add(sid)
                for st in stages.get(sid, []):
                    if st["status"] == "SKIPPED":
                        continue
                    owner["stages"] += 1
                    owner["task_s"] += st["executorRunTime"] / 1000.0
                    owner["input_bytes"] += st["inputBytes"]
                    owner["shuffle_bytes"] += st["shuffleReadBytes"] + st["shuffleWriteBytes"]
                    owner["spill_bytes"] += st["memoryBytesSpilled"] + st["diskBytesSpilled"]


def catalyst_phases(df) -> dict[str, float]:
    """Catalyst phase times (ms) of ``df``'s query execution, planning it
    first if it has not been planned yet."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    out = {}
    it = qe.tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = float(kv._2().durationMs())
    return {k: out.get(k, 0.0) for k in ("analysis", "optimization", "planning")}


def box_calibration(spark) -> dict[str, float]:
    """``calib_s``: median of three runs of a fixed range aggregate plus a
    small shuffle. ``job_floor_ms``: median latency of one-row jobs."""
    from pyspark.sql import functions as F

    def calib():
        t = time.perf_counter()
        (
            spark.range(0, 4_000_000, 1, 8)
            .select((F.col("id") % 997).alias("k"), "id")
            .groupBy("k")
            .agg(F.sum("id"))
            .collect()
        )
        return time.perf_counter() - t

    def one_row():
        t = time.perf_counter()
        spark.range(1).collect()
        return time.perf_counter() - t

    calib()
    return {
        "calib_s": statistics.median(calib() for _ in range(3)),
        "job_floor_ms": 1000 * statistics.median(one_row() for _ in range(15)),
    }


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return ""


class RssSampler:
    """Peak RSS of the JVM and its Python workers: the largest sum, over
    the samples taken, of the lifetime peaks (VmHWM) of the processes alive
    at that sample. ``split`` keeps the JVM / worker shares of that peak."""

    def __init__(self):
        self.peak_kb = 0
        self.split = {}

    def sample(self) -> None:
        hwm = {pid: _vm_hwm_kb(pid) for pid in descendants(os.getpid())}
        now = sum(hwm.values())
        if now > self.peak_kb:
            self.peak_kb = now
            jvm = sum(kb for pid, kb in hwm.items() if _comm(pid) == "java")
            self.split = {"jvm_mb": jvm / 1024.0, "workers_mb": (now - jvm) / 1024.0,
                          "processes": len(hwm)}

    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0
