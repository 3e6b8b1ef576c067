"""Spans, disk accounting and Spark job metrics for perfbench.

Spans are recorded only in the traced run (``--trace 1``). Each span
holds its name, start, end, parent span and the benchmark job it belongs
to, and sets a Spark job group of its own, so every Spark job launched
inside it can be attributed to it afterwards through the UI REST API
(queried once, at the end of the traced run). Spans are kept in memory
and written out when the run ends.
"""

from __future__ import annotations

import itertools
import json
import os
import statistics
import time
import urllib.request
from collections import defaultdict
from contextlib import contextmanager
from datetime import datetime


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.job: str = "setup"
        self._stack: list[dict] = []
        self._ids = itertools.count(1)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "job": self.job,
        }
        self._stack.append(rec)
        self.sc.setJobGroup(f"pb{rec['id']}", name)
        rec["start"] = time.time()
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self._stack:
                top = self._stack[-1]
                self.sc.setJobGroup(f"pb{top['id']}", top["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(rec)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for rec in sorted(self.spans, key=lambda r: r["id"]):
                fh.write(json.dumps(rec) + "\n")


class FileLedger:
    """Bytes written under a directory tree, rewrites included: each
    :meth:`tick` charges every file that is new or changed since the
    previous tick. Call it wherever files may be replaced or deleted."""

    def __init__(self, root: str):
        self.root = root
        self.written = 0
        self._seen: dict[str, tuple[int, int]] = {}

    def _scan(self) -> dict[str, tuple[int, int]]:
        out = {}
        for d, _, files in os.walk(self.root):
            for f in files:
                p = os.path.join(d, f)
                try:
                    st = os.stat(p)
                except FileNotFoundError:
                    continue
                out[p] = (st.st_size, st.st_mtime_ns)
        return out

    def tick(self) -> None:
        now = self._scan()
        self.written += sum(
            v[0] for p, v in now.items() if self._seen.get(p) != v
        )
        self._seen = now

    def stored(self) -> int:
        return sum(v[0] for v in self._scan().values())


def dir_stats(path: str) -> tuple[int, int]:
    """(bytes, data files) of a checkpoint directory."""
    size = files = 0
    for d, _, names in os.walk(path):
        for f in names:
            size += os.path.getsize(os.path.join(d, f))
            files += f.startswith("part-")
    return size, files


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def reset_hwm(pid: int) -> None:
    """Restart a process's VmHWM from its current RSS (Linux clear_refs)."""
    with open(f"/proc/{pid}/clear_refs", "w") as fh:
        fh.write("5")


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


# ---------------------------------------------------------------------------
# Spark job metrics (UI REST API)
# ---------------------------------------------------------------------------


def _ts(s: str) -> float:
    # "2026-10-17T02:44:00.123GMT"
    return datetime.strptime(s.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as resp:
        return json.loads(resp.read())


def fetch_spark_jobs(sc, settle_s: float = 0.5, max_wait_s: float = 20.0) -> tuple[list, dict]:
    """(jobs, stages by id) from the local UI, once the listener bus has
    caught up (two equal job counts in a row)."""
    port = sc.uiWebUrl.rsplit(":", 1)[1]
    base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
    deadline = time.time() + max_wait_s
    last = -1
    while True:
        jobs = _get(f"{base}/jobs")
        done = all(j["status"] != "RUNNING" for j in jobs)
        if (len(jobs) == last and done) or time.time() > deadline:
            break
        last = len(jobs)
        time.sleep(settle_s)
    stages = defaultdict(list)  # stage id -> its attempts
    for st in _get(f"{base}/stages"):
        stages[st["stageId"]].append(st)
    return jobs, stages


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def layer_spark_metrics(spans: list[dict], jobs: list, stages: dict, layers: dict[str, str]) -> dict:
    """Per layer and benchmark job: Spark jobs, tasks, failed tasks,
    planning time (span wall minus the union of its jobs' intervals),
    shuffle-write and disk-spill bytes. Jobs count toward every span on
    the path from the span that launched them to the root, so each
    layer's figures are inclusive, like its wall time.

    ``layers`` maps span name -> reported layer name. Returns
    ``{layer: {metric: [per-job values]}}``."""
    by_id = {s["id"]: s for s in spans}
    owned = defaultdict(list)  # span id -> jobs in its subtree
    for j in jobs:
        g = j.get("jobGroup") or ""
        if not g.startswith("pb"):
            continue
        sid = int(g[2:])
        while sid is not None and sid in by_id:
            owned[sid].append(j)
            sid = by_id[sid]["parent"]
    acc: dict = defaultdict(lambda: defaultdict(lambda: defaultdict(float)))
    for s in spans:
        layer = layers.get(s["name"])
        if layer is None:
            continue
        mine = owned.get(s["id"], [])
        ivals = []
        for j in mine:
            if "completionTime" in j:
                a = max(_ts(j["submissionTime"]), s["start"])
                b = min(_ts(j["completionTime"]), s["end"])
                if b > a:
                    ivals.append((a, b))
        m = acc[layer][s["job"]]
        m["jobs"] += len(mine)
        m["tasks"] += sum(j["numTasks"] for j in mine)
        m["failed_tasks"] += sum(j["numFailedTasks"] for j in mine)
        m["plan_s"] += (s["end"] - s["start"]) - _union_len(ivals)
        for j in mine:
            for sid in j["stageIds"]:
                for st in stages.get(sid, []):
                    m["shuffle_bytes"] += st.get("shuffleWriteBytes", 0)
                    m["spill_bytes"] += st.get("diskBytesSpilled", 0)
    return {
        layer: {k: [per_job[k] for per_job in byjob.values()] for k in next(iter(byjob.values()))}
        for layer, byjob in acc.items()
    }
