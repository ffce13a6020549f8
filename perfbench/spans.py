"""Span recorder for the traced run, plus per-span Spark statistics.

Spans are kept in memory (name, start, end, parent, pass id, job group)
and written out as JSON lines when the run ends. Each span runs in its
own Spark job group, so the status store (read through the UI's REST
API, which is only enabled in the traced run) attributes jobs, tasks,
shuffle and spill bytes, and task-time skew to it.
"""

from __future__ import annotations

import json
import statistics
import time
import urllib.request
from contextlib import contextmanager

# span names in the order the workloads call them: <module>.<function>
SPANS = [
    "sources.csv_io.read_long_csv",
    "operators.pivot.pivot_long_to_wide",
    "sources.csv_io.write_sorted_csv",
    "operators.extents.column_extents",
    "sources.geojson.read_geojson",
    "plans.pipeline.tile_layers",
    "sources.geojson.write_geojsonl",
    "plans.tileset.build_tileset_native",
    "plans.queries_wave8.curation_pipeline",
    "operators.dedup.minhash_lsh_pairs",
    "operators.dedup.connected_components",
    "sources.jsonl.write_jsonl",
    "operators.similarity.ann_index_build",
    "operators.similarity.ann_index_write",
    "operators.similarity.ann_index_topk",
    "streaming.ann_maintenance.ann_index_stream_add",
    "operators.similarity.ann_index_compact",
]
STATS = ["self_s", "jobs", "tasks", "shuffle_mb", "spill_mb", "skew"]


def force(df):
    """Run a lazy DataFrame to the noop sink and return it."""
    df.write.format("noop").mode("overwrite").save()
    return df


class Tracer:
    """Records spans around calls into the engine.

    A span's self time is its wall time minus the wall time of the spans
    nested inside it. The benchmark forces each lazy result inside its
    span and keeps it persisted, so a later span that consumes it does
    not recompute its inputs."""

    def __init__(self, spark):
        self.spark = spark
        sc = spark.sparkContext
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = (
            f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
        )
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.pass_id = 0

    @contextmanager
    def span(self, name: str):
        sc = self.spark.sparkContext
        idx = len(self.spans)
        rec = {
            "id": idx, "name": name, "pass": self.pass_id,
            "parent": self._stack[-1] if self._stack else None,
            "group": f"span-{idx}", "start": time.time(),
        }
        self.spans.append(rec)
        self._stack.append(idx)
        sc.setJobGroup(rec["group"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            outer = self._stack[-1] if self._stack else None
            if outer is None:
                sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                sc.setJobGroup(self.spans[outer]["group"], self.spans[outer]["name"])

    def _api(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def _drain(self) -> None:
        # the status store is filled by an asynchronous listener bus
        try:
            self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(30000)
        except Exception:  # private API; fall back to a short wait
            time.sleep(1.0)

    def layer_metrics(self, pass_id: int) -> dict[str, float]:
        """Per-span-name totals over the spans of ``pass_id``: every
        name in SPANS gets all six STATS (zero for spans the workload
        does not run)."""
        self._drain()
        jobs_by_group: dict[str, list[dict]] = {}
        for j in self._api("/jobs"):
            if j.get("jobGroup"):
                jobs_by_group.setdefault(j["jobGroup"], []).append(j)
        stages: dict[int, list[dict]] = {}
        for s in self._api("/stages"):
            stages.setdefault(s["stageId"], []).append(s)

        children: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]] = children.get(s["parent"], 0.0) + (
                    s["end"] - s["start"]
                )
        agg = {n: dict.fromkeys(STATS, 0.0) for n in SPANS}
        for s in self.spans:
            if s["pass"] != pass_id or s["name"] not in agg:
                continue
            a = agg[s["name"]]
            a["self_s"] += s["end"] - s["start"] - children.get(s["id"], 0.0)
            jobs = jobs_by_group.get(s["group"], [])
            a["jobs"] += len(jobs)
            slowest = None
            for sid in {i for j in jobs for i in j["stageIds"]}:
                for att in stages.get(sid, []):
                    if att["status"] == "SKIPPED":
                        continue
                    a["tasks"] += att["numCompleteTasks"]
                    a["shuffle_mb"] += (
                        att["shuffleReadBytes"] + att["shuffleWriteBytes"]
                    ) / 1e6
                    a["spill_mb"] += att["diskBytesSpilled"] / 1e6
                    if slowest is None or att["executorRunTime"] > slowest["executorRunTime"]:
                        slowest = att
            if slowest is not None:
                a["skew"] = max(a["skew"], self._skew(slowest))
        out = {}
        for n in SPANS:
            for k in STATS:
                out[f"{n}.{k}"] = agg[n][k]
        return out

    def _skew(self, att: dict) -> float:
        """Longest task / median task run time of one stage attempt."""
        try:
            tasks = self._api(
                f"/stages/{att['stageId']}/{att['attemptId']}/taskList"
                "?length=100000"
            )
        except OSError:
            return 0.0
        runs = [
            t["taskMetrics"]["executorRunTime"]
            for t in tasks
            if t.get("status") == "SUCCESS" and t.get("taskMetrics")
        ]
        if not runs:
            return 0.0
        # run times are whole milliseconds: floor the median at 1 ms
        return max(runs) / max(statistics.median(runs), 1.0)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")
