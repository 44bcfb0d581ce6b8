"""Per-layer tracing for the benchmark's traced runs.

Nothing here edits the library. The tracer

- wraps every public function of each layer module in a span (name,
  start, end, parent, iteration). A span opens only where a call crosses
  into a layer from outside it, so a layer's calls to its own functions
  stay inside one span;
- gives each span its own Spark job group and restores the caller's
  group on exit, so every job is attributed to the innermost layer that
  started it (jobs in the iteration's own group are the action phase);
- counts Py4J round trips at the client;
- reads jobs and stages back from the live status store as JSON after
  each iteration, outside the timed region.

A layer's self time is its span time minus the time of spans it caused.

Which end-to-end metric each layer metric should move:

- ``utils.*``: ``iter_s`` on factor_tear_sheet (the three loss-accounting
  counts); no change on corpus_curation.
- ``performance.call_s``, ``tears.*``, ``spark.py4j_calls``: ``iter_s`` on
  factor_tear_sheet (driver-side construction).
- ``spark.action_s``, ``spark.exec_cpu_s``, ``spark.stages``: ``iter_s``
  and ``cpu_s`` on factor_tear_sheet.
- ``scale.text.call_s``, ``spark.nonjvm_s``: ``iter_s`` and ``cpu_s`` on
  corpus_curation (n-gram language ID, Arrow Python workers).
- ``scale.dedup.eager_jobs``, ``scale.curation.eager_jobs``,
  ``spark.shuffle_write_mb``: ``iter_s`` on corpus_curation
  (construction-time cache fills).
- ``graph.call_s``, ``graph.eager_jobs``, ``scale.affinity.*``: ``iter_s``
  and ``cache_mb`` on corpus_curation (checkpoint fills of the iterative
  operators).
- ``spark.task_skew``: ``iter_s`` on corpus_curation.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import statistics
import time

LAYERS = {
    "utils": "alphalens_spark.utils",
    "performance": "alphalens_spark.performance",
    "tears": "alphalens_spark.tears",
    "graph": "alphalens_spark.graph",
    "scale.dedup": "alphalens_spark.scale.dedup",
    "scale.text": "alphalens_spark.scale.text",
    "scale.curation": "alphalens_spark.scale.curation",
    "scale.affinity": "alphalens_spark.scale.affinity",
}
LAYER_FIELDS = (("call_s", "s"), ("eager_jobs", "count"), ("calls", "count"))
SPARK_FIELDS = (
    ("action_s", "s"), ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
    ("exec_run_s", "s"), ("exec_cpu_s", "s"), ("gc_s", "s"), ("nonjvm_s", "s"),
    ("shuffle_write_mb", "MB"), ("shuffle_read_mb", "MB"), ("spill_mb", "MB"),
    ("task_skew", "ratio"), ("py4j_calls", "count"),
)


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name with its unit, in report order."""
    units = {f"{layer}.{f}": u for layer in LAYERS for f, u in LAYER_FIELDS}
    units.update({f"spark.{f}": u for f, u in SPARK_FIELDS})
    units["trace.bookkeeping_s"] = "s"
    units["trace.iter_s"] = "s"
    return units


class Py4JCounter:
    """Counts ``send_command`` calls on one Py4J client while enabled."""

    def __init__(self, client) -> None:
        self.client = client
        self.count = 0
        self.enabled = False
        self._orig = client.send_command

        def send_command(*args, **kwargs):
            if self.enabled:
                self.count += 1
            return self._orig(*args, **kwargs)

        client.send_command = send_command

    def close(self) -> None:
        self.client.send_command = self._orig


class Tracer:
    """Spans, job groups and status-store readers for one Spark session."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.jvm = self.sc._jvm
        self.store = self.sc._jsc.sc().statusStore()
        mapper = self.jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala = getattr(self.jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        mapper.registerModule(getattr(scala, "MODULE$"))
        self.mapper = mapper
        self.py4j = Py4JCounter(self.sc._gateway._gateway_client)
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._patched: list[tuple] = []
        self.iteration = None
        self.bookkeeping_s = 0.0
        self._seen_jobs: set[int] = set()
        self._seen_jobs.update(j["jobId"] for j in self._jobs())

    # -- spans ---------------------------------------------------------------

    def _group(self) -> str:
        return self._stack[-1]["group"] if self._stack else f"pb-it{self.iteration}"

    def _set_group(self, group: str) -> None:
        t0 = time.perf_counter()
        self.py4j.enabled = False
        self.sc.setJobGroup(group, group)
        self.py4j.enabled = True
        self.bookkeeping_s += time.perf_counter() - t0

    def _wrap(self, layer: str, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def span(*args, **kwargs):
            if tracer._stack and tracer._stack[-1]["layer"] == layer:
                return fn(*args, **kwargs)
            rec = {
                "id": len(tracer.spans), "name": f"{layer}.{name}", "layer": layer,
                "iteration": tracer.iteration,
                "parent": tracer._stack[-1]["id"] if tracer._stack else None,
                "group": f"pb-sp{len(tracer.spans)}",
            }
            tracer.spans.append(rec)
            tracer._stack.append(rec)
            tracer._set_group(rec["group"])
            rec["start"] = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                rec["end"] = time.perf_counter()
                tracer._stack.pop()
                tracer._set_group(tracer._group())

        return span

    def install(self) -> None:
        for layer, modname in LAYERS.items():
            mod = importlib.import_module(modname)
            for name, fn in vars(mod).items():
                if (
                    not name.startswith("_")
                    and inspect.isfunction(fn)
                    and fn.__module__ == modname
                ):
                    self._patched.append((mod, name, fn))
                    setattr(mod, name, self._wrap(layer, name, fn))

    def uninstall(self) -> None:
        for mod, name, fn in self._patched:
            setattr(mod, name, fn)
        self._patched.clear()

    # -- one traced iteration ------------------------------------------------

    def begin(self, iteration: int) -> None:
        self.iteration = iteration
        self.install()
        self.bookkeeping_s = 0.0
        self._set_group(self._group())
        self.py4j.count = 0

    def end(self) -> None:
        self.py4j.enabled = False
        self.uninstall()
        self.sc.setJobGroup("pb-idle", "pb-idle")

    def _json(self, seq) -> list:
        return json.loads(self.mapper.writeValueAsString(seq))

    def _jobs(self) -> list:
        return self._json(self.store.jobsList(None))

    def _stages(self) -> list:
        q = self.sc._gateway.new_array(self.jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        return self._json(
            self.store.stageList(None, False, True, q, self.jvm.java.util.ArrayList())
        )

    def layer_record(self, iteration: int, wall_s: float) -> dict:
        """Per-layer metrics of one finished traced iteration."""
        spans = [s for s in self.spans if s["iteration"] == iteration]
        groups = {s["group"]: s["layer"] for s in spans}
        groups[f"pb-it{iteration}"] = "spark"
        jobs = [
            j for j in self._jobs()
            if j["jobId"] not in self._seen_jobs and j.get("jobGroup") in groups
        ]
        self._seen_jobs.update(j["jobId"] for j in jobs)
        stage_ids = {sid for j in jobs for sid in j["stageIds"]}
        stages = [
            s for s in self._stages()
            if s["stageId"] in stage_ids and s["status"] == "COMPLETE"
        ]

        rec = {f"{layer}.{f}": 0.0 for layer in LAYERS for f, _ in LAYER_FIELDS}
        child_s = {}
        for s in spans:
            if s["parent"] is not None:
                child_s[s["parent"]] = child_s.get(s["parent"], 0.0) + s["end"] - s["start"]
        top_s = 0.0
        for s in spans:
            dur = s["end"] - s["start"]
            rec[f"{s['layer']}.call_s"] += dur - child_s.get(s["id"], 0.0)
            rec[f"{s['layer']}.calls"] += 1
            if s["parent"] is None:
                top_s += dur
        for j in jobs:
            layer = groups[j["jobGroup"]]
            if layer != "spark":
                rec[f"{layer}.eager_jobs"] += 1

        run = sum(s["executorRunTime"] for s in stages) / 1e3
        cpu = sum(s["executorCpuTime"] for s in stages) / 1e9
        gc = sum(s["jvmGcTime"] for s in stages) / 1e3
        skew = 1.0
        for s in stages:
            d = s.get("taskMetricsDistributions") or {}
            q = d.get("executorRunTime")
            if s["numCompleteTasks"] >= 4 and q and q[0] > 0:
                skew = max(skew, q[1] / q[0])
        rec.update({
            "spark.action_s": wall_s - top_s,
            "spark.jobs": len(jobs),
            "spark.stages": len(stages),
            "spark.tasks": sum(s["numCompleteTasks"] for s in stages),
            "spark.exec_run_s": run,
            "spark.exec_cpu_s": cpu,
            "spark.gc_s": gc,
            "spark.nonjvm_s": run - cpu - gc,
            "spark.shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in stages) / 2**20,
            "spark.shuffle_read_mb": sum(s["shuffleReadBytes"] for s in stages) / 2**20,
            "spark.spill_mb": sum(
                s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in stages
            ) / 2**20,
            "spark.task_skew": skew,
            "spark.py4j_calls": self.py4j.count,
            "trace.bookkeeping_s": self.bookkeeping_s,
        })
        return rec

    def close(self) -> None:
        self.uninstall()
        self.py4j.close()


def medians(records: list[dict]) -> dict[str, float]:
    """Per-metric median over the traced iterations."""
    return {k: statistics.median(r[k] for r in records) for k in records[0]}
