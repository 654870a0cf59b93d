"""Per-layer spans and Spark work counts, taken from the benchmark side.

Nothing here edits the engine package. Spans are timed around the
calls the benchmark makes into each layer; Spark jobs are attributed
to a span by giving every span its own job group
(``spark.jobGroup.id``) and resolving the groups after the pass, once
the listener bus has drained. A streaming query runs its micro-batch
jobs under its own job group, its run id; each run id counts toward the
span that was open when the query started. Catalog spans come from a
timing wrapper installed over every module-level binding of
``catalog.load_table``.

Access paths (checked on Spark 4.1.2): ``statusTracker()`` for job,
stage and task counts per group; the 5-argument
``statusStore().stageList`` for stage byte and CPU totals; a Python
``StreamingQueryListener`` for micro-batch progress.
"""

from __future__ import annotations

import sys
import time
from collections import defaultdict
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener

GROUP = "spark.jobGroup.id"


class StreamStats(StreamingQueryListener):
    """Micro-batch totals; ``state_rows`` keeps each query's last size.

    ``runs`` maps each layer to the run ids of the queries started while
    one of its spans was the innermost open span. Spark calls
    ``onQueryStarted`` before ``start()`` returns, so that span is the
    one that started the query."""

    def __init__(self, open_layer) -> None:
        self.open_layer = open_layer
        self.runs: dict[str, list[str]] = defaultdict(list)
        self.batches = 0
        self.batch_ms = 0
        self.input_rows = 0
        self.state_rows: dict[str, int] = {}

    def onQueryStarted(self, event) -> None:
        self.runs[self.open_layer()].append(str(event.runId))

    def onQueryProgress(self, event) -> None:
        p = event.progress
        self.batches += 1
        self.batch_ms += p.batchDuration
        self.input_rows += p.numInputRows
        self.state_rows[str(p.id)] = sum(s.numRowsTotal for s in p.stateOperators)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


class Tracer:
    """Collects spans per layer for one Spark session."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.secs: dict[str, float] = defaultdict(float)
        self.calls: dict[str, int] = defaultdict(int)
        self.groups: dict[str, list[str]] = defaultdict(list)
        # seconds per query and layer; a build span includes its catalog calls
        self.by_query: dict[str, dict[str, float]] = defaultdict(
            lambda: defaultdict(float)
        )
        self._open: list[str] = []
        self.streams = StreamStats(lambda: self._open[-1] if self._open else "")
        self._query = ""
        self._n = 0
        self._patched: list[tuple[object, object]] = []
        self._first_stage = self._next_stage_id()

    @contextmanager
    def span(self, layer: str, query: str | None = None):
        """Time the block and tag the Spark jobs it starts with ``layer``.

        Spans without a query (catalog calls) belong to the query whose
        span is open."""
        if query is not None:
            self._query = query
        self._n += 1
        gid = f"perfbench-{layer}-{self._n}"
        prev = self.sc.getLocalProperty(GROUP)
        self.sc.setLocalProperty(GROUP, gid)
        self._open.append(layer)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            dt = time.perf_counter() - t0
            self._open.pop()
            self.secs[layer] += dt
            self.by_query[self._query][layer] += dt
            self.calls[layer] += 1
            self.groups[layer].append(gid)
            self.sc.setLocalProperty(GROUP, prev)

    def install(self) -> None:
        """Wrap ``catalog.load_table`` wherever a module binds it by name,
        and start listening to streaming progress."""
        from infofarmsparkml_spark import catalog

        original = catalog.load_table

        def load_table(*args, **kwargs):
            with self.span("catalog"):
                return original(*args, **kwargs)

        for mod in list(sys.modules.values()):
            if getattr(mod, "load_table", None) is original:
                mod.load_table = load_table
                self._patched.append((mod, original))
        self.spark.streams.addListener(self.streams)

    def uninstall(self) -> None:
        for mod, original in self._patched:
            mod.load_table = original
        self._patched.clear()
        self.spark.streams.removeListener(self.streams)

    def _drain(self) -> None:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def _next_stage_id(self) -> int:
        self._drain()
        ids = [s.stageId() for s in self._stages()]
        return max(ids, default=-1) + 1

    def _stages(self) -> list:
        store = self.sc._jsc.sc().statusStore()
        no_quantiles = self.sc._gateway.new_array(self.sc._gateway.jvm.double, 0)
        seq = store.stageList(None, False, False, no_quantiles, None)
        return [seq.apply(i) for i in range(seq.size())]

    def work(self, layer: str) -> tuple[int, int, int]:
        """(jobs, stages run, tasks run) started inside ``layer`` spans,
        micro-batches of the streaming queries they started included.

        A stage whose output a later job reuses is listed by that job
        too but runs no tasks there; only stages that ran count."""
        tracker = self.sc.statusTracker()
        groups = self.groups[layer] + self.streams.runs[layer]
        jobs = [j for g in groups for j in tracker.getJobIdsForGroup(g)]
        stage_ids = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        stages = tasks = 0
        for sid in stage_ids:
            info = tracker.getStageInfo(sid)
            if info is not None and info.numCompletedTasks > 0:
                stages += 1
                tasks += info.numCompletedTasks
        return len(jobs), stages, tasks

    def stage_totals(self) -> dict[str, float]:
        """Byte, CPU and failure totals over the stages run since the
        tracer was created."""
        tot = dict.fromkeys(
            (
                "shuffle_write_bytes",
                "shuffle_read_bytes",
                "spill_bytes",
                "input_bytes",
                "output_bytes",
                "executor_cpu_s",
                "failed_tasks",
            ),
            0.0,
        )
        for s in self._stages():
            if s.stageId() < self._first_stage:
                continue
            tot["shuffle_write_bytes"] += s.shuffleWriteBytes()
            tot["shuffle_read_bytes"] += s.shuffleReadBytes()
            tot["spill_bytes"] += s.diskBytesSpilled()
            tot["input_bytes"] += s.inputBytes()
            tot["output_bytes"] += s.outputBytes()
            tot["executor_cpu_s"] += s.executorCpuTime() / 1e9
            tot["failed_tasks"] += s.numFailedTasks()
        return tot

    def layer_metrics(self) -> dict[str, float]:
        """Every per-layer figure since the tracer was created."""
        self._drain()
        out: dict[str, float] = {
            "catalog.load_table.calls": self.calls["catalog"],
            "catalog.load_table.s": self.secs["catalog"],
            "catalog.load_table.jobs": self.work("catalog")[0],
            # build spans contain the catalog spans: report self time
            "operators.build.s": self.secs["build"] - self.secs["catalog"],
            "plan.s": self.secs["plan"],
            "exec.s": self.secs["exec"],
        }
        for layer, prefix in (("build", "operators.build"), ("exec", "exec")):
            jobs, stages, tasks = self.work(layer)
            out[f"{prefix}.jobs"] = jobs
            out[f"{prefix}.stages"] = stages
            out[f"{prefix}.tasks"] = tasks
        for k, v in self.stage_totals().items():
            out[f"stages.{k}"] = v
        out["streaming.batches"] = self.streams.batches
        out["streaming.batch_s"] = self.streams.batch_ms / 1000.0
        out["streaming.input_rows"] = self.streams.input_rows
        out["streaming.state_rows"] = sum(self.streams.state_rows.values())
        return out
