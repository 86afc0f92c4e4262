"""Per-layer measurement from the benchmark side, without the Spark UI.

Jobs are attributed to layers by the job group the benchmark sets around
them; the per-stage executor numbers come from Spark's status store, which
is kept with ``spark.ui.enabled=false``. A stage shared by several jobs is
counted once, for the first job that ran it.
"""

from __future__ import annotations

import time
from dataclasses import dataclass

GROUP_PREFIX = "perfbench:"


@dataclass
class LayerStats:
    wall_s: float = 0.0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    shuffle_write_mb: float = 0.0
    rows_out: int = 0
    failed_tasks: int = 0

    def add_stage(self, s) -> None:
        self.executor_run_s += s.executorRunTime() / 1e3
        self.executor_cpu_s += s.executorCpuTime() / 1e9
        self.shuffle_write_mb += s.shuffleWriteBytes() / 1e6
        self.failed_tasks += s.numFailedTasks()


@dataclass
class Job:
    group: str | None
    stage_ids: list


class StatusStore:
    """Read-only view of the SparkContext's status store."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._jvm = sc._jvm
        self._gateway = sc._gateway

    def _seq(self, seq) -> list:
        return list(self._jvm.scala.jdk.javaapi.CollectionConverters
                    .asJava(seq))

    @staticmethod
    def _opt(o):
        return o.get() if o.isDefined() else None

    def jobs(self) -> dict:
        # the listener bus is asynchronous: wait until every finished job
        # and stage has reached the store
        self._jsc.listenerBus().waitUntilEmpty()
        store = self._jsc.statusStore()
        return {j.jobId(): Job(self._opt(j.jobGroup()),
                               [int(s) for s in self._seq(j.stageIds())])
                for j in self._seq(store.jobsList(None))}

    def stages(self) -> dict:
        store = self._jsc.statusStore()
        no_quantiles = self._gateway.new_array(self._jvm.double, 0)
        out: dict = {}
        for s in self._seq(store.stageList(None, False, False, no_quantiles,
                                           None)):
            if str(s.status()) in ("COMPLETE", "FAILED"):
                out.setdefault(s.stageId(), []).append(s)
        return out

    def layer_stats(self, job_layer) -> dict:
        """{layer: LayerStats} over every job ``job_layer(job)`` maps to a
        layer name (None skips the job). Wall time is left to the caller."""
        jobs = self.jobs()
        stages = self.stages()
        seen: set = set()
        out: dict = {}
        for jid in sorted(jobs):
            layer = job_layer(jobs[jid])
            if layer is None:
                continue
            stats = out.setdefault(layer, LayerStats())
            for sid in jobs[jid].stage_ids:
                if sid in seen:
                    continue
                seen.add(sid)
                for attempt in stages.get(sid, []):
                    stats.add_stage(attempt)
        return out


class TracingRunner:
    """``stage_runner`` for ``pipeline.resolve_*``: runs each stage under
    its own job group, materializes it with an eager ``localCheckpoint``,
    and records its wall time. ``rows()`` counts the stage outputs after
    the pass, so the counting is no part of any stage's time."""

    def __init__(self, spark, layer_of_stage: dict):
        self.sc = spark.sparkContext
        self.layer_of_stage = layer_of_stage
        self.wall: dict = {}
        self.outputs: dict = {}

    def __call__(self, name: str, build, **hints):
        layer = self.layer_of_stage[name]
        self.sc.setJobGroup(GROUP_PREFIX + layer, f"stage:{name}")
        t0 = time.perf_counter()
        df = build().localCheckpoint(eager=True)
        self.wall[layer] = time.perf_counter() - t0
        self.outputs[layer] = df
        clear_group(self.sc)
        return df

    def rows(self) -> dict:
        return {layer: df.count() for layer, df in self.outputs.items()}


def clear_group(sc) -> None:
    sc.setLocalProperty("spark.jobGroup.id", None)
    sc.setLocalProperty("spark.job.description", None)


def group_layer(job: Job) -> str | None:
    """Layer of a job tagged by TracingRunner."""
    g = job.group or ""
    return g[len(GROUP_PREFIX):] if g.startswith(GROUP_PREFIX) else None
