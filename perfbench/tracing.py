"""Tracing for the benchmark's traced runs (``--trace 1``).

Spans are recorded from the benchmark's own files only: ``install``
wraps the engine's public layer entry points with timing shims, and the
runner opens a span around every call it makes into the engine. Each
span carries a name, start, end, parent span and operation id, and is
kept in memory until the run ends.

While a span is open its Spark job group is ``span-<id>``, so every job
Spark runs is attributed to the innermost open span. After each
operation the runner calls ``collect_jobs``, which reads the jobs of
each span's group back from the application status store (it works
with the UI disabled) and sums the stage metrics per span.
"""

from __future__ import annotations

import functools
import importlib
import sys
import time
from contextlib import contextmanager

#: span name -> (module, attribute path) of the engine entry point the
#: shim wraps. Every binding of the wrapped function in a loaded
#: ``pipelines_spark`` module is replaced, so ``from x import f`` call
#: sites are traced too.
SHIMS = {
    "queries.register": ("pipelines_spark.queries", "register"),
    "sinks.write": ("pipelines_spark.sinks.partitioned", "write_partitioned"),
    "sinks.staging_table": ("pipelines_spark.sinks.partitioned", "create_staging_table"),
    "logs.append": ("pipelines_spark.sinks.logs", "append_capture_log"),
    "watermark.read": ("pipelines_spark.state.watermark", "WatermarkStore.get_table_watermark"),
    "watermark.advance": ("pipelines_spark.state.watermark", "WatermarkStore.set_table_watermark"),
    "models.run": ("pipelines_spark.plans.models", "ModelRunner.run"),
    "checks.run": ("pipelines_spark.plans.checks", "run_checks"),
    "flows.capture_window": ("pipelines_spark.flows", "run_capture_window"),
}

#: DataFrame methods that pin blocks in executor storage; each call is
#: a ``staging.persist`` span.
PERSIST_METHODS = ("persist", "cache", "localCheckpoint", "checkpoint")

#: status-store stage fields summed per span -> StageData accessor
STAGE_FIELDS = {
    "tasks": "numTasks",
    "input_bytes": "inputBytes",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "spill_memory_bytes": "memoryBytesSpilled",
    "spill_disk_bytes": "diskBytesSpilled",
    "executor_run_ms": "executorRunTime",
    "executor_cpu_ns": "executorCpuTime",
    "jvm_gc_ms": "jvmGcTime",
}


class Tracer:
    """Span recorder. Inactive (``enabled = False``) it adds one
    attribute check per shimmed call and touches no job group."""

    def __init__(self, spark):
        self.spark = spark
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._op: str | None = None
        self._pending: list[dict] = []

    # -- spans ---------------------------------------------------------

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "op": self._op,
            "parent": parent["id"] if parent else None,
        }
        self.spans.append(rec)
        self._pending.append(rec)
        self._stack.append(rec)
        sc = self.spark.sparkContext
        sc.setJobGroup(f"span-{rec['id']}", name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                sc.setJobGroup(f"span-{parent['id']}", parent["name"])
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)

    @contextmanager
    def op(self, op_id: str, name: str):
        """Root span of one benchmark operation."""
        self._op = op_id
        try:
            with self.span(name) as rec:
                yield rec
        finally:
            self._op = None

    # -- shims ---------------------------------------------------------

    def _wrap(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def shim(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            with tracer.span(name):
                return fn(*args, **kwargs)

        return shim

    def install(self) -> None:
        """Wrap every entry point in ``SHIMS`` and the DataFrame
        persist methods, for the rest of the process."""
        for name, (mod_name, attr) in SHIMS.items():
            owner = importlib.import_module(mod_name)
            *path, leaf = attr.split(".")
            for part in path:
                owner = getattr(owner, part)
            original = getattr(owner, leaf)
            shim = self._wrap(name, original)
            setattr(owner, leaf, shim)
            if not path:  # module function: rebind every imported copy
                for mod in list(sys.modules.values()):
                    if mod is None or not mod.__name__.startswith("pipelines_spark"):
                        continue
                    for key, value in list(vars(mod).items()):
                        if value is original:
                            setattr(mod, key, shim)
        df_cls = type(self.spark.range(1))
        for meth in PERSIST_METHODS:
            setattr(df_cls, meth, self._wrap("staging.persist", getattr(df_cls, meth)))

    # -- status store ----------------------------------------------------

    def collect_jobs(self) -> None:
        """Attach job and stage totals to every span closed since the
        last call. Waits for the listener bus first, so the status
        store holds every job the spans launched."""
        if not self._pending:
            return
        jsc = self.spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.spark.sparkContext.statusTracker()
        for rec in self._pending:
            totals = {"jobs": 0, "stages": 0, **{k: 0 for k in STAGE_FIELDS}}
            for job_id in tracker.getJobIdsForGroup(f"span-{rec['id']}"):
                totals["jobs"] += 1
                stage_ids = store.job(job_id).stageIds()
                for i in range(stage_ids.size()):
                    stage = store.lastStageAttempt(stage_ids.apply(i))
                    if stage.status().toString() == "SKIPPED":
                        continue
                    totals["stages"] += 1
                    for key, getter in STAGE_FIELDS.items():
                        totals[key] += int(getattr(stage, getter)())
            rec["self_jobs"] = totals
        self._pending.clear()


def storage_snapshot(spark) -> tuple[int, int]:
    """(bytes, rdds) currently cached in executor storage, memory plus
    disk, from the block manager."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(int(i.memSize()) + int(i.diskSize()) for i in infos), len(infos)
