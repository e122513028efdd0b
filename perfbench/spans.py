"""In-process spans around the engine's public layer functions, and a fold
of Spark's own event log into per-op job, stage and task figures.

Only the traced run (``--trace 1``) installs any of this; the untraced run
measures the end-to-end metrics with the program exactly as shipped.
"""

from __future__ import annotations

import functools
import json
import os
import time


class Tracer:
    """Spans held in memory: ``(name, start, end, parent, op)``.

    A span opened inside another span of the same layer (``lake.read``
    called by ``lake.upsert``, the staging ``sql_sink.create`` inside
    ``sql_sink.upsert``) is folded into its parent, so a layer's per-call
    time means one call from the layer above.  ``sql_sink.merge`` is the
    exception the layer table asks for by name.
    """

    ALWAYS = {"sql_sink.merge"}

    def __init__(self):
        self.spans: list[list] = []
        self.stack: list[int] = []
        self.op = -1
        self.counts: dict[str, list] = {}

    def call(self, name, fn, *args, **kwargs):
        layer = name.split(".", 1)[0]
        if name not in self.ALWAYS and any(
            self.spans[i][0].split(".", 1)[0] == layer for i in self.stack
        ):
            return fn(*args, **kwargs)
        parent = self.stack[-1] if self.stack else -1
        idx = len(self.spans)
        self.spans.append([name, time.perf_counter(), None, parent, self.op])
        self.stack.append(idx)
        try:
            return fn(*args, **kwargs)
        finally:
            self.spans[idx][2] = time.perf_counter()
            self.stack.pop()

    def count(self, name: str, value: float) -> None:
        self.counts.setdefault(name, []).append((self.op, value))

    def self_times(self) -> list[tuple[str, float, int]]:
        """``(name, self seconds, op)`` per span: its duration minus the
        part its direct children cover (children never overlap, because
        the engine calls its layers from one thread)."""
        child = [0.0] * len(self.spans)
        for name, start, end, parent, _ in self.spans:
            if parent >= 0:
                child[parent] += end - start
        return [
            (s[0], (s[2] - s[1]) - child[i], s[4]) for i, s in enumerate(self.spans)
        ]


def _patch_function(tracer, module, attr, name):
    fn = getattr(module, attr)

    @functools.wraps(fn)
    def wrapped(*args, **kwargs):
        return tracer.call(name, fn, *args, **kwargs)

    setattr(module, attr, wrapped)


def _patch_method(tracer, cls, attr, name_of):
    fn = cls.__dict__[attr]

    @functools.wraps(fn)
    def wrapped(self, *args, **kwargs):
        return tracer.call(name_of(self, args, kwargs), fn, self, *args, **kwargs)

    setattr(cls, attr, wrapped)


def install(tracer: Tracer) -> None:
    """Wrap the public layer entry points.  Modules that import a function
    by name hold their own binding, so each binding is patched where it
    is looked up (``operators.lake`` calls its own ``ensure_unique_keys``,
    not ``checks.ensure_unique_keys``)."""
    from df_to_azure_spark import api, checks, schema
    from df_to_azure_spark.operators import lake, manifest, sql_sink, upsert
    from df_to_azure_spark.operators.lake import ParquetLake
    from df_to_azure_spark.operators.manifest import VersionedLake
    from df_to_azure_spark.operators.sql_sink import SqlSink

    _patch_function(tracer, api, "df_to_spark", "api.df_to_spark")
    _patch_function(tracer, checks, "is_empty", "checks.is_empty")
    for mod in (checks, lake, manifest, sql_sink, upsert):
        if hasattr(mod, "ensure_unique_keys"):
            _patch_function(tracer, mod, "ensure_unique_keys", "checks.unique_keys")
    _patch_function(tracer, schema, "infer_sql_schema", "schema.infer")

    def lake_name(method):
        return lambda self, a, k: (
            f"{'manifest' if isinstance(self, VersionedLake) else 'lake'}.{method}"
        )

    for attr in ("create", "append", "upsert", "read"):
        _patch_method(tracer, ParquetLake, attr, lake_name(attr))
    for attr in ("create", "append", "read"):
        _patch_method(tracer, VersionedLake, attr, lake_name(attr))
    _install_scan(tracer, VersionedLake)

    for attr in ("create", "append", "upsert", "read"):
        _patch_method(tracer, SqlSink, attr, lambda s, a, k, m=attr: f"sql_sink.{m}")
    _patch_method(
        tracer,
        SqlSink,
        "execute",
        lambda s, a, k: "sql_sink.merge"
        if str(a[0] if a else k.get("sql", "")).lstrip().upper().startswith("MERGE")
        else "sql_sink.execute",
    )


def _install_scan(tracer: Tracer, VersionedLake) -> None:
    """``VersionedLake.scan`` is the filtered (zone-map pruned) read.  After
    the span closes, count the files the planned scan will read against
    the files in the snapshot it planned over."""
    fn = VersionedLake.scan

    @functools.wraps(fn)
    def scan(self, table, predicates, version=None, merge_schema=False):
        df = tracer.call(
            "manifest.read", fn, self, table, predicates, version, merge_schema
        )
        v = self.current_version(table) if version is None else version
        in_snapshot = len(self.resolve_manifest(table, v)["files"])
        if in_snapshot:
            tracer.count("manifest.files_read_ratio", len(df.inputFiles()) / in_snapshot)
        return df

    VersionedLake.scan = scan


# -- Spark event log ------------------------------------------------------


def event_log_conf(log_dir: str) -> dict[str, str]:
    # Spark 4 compresses event logs with zstd by default; this interpreter
    # has no zstd module, so the log is written plain.
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
    }


def fold_event_log(log_dir: str, ops: list[dict]) -> None:
    """Attach ``jobs, stages, tasks, run_ms, gc_ms, shuffle_bytes,
    spill_bytes, stage_cover_ms`` to each op dict (which carries ``group``,
    ``t0``/``t1`` in epoch seconds).  A job belongs to the op whose job
    group it carries; a job started from an engine thread pool that did
    not inherit the group falls back to the op whose window holds its
    submission time, and is counted in ``ungrouped_jobs``."""
    # Spark 4 writes a rolling log: a directory of ``events_<n>_*`` parts
    files = sorted(
        (os.path.join(d, f) for d, _, fs in os.walk(log_dir) for f in fs
         if f.startswith("events_")),
        key=lambda p: int(os.path.basename(p).split("_")[1]),
    )
    by_group = {op["group"]: op for op in ops}
    windows = sorted((op["t0"] * 1e3, op["t1"] * 1e3, op) for op in ops)
    stage_op: dict[int, dict] = {}
    stage_span: dict[int, tuple[float, float]] = {}
    for op in ops:
        op.update(jobs=0, stages=0, tasks=0, run_ms=0, gc_ms=0,
                  shuffle_bytes=0, spill_bytes=0, ungrouped_jobs=0)
    for f in files:
        with open(f) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    op = by_group.get(props.get("spark.jobGroup.id"))
                    if op is None:
                        t = ev.get("Submission Time", 0)
                        op = next((o for a, b, o in windows if a <= t <= b), None)
                        if op is not None:
                            op["ungrouped_jobs"] += 1
                    if op is None:
                        continue
                    op["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_op.setdefault(sid, op)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    op = stage_op.get(info["Stage ID"])
                    if op is None or "Submission Time" not in info:
                        continue
                    op["stages"] += 1
                    stage_span[info["Stage ID"]] = (
                        info["Submission Time"], info.get("Completion Time", 0)
                    )
                elif kind == "SparkListenerTaskEnd":
                    op = stage_op.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics")
                    if op is None or not m:
                        continue
                    op["tasks"] += 1
                    op["run_ms"] += m.get("Executor Run Time", 0)
                    op["gc_ms"] += m.get("JVM GC Time", 0)
                    op["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    op["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
    for op in ops:
        spans = sorted(
            (max(a, op["t0"] * 1e3), min(b, op["t1"] * 1e3))
            for sid, (a, b) in stage_span.items()
            if stage_op.get(sid) is op
        )
        covered, end = 0.0, float("-inf")
        for a, b in spans:
            if b <= a:
                continue
            if a > end:
                covered += b - a
                end = b
            elif b > end:
                covered += b - end
                end = b
        op["stage_cover_ms"] = covered
