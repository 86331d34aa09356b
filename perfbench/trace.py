"""Traced runs: spans around calls into each module, replays of single
layers on the run's own inputs, and Spark's status-store counters.

Everything here is benchmark code. Public functions of the program are
wrapped at run time (``install``) only in a traced run and restored by
``finish``. Spans (name, start, end, parent, run id) stay in memory and
are written, with their self times, to
``.perfbench_out/trace-<workload>-<seed>.json`` at exit."""

from __future__ import annotations

import contextlib
import functools
import json
import os
import threading
import time

from perfbench import common

#: per-layer metric -> unit; every traced run reports all of them
UNITS = {
    "binlog.decode_rows_per_s": "1/s",
    "source.read_s": "s",
    "source.scans_per_batch": "count",
    "source.decode_amplification": "ratio",
    "source.decode_amp_low_fill": "ratio",
    "source.decode_amp_high_fill": "ratio",
    "source.latestOffset_ms": "ms",
    "projection.s": "s",
    "pipeline.route_s": "s",
    "pipeline.plan_s": "s",
    "stream.queryPlanning_ms": "ms",
    "stream.walCommit_ms": "ms",
    "stream.commitOffsets_ms": "ms",
    "stream.addBatch_ms": "ms",
    "stream.trigger_ms_p50": "ms",
    "stream.batches": "count",
    "sink.write_s": "s",
    "sink.commit_s": "s",
    "sink.bytes": "B",
    "sink.files": "count",
    "session.start_s": "s",
    "rss_peak_mb": "MB",
    "spark.jobs_per_epoch": "count",
    "spark.executor_cpu_s": "s",
    "gen.late_p99_ms": "ms",
    "visible.p50_ms": "ms",
    "visible.p99_ms": "ms",
    "overhead.items_per_s": "1/s",
    "overhead.visible.p50_ms": "ms",
    "overhead.visible.p99_ms": "ms",
}

#: (module, attribute, span name): the program's public calls wrapped
#: in a traced run. ``control.tasks`` imports ``start_pipeline`` by
#: name, so it is wrapped where it is looked up.
WRAPPED = (
    ("galaxy_spark.control.tasks", "start_pipeline", "pipeline.start"),
    ("galaxy_spark.streaming.pipeline", "transform_envelope",
     "pipeline.transform"),
    ("galaxy_spark.streaming.pipeline", "routed_messages", "pipeline.route"),
    ("galaxy_spark.streaming.pipeline", "dead_letter_messages",
     "pipeline.dlq"),
)
class Tracer:
    enabled = True

    def __init__(self, workload: str, seed: int) -> None:
        self.workload, self.seed = workload, seed
        self.run_id = f"{workload}-{seed}-{os.getpid()}"
        self.spans: list[dict] = []
        self._local = threading.local()
        self._restore: list[tuple] = []
        self.values: dict[str, float] = {}
        self.units = UNITS
        self._counters = None
        self._before = None
        self._t_before = 0.0
        self._spark = {"jobs": 0, "executor_cpu_s": 0.0}
        self._since = 0.0
        self.progress: list = []
        self.scans = 0

    # -- spans ---------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str, run_id: str | None = None):
        if not self._since:
            yield None               # untraced phase of a traced run
            return
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {"id": len(self.spans), "name": name,
               "parent": stack[-1]["id"] if stack else None,
               "run_id": run_id or self.run_id,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()

    def self_times(self) -> dict[str, float]:
        """Per span name: summed duration minus the part covered by
        its child spans."""
        child = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + (
                    s["end"] - s["start"])
        out: dict[str, float] = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            own = s["end"] - s["start"] - child.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def _wrap(self, owner, attr: str, name: str) -> None:
        orig = getattr(owner, attr)

        def wrapper(*a, __orig=orig, __name=name, **k):
            with self.span(__name):
                return __orig(*a, **k)

        functools.update_wrapper(wrapper, orig)
        self._restore.append((owner, attr, owner.__dict__.get(attr)))
        setattr(owner, attr, wrapper)

    def install(self, spark) -> None:
        import importlib

        for mod_name, attr, name in WRAPPED:
            self._wrap(importlib.import_module(mod_name), attr, name)
        self._counters = common.SparkCounters(spark)
        self._before = self._counters.snapshot()
        self._t_before = time.perf_counter()
        self._since = time.time()

    # -- streaming query progress, plan and Spark counters -------------
    def streaming(self, q) -> None:
        """At the end of the traced measuring phase: the progress
        reports of ``q`` made since ``install``, the source scans in its
        executed plan and the Spark work done since ``install``."""
        from datetime import datetime

        if not self._since:
            return

        def ts(p) -> float:
            return datetime.fromisoformat(
                p["timestamp"].replace("Z", "+00:00")).timestamp()

        self.progress = [p for p in q.recentProgress
                         if ts(p) >= self._since]
        plan = (q._jsq.streamingQuery().lastExecution().executedPlan()
                .toString())
        self.scans = plan.count("MicroBatchScan")
        self._spark = common.SparkCounters.delta(
            self._before, self._counters.snapshot(),
            time.perf_counter() - self._t_before)

    def _stream_values(self) -> None:
        prog = [p for p in self.progress if p["numInputRows"] > 0]
        dur = [p["durationMs"] for p in prog]
        for key in ("queryPlanning", "walCommit", "commitOffsets",
                    "addBatch"):
            self.values[f"stream.{key}_ms"] = common.median(
                [d.get(key, 0) for d in dur])
        self.values["stream.trigger_ms_p50"] = common.median(
            [d["triggerExecution"] for d in dur])
        self.values["stream.batches"] = len(prog)
        self.values["source.latestOffset_ms"] = common.median(
            [p["durationMs"].get("latestOffset", 0)
             for p in self.progress])
        self.values["source.scans_per_batch"] = self.scans
        self.values["spark.jobs_per_epoch"] = (
            self._spark["jobs"] / max(1, len(prog)))
        self.values["spark.executor_cpu_s"] = self._spark["executor_cpu_s"]

    # -- CDC layer replays -----------------------------------------------
    def cdc_after(self, spark, seg_dir: str, decode_dir: str,
                  files) -> None:
        """After ``streaming``: sink output of the measured task (its
        published ``files``), then the per-layer replays: the source
        over the task's segment directory ``seg_dir``, and decode,
        projection, routing and sink over the segments of
        ``decode_dir``."""
        if not self._since:
            return
        self.values["sink.bytes"] = sum(os.path.getsize(f) for f in files)
        self.values["sink.files"] = len(files)
        self._source_replay(seg_dir)
        self._decode_replay(decode_dir)
        self._frame_replays(spark)

    def _source_replay(self, seg_dir: str) -> None:
        """``BinlogStreamReader.read`` over each batch's offset range.
        The decode amplification is the bytes the reader hands to
        ``cdc.binlog.decode_binlog``, counted by a wrapper for the
        replay, over the bytes the range newly consumes."""
        from galaxy_spark.cdc import binlog
        from galaxy_spark.sources.binlog_source import BinlogStreamReader

        reader = BinlogStreamReader({"path": seg_dir})
        sizes = {f: os.path.getsize(os.path.join(seg_dir, f))
                 for f in os.listdir(seg_dir)}
        decoded = [0]
        orig = binlog.decode_binlog

        def counting(blob, *a, **k):
            decoded[0] += len(blob)
            return orig(blob, *a, **k)

        consumed = 0
        fill = {"low": [0, 0], "high": [0, 0]}
        binlog.decode_binlog = counting
        try:
            with self.span("source.read"):
                for p in self.progress:
                    src = json.loads(p.json)["sources"][0]
                    start, end = src["startOffset"], src["endOffset"]
                    if start is None:
                        start = reader.initialOffset()
                    for part in reader.partitions(start, end):
                        before = decoded[0]
                        for _row in reader.read(part):
                            pass
                        new = part.end_pos - part.start_pos
                        consumed += new
                        half = ("low" if part.start_pos
                                < sizes[part.fname] / 2 else "high")
                        fill[half][0] += decoded[0] - before
                        fill[half][1] += new
        finally:
            binlog.decode_binlog = orig
        decoded = decoded[0]
        self.values["source.decode_amplification"] = decoded / max(1, consumed)
        for half, (d, c) in fill.items():
            self.values[f"source.decode_amp_{half}_fill"] = (
                d / c if c else 0.0)

    def _decode_replay(self, seg_dir: str) -> None:
        from galaxy_spark.cdc.binlog import decode_binlog

        self._events = []
        with self.span("binlog.decode") as s:
            for f in sorted(os.listdir(seg_dir)):
                with open(os.path.join(seg_dir, f), "rb") as fh:
                    self._events.append((f, decode_binlog(fh.read())))
        rows = sum(len(e.rows) for _f, evs in self._events for e in evs
                   if e.kind in ("insert", "update", "delete"))
        self.values["binlog.decode_rows_per_s"] = rows / (
            s["end"] - s["start"])

    def _frame_replays(self, spark) -> None:
        """projection, routing and the sink writer, each over the
        decoded segments as a static frame."""
        from pyspark.sql import functions as F

        from galaxy_spark.cdc.filters import TaskFilter
        from galaxy_spark.sinks_topic import TopicFilesStreamWriter
        from galaxy_spark.sources.binlog_source import SCHEMA
        from galaxy_spark.streaming import pipeline

        from perfbench import gen

        rows = [(e.database, e.table, e.kind, r, e.timestamp, e.log_pos, f)
                for f, evs in self._events for e in evs
                if e.kind in ("insert", "update", "delete") for r in e.rows]
        raw = spark.createDataFrame(rows, SCHEMA)
        env = raw.select(
            "database", "table", "action", "org_row",
            F.struct(F.col("ts_sec").alias("timestamp"),
                     F.col("log_pos").alias("log_pos"))
            .alias("event_header")).cache()
        env.count()
        tf = TaskFilter(databases=("shop",))
        with self.span("projection"):
            pipeline.transform_envelope(env, tf, list(gen.COLUMNS)) \
                .write.format("noop").mode("overwrite").save()
        projected = pipeline.transform_envelope(
            env, tf, list(gen.COLUMNS)).cache()
        projected.count()
        msgs = pipeline.routed_messages(
            projected.filter(~F.col("quarantined")), "replay").unionByName(
            pipeline.dead_letter_messages(projected, "replay"))
        with self.span("pipeline.route_replay"):
            msgs.write.format("noop").mode("overwrite").save()
        out = msgs.collect()
        env.unpersist()
        projected.unpersist()
        writer = TopicFilesStreamWriter(
            {"path": os.path.join(os.environ["TMPDIR"], "sink-replay")})
        with self.span("sink.write"):
            staged = writer.write(iter(out))
        with self.span("sink.commit"):
            writer.commit([staged], 0)

    # -- result --------------------------------------------------------
    def finish(self, layers: dict, traced: dict, untraced: dict) -> dict:
        """Restore the wrapped calls and reduce everything to the
        per-layer metrics. ``traced``/``untraced`` are the run summaries
        of the two measuring phases; latency comes from the untraced
        one."""
        for owner, attr, orig in reversed(self._restore):
            if orig is None:
                delattr(owner, attr)     # the class inherited it
            else:
                setattr(owner, attr, orig)
        self._stream_values()
        st = self.self_times()
        vals = dict(self.values)
        vals["source.read_s"] = st.get("source.read", 0.0)
        vals["projection.s"] = st.get("projection", 0.0)
        vals["pipeline.route_s"] = st.get("pipeline.route_replay", 0.0)
        vals["pipeline.plan_s"] = sum(
            st.get(n, 0.0) for _m, _a, n in WRAPPED)
        vals["sink.write_s"] = st.get("sink.write", 0.0)
        vals["sink.commit_s"] = st.get("sink.commit", 0.0)
        vals.update(layers)
        vals["overhead.items_per_s"] = (traced["items_per_s"]
                                        - untraced["items_per_s"])
        for q in ("p50", "p99"):
            vals[f"visible.{q}_ms"] = untraced[f"lat_{q}_ms"]
            vals[f"overhead.visible.{q}_ms"] = (traced[f"lat_{q}_ms"]
                                                - untraced[f"lat_{q}_ms"])
        out_dir = os.path.join(common.ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(
                out_dir, f"trace-{self.workload}-{self.seed}.json"),
                "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans,
                       "self_time_s": st}, f)
        return {k: float(vals.get(k, 0.0)) for k in self.units}

