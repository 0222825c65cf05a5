"""Spans around the calls into each layer, for the traced run.

The benchmark records spans from its own files: `install_worker` wraps
the public functions of each layer inside a PySpark worker process
(loaded through the hook module selected by `spark.python.worker.module`),
and `install_driver` wraps the driver-side ones. A span is
``(id, name, start, end, parent id, thread, info)``; spans stay in
memory and each task writes its own to ``task-<attempt>.json`` in the
directory named by the job's local property, before the task reports
back, so the file is complete when the job returns.

Tracing is switched per job by that local property: jobs without it run
through the wrappers with one flag test per call, which is how the
traced run measures its own overhead against untraced jobs.

`task_layers` turns one task's spans into per-layer self times: a
span's self time is its duration minus that of its children (children
run on the span's own thread, one after another). On the task's main
thread, the layer self times plus the task's own self time (the glue)
add up to the task span exactly; spans on other threads (the scan
readahead and the sink write-behind) are busy time that overlaps it.
"""

from __future__ import annotations

import itertools
import json
import os
import threading
import time
from collections import defaultdict

TRACE_DIR_PROP = "perfbench.trace_dir"
JOB_PROP = "perfbench.job"


class Tracer:
    def __init__(self):
        self.active = False
        self.spans: list[tuple] = []
        self._ids = itertools.count(1)
        self._tls = threading.local()

    def _stack(self) -> list:
        stack = getattr(self._tls, "stack", None)
        if stack is None:
            stack = self._tls.stack = []
        return stack

    def call(self, name: str, fn, args=(), kwargs=None, info=None):
        kwargs = kwargs or {}
        if not self.active:
            return fn(*args, **kwargs)
        stack = self._stack()
        sid = next(self._ids)
        parent = stack[-1] if stack else 0
        stack.append(sid)
        t0 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            t1 = time.perf_counter()
            stack.pop()
            self.spans.append((sid, name, t0, t1, parent,
                               threading.get_ident(), info))

    def iterate(self, name: str, it):
        """Each step of `it` is one span; info is 1 for a step that
        yielded an item and 0 for the step that ended the iterator."""
        if not self.active:
            return it
        return self._iterate(name, iter(it))

    def _iterate(self, name, it):
        stack = self._stack()
        while True:
            sid = next(self._ids)
            parent = stack[-1] if stack else 0
            stack.append(sid)
            t0 = time.perf_counter()
            got = 0
            try:
                item = next(it)
                got = 1
            except StopIteration:
                pass
            finally:
                t1 = time.perf_counter()
                stack.pop()
                self.spans.append((sid, name, t0, t1, parent,
                                   threading.get_ident(), got))
            if not got:
                return
            yield item


def _wrap(tracer: Tracer, name: str, fn, info=None):
    def traced(*args, **kwargs):
        return tracer.call(name, fn, args, kwargs,
                           info(*args) if info and tracer.active else None)
    traced.__wrapped__ = fn
    return traced


def install_worker(worker_module) -> Tracer:
    """Wrap the layer functions in this worker process. `worker_module`
    is `pyspark.worker`; its `read_udfs` (called once the task's context
    and local properties are known) opens the task span and its
    `report_times` (called once the task's output is written, before it
    reports back) closes it and writes the task's spans."""
    import dataclasses

    import pyarrow.parquet as pq
    from pyspark import TaskContext

    from rle_spark import blocks, selector, sources
    from rle_spark.codecs import registry

    tracer = Tracer()
    task: dict = {}

    for name, codec in list(registry.REGISTRY.items()):
        traced = dataclasses.replace(
            codec,
            encode=_wrap(tracer, f"codecs.enc.{name}", codec.encode,
                         lambda arr: 4 * len(arr)),
            decode=_wrap(tracer, f"codecs.dec.{name}", codec.decode,
                         lambda buf, n: 4 * n))
        registry.REGISTRY[name] = traced
        registry.BY_ID[codec.codec_id] = traced

    selector.block_stats = _wrap(tracer, "selector.stats",
                                 selector.block_stats)
    selector.select_and_encode = _wrap(tracer, "selector.select",
                                       selector.select_and_encode)
    selector.StickySelector.encode = _wrap(tracer, "selector.sticky",
                                           selector.StickySelector.encode)
    blocks.frame_payload = _wrap(tracer, "blocks.frame", blocks.frame_payload,
                                 lambda codec, n, payload: codec)
    blocks.decode_block = _wrap(tracer, "blocks.decode_block",
                                blocks.decode_block)

    readahead = sources._readahead
    sources._readahead = lambda *a, **k: tracer.iterate(
        "sources.scan_wait", readahead(*a, **k))
    iter_batches = pq.ParquetFile.iter_batches
    pq.ParquetFile.iter_batches = lambda self, *a, **k: tracer.iterate(
        "sources.scan", iter_batches(self, *a, **k))
    pq.ParquetWriter.write_batch = _wrap(
        tracer, "sources.sink", pq.ParquetWriter.write_batch,
        lambda self, rb, *a: rb.nbytes)
    pq.ParquetWriter.close = _wrap(tracer, "sources.sink_close",
                                   pq.ParquetWriter.close)
    # the only thread a task joins is the direct writer's write-behind
    # thread: the join is the sink time the overlap did not hide
    threading.Thread.join = _wrap(tracer, "sources.sink_wait",
                                  threading.Thread.join)

    read_udfs = worker_module.read_udfs
    report_times = worker_module.report_times

    def task_read_udfs(*args, **kwargs):
        tc = TaskContext.get()
        trace_dir = tc.getLocalProperty(TRACE_DIR_PROP) if tc else None
        if trace_dir:
            task.clear()
            task.update(dir=trace_dir, job=tc.getLocalProperty(JOB_PROP),
                        stage=tc.stageId(), partition=tc.partitionId(),
                        attempt=tc.taskAttemptId(),
                        main_thread=threading.get_ident(),
                        t0=time.perf_counter())
            tracer.spans = []
            tracer.active = True
        return read_udfs(*args, **kwargs)

    def task_report_times(*args, **kwargs):
        if tracer.active:
            t1 = time.perf_counter()
            tracer.active = False
            rec = dict(task, t1=t1, pid=os.getpid(), spans=tracer.spans)
            path = os.path.join(task["dir"], f"task-{task['attempt']}.json")
            with open(path + ".tmp", "w") as fh:
                json.dump(rec, fh)
            os.replace(path + ".tmp", path)
            tracer.spans = []
        return report_times(*args, **kwargs)

    worker_module.read_udfs = task_read_udfs
    worker_module.report_times = task_report_times
    return tracer


def install_driver() -> Tracer:
    """Wrap the driver-side layers of the encode job."""
    from rle_spark import sources
    tracer = Tracer()
    sources.plan_parquet_splits = _wrap(tracer, "sources.plan",
                                        sources.plan_parquet_splits)
    sources.manifest_from_lineage = _wrap(tracer, "sources.manifest",
                                          sources.manifest_from_lineage)
    return tracer


def load_tasks(trace_dir: str) -> list[dict]:
    out = []
    for f in sorted(os.listdir(trace_dir)):
        if f.endswith(".json"):
            with open(os.path.join(trace_dir, f)) as fh:
                out.append(json.load(fh))
    return out


def task_layers(rec: dict) -> dict:
    """Per-layer totals of one task: ``self.<name>`` seconds for spans on
    the task's main thread, ``busy.<name>`` seconds for spans on other
    threads, ``n.<name>`` span counts, plus ``glue`` (the task span's
    self time), ``task`` (its duration) and the selector counters."""
    spans = rec["spans"]
    main = rec["main_thread"]
    by_id = {s[0]: s for s in spans}
    child = defaultdict(float)
    kids = defaultdict(list)
    for sid, name, t0, t1, parent, thread, info in spans:
        if parent:
            child[parent] += t1 - t0
            kids[parent].append(name)
    out: dict = defaultdict(float)
    top_main = 0.0
    for sid, name, t0, t1, parent, thread, info in spans:
        self_t = (t1 - t0) - child[sid]
        side = "self" if thread == main else "busy"
        out[f"{side}.{name}"] += self_t
        out[f"n.{name}"] += 1
        if thread == main and not parent:
            top_main += t1 - t0
        if name.startswith(("codecs.enc.", "codecs.dec.")):
            out[f"bytes.{name}"] += info
            if name.startswith("codecs.enc.") and \
                    by_id.get(parent, (0, ""))[1] == "selector.select":
                out["trial_encodes"] += 1
                out["trial_s"] += t1 - t0
        elif name == "blocks.frame":
            out[f"blocks.{info}"] += 1
        elif name == "sources.scan":
            out["scan_batches"] += info
        elif name == "sources.sink":
            out["sink_bytes"] += info
        elif name == "selector.sticky":
            below = kids[sid]
            sel = "selector.select" in below
            enc = any(k.startswith("codecs.enc.") for k in below)
            if not sel:
                out["sticky_hits"] += 1
            elif enc:
                out["stale_fallbacks"] += 1
    out["task"] = rec["t1"] - rec["t0"]
    out["glue"] = out["task"] - top_main
    main_self = sum(v for k, v in out.items() if k.startswith("self."))
    out["accounting_error"] = abs(main_self + out["glue"] - out["task"])
    return out
