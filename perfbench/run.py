"""rle-spark benchmark: the encode and decode jobs, end to end.

    python3 perfbench/run.py --workload mixed_p4 --seed 1 --seconds 10 --trace 0

Generates the workload's corpus from the seed (cached under
``.perfbench_work/`` in the checkout), then drives the engine's public
job API through its own session factory, ``engine.get_spark(cpus=...)``:
``sources.encode_parquet_dir_direct`` (split planning, Spark job, sink,
manifest fold) and ``sources.decode_parquet_dir_summary`` (block scan,
``decode_block``, token arrays in the workers). An untraced run sets up
SETUPS sessions one after another, each warmed up; the last one then
runs ``--seconds`` of timed rounds (an encode job, then a decode job
of its output). Throughputs are medians over all timed jobs, set-up time
and worker memory medians over the sessions. Every run then gates
the last encode output: each block is decoded in the driver and
compared token for token with the corpus.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the same
jobs with the tracing worker hook, alternating traced and untraced jobs,
and prints the per-layer metrics (see METRICS.md). The last line of
stdout is the result JSON; the line before it, prefixed ``# info``,
holds the protocol version, host facts, corpus facts and raw walls.
The exit code is non-zero when any job or block fails.
"""

from __future__ import annotations

import argparse
import glob
import itertools
import json
import os
import shlex
import shutil
import signal
import sys
import tempfile
import time
from dataclasses import dataclass
from statistics import median

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HOOK_DIR = os.path.join(ROOT, "perfbench", "hook")
HOOK_MODULE = "pyspark_perfbench_worker"
PROTOCOL = "perfbench/1"

# sessions set up per run; setup_s is their median. The first also
# starts the JVM; each costs about a fifth of a run, which is what
# holds this at two. Only the last session runs timed jobs: in the
# first the JVM is still compiling, and its jobs ran 10-30% slower
SETUPS = 2
# a timed round is one encode job and then DECODES_PER_ENCODE decode
# jobs of its output; one, so that the encode median, the less steady
# of the two within a run, gets as many samples as the decode median.
# An untraced run times one round at least, and a traced run
# MIN_TRACED traced rounds at least
DECODES_PER_ENCODE = 1
MIN_TRACED = 3
# split planning unit: 1 byte makes every row group (128 docs) a unit
# of its own, so the byte-balanced planner evens the
# tasks out to within 2%; with 8 MiB units the largest task of a job
# carried 3-13% more bytes than the mean, by seed
SPLIT_BYTES = 1
# prctl option from <linux/prctl.h>
PR_SET_CHILD_SUBREAPER = 36


@dataclass(frozen=True)
class Workload:
    corpus: str
    cpus: int
    tokens: int  # corpus size: decoded bytes are 4x this


WORKLOADS = {
    "mixed_p4": Workload("mixed", 4, 56_000_000),
    "mixed_p1": Workload("mixed", 1, 56_000_000),
    "incompressible_p4": Workload("incompressible", 4, 32_000_000),
}


def prepare_env(work: str, trace: bool) -> None:
    """Keep Spark, the JVM and the Python workers inside the work dir,
    and select the tracing worker hook. Must run before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # -UsePerfData: a JVM would otherwise keep its perf file in /tmp;
    # the launcher's JVM takes it from SPARK_LAUNCHER_OPTS
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    args = ["--conf", "spark.ui.showConsoleProgress=false",
            "--driver-java-options",
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"]
    if trace:
        args += ["--conf", f"spark.python.worker.module={HOOK_MODULE}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])
    paths = [ROOT, HOOK_DIR] + [p for p in os.environ.get(
        "PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)


def stop_jvm() -> None:
    """End the JVM that the sessions ran in and wait for it: it exits
    when its stdin closes, which otherwise happens only as this
    process exits."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=120)
    SparkContext._gateway = None
    SparkContext._jvm = None


def adopt_orphans() -> None:
    """Make this process the subreaper of every process it starts: one
    whose parent ends first (a PySpark daemon or worker once the JVM has
    exited) is re-parented here instead of to init, so that
    `stop_descendants` can still find it and wait for it."""
    import ctypes
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        err = ctypes.get_errno()
        raise OSError(err, f"prctl(PR_SET_CHILD_SUBREAPER): "
                      f"{os.strerror(err)}")


def _descendants() -> set[int]:
    """Pids of every live process below this one."""
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    stat = fh.read()
            except OSError:
                continue
            parent[int(d)] = int(stat.rsplit(")", 1)[1].split()[1])
    mine, frontier = set(), {os.getpid()}
    while frontier:
        frontier = {p for p, pp in parent.items() if pp in frontier} - mine
        mine |= frontier
    return mine


def stop_descendants(grace: float = 10.0) -> None:
    """Stop every process below this one and wait until each has ended:
    SIGTERM first, SIGKILL to what is left after `grace` seconds."""
    deadline = time.monotonic() + grace
    signalled: set[int] = set()
    while True:
        while True:  # reap the children that have ended
            try:
                if os.waitpid(-1, os.WNOHANG)[0] == 0:
                    break
            except ChildProcessError:
                break
        pids = _descendants()
        if not pids:
            return
        late = time.monotonic() > deadline
        for pid in pids if late else pids - signalled:
            try:
                os.kill(pid, signal.SIGKILL if late else signal.SIGTERM)
            except ProcessLookupError:
                pass
        signalled |= pids
        time.sleep(0.05)


def _worker_hwm_kb() -> list[int]:
    """VmHWM of each of this process's PySpark worker processes (the
    daemon and the workers it forked)."""
    hwm = []
    for pid in _descendants():
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                if b"pyspark.daemon" not in fh.read():
                    continue
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        hwm.append(int(line.split()[1]))
        except OSError:
            continue
    return sorted(hwm)


def _host_facts(spark, cpus: int) -> dict:
    import numpy
    import pyarrow
    import pyspark
    with open("/proc/meminfo") as fh:
        mem_kb = int(next(l for l in fh if l.startswith("MemTotal")).split()[1])
    return {
        "nproc": os.cpu_count(), "mem_total_kb": mem_kb,
        "spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "driver_memory": spark.conf.get("spark.driver.memory"),
        "cpus": cpus,
    }


class Runner:
    """Runs the jobs of one benchmark run on its corpus, one session at
    a time, and counts the jobs that fail."""

    def __init__(self, wl: Workload, corpus_root: str, facts: dict,
                 work: str):
        self.wl = wl
        self.src = os.path.join(corpus_root, "data")
        self.facts = facts
        self.out = os.path.join(work, "out")
        self.jobs = 0
        self.failed_jobs = 0
        self.summary: dict = {}
        self.spark = None

    def start(self) -> float:
        """Set up a session; returns the set-up wall: session, worker
        warm-up, and an untimed encode+decode pair. The pair is what
        lets the first timed job run warm: the workers' first job on
        the full corpus grows their heaps, which was 10-12% slower."""
        from rle_spark.engine import get_spark, warm_python_workers
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", cpus=self.wl.cpus)
        self.spark.sparkContext.setLogLevel("ERROR")
        warm_python_workers(self.spark, self.wl.cpus)
        self._encode()
        self._decode()
        return time.perf_counter() - t0

    def _encode(self) -> tuple[float, dict]:
        from rle_spark.sources import encode_parquet_dir_direct
        shutil.rmtree(self.out, ignore_errors=True)
        t0 = time.perf_counter()
        s = encode_parquet_dir_direct(self.spark, self.src, self.out,
                                      target_split_bytes=SPLIT_BYTES,
                                      n_tasks=self.wl.cpus)
        return time.perf_counter() - t0, s

    def _decode(self) -> tuple[float, tuple]:
        from pyspark.sql import functions as F
        from rle_spark.sources import decode_parquet_dir_summary
        t0 = time.perf_counter()
        row = (decode_parquet_dir_summary(self.spark, self.out,
                                          n_tasks=self.wl.cpus)
               .agg(F.sum("n_docs").alias("d"), F.sum("n_tokens").alias("t"))
               .collect()[0])
        return time.perf_counter() - t0, (row["d"], row["t"])

    def encode(self) -> float:
        """One timed encode job of the corpus; a job whose summary
        disagrees with the corpus counts as failed."""
        self.jobs += 1
        wall, s = self._encode()
        f = self.facts
        if (s["n_docs"], s["n_tokens"], s["orig_bytes"]) != (
                f["n_docs"], f["n_tokens"], f["decoded_bytes"]):
            self.failed_jobs += 1
        self.summary = s
        return wall

    def decode(self) -> float:
        """One timed decode job of the last encode output."""
        self.jobs += 1
        wall, counts = self._decode()
        if counts != (self.facts["n_docs"], self.facts["n_tokens"]):
            self.failed_jobs += 1
        return wall

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None


def _measure(runner: Runner, seconds: float, walls: dict) -> None:
    """Timed rounds, one at least, for as many rounds as bring the time
    spent nearest to `seconds`; appends the job walls to `walls`."""
    t0 = time.perf_counter()
    for n in itertools.count(1):
        walls["encode"].append(runner.encode())
        walls["decode"].extend(runner.decode()
                               for _ in range(DECODES_PER_ENCODE))
        spent = time.perf_counter() - t0
        if spent + spent / n / 2 >= seconds:
            return


def _measure_traced(runner: Runner, seconds: float, trace_root: str) -> dict:
    """Alternate untraced and traced encode+decode pairs (which goes
    first alternates too); returns the walls and per-job layer totals."""
    from perfbench import tracing
    driver = tracing.install_driver()
    sc = runner.spark.sparkContext
    walls = {k: [] for k in ("encode", "decode", "encode_traced",
                             "decode_traced")}
    layers = {"encode": [], "decode": []}
    t_end = time.perf_counter() + seconds
    i = 0
    while len(layers["encode"]) < MIN_TRACED or time.perf_counter() < t_end:
        for traced in ((False, True) if i % 2 == 0 else (True, False)):
            for kind in ("encode", "decode"):
                if not traced:
                    walls[kind].append(getattr(runner, kind)())
                    continue
                job = f"{kind}-{i}"
                tdir = os.path.join(trace_root, job)
                os.makedirs(tdir)
                sc.setLocalProperty(tracing.TRACE_DIR_PROP, tdir)
                sc.setLocalProperty(tracing.JOB_PROP, job)
                driver.spans = []
                driver.active = True
                try:
                    wall = getattr(runner, kind)()
                finally:
                    driver.active = False
                    sc.setLocalProperty(tracing.TRACE_DIR_PROP, None)
                    sc.setLocalProperty(tracing.JOB_PROP, None)
                walls[kind + "_traced"].append(wall)
                tasks = [tracing.task_layers(r)
                         for r in tracing.load_tasks(tdir)]
                layers[kind].append(_job_layers(kind, wall, tasks,
                                                driver.spans, runner.out))
        i += 1
    return {"walls": walls, "layers": layers}


def _job_layers(kind: str, wall: float, tasks: list[dict],
                driver_spans: list, out_dir: str) -> dict:
    """One traced job's layer totals, summed over its tasks."""
    tot: dict = {}
    for t in tasks:
        for k, v in t.items():
            tot[k] = tot.get(k, 0) + v
    # a traced job that wrote no task spans fails the accounting check
    tot["max_accounting_error"] = max(
        (t["accounting_error"] / t["task"] for t in tasks),
        default=float("inf"))
    for sid, name, t0, t1, parent, thread, info in driver_spans:
        tot[f"driver.{name}"] = tot.get(f"driver.{name}", 0) + (t1 - t0)
    driver_s = tot.get("driver.sources.plan", 0) + tot.get(
        "driver.sources.manifest", 0)
    if kind == "encode":
        task_walls = []
        for f in glob.glob(os.path.join(out_dir, "lineage", "*.json")):
            with open(f) as fh:
                task_walls.append(json.load(fh)["task_wall_sec"])
    else:
        task_walls = [t["task"] for t in tasks]
    longest = max(task_walls, default=0.0)
    tot["spark_overhead"] = wall - driver_s - longest
    tot["task_skew"] = (longest / median(task_walls)) if task_walls else 1.0
    return tot


# codecs reported one by one: the ones the selector picks or tries on
# the corpora; every other codec is summed into "other"
CODECS = ("rle32_sym", "for_bitpack", "dict_bitpack", "rle32_single")


def _per_layer(res: dict) -> dict:
    """Per-layer metrics: the median over the traced jobs of each kind."""
    def med(kind, fn):
        return median([fn(j) for j in res["layers"][kind]])

    def g(key):
        return lambda j: j.get(key, 0.0)

    m: dict = {}

    def put(name, unit, value):
        m[name] = {"value": float(value), "unit": unit}

    put("sources.plan_s", "s", med("encode", g("driver.sources.plan")))
    put("sources.manifest_s", "s", med("encode", g("driver.sources.manifest")))
    put("sources.scan_s", "s", med("encode", g("busy.sources.scan")))
    put("sources.scan_batches", "count", med("encode", g("scan_batches")))
    put("sources.scan_wait_s", "s", med("encode", g("self.sources.scan_wait")))
    put("engine.glue_s", "s", med("encode", g("glue")))
    put("selector.stats_s", "s", med("encode", g("self.selector.stats")))
    put("selector.select_s", "s", med(
        "encode", lambda j: j.get("self.selector.select", 0)
        + j.get("self.selector.sticky", 0)))
    put("selector.selections", "count", med("encode", g("n.selector.select")))
    put("selector.sticky_hits", "count", med("encode", g("sticky_hits")))
    put("selector.stale_fallbacks", "count",
        med("encode", g("stale_fallbacks")))
    put("selector.trial_encodes", "count", med("encode", g("trial_encodes")))
    put("selector.trial_s", "s", med("encode", g("trial_s")))

    def enc_calls(j):
        return sum(v for k, v in j.items() if k.startswith("n.codecs.enc."))

    put("selector.useful_encode_frac", "ratio", med(
        "encode", lambda j: j.get("n.blocks.frame", 0) / max(enc_calls(j), 1)))

    def codec_sum(j, prefix, known):
        if known:
            return j.get(prefix + known, 0.0)
        return sum(v for k, v in j.items() if k.startswith(prefix)
                   and k[len(prefix):] not in CODECS)

    for c in CODECS + ("other",):
        key = None if c == "other" else c
        for kind, op, side in (("encode", "enc", "self.codecs.enc."),
                               ("decode", "dec", "self.codecs.dec.")):
            put(f"codecs.{op}_s.{c}", "s",
                med(kind, lambda j: codec_sum(j, side, key)))
            put(f"codecs.{op}_GBps.{c}", "GB/s", med(
                kind, lambda j: codec_sum(j, f"bytes.codecs.{op}.", key)
                / 1e9 / max(codec_sum(j, side, key), 1e-9)))
        put(f"codecs.blocks.{c}", "count",
            med("encode", lambda j: codec_sum(j, "blocks.", key)))
    put("blocks.frame_s", "s", med("encode", g("self.blocks.frame")))
    put("blocks.unframe_s", "s", med("decode", g("self.blocks.decode_block")))
    put("sources.sink_s", "s", med(
        "encode", lambda j: j.get("busy.sources.sink", 0)
        + j.get("self.sources.sink_close", 0)))
    put("sources.sink_wait_s", "s", med("encode", g("self.sources.sink_wait")))
    put("sources.sink_bytes", "B", med("encode", g("sink_bytes")))
    put("spark.overhead_s", "s", med("encode", g("spark_overhead")))
    put("spark.task_skew", "ratio", med("encode", g("task_skew")))
    put("sources.decode_scan_s", "s", med("decode", g("busy.sources.scan")))
    put("sources.decode_scan_wait_s", "s",
        med("decode", g("self.sources.scan_wait")))
    put("engine.decode_glue_s", "s", med("decode", g("glue")))
    put("spark.decode_overhead_s", "s", med("decode", g("spark_overhead")))
    w = res["walls"]
    untraced = median(w["encode"]) + median(w["decode"])
    traced = median(w["encode_traced"]) + median(w["decode_traced"])
    put("trace.overhead", "ratio", traced / untraced - 1)
    return m


def _scaling(work: str, workload: str, metrics: dict) -> dict | None:
    """N->4N efficiency, (local[4] GB/s / local[1] GB/s) / 4, from this
    run and the last run of the other mixed workload; for information."""
    pair = ("mixed_p1", "mixed_p4")
    if workload not in pair:
        return None
    results = os.path.join(work, "results")
    os.makedirs(results, exist_ok=True)
    with open(os.path.join(results, workload + ".json"), "w") as fh:
        json.dump({k: metrics[k]["value"]
                   for k in ("encode_GBps", "decode_GBps")}, fh)
    try:
        got = {}
        for w in pair:
            with open(os.path.join(results, w + ".json")) as fh:
                got[w] = json.load(fh)
    except FileNotFoundError:
        return None
    return {k: got["mixed_p4"][k] / got["mixed_p1"][k] / 4
            for k in ("encode_GBps", "decode_GBps")}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # every path out of a run stops and waits for all it started: the
    # JVM, the PySpark daemon and workers, the corpus generators
    adopt_orphans()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    try:
        return _run(args)
    finally:
        stop_descendants()


def _run(args) -> int:
    wl = WORKLOADS[args.workload]
    work = os.path.join(ROOT, ".perfbench_work")
    prepare_env(work, bool(args.trace))
    sys.path.insert(0, ROOT)
    import rle_spark  # noqa: F401 — fail before any work without the engine
    from perfbench import corpus, gate

    t0 = time.perf_counter()
    src_root, facts = corpus.build(os.path.join(work, "corpus"), wl.corpus,
                                   args.seed, wl.tokens)
    runner = Runner(wl, src_root, facts, work)
    info: dict = {"protocol": PROTOCOL, "workload": args.workload,
                  "seed": args.seed, "corpus": facts,
                  "corpus_s": time.perf_counter() - t0}
    setups = []
    hwm = []
    walls = {"encode": [], "decode": []}
    # sessions: SETUPS in an untraced run, so set-up time and worker
    # memory are each sampled over several sessions, and the timed
    # rounds run in the last; one in a traced run
    sessions = 1 if args.trace else SETUPS
    try:
        for i in range(sessions):
            setups.append(runner.start())
            if not i:
                info["host"] = _host_facts(runner.spark, wl.cpus)
            if args.trace:
                trace_root = os.path.join(work, "trace")
                shutil.rmtree(trace_root, ignore_errors=True)
                res = _measure_traced(runner, args.seconds, trace_root)
                walls = res["walls"]
            else:
                if i == sessions - 1:
                    _measure(runner, args.seconds, walls)
                hwm.append(_worker_hwm_kb())
            runner.stop()
    finally:
        runner.stop()
        stop_jvm()
    t0 = time.perf_counter()
    checked = gate.check(corpus.load_docs(src_root), facts, runner.out)
    info["gate_s"] = time.perf_counter() - t0
    failed = runner.failed_jobs + checked["failed_blocks"] + (
        not checked["manifest_ok"])
    attempted = runner.jobs + checked["blocks"] + 1
    info.update(setups_s=setups, walls=walls, worker_hwm_kb=hwm,
                gate=checked, op_failure_rate=gate.failure_rate(
                    checked, runner.jobs, runner.failed_jobs))

    decoded = facts["decoded_bytes"]
    if args.trace:
        metrics = _per_layer(res)
        # the layer self times plus the glue must add up to each task
        # span; a trace that does not is a failed check
        info["max_accounting_error"] = max(
            j["max_accounting_error"] for k in res["layers"]
            for j in res["layers"][k])
        attempted += 1
        failed += info["max_accounting_error"] > 1e-6
    else:
        disk = sum(os.path.getsize(f) for f in glob.glob(
            os.path.join(runner.out, "blocks", "*.parquet")))
        s = runner.summary
        metrics = {
            "encode_GBps": (decoded / median(walls["encode"]) / 1e9, "GB/s"),
            "decode_GBps": (decoded / median(walls["decode"]) / 1e9, "GB/s"),
            "ratio": (s["comp_bytes"] / s["orig_bytes"], "ratio"),
            "disk_ratio": (disk / decoded, "ratio"),
            "setup_s": (median(setups), "s"),
            "worker_rss_peak_MB": (median([sum(h) for h in hwm]) / 1024,
                                   "MB"),
            "op_success_rate": (1 - failed / attempted, "ratio"),
        }
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
        info["scaling_efficiency"] = _scaling(work, args.workload, metrics)
    print("# info " + json.dumps(info, default=str))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
