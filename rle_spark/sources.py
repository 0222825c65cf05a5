"""File-granular parquet source for the encode job.

Why this exists (measured on the bench corpus, local[1], page-cached):
Spark's JVM parquet reader + row->Arrow conversion of `array<int>`
columns delivers token batches to a Python worker at ~0.08 GB/s
(scan-only of the list column: 5.5-7.9 s for 845 MB; scan+IPC+no-op
kernel: 9-13.7 s), while pyarrow reads the same files at 0.31 GB/s
(2.7 s) — the nested-list row conversion, not the codecs, dominates
the pipeline. For a full-scan encode job there is no predicate to push
down, so the idiomatic fix is the same one petastorm / Ray Data use:
ship SPLITS (path + row-group range) through the DataFrame, and let
each task read its own row groups with pyarrow inside the kernel.
Column pruning still happens (the reader is given exactly the needed
columns); partition-level parallelism and skew bounds now come from
row-group size, which is what governs a 1000-executor scan of a
100 TB Iceberg table anyway.

The codec kernel is byte-for-byte the one the DataFrame path uses
(engine._encode_iter_factory) — this module only swaps the transport.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from .blocks import BLOCK_SCHEMA_DDL, DECODED_SCHEMA_DDL
from .engine import EngineConfig, _encode_iter_factory, refresh_manifest

_READ_COLUMNS = ["doc_id", "tokens", "source"]

# scan readahead depth (batches in flight); 0 disables the thread
_READAHEAD_DEPTH = int(os.environ.get("RLE_SCAN_READAHEAD", "2"))
# rows per scan batch: with readahead, in-flight memory is
# ~depth x batch bytes per task — keep it a few block sizes, not 100+ MB
_SCAN_BATCH_ROWS = int(os.environ.get("RLE_SCAN_BATCH_ROWS", "2048"))


def _readahead(gen_fn, depth: int | None = None):
    """Overlap the parquet scan with the codec kernel: a producer
    thread runs the row-group decode (pyarrow C++ releases the GIL)
    while the consumer encodes — the task-side analogue of the JVM
    scanner's own IO/decode threads in the normal DataFrame path, and
    of the reference benchmark reading the next file while crunching
    the current one. Measured single-thread: 0.124 -> 0.214 GB/s
    pipeline encode (the scan was ~40% of the wall, BENCH.md). The
    bounded queue caps in-flight batches at `depth`; producer
    exceptions re-raise in the consumer. A consumer that stops early
    sets `stop`, so the producer gives up instead of blocking forever
    on a full queue (a leaked thread inside a reused python worker)."""
    depth = _READAHEAD_DEPTH if depth is None else depth
    if depth <= 0:
        yield from gen_fn()
        return
    import queue as _queue
    import threading
    q: _queue.Queue = _queue.Queue(maxsize=depth)
    stop = threading.Event()
    _END, _ERR = object(), object()

    def put(item) -> bool:
        while not stop.is_set():
            try:
                q.put(item, timeout=0.05)
                return True
            except _queue.Full:
                pass
        return False

    def produce():
        try:
            for item in gen_fn():
                if not put(item):
                    return
            put(_END)
        except BaseException as e:  # noqa: BLE001 — relayed, not dropped
            put((_ERR, e))

    threading.Thread(target=produce, name="rle-readahead",
                     daemon=True).start()
    try:
        while True:
            item = q.get()
            if item is _END:
                return
            if isinstance(item, tuple) and len(item) == 2 and item[0] is _ERR:
                raise item[1]
            yield item
    finally:
        stop.set()


def _balanced_contiguous_groups(units, n_tasks: int) -> list[list]:
    """Partition sized units (4-tuples ending in byte size) into
    exactly min(n_tasks, len) CONTIGUOUS groups minimizing the max
    group bytes (binary search on the cap + greedy fill). Contiguity
    keeps consecutive row groups in one task (read locality) and makes
    the assignment a pure function of (units, n_tasks) for the resume
    plan signature. Count-positional slicing (what parallelize does)
    left 12% byte skew between tasks on the bench corpus — the stage
    wall is the max task, so that skew came straight out of the
    measured scaling efficiency; byte-balanced boundaries get 1.4%."""
    n = min(n_tasks, len(units))
    byts = [u[3] for u in units]

    def n_groups_at(cap: int) -> int:
        g, acc = 1, 0
        for b in byts:
            if acc + b > cap:
                g, acc = g + 1, b
            else:
                acc += b
        return g

    lo, hi = max(byts), sum(byts)
    while lo < hi:
        mid = (lo + hi) // 2
        if n_groups_at(mid) <= n:
            hi = mid
        else:
            lo = mid + 1
    cap = lo
    groups: list[list] = []
    i, m = 0, len(units)
    for j in range(n):
        left = n - j - 1  # groups still to fill after this one
        grp, acc = [units[i]], byts[i]
        i += 1
        # take more while under cap, leaving >=1 unit per later group;
        # the last group takes everything that remains
        while i < m and (m - i) > left and (left == 0
                                            or acc + byts[i] <= cap):
            grp.append(units[i])
            acc += byts[i]
            i += 1
        groups.append(grp)
    if i < m:  # defensive: cap infeasible under the reserve rule
        groups[-1].extend(units[i:])
    return groups


def _map_splits(spark: SparkSession, units, n_tasks: int | None, fn,
                schema: str) -> DataFrame:
    """One mapInArrow pass of `fn` over sized split units (from
    plan_parquet_splits(with_bytes=True)), one task per byte-balanced
    contiguous group — the stage wall is the slowest task, so task
    bytes, not unit counts, must be equal. `fn` gets one
    (path, rg0, rg1) batch per group; partition i reads group i.

    Tasks are FAT (~3x cores by default): python worker task setup
    costs ~200 ms on this host (measured: 32 tasks added 6-8 s to a
    3 s read at local[1]), and a real cluster also wants a small
    multiple of total cores, not one task per row group. The leaf is
    JVM-native (spark.range: partition i holds the single id i, which
    the task looks up in the plan its closure carries), so a task is
    ONE python pass. A parallelize + createDataFrame split DataFrame
    ran a second python pass per task; dropping it cut the fixed
    per-job cost (job wall - plan - manifest - slowest task) from
    0.83 to 0.45 s per encode job and 0.74 to 0.54 s per decode job
    (perfbench mixed_p4 traced medians, local[4], 4-core host)."""
    if not units:
        return spark.createDataFrame([], schema)
    if n_tasks is None:
        n_tasks = max(1, spark.sparkContext.defaultParallelism * 3)
    groups = [[(p, g0, g1) for p, g0, g1, _ in g]
              for g in _balanced_contiguous_groups(units, n_tasks)]

    def it(id_batches):
        import pyarrow as pa

        def splits():
            for rb in id_batches:
                for i in rb.column("id").to_pylist():
                    paths, rg0s, rg1s = zip(*groups[i])
                    yield pa.record_batch(
                        [pa.array(paths, pa.string()),
                         pa.array(rg0s, pa.int32()),
                         pa.array(rg1s, pa.int32())],
                        names=["path", "rg0", "rg1"])
        return fn(splits())

    return (spark.range(len(groups), numPartitions=len(groups))
            .mapInArrow(it, schema))


def plan_parquet_splits(src_dir: str,
                        target_bytes: int = 128 << 20,
                        with_bytes: bool = False) -> list[tuple]:
    """Driver-side split planning: group each file's row groups into
    ~target_bytes units (metadata-only reads — the driver never touches
    data pages; at 100 TB this is the Iceberg manifest listing).

    Globs recursively so partitioned layouts (the streaming sink's
    blocks/epoch=K dirs, compacted epoch=-1) plan the same as flat
    dirs; hidden dot-dirs (staging areas) are skipped by glob itself.
    A directory with visible entries but zero parquet files raises —
    silently planning nothing turned a valid table into an empty
    DataFrame (round-2 advice).

    with_bytes=True appends each unit's total row-group byte size as a
    4th field — _map_splits uses it to byte-balance the task groups."""
    import pyarrow.parquet as pq
    units: list[tuple[str, int, int]] = []
    base = os.path.normpath(src_dir)

    def _visible(path: str) -> bool:
        # same visibility rule as the error check and the block readers:
        # any '.'- or '_'-prefixed component BELOW src_dir (a crashed
        # compaction's _blocks_old staging copy, an in-flight .tmp dir)
        # is invisible — recursive '**' would otherwise traverse it and
        # silently plan duplicate data (round-3 advice)
        rel = os.path.relpath(path, base)
        return not any(part.startswith((".", "_"))
                       for part in rel.split(os.sep))

    files = sorted(p for p in glob.glob(
        os.path.join(src_dir, "**", "*.parquet"), recursive=True)
        if _visible(p))
    if not files and os.path.isdir(src_dir) and any(
            not e.startswith((".", "_")) for e in os.listdir(src_dir)):
        raise ValueError(
            f"no *.parquet files found under non-empty directory "
            f"{src_dir!r} (recursive scan) — wrong path or unsupported "
            f"layout, refusing to plan an empty table")
    for path in files:
        md = pq.ParquetFile(path).metadata
        cur0, acc = 0, 0
        for i in range(md.num_row_groups):
            acc += md.row_group(i).total_byte_size
            if acc >= target_bytes:
                units.append((path, cur0, i + 1, acc))
                cur0, acc = i + 1, 0
        if cur0 < md.num_row_groups:
            units.append((path, cur0, md.num_row_groups, acc))
    if with_bytes:
        return units
    return [(p, g0, g1) for p, g0, g1, _ in units]


def _file_encode_iter(cfg: EngineConfig):
    """mapInArrow kernel over split rows: read own row groups with
    pyarrow, stream batches through the standard encode state machine."""
    inner = _encode_iter_factory(cfg, mapside=True)

    def it(split_batches):
        def gen():
            import pyarrow.parquet as pq
            for rb in split_batches:
                paths = rb.column("path").to_pylist()
                rg0s = rb.column("rg0").to_pylist()
                rg1s = rb.column("rg1").to_pylist()
                for path, g0, g1 in zip(paths, rg0s, rg1s):
                    pf = pq.ParquetFile(path)
                    yield from pf.iter_batches(
                        batch_size=_SCAN_BATCH_ROWS,
                        row_groups=list(range(g0, g1)),
                        columns=_READ_COLUMNS)
        yield from inner(_readahead(gen))

    return it


def encode_parquet_dir(spark: SparkSession, src_dir: str,
                       cfg: EngineConfig | None = None,
                       target_split_bytes: int = 128 << 20,
                       n_tasks: int | None = None) -> DataFrame:
    """Lazy block DataFrame over a parquet directory via the
    file-granular source (zero-shuffle; bucket = task ordinal, exactly
    like the mapside DataFrame path)."""
    cfg = cfg or EngineConfig(layout="mapside")
    units = plan_parquet_splits(src_dir, target_split_bytes,
                                with_bytes=True)
    return _map_splits(spark, units, n_tasks, _file_encode_iter(cfg),
                       BLOCK_SCHEMA_DDL)


BLOCK_SUMMARY_DDL = ("block_id string, source string, bucket int, seq int, "
                     "n_docs int, n_tokens long, codec string, "
                     "orig_bytes long, comp_bytes long")
_SUMMARY_COLS = ["block_id", "source", "bucket", "seq", "n_docs",
                 "n_tokens", "codec", "orig_bytes", "comp_bytes"]


def encode_parquet_dir_summary(spark: SparkSession, src_dir: str,
                               cfg: EngineConfig | None = None,
                               target_split_bytes: int = 128 << 20,
                               n_tasks: int | None = None) -> DataFrame:
    """Block METADATA only — the payload/doc-offset columns are dropped
    inside the task, so benchmarking the encode stage measures
    read + codecs, not an artificial payload round-trip to the JVM
    (the real job hands payloads straight to the python-side writer,
    encode_parquet_dir_direct)."""
    cfg = cfg or EngineConfig(layout="mapside")
    inner = _file_encode_iter(cfg)

    def it(batches):
        import pyarrow as pa
        for rb in inner(batches):
            yield pa.record_batch([rb.column(c) for c in _SUMMARY_COLS],
                                  names=_SUMMARY_COLS)

    units = plan_parquet_splits(src_dir, target_split_bytes,
                                with_bytes=True)
    return _map_splits(spark, units, n_tasks, it, BLOCK_SUMMARY_DDL)


def manifest_from_lineage(out_dir: str) -> bool:
    """Assemble <out_dir>/manifest driver-side from the per-task lineage
    records the direct writer commits alongside each block file — O(tasks)
    tiny JSONs instead of a post-job Spark rescan of every written block
    (at 100 TB the rescan is a full metadata pass over the sink; the
    lineage fold is what an Iceberg/Delta commit does). Returns False —
    caller falls back to refresh_manifest's authoritative rescan — when
    the lineage doesn't exactly cover the committed files (pre-rollup
    lineage, a non-flat/mixed blocks layout, or a crash window)."""
    import json
    import pyarrow as pa
    import pyarrow.parquet as pq
    from . import __version__
    blocks_dir = os.path.join(out_dir, "blocks")
    lineage_dir = os.path.join(out_dir, "lineage")
    try:
        entries = sorted(os.listdir(blocks_dir))
    except OSError:
        return False
    parts = []
    for e in entries:
        if e.startswith((".", "_")):
            continue  # hidden tmp / marker — invisible to readers too
        if os.path.isdir(os.path.join(blocks_dir, e)):
            return False  # partitioned/mixed layout: lineage can't cover
        if e.endswith(".parquet"):
            parts.append(e)
    agg: dict[tuple, list] = {}
    covered = set()
    for e in sorted(os.listdir(lineage_dir)) if os.path.isdir(lineage_dir) \
            else []:
        if not e.endswith(".json"):
            continue
        try:
            rec = json.load(open(os.path.join(lineage_dir, e)))
        except (ValueError, OSError):
            return False
        if "groups" not in rec:
            return False  # pre-rollup lineage
        covered.add(rec.get("file"))
        for s, b, c, nb, nd, nt, ob, cb in rec["groups"]:
            g = agg.setdefault((s, int(b)), [0, 0, 0, 0, 0, {}])
            g[0] += nb
            g[1] += nd
            g[2] += nt
            g[3] += ob
            g[4] += cb
            g[5][c] = g[5].get(c, 0) + nb
    if covered != set(parts):
        return False  # stale or missing lineage: rescan instead
    keys = sorted(agg)
    table = pa.table({
        "source": pa.array([k[0] for k in keys], pa.string()),
        "bucket": pa.array([k[1] for k in keys], pa.int32()),
        "n_blocks": pa.array([agg[k][0] for k in keys], pa.int64()),
        "n_docs": pa.array([agg[k][1] for k in keys], pa.int64()),
        "n_tokens": pa.array([agg[k][2] for k in keys], pa.int64()),
        "orig_bytes": pa.array([agg[k][3] for k in keys], pa.int64()),
        "comp_bytes": pa.array([agg[k][4] for k in keys], pa.int64()),
        "codecs": pa.array([sorted(agg[k][5].items()) for k in keys],
                           pa.map_(pa.string(), pa.int64())),
        "engine_version": pa.array([__version__] * len(keys), pa.string()),
    })
    manifest_dir = os.path.join(out_dir, "manifest")
    os.makedirs(manifest_dir, exist_ok=True)
    for f in glob.glob(os.path.join(manifest_dir, "*")):
        os.remove(f)
    tmp = os.path.join(manifest_dir, ".manifest.tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, os.path.join(manifest_dir, "part-00000.parquet"))
    return True


def encode_parquet_dir_direct(spark: SparkSession, src_dir: str,
                              out_dir: str,
                              cfg: EngineConfig | None = None,
                              target_split_bytes: int = 128 << 20,
                              n_tasks: int | None = None,
                              resume: bool = False) -> dict:
    """Full encode job with PYTHON-SIDE block writes: each task streams
    its encoded block batches into its own parquet file
    (blocks/part-<task>.parquet, written atomically via temp+rename)
    and returns only per-task totals — the compressed payload never
    crosses the Arrow IPC boundary back to the JVM, which measured
    ~2x the whole kernel cost on this host. This is also the at-scale
    sink shape: executors write straight to object storage, the driver
    only aggregates manifests. Deterministic task file names make a
    re-run (or a speculative duplicate attempt) overwrite, not
    duplicate. The manifest is rebuilt from the committed files like
    every other path.

    resume=True: an interrupted job (executor/driver loss mid-write)
    re-runs skipping every task whose committed file already exists —
    only uncommitted tasks redo work. Soundness guard: the split plan
    (units + task count) is fingerprinted in <out>/encode_plan.json;
    if the recorded plan differs (input grew, task count changed), the
    task->file mapping is stale, so the job falls back to a clean
    rewrite instead of silently mixing layouts."""
    import hashlib
    import json
    cfg = cfg or EngineConfig(layout="mapside")
    blocks_dir = os.path.join(out_dir, "blocks")
    os.makedirs(blocks_dir, exist_ok=True)
    inner = _file_encode_iter(cfg)
    codec = cfg.parquet_codec

    units = plan_parquet_splits(src_dir, target_split_bytes,
                                with_bytes=True)
    if n_tasks is None:
        n_tasks = max(1, spark.sparkContext.defaultParallelism * 3)
    n_tasks = min(n_tasks, max(len(units), 1))
    # Resume is sound only while task i re-reads exactly the splits its
    # committed file holds: group i of _balanced_contiguous_groups(units,
    # n_tasks). The "split_v3" tag versions that assignment function;
    # bump it when it changes, so outputs written under another one take
    # the clean-rewrite path. The FULL EngineConfig (selector effort/
    # allow-list, parquet codec, layout, ...) is included too: a
    # codec-affecting settings change must rewrite, not mix blocks
    # encoded under two configs. defaultParallelism no longer affects
    # the assignment; it stays so existing outputs keep their signature.
    import dataclasses as _dc
    plan_sig = hashlib.sha256(
        json.dumps(["split_v3", units, n_tasks, _dc.asdict(cfg),
                    spark.sparkContext.defaultParallelism],
                   sort_keys=True).encode()
    ).hexdigest()
    plan_path = os.path.join(out_dir, "encode_plan.json")
    prev_sig = None
    if os.path.exists(plan_path):
        try:
            prev_sig = json.load(open(plan_path)).get("sig")
        except (ValueError, OSError):
            prev_sig = None
    # uncommitted attempt tmps are garbage under any plan
    for f in glob.glob(os.path.join(blocks_dir, ".part-*")):
        os.remove(f)
    if not (resume and prev_sig == plan_sig):
        # clean rewrite: drop every stale part/lineage file
        for f in (glob.glob(os.path.join(blocks_dir, "*.parquet"))
                  + glob.glob(os.path.join(out_dir, "lineage", "*"))):
            os.remove(f)
    with open(plan_path, "w") as fh:
        json.dump({"sig": plan_sig, "n_tasks": n_tasks,
                   "n_units": len(units)}, fh)

    lineage_dir = os.path.join(out_dir, "lineage")
    os.makedirs(lineage_dir, exist_ok=True)

    def it(batches):
        import time as _t
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark import TaskContext
        _task_t0 = _t.time()
        tc = TaskContext.get()
        pid = tc.partitionId() if tc is not None else 0
        # attempt-scoped tmp name: a speculative/zombie duplicate attempt
        # must never write into the same tmp file the live attempt is
        # streaming to; whichever attempt finishes last commits its OWN
        # complete file via the atomic rename
        attempt = tc.taskAttemptId() if tc is not None else 0
        tmp = os.path.join(blocks_dir, f".part-{pid:05d}.{attempt}.tmp")
        final = os.path.join(blocks_dir, f"part-{pid:05d}.parquet")
        consumed: list[list] = []

        def tee(bs):
            for rb in bs:
                consumed.extend(
                    [p, int(a), int(b)] for p, a, b in
                    zip(rb.column("path").to_pylist(),
                        rb.column("rg0").to_pylist(),
                        rb.column("rg1").to_pylist()))
                yield rb

        n_blocks = n_docs = n_tokens = orig = comp = 0
        # per-(source, bucket, codec) rollup — O(blocks) per task, a few
        # hundred rows; lets the driver assemble the manifest from the
        # lineage records with NO post-job Spark rescan of the blocks
        # (at 100 TB that rescan is a full metadata pass over the sink)
        groups: dict[tuple, list] = {}

        def roll(tbl):
            srcs = tbl.column("source").to_pylist()
            bks = tbl.column("bucket").to_pylist()
            cds = tbl.column("codec").to_pylist()
            nds = tbl.column("n_docs").to_pylist()
            nts = tbl.column("n_tokens").to_pylist()
            obs = tbl.column("orig_bytes").to_pylist()
            cbs = tbl.column("comp_bytes").to_pylist()
            for s, b, c, nd, nt, ob, cb in zip(srcs, bks, cds, nds, nts,
                                               obs, cbs):
                g = groups.setdefault((s, int(b), c), [0, 0, 0, 0, 0])
                g[0] += 1
                g[1] += int(nd)
                g[2] += int(nt)
                g[3] += int(ob)
                g[4] += int(cb)

        def lineage_record():
            # task_wall_sec: per-partition timing metric — the skew
            # audit column (which task was the straggler, and was it
            # bytes or content) without any cluster-UI scrape
            return {"file": os.path.basename(final), "splits": consumed,
                    "n_blocks": n_blocks, "n_docs": n_docs,
                    "n_tokens": n_tokens, "orig_bytes": orig,
                    "comp_bytes": comp,
                    "task_wall_sec": round(_t.time() - _task_t0, 3),
                    "groups": [[s, b, c, *v]
                               for (s, b, c), v in sorted(groups.items())]}

        def commit_lineage():
            import json as _json
            ltmp = os.path.join(lineage_dir, f".part-{pid:05d}.tmp")
            with open(ltmp, "w") as fh:
                _json.dump(lineage_record(), fh)
            os.replace(ltmp,
                       os.path.join(lineage_dir, f"part-{pid:05d}.json"))

        if os.path.exists(final):
            # committed by a previous attempt: report its totals, skip.
            # The input batches are split-PLAN rows (path, rg0, rg1) —
            # tee() records them without touching source data, so a
            # crash between the data commit and the lineage commit
            # heals here: the rollup is rebuilt from the committed
            # file's metadata columns and the lineage re-written.
            for _ in tee(batches):
                pass
            t = pq.read_table(final, columns=["source", "bucket", "codec",
                                              "n_docs", "n_tokens",
                                              "orig_bytes", "comp_bytes"])
            n_blocks = t.num_rows
            n_docs = int(sum(t.column("n_docs").to_pylist()))
            n_tokens = int(sum(t.column("n_tokens").to_pylist()))
            orig = int(sum(t.column("orig_bytes").to_pylist()))
            comp = int(sum(t.column("comp_bytes").to_pylist()))
            roll(t)
            lpath = os.path.join(lineage_dir, f"part-{pid:05d}.json")
            if not os.path.exists(lpath):
                commit_lineage()
        else:
            # write-behind: the parquet write (zstd compression releases
            # the GIL) runs on its own thread so the sink overlaps the
            # encode kernel, like an executor's async output committer;
            # bounded queue caps in-flight blocks, metrics stay on the
            # consumer side, and a writer error re-raises here before
            # the atomic rename can commit a broken file
            import queue as _q
            import threading as _th
            writer = None
            werr: list = []
            wq: _q.Queue = _q.Queue(maxsize=max(_READAHEAD_DEPTH, 1) * 2)

            def _write_loop():
                nonlocal writer
                while True:
                    rb = wq.get()
                    if rb is None:
                        return
                    if werr:
                        continue  # drain: the producer must never block
                    try:
                        if writer is None:
                            writer = pq.ParquetWriter(tmp, rb.schema,
                                                      compression=codec)
                        writer.write_batch(rb)
                    except BaseException as e:  # noqa: BLE001
                        werr.append(e)

            wth = _th.Thread(target=_write_loop, daemon=True)
            wth.start()
            try:
                for rb in inner(tee(batches)):
                    if werr:
                        break
                    wq.put(rb)
                    n_blocks += rb.num_rows
                    n_docs += sum(rb.column("n_docs").to_pylist())
                    n_tokens += sum(rb.column("n_tokens").to_pylist())
                    orig += sum(rb.column("orig_bytes").to_pylist())
                    comp += sum(rb.column("comp_bytes").to_pylist())
                    roll(rb)
            finally:
                wq.put(None)
                wth.join()
                if writer is not None:
                    writer.close()
            if werr:
                raise werr[0]
            if writer is not None:
                os.replace(tmp, final)  # atomic commit of this task's file
                # per-task LINEAGE: which input splits produced this
                # file, plus its metrics and the per-codec rollup — the
                # audit/incremental-recompute record the north rule's
                # "per-partition lineage + metrics" asks for (atomic
                # like the data), and the manifest's building blocks
                commit_lineage()
        yield pa.record_batch(
            [pa.array([x], pa.int64()) for x in
             (n_blocks, n_docs, n_tokens, orig, comp)],
            names=["n_blocks", "n_docs", "n_tokens", "orig", "comp"])

    # one row per task, summed here: an .agg() would add a shuffle
    # stage to the job only to add up n_tasks rows
    rows = _map_splits(spark, units, n_tasks, it,
                       "n_blocks long, n_docs long, n_tokens long, "
                       "orig long, comp long").collect()
    if not manifest_from_lineage(out_dir):
        refresh_manifest(spark, out_dir)  # lineage gap: authoritative rescan
    orig = sum(r["orig"] for r in rows)
    comp = sum(r["comp"] for r in rows)
    return {"orig_bytes": orig, "comp_bytes": comp,
            "ratio": (comp / orig) if orig else 1.0,
            "n_tokens": sum(r["n_tokens"] for r in rows),
            "n_docs": sum(r["n_docs"] for r in rows)}


def decode_parquet_dir(spark: SparkSession, out_dir: str,
                       n_tasks: int | None = None) -> DataFrame:
    """Decoded (doc_id, tokens) DataFrame over the file transport:
    tasks read their own block files with pyarrow and run the standard
    decode kernel (engine._decode_iter) — the file-source twin of
    engine.decode_dataframe(read_encoded(...))."""
    from .engine import _decode_iter

    def it(batches):
        import pyarrow.parquet as pq

        def gen():
            for rb in batches:
                for path, g0, g1 in zip(rb.column("path").to_pylist(),
                                        rb.column("rg0").to_pylist(),
                                        rb.column("rg1").to_pylist()):
                    pf = pq.ParquetFile(path)
                    yield from pf.iter_batches(
                        batch_size=64, row_groups=list(range(g0, g1)),
                        columns=["payload", "doc_ids", "doc_lens"])
        yield from _decode_iter(_readahead(gen))

    units = plan_parquet_splits(os.path.join(out_dir, "blocks"),
                                with_bytes=True)
    return _map_splits(spark, units, n_tasks, it, DECODED_SCHEMA_DDL)


def decode_parquet_dir_summary(spark: SparkSession, out_dir: str,
                               n_tasks: int | None = None) -> DataFrame:
    """Decode every committed block with the standard kernels, tasks
    reading block files directly with pyarrow, returning per-task
    (n_docs, n_tokens) — the decode-throughput measurement shape: the
    decoded arrays materialize in the python worker (where a training
    dataloader consumes them) without an artificial 845 MB Arrow IPC
    hop back to the JVM."""
    from .blocks import decode_block

    def it(batches):
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq
        n_docs = 0
        n_tokens = 0

        def gen():
            for rb in batches:
                for path, g0, g1 in zip(rb.column("path").to_pylist(),
                                        rb.column("rg0").to_pylist(),
                                        rb.column("rg1").to_pylist()):
                    pf = pq.ParquetFile(path)
                    yield from pf.iter_batches(
                        batch_size=64, row_groups=list(range(g0, g1)),
                        columns=["payload", "doc_lens"])

        for blk in _readahead(gen):
            payloads = blk.column("payload")
            lens_col = blk.column("doc_lens")
            for i in range(blk.num_rows):
                # as_buffer: zero-copy view of the Arrow payload
                # (as_py copied every ~0.5 MB payload to bytes)
                toks = decode_block(payloads[i].as_buffer())
                n_tokens += len(toks)
            n_docs += int(pc.sum(
                pc.list_value_length(lens_col)).as_py() or 0)
        yield pa.record_batch(
            [pa.array([n_docs], pa.int64()), pa.array([n_tokens], pa.int64())],
            names=["n_docs", "n_tokens"])

    units = plan_parquet_splits(os.path.join(out_dir, "blocks"),
                                with_bytes=True)
    return _map_splits(spark, units, n_tasks, it, "n_docs long, n_tokens long")


def encode_parquet_dir_to_table(spark: SparkSession, src_dir: str,
                                out_dir: str,
                                cfg: EngineConfig | None = None,
                                target_split_bytes: int = 128 << 20) -> dict:
    """Full job over the file source: blocks + manifest on disk,
    summary dict — the encode_table equivalent for a source-clustered
    corpus that needs no re-bucketing."""
    cfg = cfg or EngineConfig(layout="mapside")
    blocks = encode_parquet_dir(spark, src_dir, cfg, target_split_bytes)
    (blocks.write.mode("overwrite")
     .option("compression", cfg.parquet_codec)
     .parquet(os.path.join(out_dir, "blocks")))
    refresh_manifest(spark, out_dir)
    row = (spark.read.parquet(os.path.join(out_dir, "manifest"))
           .agg(F.sum("orig_bytes").alias("o"), F.sum("comp_bytes").alias("c"),
                F.sum("n_tokens").alias("t"), F.sum("n_docs").alias("d"))
           .collect()[0])
    orig, comp = int(row["o"] or 0), int(row["c"] or 0)
    return {"orig_bytes": orig, "comp_bytes": comp,
            "ratio": (comp / orig) if orig else 1.0,
            "n_tokens": int(row["t"] or 0), "n_docs": int(row["d"] or 0)}
