"""Self-test of the round-trip gate: it must catch a corrupted block.

    python3 perfbench/selftest.py

Encodes a small mixed corpus with the engine (local[1]), gates the
output (it must pass), then corrupts one block's payload in a copy of
the output and gates the copy (it must fail). Prints the operation
failure rate of both and exits 0 only when the clean output passes and
the corrupted copy fails.
"""

from __future__ import annotations

import glob
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TOKENS = 2_000_000


def corrupt_one_block(out_dir: str) -> str:
    """Flip one byte in the middle of the first block's payload, past
    its frame header, and rewrite that block file; returns the block id."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    path = sorted(glob.glob(os.path.join(out_dir, "blocks", "*.parquet")))[0]
    table = pq.read_table(path)
    payloads = table.column("payload").to_pylist()
    bad = bytearray(payloads[0])
    bad[15 + (len(bad) - 15) // 2] ^= 0x5A
    payloads[0] = bytes(bad)
    i = table.schema.get_field_index("payload")
    table = table.set_column(i, "payload", pa.array(payloads, pa.binary()))
    pq.write_table(table, path)
    return table.column("block_id")[0].as_py()


def main() -> int:
    sys.path.insert(0, ROOT)
    from perfbench import run
    run.adopt_orphans()
    try:
        return _selftest()
    finally:
        run.stop_descendants()


def _selftest() -> int:
    from perfbench import corpus, gate, run
    work = os.path.join(ROOT, ".perfbench_work", "selftest")
    run.prepare_env(work, trace=False)
    from rle_spark.engine import get_spark
    from rle_spark.sources import encode_parquet_dir_direct

    src_root, facts = corpus.build(os.path.join(work, "corpus"), "mixed", 0,
                                   TOKENS)
    out = os.path.join(work, "out")
    shutil.rmtree(out, ignore_errors=True)
    spark = get_spark("perfbench-selftest", cpus=1)
    try:
        spark.sparkContext.setLogLevel("ERROR")
        encode_parquet_dir_direct(spark, os.path.join(src_root, "data"), out,
                                  n_tasks=1)
    finally:
        spark.stop()
        run.stop_jvm()
    docs = corpus.load_docs(src_root)
    clean = gate.check(docs, facts, out)
    bad_out = os.path.join(work, "out-corrupted")
    shutil.rmtree(bad_out, ignore_errors=True)
    shutil.copytree(out, bad_out)
    block = corrupt_one_block(bad_out)
    bad = gate.check(docs, facts, bad_out)
    for name, res in (("clean", clean), ("corrupted", bad)):
        print(f"{name}: {res['blocks']} blocks, {res['failed_blocks']} "
              f"failed, op_failure_rate {gate.failure_rate(res):.4f}, "
              f"problems {res['problems']}")
    ok = gate.failure_rate(clean) == 0 and gate.failure_rate(bad) > 0
    print(f"corrupted block {block}: "
          f"{'caught' if ok else 'NOT caught'} by the gate")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
