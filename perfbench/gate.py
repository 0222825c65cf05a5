"""Round-trip gate: every written block against the corpus it came from.

Runs in the driver, outside the timed jobs. Each block is decoded with
`rle_spark.blocks.decode_block` and compared token for token with the
corpus docs its `doc_ids`/`doc_lens` name; every corpus doc must be in
exactly one block, and the manifest totals must equal the corpus
totals. A block that fails to decode, decodes to other tokens, or names
a doc it should not counts as one failed block.
"""

from __future__ import annotations

import glob
import os

import numpy as np


def check(corpus_docs, facts: dict, out_dir: str) -> dict:
    """Gate one encode output. `corpus_docs` is corpus.load_docs()."""
    import pyarrow.parquet as pq
    from rle_spark.blocks import decode_block
    ids, offsets, flat = corpus_docs
    index = {d: i for i, d in enumerate(ids)}
    seen = np.zeros(len(ids), bool)
    blocks = failed = 0
    problems: list[str] = []

    def fail(msg):
        nonlocal failed
        failed += 1
        if len(problems) < 10:
            problems.append(msg)

    files = sorted(glob.glob(os.path.join(out_dir, "blocks", "*.parquet")))
    for path in files:
        pf = pq.ParquetFile(path)
        for rb in pf.iter_batches(batch_size=64, columns=[
                "block_id", "n_tokens", "doc_ids", "doc_lens", "payload"]):
            bids = rb.column("block_id").to_pylist()
            ntoks = rb.column("n_tokens").to_pylist()
            doc_ids = rb.column("doc_ids").to_pylist()
            doc_lens = rb.column("doc_lens").to_pylist()
            payloads = rb.column("payload")
            for r, bid in enumerate(bids):
                blocks += 1
                try:
                    toks = decode_block(payloads[r].as_buffer())
                except Exception as e:  # noqa: BLE001 — counted, reported
                    fail(f"{bid}: decode raised {type(e).__name__}: {e}")
                    continue
                rows = [index.get(d, -1) for d in doc_ids[r]]
                if min(rows, default=0) < 0 or seen[rows].any():
                    fail(f"{bid}: unknown or repeated doc ids")
                    continue
                seen[rows] = True
                want = (np.concatenate([flat[offsets[i]:offsets[i + 1]]
                                        for i in rows])
                        if rows else np.zeros(0, np.int32))
                lens = [int(offsets[i + 1] - offsets[i]) for i in rows]
                if (lens != doc_lens[r] or len(toks) != ntoks[r]
                        or toks.dtype != np.int32
                        or not np.array_equal(toks, want)):
                    fail(f"{bid}: decoded tokens differ from the corpus")
    missing = int((~seen).sum())
    if missing:
        fail(f"{missing} corpus docs are in no block")

    manifest = pq.read_table(os.path.join(out_dir, "manifest"))
    totals = {c: int(manifest.column(c).to_numpy().sum())
              for c in ("n_docs", "n_tokens", "orig_bytes")}
    want = {"n_docs": facts["n_docs"], "n_tokens": facts["n_tokens"],
            "orig_bytes": facts["decoded_bytes"]}
    manifest_ok = totals == want
    if not manifest_ok:
        problems.append(f"manifest totals {totals} != corpus {want}")
    return {"blocks": blocks, "failed_blocks": failed,
            "manifest_ok": manifest_ok, "problems": problems}


def failure_rate(res: dict, jobs: int = 0, failed_jobs: int = 0) -> float:
    """(failed jobs + failed blocks + a failed manifest check) / (jobs +
    blocks + the manifest check)."""
    failed = failed_jobs + res["failed_blocks"] + (not res["manifest_ok"])
    return failed / (jobs + res["blocks"] + 1)
