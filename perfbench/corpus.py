"""Seeded token corpora for the benchmark, built on rle_spark.datagen.

Two corpora share one generator, `rle_spark.datagen.generate_docs_pandas`:

* ``mixed``: the datagen five-source mix, docs 0, 1, 2, ...
* ``incompressible``: only the ``synth_rand`` source (the incompressible
  control of FIXTURES.md). Doc indices are pre-screened with the same
  per-doc source draw datagen makes, then generated by datagen; the
  generated rows are checked to be ``synth_rand``, so a change to
  datagen's draw order fails loudly instead of changing the corpus.

A corpus holds a fixed number of tokens from each source, taken in doc
order: a doc is kept while its source is short of its share. So the
decoded size and the source mix stay the same from seed to seed (to
within one doc per source) while the docs change; with free shares,
the few hundred long ``books`` docs that carry three quarters of the
tokens moved the encode wall by up to 14% between seeds at local[1].

A corpus is written once per (kind, seed, tokens) as parquet under the
cache directory, with ``corpus.json`` (sizes and counts) written last
as the completion marker. The cache holds one corpus of each kind:
building another replaces the one of its kind, so a series of seeds
does not fill the disk, and runs that alternate the mixed and the
incompressible workloads do not rebuild each other's corpus.
"""

from __future__ import annotations

import json
import os
import shutil
from concurrent.futures import ProcessPoolExecutor
from multiprocessing import get_context, resource_tracker

import numpy as np

# docs generated per part file; rows per parquet row group, small
# against a task's share of the corpus so the byte-balanced split
# planner can even out the tasks
_PART_DOCS = 1024
_ROW_GROUP_ROWS = 128
_INCOMPRESSIBLE = "synth_rand"
# doc indices screened per incompressible part: synth_rand is a tenth
# of the docs
_SCREEN_SPAN = 10 * _PART_DOCS
# token shares of the mixed corpus: datagen's expected shares (doc
# weight x mean doc length)
MIXED_SHARES = {"books": 0.75, "code": 0.10, "synth_rle": 0.065,
                "synth_rand": 0.05, "web": 0.035}
# generator processes
_PROCS = 4


def _screen(seed: int, lo: int, hi: int) -> list[int]:
    """Indices in [lo, hi) whose datagen source draw is synth_rand (the
    first draw datagen makes from each doc's RNG)."""
    from rle_spark.datagen import SOURCES
    weights = np.array([w for _, w, _, _ in SOURCES])
    weights = weights / weights.sum()
    target = [name for name, *_ in SOURCES].index(_INCOMPRESSIBLE)
    return [i for i in range(lo, hi)
            if int(np.random.default_rng([seed, i]).choice(
                len(SOURCES), p=weights)) == target]


def _write_part(kind: str, seed: int, k: int,
                path: str) -> tuple[list[str], list[int]]:
    """Generate and write part `k`; returns its docs' sources and token
    counts."""
    import pyarrow.parquet as pq
    from rle_spark.datagen import generate_docs_pandas
    if kind == "mixed":
        indices = range(k * _PART_DOCS, (k + 1) * _PART_DOCS)
    else:
        indices = _screen(seed, k * _SCREEN_SPAN, (k + 1) * _SCREEN_SPAN)
    pdf = generate_docs_pandas(indices, seed)
    if kind == "incompressible" and not (
            pdf["source"] == _INCOMPRESSIBLE).all():
        raise RuntimeError("datagen source draw changed: the "
                           "incompressible pre-screen picked other sources")
    pq.write_table(_to_arrow(pdf), path, row_group_size=_ROW_GROUP_ROWS)
    return pdf["source"].tolist(), pdf["n_tok"].tolist()


def _filter_part(path: str, keep: list[bool]) -> int:
    """Rewrite a part with only the kept docs; returns its file size."""
    import pyarrow.parquet as pq
    if all(keep):
        return os.path.getsize(path)
    if not any(keep):
        os.remove(path)
        return 0
    table = pq.read_table(path).filter(keep)
    pq.write_table(table, path, row_group_size=_ROW_GROUP_ROWS)
    return os.path.getsize(path)


def _to_arrow(pdf):
    import pyarrow as pa
    lens = pdf["n_tok"].to_numpy(np.int64)
    offsets = np.zeros(len(lens) + 1, np.int32)
    np.cumsum(lens, out=offsets[1:])
    flat = (np.concatenate(pdf["tokens"].to_list()) if len(pdf)
            else np.zeros(0, np.int32)).astype(np.int32, copy=False)
    return pa.table({
        "doc_id": pa.array(pdf["doc_id"].to_list(), pa.string()),
        "tokens": pa.ListArray.from_arrays(pa.array(offsets), pa.array(flat)),
        "n_tok": pa.array(pdf["n_tok"].to_numpy(np.int32)),
        "source": pa.array(pdf["source"].to_list(), pa.string()),
    })


def build(cache_dir: str, kind: str, seed: int,
          tokens: int) -> tuple[str, dict]:
    """Write the corpus unless it is already complete; returns its
    directory (parquet files under ``data/``) and its facts.

    The build refuses to start unless the cache's file system has room
    for four times the decoded size: the corpus, the encoded output of
    each job beside it, and headroom."""
    if kind == "mixed":
        budget = {src: int(share * tokens)
                  for src, share in MIXED_SHARES.items()}
    elif kind == "incompressible":
        budget = {_INCOMPRESSIBLE: tokens}
    else:
        raise ValueError(f"unknown corpus kind {kind!r}")
    out = os.path.join(cache_dir, f"{kind}-seed{seed}-tokens{tokens}")
    marker = os.path.join(out, "corpus.json")
    if os.path.exists(marker):
        with open(marker) as fh:
            return out, json.load(fh)
    for d in os.listdir(cache_dir) if os.path.isdir(cache_dir) else []:
        if d.startswith(kind + "-"):
            shutil.rmtree(os.path.join(cache_dir, d))
    data = os.path.join(out, "data")
    os.makedirs(data)
    free = shutil.disk_usage(data).free
    if free < 16 * tokens:
        raise RuntimeError(f"{free} bytes free under {data}, need "
                           f"{16 * tokens} for the corpus and its output")

    def part(k):
        return os.path.join(data, f"part-{k:05d}.parquet")

    have = dict.fromkeys(budget, 0)
    keeps: list[list[bool]] = []
    n_proc = min(_PROCS, os.cpu_count() or 1)
    with ProcessPoolExecutor(n_proc, mp_context=get_context("spawn")) as ex:
        while any(have[s] < budget[s] for s in budget):
            ks = range(len(keeps), len(keeps) + n_proc)
            for srcs, lens in ex.map(_write_part, [kind] * n_proc,
                                     [seed] * n_proc, ks, map(part, ks)):
                keep = []
                for src, n in zip(srcs, lens):
                    keep.append(have[src] < budget[src])
                    if keep[-1]:
                        have[src] += n
                keeps.append(keep)
        sizes = list(ex.map(_filter_part, map(part, range(len(keeps))),
                            keeps))
    # the spawn pool started multiprocessing's resource tracker, which
    # ignores SIGTERM and would otherwise outlive the caller: end it and
    # wait for it
    resource_tracker._resource_tracker._stop()
    n_tokens = sum(have.values())
    facts = {
        "kind": kind, "seed": seed, "n_docs": sum(map(sum, keeps)),
        "n_tokens": n_tokens, "decoded_bytes": 4 * n_tokens,
        "source_tokens": have, "parquet_bytes": sum(sizes),
    }
    tmp = marker + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(facts, fh)
    os.replace(tmp, marker)
    return out, facts


def load_docs(out: str):
    """The corpus as (doc ids, int64 offsets, flat int32 tokens)."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    table = pq.read_table(os.path.join(out, "data"),
                          columns=["doc_id", "tokens"])
    ids = table.column("doc_id").to_pylist()
    tokens = table.column("tokens").combine_chunks()
    offsets = np.zeros(len(tokens) + 1, np.int64)
    np.cumsum(pc.list_value_length(tokens).to_numpy(zero_copy_only=False),
              out=offsets[1:])
    flat = tokens.flatten().to_numpy().astype(np.int32, copy=False)
    return ids, offsets, flat
