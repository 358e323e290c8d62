"""Seeded inputs for the benchmark and the outputs expected from them.

Everything here is numpy + pyarrow; nothing imports Spark or the engine.
The expected outputs are computed from the same arrays the input files are
written from, using the documented seriesify mapping
``ts = 2025-01-01 00:00:00 UTC + 7 s * seq`` and ``y = n_tok`` (see
``forecaster_spark/operators/seriesify.py``), so they are independent of the
code under test.

The events of ``series_queries`` are not generated: they are the contract
test data's sf0.1 events table (``data/events_sf0.1.parquet``), written in
an order drawn from the seed.

Inputs are written once per (generator version, workload, seed, size) under
``perfbench/.cache`` and reused by later runs.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

GEN_VERSION = 1
EPOCH0_S = 1735689600  # 2025-01-01 00:00:00 UTC
CADENCE_S = 7
TIER_STEP_S = {"1m": 60, "1h": 3600, "1d": 86400}
VOCAB = 50257
N_SOURCES = 20
N_FILES = 8  # several files, so the scan has parallel splits

# the rollup_sparse corpus: 1..max_tok tokens per doc; each doc advances
# its source's seq by 9..16 (63..112 s), so every doc lands in its own
# minute, and one step in 100 is an idle run of 200..2000 seq (23 min..3.9 h)
CORPUS = {"docs": 30_000, "max_tok": 128}
# the contract test data's events table at scale factor 0.1: 100,000 events
# of 5 types over 30 days from 2024-01-01, 1,500 users
EVENTS_FILE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "events_sf0.1.parquet")


def _rng(kind: str, seed: int) -> np.random.Generator:
    return np.random.default_rng([GEN_VERSION, sum(map(ord, kind)), seed])


def _source_sizes(n_docs: int) -> np.ndarray:
    """Zipf(1.2) shares over the sources; src00 is the hot one."""
    w = 1.0 / np.arange(1, N_SOURCES + 1) ** 1.2
    sizes = np.maximum((w / w.sum() * n_docs).astype(np.int64), 1)
    sizes[0] += n_docs - sizes.sum()
    return sizes


def make_corpus_arrays(seed: int) -> dict:
    """Column arrays of the token corpus, sorted by event time."""
    rng = _rng("rollup_sparse", seed)
    sizes = _source_sizes(CORPUS["docs"])
    src_idx = np.repeat(np.arange(N_SOURCES), sizes)
    steps = rng.integers(9, 17, size=len(src_idx))
    idle = rng.random(len(src_idx)) < 0.01
    steps[idle] = rng.integers(200, 2001, size=int(idle.sum()))
    starts = np.concatenate(([0], np.cumsum(sizes)[:-1]))
    steps[starts] = 0  # each source starts at seq 0
    csum = np.cumsum(steps)
    seq = csum - np.repeat(csum[starts], sizes)
    n_tok = rng.integers(1, CORPUS["max_tok"] + 1, size=len(src_idx)).astype(np.int32)
    # Zipf-distributed token ids, as in natural-language corpora
    tokens = ((rng.zipf(1.3, size=int(n_tok.sum())) - 1) % VOCAB).astype(np.int32)
    order = np.lexsort((src_idx, seq))  # time-ordered, sources interleaved
    tok_offsets = np.concatenate(([0], np.cumsum(n_tok))).astype(np.int64)
    return {
        "src_idx": src_idx[order],
        "seq": seq[order],
        "n_tok": n_tok[order],
        "tokens": tokens,
        "tok_start": tok_offsets[:-1][order],
    }


def _source_names() -> np.ndarray:
    return np.array([f"src{i:02d}" for i in range(N_SOURCES)])


def write_corpus(arrs: dict, path: str) -> None:
    names = _source_names()
    n = len(arrs["seq"])
    src = names[arrs["src_idx"]]
    doc_id = np.char.add(np.char.add(src, "-"), np.char.zfill(arrs["seq"].astype(str), 9))
    # re-gather token runs in row order
    lens = arrs["n_tok"].astype(np.int64)
    offs = np.concatenate(([0], np.cumsum(lens)))
    gather = np.repeat(arrs["tok_start"] - offs[:-1], lens) + np.arange(offs[-1])
    flat = arrs["tokens"][gather]
    os.makedirs(path, exist_ok=True)
    bounds = np.linspace(0, n, N_FILES + 1).astype(np.int64)
    schema = pa.schema(
        [
            pa.field("doc_id", pa.string(), nullable=False),
            pa.field("tokens", pa.list_(pa.field("element", pa.int32(), nullable=False)), nullable=False),
            pa.field("n_tok", pa.int32(), nullable=False),
            pa.field("source", pa.string(), nullable=False),
        ]
    )
    for f in range(N_FILES):
        a, b = bounds[f], bounds[f + 1]
        toks = pa.ListArray.from_arrays(
            pa.array((offs[a : b + 1] - offs[a]).astype(np.int32)),
            pa.array(flat[offs[a] : offs[b]], type=pa.int32()),
        )
        table = pa.Table.from_arrays(
            [pa.array(doc_id[a:b]), toks, pa.array(arrs["n_tok"][a:b]), pa.array(src[a:b])],
            schema=schema,
        )
        pq.write_table(table, f"{path}/part-{f:05d}.parquet")


def expected_rollups(arrs: dict) -> dict:
    """Each tier's rows per (source, bucket), from the raw arrays."""
    names = _source_names()
    ts = EPOCH0_S + CADENCE_S * arrs["seq"].astype(np.int64)
    base = pd.DataFrame(
        {"source": names[arrs["src_idx"]], "ts": ts, "y": arrs["n_tok"].astype(np.float64)}
    ).sort_values(["source", "ts"], kind="stable")
    out = {}
    for tier, step in TIER_STEP_S.items():
        df = base.assign(bucket_start=base["ts"] // step * step)
        g = df.groupby(["source", "bucket_start"], sort=True)["y"]
        t = g.agg(cnt="size", sum_y="sum", min_y="min", max_y="max", first_y="first", last_y="last")
        t = t.reset_index()
        t["cnt"] = t["cnt"].astype(np.int64)
        t["mean_y"] = t["sum_y"].to_numpy() / t["cnt"].to_numpy()
        out[tier] = t
    return out


def expected_gapfill(t1m: pd.DataFrame) -> dict:
    """Per-source 1m grid size and gap count, and the LOCF mean_y of every
    grid bucket (the mean of the latest 1m bucket at or before it)."""
    grid, gaps = {}, {}
    for src, g in t1m.groupby("source", sort=True):
        b = g["bucket_start"].to_numpy()
        n = int((b[-1] - b[0]) // 60 + 1)
        grid[src] = n
        gaps[src] = n - len(b)
    return {"grid": grid, "gaps": gaps}


def locf_values(t1m_src: pd.DataFrame, buckets: np.ndarray) -> np.ndarray:
    b = t1m_src["bucket_start"].to_numpy()
    i = np.searchsorted(b, buckets, side="right") - 1
    return t1m_src["mean_y"].to_numpy()[i]


def order_events(seed: int) -> pa.Table:
    """The contract's events rows in a seeded order. The seed changes the
    file's layout, not its content, so every seed has the same query
    results."""
    table = pq.read_table(EVENTS_FILE)
    return table.take(_rng("events", seed).permutation(table.num_rows))


def prepare(cache_root: str, workload: str, seed: int) -> tuple[str, dict | None, float]:
    """Write (or reuse) the inputs of one workload and seed.

    Returns (input dir, expected outputs or None for events, seconds spent
    generating). The corpus is re-derived from the seed on every call for
    the expectations — only the parquet write is cached."""
    t0 = time.perf_counter()
    if workload == "rollup_sparse":
        key = f"{workload}-v{GEN_VERSION}-s{seed}-n{CORPUS['docs']}x{CORPUS['max_tok']}"
        path = os.path.join(cache_root, key)
        arrs = make_corpus_arrays(seed)
        if not os.path.exists(path):
            tmp = f"{path}.tmp{os.getpid()}"
            write_corpus(arrs, os.path.join(tmp, "corpus"))
            os.rename(tmp, path)
        tiers = expected_rollups(arrs)
        expected = {
            "docs": len(arrs["seq"]),
            "tiers": tiers,
            "gapfill": expected_gapfill(tiers["1m"]),
        }
        return os.path.join(path, "corpus"), expected, time.perf_counter() - t0
    path = os.path.join(cache_root, f"events-v{GEN_VERSION}-s{seed}-sf0.1")
    if not os.path.exists(path):
        tmp = f"{path}.tmp{os.getpid()}"
        os.makedirs(tmp)
        pq.write_table(order_events(seed), os.path.join(tmp, "events.parquet"))
        os.rename(tmp, path)
    return path, None, time.perf_counter() - t0
