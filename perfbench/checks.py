"""Output checks. Each check returns a list of error strings; an operation
whose checks return any error is counted as failed.

The pipeline checks read the committed stage directories back with pyarrow
and compare them with the expectations of ``inputs.py``; the Gorilla blobs
are decoded by the bit-level reader below, written from the format notes in
``forecaster_spark/functions/gorilla.py`` and sharing no code with it.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import struct

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from inputs import locf_values

TIERS = ("1m", "1h", "1d")
TIER_COLS = ("cnt", "sum_y", "min_y", "max_y", "first_y", "last_y", "mean_y")
MANIFEST = "_forecaster_manifest.json"
U64 = 1 << 64


# -- Gorilla -----------------------------------------------------------------

def gorilla_decode(blob: bytes) -> tuple[list[int], list[int]]:
    """Decode one block into (timestamps, IEEE-754 bit patterns of values).

    Header ``<I q d`` (n, ts0, v0), then all n-1 delta-of-delta timestamp
    codes, then all n-1 XOR value codes, as one big-endian bitstream."""
    (n,) = struct.unpack_from("<I", blob, 0)
    if n == 0:
        return [], []
    _, ts0, v0 = struct.unpack_from("<Iqd", blob, 0)
    v0_bits = struct.unpack("<Q", struct.pack("<d", v0))[0]
    ts, vals = [ts0], [v0_bits]
    if n == 1:
        return ts, vals
    body = blob[20:]
    bits = bin(int.from_bytes(body, "big"))[2:].zfill(8 * len(body)) if body else ""
    pos = 0

    def take(k: int) -> int:
        nonlocal pos
        v = int(bits[pos : pos + k], 2)
        pos += k
        return v

    delta = 0
    for _ in range(n - 1):
        if bits[pos] == "0":
            pos += 1
            dod = 0
        elif bits[pos + 1] == "0":
            pos += 2
            dod = take(7) - 63
        elif bits[pos + 2] == "0":
            pos += 3
            dod = take(9) - 255
        elif bits[pos + 3] == "0":
            pos += 4
            dod = take(12) - 2047
        else:
            pos += 4
            dod = take(64)
            if dod >= 1 << 63:
                dod -= U64
        delta += dod
        ts.append(ts[-1] + delta)
    prev, lead, mlen = v0_bits, 0, 0
    for _ in range(n - 1):
        if bits[pos] == "0":
            pos += 1
        else:
            if bits[pos + 1] == "1":
                pos += 2
                lead = take(5)
                mlen = take(6) + 1
            else:
                pos += 2
            prev ^= take(mlen) << (64 - lead - mlen)
        vals.append(prev)
    return ts, vals


# -- pipeline ------------------------------------------------------------------

def _read_stage(out_root: str, stage: str) -> pd.DataFrame:
    df = pq.read_table(os.path.join(out_root, stage)).to_pandas()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[s]").astype(np.int64)
    return df


def _parquet_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(path, f))
        for f in os.listdir(path)
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    )


def load_pipeline_outputs(out_root: str) -> dict:
    stages = [f"rollup_{t}" for t in TIERS] + ["gapfill_1m", "gorilla"]
    tables = {s: _read_stage(out_root, s) for s in stages}
    manifests = {}
    for s in stages:
        with open(os.path.join(out_root, s, MANIFEST)) as f:
            manifests[s] = json.load(f)
    lineage = []
    with open(os.path.join(out_root, "lineage.jsonl")) as f:
        lineage = [json.loads(line) for line in f]
    nbytes = {s: _parquet_bytes(os.path.join(out_root, s)) for s in stages}
    return {"tables": tables, "manifests": manifests, "lineage": lineage, "bytes": nbytes}


def _first_diff(a: np.ndarray, b: np.ndarray) -> int:
    return int(np.flatnonzero(a != b)[0])


def check_tier(tier: str, got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    got = got.sort_values(["source", "bucket_start"]).reset_index(drop=True)
    if len(got) != len(want):
        return [f"tier {tier}: {len(got)} rows, expected {len(want)}"]
    for key in ("source", "bucket_start"):
        a, b = got[key].to_numpy(), want[key].to_numpy()
        if not np.array_equal(a, b):
            i = _first_diff(a, b)
            return [f"tier {tier}: row {i} key {key}={a[i]!r}, expected {b[i]!r}"]
    errs = []
    for c in TIER_COLS:
        a, b = got[c].to_numpy(), want[c].to_numpy()
        if a.dtype.kind == "f":  # bit-for-bit
            a, b = a.astype(np.float64).view(np.uint64), b.astype(np.float64).view(np.uint64)
        if not np.array_equal(a, b):
            i = _first_diff(a, b)
            errs.append(
                f"tier {tier}: {c} of ({want['source'][i]}, {want['bucket_start'][i]}) "
                f"is {got[c][i]!r}, expected {want[c][i]!r}"
            )
    micro = got["sum_micro"].to_numpy()
    if not np.array_equal(micro, (want["sum_y"].to_numpy() * 1_000_000).astype(np.int64)):
        errs.append(f"tier {tier}: sum_micro disagrees with sum_y")
    return errs


def _wrapped_sum(a: np.ndarray) -> int:
    return int(np.sum(a.astype(np.int64).view(np.uint64), dtype=np.uint64))


def check_checksums(tables: dict) -> list[str]:
    sums = {t: _wrapped_sum(tables[f"rollup_{t}"]["chk"].to_numpy()) for t in TIERS}
    if len(set(sums.values())) != 1:
        return [f"sum(chk) differs across tiers: {sums}"]
    return []


def check_lineage(out: dict) -> list[str]:
    errs = []
    for stage, man in out["manifests"].items():
        rows = [r for r in out["lineage"] if r["stage"] == stage and not r["skipped"]]
        lin_rows = sum(r["rows"] for r in rows)
        lin_chk = sum(r["checksum"] for r in rows) % U64
        if lin_rows != man["rows"]:
            errs.append(f"{stage}: lineage rows {lin_rows} != manifest rows {man['rows']}")
        if lin_chk != man["checksum"] % U64:
            errs.append(f"{stage}: lineage checksum sum != manifest checksum")
        if len(out["tables"][stage]) != man["rows"]:
            errs.append(f"{stage}: {len(out['tables'][stage])} rows on disk, manifest says {man['rows']}")
    return errs


def check_gapfill(got: pd.DataFrame, t1m: pd.DataFrame, want: dict) -> list[str]:
    got = got.sort_values(["source", "bucket_start"]).reset_index(drop=True)
    errs = []
    srcs = got["source"].to_numpy()
    cuts = np.flatnonzero(srcs[1:] != srcs[:-1]) + 1
    starts = np.concatenate(([0], cuts))
    ends = np.concatenate((cuts, [len(got)]))
    seen = {srcs[a]: (a, b) for a, b in zip(starts, ends)} if len(got) else {}
    if set(seen) != set(want["grid"]):
        return [f"gapfill_1m: sources {sorted(seen)} != expected {sorted(want['grid'])}"]
    for src, (a, b) in seen.items():
        ref = t1m[t1m["source"] == src]
        buckets = got["bucket_start"].to_numpy()[a:b]
        lo, hi = ref["bucket_start"].iloc[0], ref["bucket_start"].iloc[-1]
        if b - a != want["grid"][src] or not np.array_equal(buckets, np.arange(lo, hi + 60, 60)):
            errs.append(f"gapfill_1m: {src} grid has {b - a} rows, expected {want['grid'][src]}")
            continue
        gaps = got["is_gap"].to_numpy()[a:b]
        if int(gaps.sum()) != want["gaps"][src]:
            errs.append(f"gapfill_1m: {src} has {int(gaps.sum())} gaps, expected {want['gaps'][src]}")
        is_obs = np.isin(buckets, ref["bucket_start"].to_numpy())
        if not np.array_equal(gaps, ~is_obs):
            errs.append(f"gapfill_1m: {src} is_gap marks the wrong buckets")
        v = got["mean_y"].to_numpy()[a:b].astype(np.float64).view(np.uint64)
        e = locf_values(ref, buckets).astype(np.float64).view(np.uint64)
        if not np.array_equal(v, e):
            i = _first_diff(v, e)
            errs.append(f"gapfill_1m: {src} LOCF mean_y wrong at bucket {buckets[i]}")
    return errs


def check_gorilla(packed: pd.DataFrame, tiers: dict) -> tuple[list[str], dict]:
    errs, facts = [], {"blocks": len(packed)}
    for tier in TIERS:
        n_errs = len(errs)
        rows = packed[packed["tier"] == tier].sort_values(["source", "block_id"])
        want = tiers[tier]
        n_pts = int(rows["n_points"].sum())
        nbits = 8 * int(rows["blob"].map(len).sum())
        facts[f"bits_per_point.{tier}"] = nbits / n_pts if n_pts else 0.0
        facts[f"bits.{tier}"], facts[f"points.{tier}"] = nbits, n_pts
        ts, vals, srcs = [], [], []
        for src, n, blob in zip(rows["source"], rows["n_points"], rows["blob"]):
            try:
                t, v = gorilla_decode(blob)
            except (IndexError, ValueError, struct.error) as e:
                errs.append(f"gorilla {tier}: {src} block does not decode ({e!r})")
                continue
            if len(t) != n:
                errs.append(f"gorilla {tier}: {src} block decodes {len(t)} points, header row says {n}")
            ts += t
            vals += v
            srcs += [src] * len(t)
        if len(errs) > n_errs:
            continue
        got_ts = np.array(ts, dtype=np.int64)
        got_v = np.array(vals, dtype=np.uint64)
        want_v = want["mean_y"].to_numpy().astype(np.float64).view(np.uint64)
        if (
            len(got_ts) != len(want)
            or not np.array_equal(np.array(srcs, dtype=object), want["source"].to_numpy(dtype=object))
            or not np.array_equal(got_ts, want["bucket_start"].to_numpy())
            or not np.array_equal(got_v, want_v)
        ):
            errs.append(f"gorilla {tier}: decoded (bucket_start, mean_y) differ from the {tier} tier")
    pts = sum(facts[f"points.{t}"] for t in TIERS)
    facts["bits_per_point"] = sum(facts[f"bits.{t}"] for t in TIERS) / pts if pts else 0.0
    return errs, facts


def check_pipeline(out: dict, expected: dict) -> tuple[list[str], dict]:
    """All pipeline checks over loaded outputs; returns (errors, facts)."""
    tables = out["tables"]
    errs = []
    for t in TIERS:
        errs += check_tier(t, tables[f"rollup_{t}"], expected["tiers"][t])
    errs += check_checksums(tables)
    errs += check_lineage(out)
    errs += check_gapfill(tables["gapfill_1m"], expected["tiers"]["1m"], expected["gapfill"])
    g_errs, facts = check_gorilla(tables["gorilla"], expected["tiers"])
    errs += g_errs
    gf = tables["gapfill_1m"]
    facts["grid_rows"] = len(gf)
    facts["gaps_filled"] = int(gf["is_gap"].sum())
    facts["rolled_points"] = sum(len(tables[f"rollup_{t}"]) for t in TIERS)
    facts["tier_bytes"] = sum(out["bytes"][f"rollup_{t}"] for t in TIERS)
    facts["stage_rows"] = {s: len(df) for s, df in tables.items()}
    facts["stage_bytes"] = dict(out["bytes"])
    return errs, facts


# -- queries ---------------------------------------------------------------

def compare_query(name: str, got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    """Spark result vs DuckDB oracle through ``tools/check_entry.compare``,
    the repository's own contract check; a 0-row result is an error
    whatever the oracle says."""
    if len(got) == 0:
        return ["0 rows"]
    from check_entry import compare

    said = io.StringIO()
    with contextlib.redirect_stdout(said):
        ok = compare(name, got, want)
    return [] if ok else [line.strip() for line in said.getvalue().splitlines()]
