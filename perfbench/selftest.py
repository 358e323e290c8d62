#!/usr/bin/env python3
"""Self-test of the benchmark's checks: plant faults, expect failures.

    python3 perfbench/selftest.py

Runs the pipeline and the query list once on seed 0 and checks that the
clean outputs pass. Then it plants one fault per case into the program's
outputs — a dropped tier row, a flipped Gorilla blob byte, a perturbed
query value, an empty query result — and expects each operation to be
counted as failed. It also checks that ``BENCHMARK.json`` names exactly
the metrics and workloads ``run.py`` reports. Exits 1 if any case is not
as expected. Takes about two minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import run
from inputs import prepare
from spans import Tracer


def drop_tier_row(out: dict) -> None:
    t = out["tables"]["rollup_1h"]
    out["tables"]["rollup_1h"] = t.drop(index=t.index[len(t) // 2])


def flip_blob_byte(out: dict) -> None:
    g = out["tables"]["gorilla"]
    i = int(g["blob"].map(len).to_numpy().argmax())
    blob = bytearray(g["blob"].iloc[i])
    blob[len(blob) // 2] ^= 0xFF
    g.at[g.index[i], "blob"] = bytes(blob)


def perturb_value(results: dict) -> None:
    df = results["ewma_events_1h"].copy()
    df.loc[df.index[0], "ewma"] += 1e-3
    results["ewma_events_1h"] = df


def empty_result(results: dict) -> None:
    results["pettitt_events_1h"] = results["pettitt_events_1h"].iloc[0:0]


def check_benchmark_json(verdicts: list) -> None:
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    verdicts.append(("BENCHMARK.json workloads", [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)))
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    verdicts.append(("BENCHMARK.json end_to_end", e2e == run.END_TO_END))
    layers = {m["name"]: m["unit"] for m in spec["per_layer"]}
    verdicts.append(("BENCHMARK.json per_layer", layers == run.per_layer_units()))


def main() -> int:
    sys.path[:0] = [run.ROOT, os.path.join(run.ROOT, "tools")]
    verdicts: list[tuple[str, bool]] = []
    check_benchmark_json(verdicts)
    work = os.path.join(run.WORK, f"selftest-{os.getpid()}")
    corpus_path, expected, _ = prepare(run.CACHE, "rollup_sparse", 0)
    sf_dir, _, _ = prepare(run.CACHE, "series_queries", 0)
    spark, _ = run.start_session(work, trace=False)
    tracer = Tracer(spark.sparkContext, enabled=False)
    try:
        corpus = spark.read.parquet(corpus_path)
        for case, tamper in (("clean pipeline", None), ("dropped tier row", drop_tier_row),
                             ("flipped Gorilla byte", flip_blob_byte)):
            rec = run.rollup_round(spark, corpus, expected, os.path.join(work, "out"), tracer, "selftest", tamper)
            failed = bool(rec["errors"])
            verdicts.append((case, failed == (tamper is not None)))
            print(f"# {case}: {rec['errors'][:2] or 'no errors'}")

        import __spark_entry__ as entry

        qs = entry.queries()
        clean = {q: qs[q](spark, sf_dir).toPandas() for q in run.QUERIES}
    finally:
        run.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    for case, tamper, target in (("clean queries", None, None),
                                 ("perturbed query value", perturb_value, "ewma_events_1h"),
                                 ("empty query result", empty_result, "pettitt_events_1h")):
        bad = run.check_queries(dict(clean), tamper)
        failed = run.pass_failures({"raised": {}}, bad)
        ok = failed == 0 if target is None else (set(bad) == {target} and failed == 1)
        verdicts.append((case, ok))
        print(f"# {case}: {bad or 'no errors'}")

    for case, ok in verdicts:
        print(f"{'PASS' if ok else 'FAIL'} {case}")
    return 0 if all(ok for _, ok in verdicts) else 1


if __name__ == "__main__":
    sys.exit(main())
