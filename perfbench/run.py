#!/usr/bin/env python3
"""Benchmark of the rollup pipeline and the series-kernel contract queries.

    python3 perfbench/run.py --workload rollup_sparse --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Workloads:

- ``rollup_sparse``: ``plans.pipeline.run_rollup_pipeline`` with its
  defaults over a seeded token corpus whose sources go quiet for hours;
  every output stage is checked against ``inputs.py``'s expectations.
- ``series_queries``: one pass over ``QUERIES`` from
  ``__spark_entry__.queries()`` on the contract sf0.1 events table, each query forced
  through a ``noop`` sink; every result is checked against its
  ``oracle_sql()`` DuckDB result outside the timed passes.

A run sets up once (Spark session, inputs registered, one warm-up
operation), then repeats whole rounds (one pipeline run, or one pass over
the query list) until ``--seconds`` have gone by, at least ``MIN_ROUNDS``. The
last stdout line is the JSON result; ``--trace 1`` turns the Spark event
log on and prints the per-layer metrics instead of the end-to-end ones.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
CACHE = os.path.join(HERE, ".cache")

WORKLOADS = ("rollup_sparse", "series_queries")
STAGES = ("rollup_1m", "rollup_1h", "rollup_1d", "gapfill_1m", "gorilla")
QUERIES = (
    "ewma_events_1h",  # smoothing kernel
    "gesd_outliers_events_1h",  # outlier test
    "pettitt_events_1h",  # changepoint test
    "arx_forecast_events_1h",  # AR/ARX forecaster
    "gapfill_grid_events_1m",  # the pipeline's gap-fill, read-only
)
# the JIT is still warming during the first timed rounds (each round is
# faster than the one before), so every run times at least this many rounds
# and reports their median: a run then measures the same rounds whatever its
# length. A query pass is noisier than a pipeline run, so it gets more.
MIN_ROUNDS = {"rollup_sparse": 3, "series_queries": 5}
END_TO_END = {"setup_s": "s", "round_cpu_s": "s", "spark_jobs_per_run": "jobs"}
STAGE_METRICS = {
    "wall_ms": "ms", "jobs": "jobs", "spark_stages": "stages", "tasks": "tasks",
    "task_ms": "ms", "cpu_ms": "ms", "gc_ms": "ms", "shuffle_write_bytes": "bytes",
    "shuffle_read_bytes": "bytes", "spill_bytes": "bytes", "task_skew": "ratio",
    "out_rows": "rows", "out_bytes": "bytes",
}


def per_layer_units() -> dict:
    units = {"session.start_ms": "ms", "session.warmup_ms": "ms"}
    for s in STAGES:
        units.update({f"stage.{s}.{m}": u for m, u in STAGE_METRICS.items()})
    units.update({
        "checkpoint.lineage_jobs": "jobs", "checkpoint.lineage_ms": "ms",
        "checkpoint.tier_bytes_per_point": "bytes/point",
        "seriesify.scan_input_bytes": "bytes", "seriesify.scan_batches": "batches",
        "seriesify.scan_time_ms": "ms",
        "gapfill.grid_rows": "rows", "gapfill.gaps_filled": "rows",
        "gorilla.python_run_ms": "ms", "gorilla.python_init_ms": "ms",
        "gorilla.python_bytes_sent": "bytes", "gorilla.blocks": "blocks",
        "gorilla.bits_per_point": "bits/point",
        **{f"gorilla.bits_per_point.{t}": "bits/point" for t in ("1m", "1h", "1d")},
    })
    units.update({f"query.{q}.ms": "ms" for q in QUERIES})
    units.update({
        "queries.jobs": "jobs", "queries.python_init_ms": "ms", "queries.python_run_ms": "ms",
        "trace.round_s": "s", "trace.round_cpu_s": "s", "trace.spark_jobs_per_run": "jobs",
        "trace.jobs_outside_spans": "jobs",
    })
    return units


def log(msg: str) -> None:
    print(f"# {msg}", flush=True)


# -- session -------------------------------------------------------------------

def host_conf(work: str, trace: bool) -> tuple[int, dict]:
    """Spark settings fitted to this host; every path under ``work``."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_mb = int(next(line for line in f if line.startswith("MemTotal")).split()[1]) // 1024
    heap_mb = min(3072, mem_mb // 4)  # the library default (16g) can exceed RAM
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.driver.memory": f"{heap_mb}m",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",  # zstd by default; zstandard is absent
            "spark.eventLog.rolling.enabled": "false",
        })
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
    os.environ.update({
        "SPARK_LOCAL_DIRS": conf["spark.local.dir"],
        "TMPDIR": tmp,
        # the Python workers import the package from the checkout root
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "SPARK_LAUNCHER_OPTS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    return cpus, conf


def start_session(work: str, trace: bool):
    from forecaster_spark.session import get_spark

    cpus, conf = host_conf(work, trace)
    spark = get_spark("perfbench", cpus=cpus, extra_conf=conf)
    return spark, cpus


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    descendant: the Spark JVM and its Python workers, live ones plus those
    already reaped. Read from /proc; time the hypervisor steals from the
    host's vCPUs is not in it, which is why the gated times are CPU times."""
    tick = os.sysconf("SC_CLK_TCK")
    stats = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    raw = f.read()
            except OSError:
                continue
            fields = raw[raw.rindex(")") + 2 :].split()
            stats[int(d)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    kids = {}
    for pid, (ppid, _) in stats.items():
        kids.setdefault(ppid, []).append(pid)
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += stats.get(pid, (0, 0))[1]
        todo += kids.get(pid, [])
    return total / tick


def host_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the host's CPUs so far, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def steal_pct(t0: tuple[int, int], t1: tuple[int, int]) -> float:
    """Share of the host's CPU time the hypervisor stole between two reads."""
    return 100 * (t1[0] - t0[0]) / max(1, t1[1] - t0[1])


def settle(spark) -> None:
    """End of set-up: collect the warm-up's garbage and give the JIT a
    moment to drain its compile queue, so the timed rounds start alike."""
    spark.sparkContext._jvm.java.lang.System.gc()
    time.sleep(0.5)


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        kb = int(next(line for line in f if line.startswith("VmHWM")).split()[1])
    return kb / 1024


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)


def probes(spark, cpus: int) -> dict:
    """Host-speed context (not metrics): the probes of bench.py, scaled
    down 10-64x to keep a run short."""
    t0 = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x += i * i
    spin = (time.perf_counter() - t0) * 1000
    t0 = time.perf_counter()
    spark.range(0, 25_000_000, 1, cpus).selectExpr("sum(id % 7) AS s").collect()
    probe = (time.perf_counter() - t0) * 1000
    t0 = time.perf_counter()
    spark.range(0, 1_000_000, 1, cpus).selectExpr(
        "sum(xxhash64(array(id, id + 1, id + 2, id + 3))) AS s"
    ).collect()
    alloc = (time.perf_counter() - t0) * 1000
    return {"spin_2m_ms": round(spin, 1), "probe_25m_ms": round(probe, 1), "probe_alloc_1m_ms": round(alloc, 1)}


# -- rollup workload -------------------------------------------------------------

def rollup_round(spark, corpus, expected: dict, out_root: str, tracer, group: str, tamper=None) -> dict:
    """One operation: a full pipeline run into a fresh root, then its checks."""
    from checks import check_pipeline, load_pipeline_outputs
    from forecaster_spark.plans.pipeline import run_rollup_pipeline

    sc = spark.sparkContext
    sc.setJobGroup(group, "perfbench round")
    rec = {"errors": [], "raised": False, "facts": {}}
    t0, c0, h0 = time.perf_counter(), tree_cpu_s(), host_ticks()
    try:
        with tracer.span("round") as span:
            run_rollup_pipeline(spark, corpus, out_root)
        rec["round_s"] = time.perf_counter() - t0
        rec["round_cpu_s"] = tree_cpu_s() - c0
        rec["steal_pct"] = steal_pct(h0, host_ticks())
        rec["span"] = span
        rec["jobs"] = len(sc.statusTracker().getJobIdsForGroup(group))
        out = load_pipeline_outputs(out_root)
        if tamper:
            tamper(out)
        rec["errors"], rec["facts"] = check_pipeline(out, expected)
    except Exception as e:  # an operation that raises counts as failed
        rec["raised"] = True
        rec["errors"] = [f"raised {e!r}"[:500]]
    finally:
        shutil.rmtree(out_root, ignore_errors=True)
    return rec


def run_rollup(spark, tracer, corpus_path: str, expected: dict, seconds: float, work: str) -> dict:
    from forecaster_spark.plans import checkpoint
    from forecaster_spark.plans.pipeline import run_rollup_pipeline

    if tracer.enabled:
        tracer.wrap(checkpoint.StageRunner, "stage", lambda *a: f"stage.{a[1]}")
        tracer.wrap(checkpoint, "_partition_checksums", lambda *a: "lineage")
    corpus = spark.read.parquet(corpus_path)
    # the warm-up runs the same plans over one of the corpus files: the
    # JVM, codegen and the Python workers warm up at an eighth of the cost
    t0 = time.perf_counter()
    with tracer.span("warmup"):
        slice_ = spark.read.parquet(os.path.join(corpus_path, sorted(os.listdir(corpus_path))[0]))
        run_rollup_pipeline(spark, slice_, os.path.join(work, "warmup"))
    warmup_ms = (time.perf_counter() - t0) * 1000
    shutil.rmtree(os.path.join(work, "warmup"), ignore_errors=True)
    settle(spark)
    t_first, cpu_first, ticks_first = time.perf_counter(), tree_cpu_s(), host_ticks()
    rounds = []
    while len(rounds) < MIN_ROUNDS["rollup_sparse"] or time.perf_counter() - t_first < seconds:
        i = len(rounds)
        rounds.append(rollup_round(spark, corpus, expected, os.path.join(work, f"round{i}"), tracer, f"perfbench-{i}"))
    return {"t_first": t_first, "cpu_first": cpu_first, "ticks_first": ticks_first,
            "warmup_ms": warmup_ms, "rounds": rounds}


# -- query workload ----------------------------------------------------------------

def oracle_results() -> dict:
    """Each query's ``oracle_sql()`` result on DuckDB over the events file.

    The smoothing oracles are recursive CTEs that take about 20 s, so the
    results are cached, keyed by the SQL text and the events file's bytes;
    row order does not change them, so all seeds share one entry."""
    import hashlib
    import pickle

    import duckdb

    import __spark_entry__ as entry
    from inputs import EVENTS_FILE

    with open(EVENTS_FILE, "rb") as f:
        data_sha = hashlib.sha256(f.read()).hexdigest()
    oracles = entry.oracle_sql()
    out, con = {}, None
    for q in QUERIES:
        key = hashlib.sha256(f"{data_sha}\n{oracles[q]}".encode()).hexdigest()[:24]
        path = os.path.join(CACHE, "oracle", f"{q}-{key}.pkl")
        if os.path.exists(path):
            with open(path, "rb") as f:
                out[q] = pickle.load(f)
            continue
        if con is None:
            con = duckdb.connect()
            con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{EVENTS_FILE}')")
        try:
            out[q] = con.execute(oracles[q]).df()
        except Exception as e:
            out[q] = e
            continue
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(f"{path}.tmp{os.getpid()}", "wb") as f:
            pickle.dump(out[q], f)
        os.rename(f"{path}.tmp{os.getpid()}", path)
    if con is not None:
        con.close()
    return out


def check_queries(results: dict, tamper=None) -> dict:
    """Each query's collected result vs its DuckDB oracle -> {name: errors}."""
    from checks import compare_query

    want = oracle_results()
    if tamper:
        tamper(results)
    bad = {}
    for q in QUERIES:
        got = results.get(q)
        if isinstance(got, Exception) or got is None:
            bad[q] = [f"raised {got!r}"[:500]]
        elif isinstance(want[q], Exception):
            bad[q] = [f"oracle raised {want[q]!r}"[:500]]
        else:
            errs = compare_query(q, got, want[q])
            if errs:
                bad[q] = errs
    return bad


def pass_failures(rec: dict, bad: dict) -> int:
    """Failed operations of one pass: queries that raised in it, plus every
    query whose result failed its check."""
    return sum(1 for q in QUERIES if q in bad or q in rec["raised"])


def run_queries(spark, tracer, sf_dir: str, seconds: float) -> dict:
    import __spark_entry__ as entry

    qs = entry.queries()
    spark.read.parquet(os.path.join(sf_dir, "events.parquet")).createOrReplaceTempView("events")
    sc = spark.sparkContext
    # warm-up pass; its collected results are what the checks compare
    results = {}
    t0 = time.perf_counter()
    with tracer.span("warmup"):
        for q in QUERIES:
            with tracer.span(f"query.{q}"):
                try:
                    results[q] = qs[q](spark, sf_dir).toPandas()
                except Exception as e:
                    results[q] = e
    warmup_ms = (time.perf_counter() - t0) * 1000
    settle(spark)
    t_first, cpu_first, ticks_first = time.perf_counter(), tree_cpu_s(), host_ticks()
    passes = []
    while len(passes) < MIN_ROUNDS["series_queries"] or time.perf_counter() - t_first < seconds:
        group = f"perfbench-{len(passes)}"
        sc.setJobGroup(group, "perfbench pass")
        rec = {"raised": {}, "query_s": {}}
        t0, c0, h0 = time.perf_counter(), tree_cpu_s(), host_ticks()
        with tracer.span("round") as span:
            for q in QUERIES:
                tq = time.perf_counter()
                with tracer.span(f"query.{q}"):
                    try:
                        qs[q](spark, sf_dir).write.format("noop").mode("overwrite").save()
                    except Exception as e:
                        rec["raised"][q] = repr(e)[:500]
                rec["query_s"][q] = time.perf_counter() - tq
        rec["round_s"] = time.perf_counter() - t0
        rec["round_cpu_s"] = tree_cpu_s() - c0
        rec["steal_pct"] = steal_pct(h0, host_ticks())
        rec["span"] = span
        rec["jobs"] = len(sc.statusTracker().getJobIdsForGroup(group))
        passes.append(rec)
    t0 = time.perf_counter()
    bad = check_queries(results)
    log(f"oracle checks {time.perf_counter() - t0:.2f} s")
    for q, errs in bad.items():
        log(f"FAILED {q}: {errs[0]}")
    for rec in passes:
        rec["failed"] = pass_failures(rec, bad)
    return {"t_first": t_first, "cpu_first": cpu_first, "ticks_first": ticks_first,
            "warmup_ms": warmup_ms, "rounds": passes, "bad": bad}


# -- per-layer metrics -----------------------------------------------------------

def layer_metrics(workload: str, res: dict, counters: dict, session_ms: float, spans: list) -> dict:
    vals = dict.fromkeys(per_layer_units(), 0.0)
    vals["session.start_ms"] = session_ms
    vals["session.warmup_ms"] = res["warmup_ms"]
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    per_round = []
    for rec in res["rounds"]:
        span = rec.get("span")
        if span is None:
            continue
        m = {"trace.round_s": rec["round_s"], "trace.round_cpu_s": rec["round_cpu_s"],
             "trace.spark_jobs_per_run": rec["jobs"]}
        kids = children.get(span["id"], [])
        inside = 0
        if workload == "series_queries":
            for k in kids:
                m[f"{k['name']}.ms"] = (k["end"] - k["start"]) * 1000
                inside += counters[k["id"]]["jobs"]
            c = counters[span["id"]]
            m["queries.jobs"] = c["jobs"]
            m["queries.python_init_ms"] = c["python_init_ms"]
            m["queries.python_run_ms"] = c["python_run_ms"]
        else:
            facts = rec["facts"]
            lin_jobs = lin_ms = 0.0
            for k in kids:
                s = k["name"][len("stage."):]
                c = counters[k["id"]]
                inside += c["jobs"]
                for name in STAGE_METRICS:
                    if name in c:
                        m[f"stage.{s}.{name}"] = c[name]
                m[f"stage.{s}.wall_ms"] = (k["end"] - k["start"]) * 1000
                m[f"stage.{s}.out_rows"] = facts.get("stage_rows", {}).get(s, 0)
                m[f"stage.{s}.out_bytes"] = facts.get("stage_bytes", {}).get(s, 0)
                lineage = [g for g in children.get(k["id"], []) if g["name"] == "lineage"]
                own = dict(c)
                for g in lineage:
                    lin_jobs += counters[g["id"]]["jobs"]
                    lin_ms += (g["end"] - g["start"]) * 1000
                    for key in ("files_read_bytes", "scan_batches", "scan_time_ms"):
                        own[key] -= counters[g["id"]][key]
                if s == "rollup_1m":
                    m["seriesify.scan_input_bytes"] = own["files_read_bytes"]
                    m["seriesify.scan_batches"] = own["scan_batches"]
                    m["seriesify.scan_time_ms"] = own["scan_time_ms"]
                if s == "gorilla":
                    m["gorilla.python_run_ms"] = c["python_run_ms"]
                    m["gorilla.python_init_ms"] = c["python_init_ms"]
                    m["gorilla.python_bytes_sent"] = c["python_bytes_sent"]
            m["checkpoint.lineage_jobs"] = lin_jobs
            m["checkpoint.lineage_ms"] = lin_ms
            if facts:
                m["checkpoint.tier_bytes_per_point"] = facts["tier_bytes"] / facts["rolled_points"]
                m["gapfill.grid_rows"] = facts["grid_rows"]
                m["gapfill.gaps_filled"] = facts["gaps_filled"]
                m["gorilla.blocks"] = facts["blocks"]
                m["gorilla.bits_per_point"] = facts["bits_per_point"]
                for t in ("1m", "1h", "1d"):
                    m[f"gorilla.bits_per_point.{t}"] = facts[f"bits_per_point.{t}"]
        m["trace.jobs_outside_spans"] = rec["jobs"] - inside
        per_round.append(m)
    for key in vals:
        got = [m[key] for m in per_round if key in m]
        if got:
            vals[key] = statistics.median(got)
    return vals


# -- main ------------------------------------------------------------------------

def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    needed = ("forecaster_spark/plans/pipeline.py", "__spark_entry__.py")
    missing = [p for p in needed if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: program sources not found next to {HERE}: {missing}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]
    from inputs import prepare
    from spans import Tracer, attribute

    work = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    cpu0, ticks0 = tree_cpu_s(), host_ticks()
    data_path, expected, gen_s = prepare(CACHE, args.workload, args.seed)
    gen_cpu_s = tree_cpu_s() - cpu0

    t0 = time.perf_counter()
    spark, cpus = start_session(work, bool(args.trace))
    session_ms = (time.perf_counter() - t0) * 1000
    sc = spark.sparkContext
    tracer = Tracer(sc, bool(args.trace))
    try:
        if args.workload == "series_queries":
            res = run_queries(spark, tracer, data_path, args.seconds)
        else:
            res = run_rollup(spark, tracer, data_path, expected, args.seconds, work)
        rss = jvm_peak_rss_mb(spark)
        host = probes(spark, cpus)
    finally:
        stop_session(spark)

    rounds = res["rounds"]
    setup_s = res["t_first"] - T_START - gen_s
    setup_cpu_s = res["cpu_first"] - gen_cpu_s
    round_cpu_s = statistics.median(r["round_cpu_s"] for r in rounds if "round_cpu_s" in r) if any(
        "round_cpu_s" in r for r in rounds) else 0.0
    round_s = statistics.median(r["round_s"] for r in rounds if "round_s" in r) if any(
        "round_s" in r for r in rounds) else 0.0
    if args.workload == "series_queries":
        attempted = len(rounds) * len(QUERIES)
        failed = sum(r["failed"] for r in rounds)
        mismatched = len(res["bad"]) * len(rounds)
    else:
        attempted = len(rounds)
        failed = sum(1 for r in rounds if r["errors"])
        mismatched = sum(1 for r in rounds if r["errors"] and not r["raised"])
        for i, r in enumerate(rounds):
            for err in r["errors"][:5]:
                log(f"round {i} FAILED: {err}")
        facts = next((r["facts"] for r in rounds if r["facts"]), None)
        if facts and round_s:
            log(
                f"rolled_points_per_s={facts['rolled_points'] / round_s:.1f} "
                f"docs_per_s={expected['docs'] / round_s:.1f} "
                f"tier_bytes_per_point={facts['tier_bytes'] / facts['rolled_points']:.3f} "
                f"gorilla_bits_per_point={facts['bits_per_point']:.3f}"
            )
    log(
        f"workload={args.workload} seed={args.seed} cpus={cpus} gen_s={gen_s:.3f} setup_s={setup_s:.3f} "
        f"round_s={[round(r['round_s'], 3) for r in rounds if 'round_s' in r]} setup_cpu_s={setup_cpu_s:.3f} "
        f"round_cpu_s={[round(r['round_cpu_s'], 3) for r in rounds if 'round_cpu_s' in r]} rss={rss:.0f}"
    )
    log(
        f"steal_pct setup={steal_pct(ticks0, res['ticks_first']):.1f} "
        f"rounds={[round(r['steal_pct'], 1) for r in rounds if 'steal_pct' in r]}"
    )
    log("host probes " + json.dumps(host))

    if args.trace:
        spans = tracer.spans
        tracer.dump(os.path.join(WORK, "trace", f"{args.workload}-s{args.seed}-{os.getpid()}.spans.json"))
        counters = attribute(os.path.join(work, "eventlog"), spans)
        vals = layer_metrics(args.workload, res, counters, session_ms, spans)
        units = per_layer_units()
        metrics = {k: {"value": float(v), "unit": units[k]} for k, v in vals.items()}
    else:
        vals = {
            "setup_s": setup_cpu_s,
            "round_cpu_s": round_cpu_s,
            "spark_jobs_per_run": statistics.median(r.get("jobs", 0) for r in rounds),
        }
        metrics = {k: {"value": float(v), "unit": END_TO_END[k]} for k, v in vals.items()}
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": mismatched == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
