"""perfbench: the repository's benchmark.

    python3 perfbench/run.py --workload {olap_star,corpus_prep,ingest_serve} \
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout. One process, one client thread, a
closed loop on a ``local[nproc]`` Spark session. The run:

1. generates the workload's inputs from ``--seed`` (``gen.py``) into a
   fresh work directory inside the checkout — outside set-up and the
   timed phase;
2. sets up ``SETUPS`` times (``get_spark`` + warm-up + initial tables,
   stopping the session between). The first set-up also starts the
   JVM; ``setup_s`` is the median of the others;
3. runs whole rounds of the workload until ``--seconds`` have passed;
4. checks every output against its oracle, outside the timed phase;
5. prints each end-to-end metric as ``metric <name> <value> <unit>``
   and, last, one JSON line: ``correct``, ``attempted``, ``failed`` and
   the end-to-end metrics (``--trace 0``) or the per-layer ones
   (``--trace 1``);
6. writes the run record (host, versions, seed, input digest, hypervisor
   steal time, every raw per-op sample, spans) to ``.perfbench_runs/``
   and removes the work directory.

``--trace 1`` runs four phases, each for half of ``--seconds`` (at
least one round): the untraced phase above, then, each on a fresh
set-up, an untraced phase, a traced phase with the Spark event log on,
and another untraced phase. Per-layer metrics come from the traced
phase; ``trace.overhead_s`` is its ``wall_s`` minus the mean of the
two untraced phases around it. Per-layer counts and times are per
round. See perfbench/README.md for every metric.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.getcwd()
SETUPS = 4  # the first also starts the JVM; setup_s is the median of the others
END_TO_END = {  # name -> unit; bounded in BENCHMARK.json
    "setup_s": "s",
    "wall_s": "s",
    "read_p50_ms": "ms",
    "peak_rss_mb": "MB",
}
SPANS = (  # engine calls the benchmark wraps in spans; each is a per-layer metric stem
    "catalog.load_table",
    "queries.build",
    "queries.exec",
    "sources.landing.read_ndjson_with_quarantine",
    "plans.versioned.commit_append",
    "plans.versioned.merge_upsert",
    "plans.versioned.delete",
    "plans.versioned.read_pruned_point",
    "plans.versioned.read_version",
    "plans.incremental_agg.refresh",
    "plans.incremental_agg.read",
    "llm.text.quality_features",
    "llm.dedup.exact_dedup",
    "llm.dedup.minhash_lsh_pairs_df",
    "llm.similarity.neardup",
    "llm.ann_index.build",
    "llm.bm25_index.build",
    "llm.ann_index.topk",
    "llm.bm25_index.topk",
)
QUERY_SPANS = ("queries.build", "queries.exec")  # reported as <name>_s
MODULES = (
    "catalog", "queries", "sources.landing", "plans.versioned",
    "plans.incremental_agg", "llm.text", "llm.dedup", "llm.similarity",
    "llm.ann_index", "llm.bm25_index",
)
SPARK_COUNTS = (
    "jobs", "stages", "tasks", "task_s", "gc_s", "driver_only_s",
    "input_bytes", "shuffle_write_bytes", "spill_bytes",
)
E2E_EXTRA = {  # end-to-end metrics too noisy or too workload-specific to bound
    "read_tail_ms": "ms",
    "rows_per_s": "rows/s",
    "write_p50_ms": "ms",
    "write_tail_ms": "ms",
    "freshness_p50_ms": "ms",
    "freshness_tail_ms": "ms",
    "write_amp": "ratio",
    "space_amp": "ratio",
    "dedup_recall": "ratio",
    "ann_recall_at_10": "ratio",
    "fail_ratio": "ratio",
}


def per_layer_names() -> dict[str, str]:
    """Every per-layer metric name -> unit (the BENCHMARK.json list)."""
    out = {"session.get_spark_s": "s", "session.cold_setup_s": "s"}
    for name in SPANS:
        if name in QUERY_SPANS:
            out[f"{name}_s"] = "s"
        else:
            out[f"{name}.calls"] = "count"
            out[f"{name}.busy_s"] = "s"
    for k in SPARK_COUNTS:
        out[f"spark.{k}"] = "s" if k.endswith("_s") else ("bytes" if k.endswith("bytes") else "count")
    out.update(
        {
            "sources.landing.rows": "count",
            "sources.landing.quarantined_rows": "count",
            "sources.landing.input_bytes": "bytes",
            "plans.versioned.files_per_lookup": "count",
            "plans.versioned.lookup_useful_ratio": "ratio",
            "plans.versioned.live_files": "count",
            "plans.versioned.manifest_bytes": "bytes",
            "plans.versioned.bytes_written": "bytes",
            "plans.versioned.commit_conflicts": "count",
            "plans.incremental_agg.refresh.commits_folded": "count",
            "llm.dedup.lsh_candidate_pairs": "count",
            "llm.dedup.lsh_useful_ratio": "ratio",
            "llm.dedup.recall": "ratio",
            "llm.ann_index.recall_at_10": "ratio",
            "proc.jvm_rss_mb": "MB",
            "proc.python_rss_mb": "MB",
            "trace.overhead_s": "s",
            "trace.overhead_ratio": "ratio",
        }
    )
    out.update({f"self_s.{m}": "s" for m in MODULES})
    out.update({f"e2e.{k}": u for k, u in E2E_EXTRA.items()})
    return out


def tail(values: list[float], pct: int) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[max(0, -(-pct * len(s) // 100) - 1)]


def tail_pct(n: int) -> int:
    """The highest percentile of ``n`` samples with at least ten beyond
    it; 100 (the maximum) when under 20 samples put it below p50."""
    return (100 * (n - 10)) // n if n >= 20 else 100


def host_ram_mb() -> int:
    with open("/proc/meminfo") as fh:
        return int(fh.readline().split()[1]) // 1024


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests since boot, summed
    over cores: its growth during a run shows how contended the host was."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def host_info(java: str) -> dict:
    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10, cwd=ROOT
        ).stdout.strip()
    except OSError:
        commit = ""
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "ram_mb": host_ram_mb(),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": java,
        "git_commit": commit or "unknown",
    }


def configure_env(work: str) -> dict[str, str]:
    """Host hygiene: pin the engine to this host's cores, cap the
    driver heap at a quarter of host RAM (the engine's 24g default
    exceeds small hosts), and keep every Spark and temp file in
    ``work``.

    The heap is reserved at its cap from the start but not pre-touched,
    so its resident pages are the regions the engine has used. A heap
    that grew on demand grew in steps of ~20% of the free reserve,
    whenever G1 judged GC too busy, and that timing moved peak RSS by up
    to 60% between runs of the same work. The young generation is fixed
    for the same reason: G1 sizes eden from pause times."""
    tmp = os.path.join(work, "tmp")
    for d in ("local", "tmp", "warehouse", "eventlog"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    heap_mb = host_ram_mb() // 4
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{heap_mb}m"
    os.environ["SPARK_GRAFT_EXTRA_CONF"] = ""
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    # every JVM, the spark-submit launcher too: temp files in ``work``
    # and no hsperfdata file under the system /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    return {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Xms{heap_mb}m -Xmn256m",
    }


def start_session(conf: dict, rec):
    from unity_to_bigquery_spark.session import get_spark

    t0 = time.time()
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    rec.samples["session.get_spark_s"].append(time.time() - t0)
    spark.sparkContext.setLogLevel("ERROR")
    rec.spark = spark
    return spark


def set_up(wl, spark, conf: dict, rec):
    """Stop ``spark`` if given (the JVM stays up), then one set-up: a
    new session plus the workload's warm-up and initial tables.
    Returns (session, set-up seconds)."""
    if spark is not None:
        spark.stop()
    t0 = time.time()
    spark = start_session(conf, rec)
    wl.prepare(spark, rec)
    return spark, time.time() - t0


def stop_session(spark) -> None:
    """Stop Spark, then the JVM gateway, and wait for both to end."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = SparkContext._jvm = None


def run_phase(wl, spark, rec, seconds: float) -> list[dict]:
    """Whole rounds until ``seconds`` have passed; returns per-round
    {wall_s, rows}."""
    rounds, t_end = [], time.time() + seconds
    while not rounds or time.time() < t_end:
        first = len(rec.ops)
        rows = wl.run_round(spark, rec)
        ops = rec.ops[first:]
        rounds.append({"wall_s": ops[-1]["t1"] - ops[0]["t0"], "rows": rows})
        rec.round += 1
    return rounds


def e2e_metrics(wl, ops: list[dict], stats: list[dict], rounds: list[dict], setups: list[float], rss_mb: float):
    """(bounded end-to-end metrics, workload-specific ones)."""
    ms = lambda kind: [(o["t1"] - o["t0"]) * 1000.0 for o in ops if o["kind"] == kind and o["ok"]]  # noqa: E731
    reads, writes = ms("read"), ms("write")
    out = {
        "setup_s": statistics.median(setups[1:]),
        "wall_s": statistics.median(r["wall_s"] for r in rounds),
        "read_p50_ms": statistics.median(reads),
        "peak_rss_mb": rss_mb,
    }
    extra = {
        "read_tail_ms": tail(reads, tail_pct(wl.reads_per_round)),
        "fail_ratio": sum(not o["ok"] for o in ops) / len(ops),
    }
    if any(r["rows"] for r in rounds):
        extra["rows_per_s"] = statistics.median(r["rows"] / r["wall_s"] for r in rounds)
    if writes:
        extra["write_p50_ms"] = statistics.median(writes)
        extra["write_tail_ms"] = tail(writes, tail_pct(len(writes)))
    for k, vals in wl.workload_metrics(stats).items():
        if k == "freshness_ms":
            extra["freshness_p50_ms"] = statistics.median(vals)
            extra["freshness_tail_ms"] = tail(vals, tail_pct(len(vals)))
        else:
            extra[k] = statistics.median(vals)
    return out, extra


def layer_metrics(
    wl, rec, ops: list[dict], stats: list[dict], log_dir: str, overhead: tuple[float, float], rss: dict
) -> dict:
    """Per-layer metrics of the traced rounds (``ops``, ``stats``), per
    round; ``overhead`` is the tracing's extra wall time (s, share)."""
    from perfbench import tracing

    n = len(stats)
    spans = [s for s in rec.spans if s["op"] is not None]  # only traced rounds record spans
    totals = tracing.span_totals(spans)
    calls: dict[str, int] = {}
    for s in spans:
        calls[s["name"]] = calls.get(s["name"], 0) + 1
    out = {k: 0.0 for k in per_layer_names()}
    out["session.get_spark_s"] = statistics.median(rec.samples["session.get_spark_s"])
    for name in SPANS:
        if name in QUERY_SPANS:
            out[f"{name}_s"] = totals.get(name, 0.0) / n
        else:
            out[f"{name}.calls"] = calls.get(name, 0) / n
            out[f"{name}.busy_s"] = totals.get(name, 0.0) / n
    for name, t in tracing.self_times(spans).items():
        key = f"self_s.{name.rsplit('.', 1)[0]}"
        if key in out:
            out[key] += t / n
    per_op = tracing.parse_event_log(log_dir, ops)
    for k in SPARK_COUNTS:
        out[f"spark.{k}"] = sum(v.get(k, 0) for v in per_op.values()) / n
    lookups = calls.get("plans.versioned.read_pruned_point", 0)
    scanned = rec.counters["plans.versioned.files_scanned"]
    if lookups:
        out["plans.versioned.files_per_lookup"] = scanned / lookups
        out["plans.versioned.lookup_useful_ratio"] = rec.counters["plans.versioned.lookup_hits"] / max(1, scanned)
    out["plans.versioned.commit_conflicts"] = sum("ConcurrentWriteError" in o.get("error", "") for o in ops) / n
    out["plans.incremental_agg.refresh.commits_folded"] = rec.counters["plans.incremental_agg.refresh.commits_folded"] / n
    out.update(wl.layer_metrics(stats))
    out["proc.jvm_rss_mb"], out["proc.python_rss_mb"] = rss["jvm"], rss["python"]
    out["trace.overhead_s"], out["trace.overhead_ratio"] = overhead
    return out


WORKLOADS = {
    "olap_star": ("perfbench.olap_star", "OlapStar"),
    "corpus_prep": ("perfbench.corpus_prep", "CorpusPrep"),
    "ingest_serve": ("perfbench.ingest_serve", "IngestServe"),
}


def main() -> int:
    ap = argparse.ArgumentParser(description="perfbench: run one workload of the repository benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "unity_to_bigquery_spark", "__init__.py")):
        print("perfbench: run from the root of a checkout (unity_to_bigquery_spark/ not found)", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import importlib

    from perfbench import tracing

    os.makedirs(os.path.join(ROOT, ".perfbench_work"), exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=os.path.join(ROOT, ".perfbench_work"))
    spark = None
    try:
        conf = configure_env(work)
        mod, cls = WORKLOADS[args.workload]
        wl = getattr(importlib.import_module(mod), cls)(args.seed, work)
        t0 = time.time()
        inputs = wl.generate()
        gen_s = time.time() - t0
        rec = tracing.Recorder(traced=False)
        steal0 = steal_s()
        sampler = tracing.RssSampler().start()
        setups = []
        for _ in range(SETUPS):
            spark, t = set_up(wl, spark, conf, rec)
            setups.append(t)
        java = spark.sparkContext._jvm.java.lang.System.getProperty("java.version")
        phase_s = args.seconds / 2 if args.trace else args.seconds
        first = rec.round
        rounds = run_phase(wl, spark, rec, phase_s)
        measured = slice(first, rec.round)
        measured_ops = [o for o in rec.ops if o["round"] >= first]
        if args.trace:
            # untraced, traced, untraced again, each on a fresh set-up.
            # The first round after set-up is still 15-25% slower than
            # the next, and the JVM keeps warming more slowly after it:
            # the mean of the phases around the traced one cancels that
            # drift as far as it is linear
            spark, _t = set_up(wl, spark, conf, rec)
            before = run_phase(wl, spark, rec, phase_s)
            log_dir = os.path.join(work, "eventlog")
            trace_conf = {
                **conf,
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{log_dir}",
                "spark.eventLog.compress": "false",
            }
            spark, _t = set_up(wl, spark, trace_conf, rec)
            rec.traced, traced_from = True, rec.round
            import unity_to_bigquery_spark.catalog as catalog

            tracing.instrument(rec, catalog, "load_table", "catalog.load_table")
            traced = run_phase(wl, spark, rec, phase_s)
            rec.traced, traced_rounds = False, slice(traced_from, rec.round)
            traced_ops = [o for o in rec.ops if o["round"] >= traced_from]
            spark, _t = set_up(wl, spark, conf, rec)  # stopping flushes the event log
            after = run_phase(wl, spark, rec, phase_s)
        stop_session(spark)
        spark = None
        rss = sampler.stop()
        steal = steal_s() - steal0
        e2e, extra = e2e_metrics(wl, measured_ops, wl.rounds[measured], rounds, setups, rss["total"])
        if args.trace:
            untraced = sum(statistics.median(r["wall_s"] for r in ph) for ph in (before, after)) / 2
            traced_s = statistics.median(r["wall_s"] for r in traced)
            metrics = layer_metrics(
                wl, rec, traced_ops, wl.rounds[traced_rounds], log_dir,
                (traced_s - untraced, traced_s / untraced - 1.0), rss,
            )
            metrics["session.cold_setup_s"] = setups[0]
            metrics.update({f"e2e.{k}": v for k, v in extra.items()})
        else:
            metrics = e2e
        problems = wl.check()
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    attempted = len(rec.ops)
    failed = min(attempted, sum(not o["ok"] for o in rec.ops) + len(problems))
    units = {**END_TO_END, **per_layer_names()}
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "host": host_info(java), "inputs": inputs, "gen_s": gen_s, "setups_s": setups, "steal_s": steal,
        "read_tail_pct": tail_pct(wl.reads_per_round), "rss_mb": rss, "e2e": e2e, "e2e_extra": extra, "metrics": metrics,
        "problems": problems, "ops": rec.ops, "spans": rec.spans,
    }
    os.makedirs(os.path.join(ROOT, ".perfbench_runs"), exist_ok=True)
    name = f"{args.workload}-s{args.seed}-t{args.trace}-{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}.json"
    path = os.path.join(ROOT, ".perfbench_runs", name)
    with open(path, "w") as fh:
        json.dump(record, fh, default=str)
    for p in problems[:20]:
        print(f"check failed: {p}", file=sys.stderr)
    for k, v in {**e2e, **extra}.items():
        print(f"metric {k} {v:.6g} {END_TO_END.get(k) or E2E_EXTRA[k]}")
    print(f"read_tail_ms is p{tail_pct(wl.reads_per_round)} of {wl.reads_per_round} reads a round; {attempted} ops; record {os.path.relpath(path, ROOT)}")
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
