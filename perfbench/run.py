"""Benchmark of the search engine's serving and ingest paths.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 6 --trace 0

Run from the repository root. The program is the ``searchengine_spark``
package beside this directory; the benchmark starts one Spark session
(``local[<cores>]``, driver memory sized from /proc/meminfo), runs the
workload (see workloads.py) from this single process as one closed-loop
client, checks the answers, and prints a report followed by ONE JSON
line: ``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics BENCHMARK.json names (names
and units are read from it). ``--trace 1`` reports its per-layer metrics
instead: set-up passes and the window are traced with spans (spans.py),
Spark jobs are tagged with the span they serve and a local event log
attributes task metrics to spans. Before its window, the traced run runs
the same serve sessions in four windows, untraced, traced, traced and
untraced, and reports tracing overhead as the difference of the means.
Spans and the per-layer table are kept under ``.perfbench_out/traces/``.

Everything the run writes stays under ``.perfbench_out/`` in the
repository root; scratch data is removed when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

from measure import child_pids, tail, vm_hwm_mb
from spans import SparkWork, Tracer, layer_table, parse_event_log, self_seconds, write_spans

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: window figures the tracing-overhead probe compares
WINDOW_METRICS = ("query_p50_ms", "query_p99_ms", "open_s", "spark_batch_qps")
#: serve sessions in each of the overhead probe's four windows
PROBE_SESSIONS = 1


def machine() -> tuple:
    """(cores, driver memory MiB): every core, an eighth of MemTotal
    capped at 2 GiB."""
    cores = os.cpu_count() or 1
    if hasattr(os, "sched_getaffinity"):
        cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo", encoding="ascii") as fh:
        total_kb = int(next(ln for ln in fh if ln.startswith("MemTotal:")).split()[1])
    return cores, max(1024, min(2048, total_kb // 8 // 1024))


def start_spark(work: str, cores: int, mem_mb: int, event_log: str | None):
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    for d in (tmp, os.path.join(work, "spark-local")):
        os.makedirs(d, exist_ok=True)
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.driver.memory", f"{mem_mb}m")
        # the JVM's temp files go to the run's scratch dir; no /tmp/hsperfdata
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", event_log)
             .config("spark.eventLog.compress", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM and its Python workers, and wait
    until each has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    workers = child_pids(proc.pid) if proc else []
    spark.stop()
    gateway.shutdown()
    if proc is None:
        return
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 30
    for pid in workers:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def jvm_peak_rss_mb() -> float:
    """VmHWM of the Spark JVM."""
    from pyspark import SparkContext

    return vm_hwm_mb(SparkContext._gateway.proc.pid)


# ----------------------------------------------------------------- metrics

#: every end-to-end value the report prints: name -> (unit, sample key);
#: BENCHMARK.json's end_to_end list picks the ones a change is judged on
E2E = {
    "setup_s": ("s", "setup_s"),
    "build_turns_per_s": ("1/s", "build_turns_per_s"),
    "index_bytes_per_text_byte": ("ratio", None),
    "driver_peak_rss_mb": ("MiB", None),
    "jvm_peak_rss_mb": ("MiB", None),
    "peak_rss_mb": ("MiB", None),
    "open_s": ("s", "open_s"),
    "query_p50_ms": ("ms", "query_ms"),
    "query_p99_ms": ("ms", "query_ms"),
    "freshness_p50_s": ("s", "freshness_s"),
    "spark_batch_qps": ("1/s", "spark_batch_qps"),
    "append_p50_s": ("s", "append_s"),
    "delete_p50_s": ("s", "delete_s"),
    "compact_s": ("s", "compact_s"),
}


def sample_key(metric: str, workload: str):
    key = E2E[metric][1]
    # serve writes only in set-up: its freshness is bulk build -> first answer
    return "bulk_freshness_s" if key == "freshness_s" and workload == "serve" else key


def window_metrics(run) -> dict:
    q = run.samples["query_ms"]
    return {
        "query_p50_ms": statistics.median(q),
        "query_p99_ms": tail(q)[0],
        "open_s": statistics.median(run.samples["open_s"]),
        "spark_batch_qps": statistics.median(run.samples["spark_batch_qps"]),
    }


def overhead_probe(wl, run, state: dict) -> dict:
    """Tracing overhead: the window figures of identical serve sessions
    (same index, same queries) run traced minus run untraced, as the
    mean over the traced windows minus the mean over the untraced ones.
    The windows run untraced, traced, traced, untraced, so warm-up and
    drift weigh on both sides alike. The probe's spans and session count
    are dropped, so its work does not mix into the workload's figures."""
    keep, sessions = len(run.tracer.spans), run.info.get("sessions", 0)
    figures = {False: [], True: []}
    for enabled in (False, True, True, False):
        run.tracer.enabled = enabled
        wl.serve_window(run, state, sessions=PROBE_SESSIONS)
        figures[enabled].append(window_metrics(run))
        for k in ("query_ms", "open_s", "spark_batch_qps"):
            run.samples[k].clear()
    run.tracer.enabled = True
    del run.tracer.spans[keep:]
    run.info["sessions"] = sessions
    return {k: statistics.fmean(f[k] for f in figures[True])
            - statistics.fmean(f[k] for f in figures[False]) for k in WINDOW_METRICS}


def end_to_end(run, workload: str, state: dict) -> dict:
    """Every end-to-end value this run has samples for."""
    m = {
        "index_bytes_per_text_byte": state["index_bytes"] / state["text_bytes"],
        "driver_peak_rss_mb": vm_hwm_mb(),
        "jvm_peak_rss_mb": state["jvm_rss_mb"],
        "peak_rss_mb": vm_hwm_mb() + state["jvm_rss_mb"],
    }
    for name in E2E:
        key = sample_key(name, workload)
        if key and run.samples.get(key) and name not in WINDOW_METRICS:
            m[name] = statistics.median(run.samples[key])
    m.update(window_metrics(run))
    return {k: m[k] for k in E2E if k in m}


def per_layer(run, state: dict, work: dict, probes: dict, overhead: dict) -> dict:
    by_name: dict = {}
    for sp in run.tracer.spans:
        by_name.setdefault(sp.name, []).append(sp)

    def secs(name):
        return [sp.seconds for sp in by_name.get(name, [])]

    def med(values):
        return statistics.median(values) if values else 0.0

    def spark(name):
        return [work.get(sp.id, SparkWork()) for sp in by_name.get(name, [])]

    def per_call(name, attr):
        ws = spark(name)
        return sum(getattr(w, attr) for w in ws) / len(ws) if ws else 0.0

    # the warm set-up passes only: the first pass is the warmup
    stages = [m["metrics"]["stage_seconds"] for m in run.manifests]
    builds = "indexing.packed.build_packed_index"
    by_name[builds] = [sp for sp in by_name.get(builds, []) if sp.attrs["index"] > 0]
    manifest = state["manifest"]
    selfs = self_seconds(run.tracer.spans)
    bench_self = sum(selfs[sp.id] for sp in run.tracer.spans if sp.name.startswith("bench."))
    roots = sum(sp.seconds for sp in run.tracer.spans if sp.parent is None)
    out = {
        "tokenizer.docs_stage_s": med([s["docs"] for s in stages]),
        "indexing.packed.build_s": med(secs(builds)),
        "indexing.packed.index_s": med([s["index"] for s in stages]),
        "indexing.packed.lineage_s": med([s["lineage"] for s in stages]),
        "indexing.packed.lineage_index_s": med([s["lineage_index"] for s in stages]),
        "indexing.packed.term_stats_s": med([s["term_stats"] for s in stages]),
        "indexing.packed.jobs": med([w.jobs for w in spark(builds)]),
        "indexing.packed.executor_run_s": med([w.executor_run_ms / 1e3 for w in spark(builds)]),
        "indexing.packed.shuffle_write_bytes": med([w.shuffle_write_bytes for w in spark(builds)]),
        "indexing.packed.shuffle_read_bytes": med([w.shuffle_read_bytes for w in spark(builds)]),
        "indexing.packed.spill_bytes": med([w.spill_bytes for w in spark(builds)]),
        "query.serve.open_s": med(secs("query.serve.LocalSearcher")),
        "query.serve.search_ms": med(secs("query.serve.LocalSearcher.search")) * 1e3,
        "query.serve.spark_jobs_per_query": per_call("query.serve.LocalSearcher.search", "jobs"),
        "query.wand.batch_s": med(secs("query.wand.bm25_topk_packed_batch")),
        "query.wand.jobs_per_batch": per_call("query.wand.bm25_topk_packed_batch", "jobs"),
        "query.wand.shuffle_bytes_per_batch": per_call(
            "query.wand.bm25_topk_packed_batch", "shuffle_write_bytes"),
        "streaming.incremental.append_batch_s": med(secs("streaming.incremental.append_batch")),
        "streaming.incremental.jobs_per_call": per_call(
            "streaming.incremental.append_batch", "jobs"),
        "streaming.incremental.shuffle_bytes_per_call": per_call(
            "streaming.incremental.append_batch", "shuffle_write_bytes"),
        "indexing.deletes.delete_docs_s": med(secs("indexing.deletes.delete_docs")),
        "indexing.deletes.jobs_per_call": per_call("indexing.deletes.delete_docs", "jobs"),
        "indexing.deletes.shuffle_bytes_per_call": per_call(
            "indexing.deletes.delete_docs", "shuffle_write_bytes"),
        "indexing.compact.compact_index_s": med(secs("indexing.compact.compact_index")),
        "indexing.compact.jobs": per_call("indexing.compact.compact_index", "jobs"),
        "indexing.compact.shuffle_bytes": per_call(
            "indexing.compact.compact_index", "shuffle_write_bytes"),
        "index.n_postings": manifest["n_postings"],
        "index.n_chunks": manifest["n_chunks"],
        "index.bytes_on_disk": state["index_bytes"],
        "index.epochs": run.info.get("epochs", 0),
        "bench.self_share": bench_self / roots if roots else 0.0,
    }
    out.update(probes)
    out.update({f"trace.overhead.{k}": v for k, v in overhead.items()})
    return out


# ------------------------------------------------------------------ report


def report(workload: str, run, e2e: dict, extra: list) -> None:
    """Every end-to-end value with its unit and sample count."""
    print(f"# perfbench workload={workload} seed={run.seed} seconds={run.seconds}")
    for name, value in e2e.items():
        unit = E2E[name][0]
        key = sample_key(name, workload)
        n = f"n={len(run.samples[key])}" if key else ""
        print(f"{name:28s} {value:16.6f} {unit:6s} {n}")
    pct = tail(run.samples["query_ms"])[1]
    print(f"{'query_p99_ms percentile':28s} {pct * 100:16.3f} %")
    frac = run.failed / max(run.attempted, 1)
    print(f"{'failed_frac':28s} {frac:16.6f} ratio  failed={run.failed} "
          f"attempted={run.attempted}")
    for line in extra:
        print(line)


def layer_report(table: dict) -> list:
    lines = [f"# {'span':50s} {'calls':>6s} {'total_s':>9s} {'self_s':>9s} "
             f"{'jobs':>5s} {'exec_s':>8s} {'shuf_w':>10s} {'shuf_r':>10s} "
             f"{'spill':>8s} {'rec_in':>9s} {'rec_out':>9s}"]
    for name, row in sorted(table.items(), key=lambda kv: -kv[1]["self_s"]):
        w = row["spark"]
        lines.append(
            f"# {name:50s} {row['calls']:6d} {row['total_s']:9.3f} {row['self_s']:9.3f} "
            f"{w.jobs:5d} {w.executor_run_ms / 1e3:8.3f} {w.shuffle_write_bytes:10d} "
            f"{w.shuffle_read_bytes:10d} {w.spill_bytes:8d} {w.records_in:9d} "
            f"{w.records_out:9d}")
    return lines


# -------------------------------------------------------------------- main


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("serve", "ingest"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="smoke-test scale (a few dozen conversations)")
    ap.add_argument("--fail-check", action="store_true",
                    help="expect a wrong document count, to prove failed "
                         "checks are counted (smoke tests)")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if ROOT not in sys.path:
        sys.path.insert(1, ROOT)
    try:
        import searchengine_spark  # noqa: F401  (the program under test)
    except ImportError as exc:
        print(f"perfbench: cannot import the engine from {ROOT}: {exc}", file=sys.stderr)
        return 2

    import workloads as wl

    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)

    out = os.path.join(ROOT, ".perfbench_out")
    work = os.path.join(out, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    event_log = os.path.join(work, "eventlog") if args.trace else None
    # workers import the engine; scratch files stay in the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = os.path.join(work, "tmp")

    # a terminated run still stops Spark and removes its scratch data
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    cores, mem_mb = machine()
    spark = None
    status = 1
    try:
        t0 = time.perf_counter()
        spark = start_spark(work, cores, mem_mb, event_log)
        spark_start_s = time.perf_counter() - t0
        tracer = Tracer(spark.sparkContext, enabled=bool(args.trace))
        run = wl.Run(spark, work, args.seed, args.seconds,
                     wl.TINY if args.tiny else wl.FULL, tracer, args.fail_check)
        state = run.setup()
        run.info["setup_done_s"] = round(time.perf_counter() - t0, 3)
        overhead = overhead_probe(wl, run, state) if args.trace else {}
        _window(wl, run, args.workload, state)
        if args.workload == "ingest":
            wl.ingest_compact(run, state)
        run.info["window_done_s"] = round(time.perf_counter() - t0, 3)
        probes = wl.layer_probes(run, state) if args.trace else {}
        state["manifest"] = wl.load_packed_index(spark, state["path"]).manifest
        state["index_bytes"] = run.index_bytes(state["path"])
        state["jvm_rss_mb"] = jvm_peak_rss_mb()
        e2e = end_to_end(run, args.workload, state)
        shares = state["stream"].shares
        extra = [
            f"# spark_start_s={spark_start_s:.3f} cores={cores} driver_memory_mb={mem_mb}",
            f"# stream sha256={state['stream'].digest()} " + " ".join(
                f"{k}={v:.4f}" if isinstance(v, float) else f"{k}={v}"
                for k, v in shares.items()),
            f"# steps {json.dumps(run.info)}",
        ]
        stop_spark(spark)
        spark = None
        if args.trace:
            work_by_span = parse_event_log(event_log)
            table = layer_table(tracer.spans, work_by_span)
            traces = os.path.join(out, "traces")
            os.makedirs(traces, exist_ok=True)
            stem = os.path.join(traces, f"{args.workload}-seed{args.seed}")
            write_spans(stem + ".spans.jsonl", tracer.spans, work_by_span)
            extra += layer_report(table)
            extra.append(f"# spans written to {os.path.relpath(stem, ROOT)}.spans.jsonl")
            extra += [f"# trace overhead {k}: {v:+.6f}" for k, v in overhead.items()]
            extra.append(f"# spans={len(tracer.spans)}")
            values = per_layer(run, state, work_by_span, probes, overhead)
            extra += [f"# {k:45s} {v:16.6f}" for k, v in values.items()]
        else:
            values = e2e
        units = {m["name"]: m["unit"] for m in spec["per_layer" if args.trace else "end_to_end"]}
        metrics = {k: values[k] for k in units}
        report(args.workload, run, e2e, extra)
        result = {
            "correct": run.failed == 0,
            "attempted": run.attempted,
            "failed": run.failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }
        sys.stdout.flush()
        print(json.dumps(result), flush=True)
        status = 0
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    return status


def _window(wl, run, workload: str, state: dict) -> None:
    if workload == "serve":
        wl.serve_window(run, state, run.info.get("sessions", 0) * 997)
    else:
        wl.ingest_window(run, state)


if __name__ == "__main__":
    sys.exit(main())
