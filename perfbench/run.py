#!/usr/bin/env python3
"""Benchmark of the curation path, end to end and layer by layer.

    python3 perfbench/run.py --workload fresh_crawl --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. One process, one client, closed loop:
the next op starts when the previous one returns, on a local[nproc]
session. Inputs are made from --seed before the timed window; outputs
are checked after it. With --trace 0 the result carries the end-to-end
metrics; with --trace 1 half the ops are traced and the result carries
the per-layer metrics. A report goes to stdout first; the last line is
one JSON object {correct, attempted, failed, metrics}. Everything the
run writes stays under .perfbench/ in the checkout.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from contextlib import nullcontext  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import layers  # noqa: E402
import meter  # noqa: E402
from spans import Tracer  # noqa: E402
from workloads import WORKLOADS, Sizes  # noqa: E402

WARMUP_CAP_S = 45.0      # safety stop for a host too slow to finish the warm-up
TRACED_WARMUP_CAP_S = 15.0  # a traced run spends its time on probes instead
SCALING_AFTER_S = 110.0  # skip the scaling diagnostic past this run time
SCALING_LANES = (1, 2, 4)

END_TO_END = {
    "docs_per_s": "docs/s", "run_s_p50": "s", "read_s_p50": "s",
    "cpu_s_per_kdoc": "s", "setup_s": "s",
}
_MS10K = "ms/10kdoc"
PER_LAYER = {
    "engine.session_start_s": "s", "engine.ship_s": "s", "engine.warmup_s": "s",
    "stages.extract.busy_s": "s", "stages.rules.busy_s": "s",
    "stages.score.busy_s": "s", "stages.route.busy_s": "s",
    "functions.vectorized.encode_ms": _MS10K, "functions.vectorized.langid_ms": _MS10K,
    "functions.vectorized.perplexity_ms": _MS10K, "functions.scrub_core.scrub_ms": _MS10K,
    "functions.scrub_core.rows_changed_frac": "frac", "stages.score.udf_ms": _MS10K,
    "spark.python_init_s": "task-s", "spark.python_run_s": "task-s",
    "spark.python_sent_mb": "MB", "spark.python_returned_mb": "MB",
    "spark.boundary_s": "task-s", "spark.shuffle_write_mb": "MB",
    "spark.shuffle_write_s": "task-s", "spark.scan_s": "task-s", "spark.gc_s": "s",
    "spark.task_skew": "ratio", "spark.sql_executions": "count",
    "pipeline.write_s": "s", "pipeline.counters_s": "s", "pipeline.driver_s": "s",
    "pipeline.fingerprint_s": "s",
    "catalog.commit_s": "s", "catalog.active_commits_calls": "count",
    "catalog.active_commits_s": "s", "catalog.manifests": "count", "catalog.read_s": "s",
    "dedup_index.mark_s": "s", "dedup_index.dup_frac": "frac",
    **{f"queries.{m}_s": "s" for m in (
        "textq", "gopherq", "dedupq", "simq", "relationalq", "advancedq",
        "pipelineq", "trainprepq", "mixq")},
    "functions.topk.mark_top_frac_s": "s",
    "trace.layer_cover_frac": "frac", "host.steal_frac": "frac",
}


def session(cores: int, tmp: str):
    from curator_spark.engine.session import get_spark

    os.environ["SPARK_DRIVER_MEM"] = "2g"
    spark = get_spark("perfbench", cores=cores, extra_conf={
        "spark.local.dir": os.path.join(tmp, "spark"),
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def restart(spark, cores: int, tmp: str):
    spark.stop()
    return session(cores, tmp)


def shutdown(spark) -> None:
    """Stop the session, end the JVM and wait for every descendant."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None
    for kill in (False, True):  # wait for Python workers to exit; then kill stragglers
        if kill:
            for pid in meter.tree_pids()[1:]:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        deadline = time.time() + 30
        while len(meter.tree_pids()) > 1 and time.time() < deadline:
            time.sleep(0.2)
            try:
                while os.waitpid(-1, os.WNOHANG)[0]:
                    pass
            except ChildProcessError:
                pass
        if len(meter.tree_pids()) == 1:
            return


def tail(values: list[float]) -> tuple[int, float] | None:
    """(p, value): the highest whole percentile with at least ten
    samples beyond it, when the sample supports one."""
    n = len(values)
    if n < 20:
        return None
    p = int(100 * (1 - 10 / n))
    s = sorted(values)
    return p, s[min(n - 1, int(p / 100 * n))]


def run_op(wl, kind: str, i: int, traced: bool, tracer: Tracer, status, cat_stats) -> dict:
    rec = {"kind": kind, "i": i, "traced": traced, "problems": [], "docs": 0}
    if traced:
        rec["exec_from"], gc0 = status.last_execution_id(), status.gc_s()
        cat0 = {k: list(v) for k, v in cat_stats.items()}
    key = len(tracer.spans)
    tracer.enabled = traced
    s0, t = meter.cpu_times(), time.perf_counter()
    try:
        with tracer.op_span(key, kind) if traced else nullcontext():
            out = wl.op(i) if kind == "run" else wl.read(i)
        if kind == "run":
            rec["docs"] = out
        else:
            rec["problems"] += out
    except Exception as e:  # an op that raises counts as failed; the run goes on
        rec["problems"].append(f"raised {type(e).__name__}: {str(e)[:300]}")
    rec["wall"] = time.perf_counter() - t
    rec["steal"] = meter.steal_frac(s0, meter.cpu_times())
    tracer.enabled = False
    if traced:
        rec["span_op"] = key
        rec["exec_to"], rec["gc_s"] = status.last_execution_id(), status.gc_s() - gc0
        rec["catalog"] = {k: [v[0] - cat0.get(k, [0, 0.0])[0], v[1] - cat0.get(k, [0, 0.0])[1]]
                          for k, v in cat_stats.items()}
    return rec


def mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def layer_metrics(ops, tracer, status, probes, manifests: int) -> tuple[dict, dict]:
    """Per-layer metrics from the traced ops plus the probes; second
    value: report-only figures."""
    runs = [r for r in ops if r["kind"] == "run" and r["traced"]]
    reads = [r for r in ops if r["kind"] == "read" and r["traced"]]
    per_op = []
    for r in runs:
        execs = status.executions(r["exec_from"], r["exec_to"])
        tracer.add_executions(r["span_op"], execs)
        st = tracer.self_times(r["span_op"])
        sql = {k: sum(e.metrics.get(k, 0.0) for e in execs) for k in meter.SQL_METRICS.values()}
        cat = r["catalog"]
        per_op.append({
            **{f"spark.{k}": v for k, v in sql.items()},
            "spark.gc_s": r["gc_s"],
            "spark.sql_executions": len(execs),
            "spark.task_skew": status.task_skew([s for e in execs for s in e.stage_ids]),
            "pipeline.write_s": st.get("spark.exec.write", 0.0),
            "pipeline.counters_s": st.get("spark.exec.collect", 0.0),
            "pipeline.driver_s": r["wall"] - sum(
                v for k, v in st.items() if k.startswith("spark.exec.")),
            "catalog.commit_s": cat.get("catalog.commit", [0, 0.0])[1],
            "catalog.active_commits_calls": cat.get("catalog.active_commits", [0, 0.0])[0],
            "catalog.active_commits_s": cat.get("catalog.active_commits", [0, 0.0])[1],
            "catalog.append_s": cat.get("catalog.append", [0, 0.0])[1],
            "trace.layer_cover_frac": 1 - st.get("op.run", 0.0) / r["wall"],
            "self": st,
            "docs": r["docs"],
        })
    m = {k: mean(o[k] for o in per_op) for k in per_op[0] if k not in ("self",)}
    m["spark.task_skew"] = statistics.median(o["spark.task_skew"] for o in per_op)
    udf_s_per_doc = probes["stages.score.udf_ms"] / 1e3 / 1e4
    m["spark.boundary_s"] = m["spark.python_run_s"] - udf_s_per_doc * m.pop("docs")
    m["catalog.read_s"] = mean(r["catalog"].get("catalog.read", [0, 0.0])[1] for r in reads)
    m["catalog.manifests"] = manifests
    m["host.steal_frac"] = mean(r["steal"] for r in ops)
    m.update(probes)
    self_by_layer: dict[str, float] = {}
    for o in per_op:
        for k, v in o["self"].items():
            self_by_layer[k] = self_by_layer.get(k, 0.0) + v / len(per_op)
    traced = [r["wall"] for r in ops if r["kind"] == "run" and r["traced"]]
    plain = [r["wall"] for r in ops if r["kind"] == "run" and not r["traced"]]
    report = {
        "self_s_per_op": self_by_layer,
        "catalog.append_s": m.pop("catalog.append_s"),
        "spark.spill_mb": m.pop("spark.spill_mb"),
        "trace.overhead_frac": (statistics.median(traced) / statistics.median(plain) - 1)
        if traced and plain else None,
        "trace.samples": {"traced": len(traced), "untraced": len(plain)},
    }
    return m, report


def probe(wl, spark, cfg, work: str, cache: str, seed: int) -> tuple[dict, list[str], dict]:
    """Layer probes on the workload's own input; returns metrics,
    problems and report-only diagnostics."""
    import inputs
    from checks import check_crawl
    from curator_spark.engine.packaging import build_pyfiles_zip
    from curator_spark.pipeline.run import QualityPipeline

    out: dict = {"engine.ship_s": layers.median_time(
        lambda: build_pyfiles_zip(tempfile.mkdtemp()), 3)}
    pages = wl.probe_pages().cache()
    pages.count()
    out.update(layers.stage_busy(pages, cfg))
    texts = pages.select("text").toPandas()["text"].fillna("").tolist()
    out.update(layers.function_costs(texts, cfg))
    out["pipeline.fingerprint_s"] = layers.fingerprint_s(spark, wl.probe_path(), cfg)
    idx, seen = layers.seeded_index(spark, pages, os.path.join(work, "dedup-index"))
    out.update(layers.dedup_mark(spark, idx, pages, cfg))
    q, problems = layers.query_probe(spark, inputs.query_tables(cache, seed))
    out.update(q)
    pages.unpersist()
    diag: dict = {}
    if wl.name == "fresh_crawl":
        # the recrawl relation: one op over the same pages against the
        # 80% index, on the JVM the window warmed
        pipe = QualityPipeline(os.path.join(work, "recrawl"), cfg, dedup_index=idx)
        t = time.perf_counter()
        r = pipe.run(spark, wl.pages)
        diag["recrawl_run_s"] = time.perf_counter() - t
        got = (pipe.read_output(spark, r.fingerprint)
               .select("url", "keep", "drop_reason", "scrubbed_text").toPandas())
        problems += [f"recrawl: {p}" for p in check_crawl(got, wl.oracle(), seen)]
    return out, problems, diag


def scaling(spark, wl, tmp: str, lanes) -> tuple[object, dict]:
    """Diagnostic only: fresh_crawl docs/s at local[n] for each n."""
    curve = {}
    for n in lanes:
        spark = restart(spark, n, tmp)
        wl.spark = spark
        wl.op(10_000 + 2 * n)
        t = time.perf_counter()
        docs = wl.op(10_001 + 2 * n)
        curve[f"local[{n}]"] = docs / (time.perf_counter() - t)
    return spark, curve


def prune_cache(cache: str, keep: int = 32) -> None:
    entries = sorted(
        (os.path.join(cache, e) for e in os.listdir(cache)), key=os.path.getmtime)
    for e in entries[:-keep]:
        shutil.rmtree(e, ignore_errors=True)


def run(workload: str, seed: int, seconds: float, trace: bool, sizes: Sizes = Sizes(),
        out=sys.stdout, t_start: float = T_START) -> dict:
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"run-{os.getpid()}")
    cache = os.path.join(base, "cache")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(cache, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark")
    # every JVM Spark launches (the launcher too): temp files in the
    # checkout, and no hsperfdata file, which HotSpot puts in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"

    host = meter.host_block()
    host.update(meter.calibration())
    t = time.time()
    spark = session(meter.nproc(), tmp)
    session_s = time.time() - t
    tracer = Tracer()
    cat_stats: dict | None = {} if trace else None
    wl = WORKLOADS[workload](spark, seed, sizes, work, cache, tracer, cat_stats)
    try:
        t = time.time()
        wl.prepare()
        inputs_s = time.time() - t
        t = time.time()
        warm = []
        cap = TRACED_WARMUP_CAP_S if trace else WARMUP_CAP_S
        for i in range(-(wl.warmup_ops if sizes.warmup_ops is None else sizes.warmup_ops), 0):
            warm += [run_op(wl, kind, i, False, tracer, None, None) for kind in ("run", "read")]
            if time.time() - t > cap:
                break
        warmup_s = time.time() - t
        setup_s = time.time() - t_start - inputs_s

        status = meter.SparkStatus(spark) if trace else None
        ops: list[dict] = []
        cpu0 = meter.tree_cpu_s()
        t0 = time.perf_counter()
        peaks = []  # process-tree peak Pss of each run+read pair
        pairs = []  # (docs, wall, cpu s) of each write+read pair
        with meter.MemSampler() as mem:
            mem.take()
            i = 0
            while True:
                traced = trace and i % 4 in (0, 3)  # ABBA: drift cancels
                c0 = meter.tree_cpu_s()
                pair = [run_op(wl, kind, i, traced, tracer, status, cat_stats)
                        for kind in ("run", "read")]
                pairs.append((pair[0]["docs"], sum(r["wall"] for r in pair),
                              meter.tree_cpu_s() - c0))
                ops += pair
                peaks.append(mem.take())
                i += 1
                if time.perf_counter() - t0 >= seconds:
                    break
        window_s = time.perf_counter() - t0
        cpu_s = meter.tree_cpu_s() - cpu0
        manifests = wl.manifests()

        t = time.time()
        by_op = wl.check()
        for r in ops:
            if r["kind"] == "run":
                r["problems"] += by_op.get(r["i"], [])
        warm_problems = [p for r in warm for p in r["problems"]] + [
            p for i, ps in by_op.items() if i < 0 for p in ps]
        check_s = time.time() - t

        runs = [r for r in ops if r["kind"] == "run"]
        reads = [r for r in ops if r["kind"] == "read"]
        failed = sum(1 for r in ops if r["problems"])
        docs_ok = sum(r["docs"] for r in runs if not r["problems"])
        run_walls = [r["wall"] for r in runs]
        # medians over the window's write+read pairs, so one slow op (a
        # GC pause, a burst of host steal) does not move them; a write op
        # that fails its check commits no docs
        metrics = {
            "docs_per_s": statistics.median(
                (0 if r["problems"] else d) / w for (d, w, _), r in zip(pairs, runs)),
            "run_s_p50": statistics.median(run_walls),
            "read_s_p50": statistics.median(r["wall"] for r in reads),
            "cpu_s_per_kdoc": statistics.median(c / max(d / 1e3, 1e-3) for d, _, c in pairs),
            "setup_s": setup_s,
        }
        units = dict(END_TO_END)
        report: dict = {
            "run_s_tail": tail(run_walls),
            "read_s_tail": tail([r["wall"] for r in reads]),
            "ops_failed_frac": failed / len(ops),
            "window_docs_per_s": docs_ok / window_s,
            "window_cpu_s_per_kdoc": cpu_s / max(sum(r["docs"] for r in runs) / 1e3, 1e-3),
            "samples": {"run": len(runs), "read": len(reads)},
            "peak_pss_mb": statistics.median(peaks),
            "peak_pss_mb_per_pair": [round(p) for p in peaks],
            "warmup_ops": len(warm) // 2,
            "engine.session_start_s": session_s, "engine.warmup_s": warmup_s,
            "inputs_s": inputs_s, "check_s": check_s,
        }
        problems = warm_problems[:]
        if trace:
            probes, probe_problems, diag = probe(
                wl, spark, wl.cfg, work, cache, seed)
            problems += probe_problems
            lm, extra = layer_metrics(ops, tracer, status, probes, manifests)
            lm["engine.session_start_s"] = session_s
            lm["engine.warmup_s"] = warmup_s
            report.update(extra)
            report.update(diag)
            if diag.get("recrawl_run_s"):
                report["recrawl_over_fresh"] = diag["recrawl_run_s"] / metrics["run_s_p50"]
            if workload == "fresh_crawl" and time.time() - t_start > SCALING_AFTER_S:
                report["scaling_docs_per_s_diagnostic"] = "skipped: run too long already"
            elif workload == "fresh_crawl":
                spark, report["scaling_docs_per_s_diagnostic"] = scaling(
                    spark, wl, tmp, SCALING_LANES)
            report["end_to_end_traced"] = metrics
            if set(lm) != set(PER_LAYER):
                raise RuntimeError(f"per-layer keys differ: {set(lm) ^ set(PER_LAYER)}")
            metrics, units = lm, PER_LAYER
        host["steal_frac_per_op"] = [round(r["steal"], 4) for r in ops]
        record = {
            "workload": workload, "seed": seed, "seconds": seconds, "trace": int(trace),
            "host": host, "report": report, "problems": problems[:50],
            "ops": [{k: v for k, v in r.items() if k != "catalog"} for r in ops],
            "metrics": metrics,
        }
        if trace:
            record["spans"] = tracer.spans
    finally:
        shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)
        prune_cache(cache)
    runs_dir = os.path.join(base, "runs")
    os.makedirs(runs_dir, exist_ok=True)
    with open(os.path.join(runs_dir, f"{workload}-s{seed}-t{int(trace)}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)

    print(f"# {workload} seed={seed} trace={int(trace)} host={json.dumps(host)}", file=out)
    for k, v in report.items():
        if k != "self_s_per_op":
            print(f"# {k}: {json.dumps(v, default=str)}", file=out)
    for k, v in report.get("self_s_per_op", {}).items():
        print(f"# self {k}: {v:.4f} s/op", file=out)
    for p in problems[:20]:
        print(f"# problem: {p}", file=out)
    for k, v in metrics.items():
        print(f"{k} = {v:.6g} {units[k]}", file=out)
    return {
        "correct": failed == 0 and not problems,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    result = run(a.workload, a.seed, a.seconds, bool(a.trace))
    sys.stdout.flush()
    print(json.dumps(result))


if __name__ == "__main__":
    main()
