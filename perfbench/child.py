"""One Spark session's lifetime inside a benchmark run.

Started by ``run.py`` as its own process, so every run pays (and
measures) a cold JVM, Python-worker spawn and model load.  It sets up,
runs the workload's closed loop for ``--seconds``, and writes a JSON
result file: set-up times, one record per timed iteration (wall time,
peak resident memory, Python-worker CPU, outputs or the exception), and
in traced runs the spans and per-layer numbers.

Stdout and stderr go to a log file; nothing here is parsed from Spark's
log output.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import traceback  # noqa: E402


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else float("nan")


def _span_medians(tracer, name: str, **attrs) -> float:
    return _median(
        [
            s["dur_s"]
            for s in tracer.spans
            if s["name"] == name and all(s.get(k) == v for k, v in attrs.items())
        ]
    )


def _layers_from_spans(workload: str, tracer, iter_spans: list[dict]) -> dict:
    med = lambda name, **kw: _span_medians(tracer, name, **kw)  # noqa: E731
    out = {
        "trace.outside_spans_s": _median([s["self_s"] for s in iter_spans]),
    }
    if workload == "staged_rerun":
        out.update(
            {
                "pipeline.text_ckpt_write_s": med("pipeline.run_pipeline_staged", step=1),
                "checkpoint.run_s": med("checkpoint.run", step=1),
                "checkpoint.resume_noop_s": med("checkpoint.resume_noop"),
                "report.rule_metrics_s": med("report.rule_metrics", step=1),
                "report.history_latest_s": med("report.history_latest", step=1),
            }
        )
    elif workload == "near_dup":
        out.update(
            {
                "dedup.minhash_s": med("dedup.minhash"),
                "dedup.clusters_s": med("dedup.clusters"),
                "dedup.line_dedup_s": med("dedup.line_dedup"),
            }
        )
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--manifest", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--result", required=True)
    args = ap.parse_args()

    from dqmtools_spark.session import get_spark
    from tracing import PeakRss, ProcTree, Tracer, combine, task_metrics_by_span
    from workloads import WORKLOADS

    root = os.environ["PYTHONPATH"].split(os.pathsep)[0]
    with open(args.manifest) as fh:
        manifest = json.load(fh)
    traced = bool(args.trace)
    conf = {
        "spark.local.dir": os.path.join(args.work, "spark-local"),
        # a fixed-size heap (-Xms = -Xmx) keeps resident memory a function
        # of the work, not of the collector's heap-growth decisions; no
        # perf-data file, so the JVM writes nothing outside the run dir
        "spark.driver.extraJavaOptions": (
            f"-Xms{os.environ['SPARK_DRIVER_MEM']} -XX:-UsePerfData "
            f"-Djava.io.tmpdir={os.environ['TMPDIR']}"
        ),
        "spark.sql.warehouse.dir": os.path.join(args.work, "warehouse"),
    }
    log_dir = os.path.join(args.work, "eventlog")
    if traced:
        os.makedirs(log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                "spark.eventLog.compress": "false",
            }
        )
    tracer = Tracer(run_id=f"{args.workload}-{os.getpid()}", enabled=traced)

    with tracer.span("session.start"):
        spark = get_spark(
            app_name=f"perfbench-{args.workload}",
            master=f"local[{os.environ['SPARK_GRAFT_CPUS']}]",
            extra_conf=conf,
        )
        spark.sparkContext.setLogLevel("ERROR")
    start_s = time.perf_counter() - T_START
    tree = ProcTree(spark.sparkContext._gateway.proc.pid)
    tracer.spark, tracer.tree = spark, (tree if traced else None)

    wl = WORKLOADS[args.workload](spark, manifest, args.work, tracer, root)
    with tracer.span("session.warmup"):
        wl.warm()
    setup_s = time.perf_counter() - T_START

    iterations = []
    iter_spans = []
    with PeakRss(tree) as rss:
        loop_start = time.perf_counter()
        # the iterations before wl.warmups were the warm-up
        i = wl.warmups
        while True:
            spark.catalog.clearCache()
            os.sync()
            rss.reset()
            cpu0 = tree.python_cpu_s()
            t0 = time.perf_counter()
            try:
                with tracer.span("iteration", i=i) as sp:
                    res = wl.iteration(i)
                res["wall_s"] = time.perf_counter() - t0
                if sp:
                    iter_spans.append(sp)
            except Exception:  # noqa: BLE001 — a failed layer call is a measured outcome
                res = {"docs": wl.n, "error": traceback.format_exc()}
            last = time.perf_counter() - t0
            res["peak_rss_mb"] = rss.peak()
            res["py_cpu_s"] = tree.python_cpu_s() - cpu0
            if "error" not in res and hasattr(wl, "read_back"):
                try:
                    wl.read_back(res)
                except Exception:  # noqa: BLE001
                    res["error"] = traceback.format_exc()
            wl.cleanup()
            res["i"] = i
            iterations.append(res)
            i += 1
            # stop where the measured span is closest to --seconds, so
            # the iteration count does not flip on small timing changes
            if time.perf_counter() - loop_start + last / 2 >= args.seconds:
                break

    loop_s = time.perf_counter() - loop_start
    out = {
        "loop_s": loop_s,
        "start_s": start_s,
        "setup_s": setup_s,
        "warmup_s": setup_s - start_s,
        "iterations": iterations,
        "layers": {},
    }
    if hasattr(wl, "corrupt_members"):
        out["corrupt_members"] = wl.corrupt_members()
    if traced:
        out["layers"] = wl.probes()
    spark.stop()

    if traced:
        tracer.self_times()
        per_span = task_metrics_by_span(log_dir, tracer.spans)
        for s in tracer.spans:
            if s["id"] in per_span:
                m = dict(per_span[s["id"]])
                m.pop("stage_task_s")
                s["spark"] = m
        loop_ids = {s["id"] for sp in iter_spans for s in tracer.subtree(sp)}
        spark_tot = combine([m for sid, m in per_span.items() if sid in loop_ids])
        layers = out["layers"]
        layers.update(_layers_from_spans(args.workload, tracer, iter_spans))
        layers.update(
            {
                "session.start_s": start_s,
                "session.warmup_s": setup_s - start_s,
                "python_workers.cpu_s": _median([r["py_cpu_s"] for r in iterations]),
                "spark.jvm_cpu_frac": spark_tot["jvm_cpu_frac"],
                "spark.gc_frac": spark_tot["gc_frac"],
                "spark.shuffle_write_mb": spark_tot["shuffle_write_mb"],
                "spark.spill_mb": spark_tot["spill_mb"],
                "spark.task_skew": spark_tot["task_skew"],
            }
        )
        for r in iterations:
            layers.update(r.pop("layers", {}))
        out["spans"] = tracer.spans

    with open(args.result, "w") as fh:
        json.dump(out, fh)


if __name__ == "__main__":
    main()
