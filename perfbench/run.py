"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload warc_filter --seed 1 --seconds 8 --trace 0

Run from the repository root.  The run

1. generates the workload's inputs from ``--seed`` (untimed, then
   ``os.sync()``) under ``.perfbench/`` in the repository root;
2. starts a child process (``child.py``) that owns one Spark session:
   cold start, warm-up of the exact timed plan, then a closed loop —
   one client, each iteration starting after the previous one ends —
   for ``--seconds``;
3. checks every timed iteration's output (``check.py``);
4. prints the metrics named in ``BENCHMARK.json`` as the last stdout
   line: the end-to-end metrics with ``--trace 0``, the per-layer ones
   with ``--trace 1``.

A traced run starts two children, an untraced one and a traced one
(Spark event log on, spans around every layer call), each for half of
``--seconds``; the difference between their throughputs is the tracing
overhead.  Spans go to ``.perfbench/traces/`` and a per-span summary to
stderr.

``--docs`` overrides the workload's input size (the self-test uses it).
Exit status is 0 when a result was printed, non-zero otherwise.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# a run, generation and checks included, must end within 180 s; the
# children share what is left of this budget, so a slowed program is
# still measured, and only a hang (about 4x a normal run) is cut
RUN_BUDGET_S = 170
CHECK_RESERVE_S = 10

# per-layer metrics each workload measures; the rest read 0 on it
# because that layer does no work there
_COMMON = {
    "session.start_s", "session.warmup_s",
    "spark.jvm_cpu_frac", "spark.gc_frac", "spark.shuffle_write_mb",
    "spark.spill_mb", "spark.task_skew", "trace.overhead_frac",
    "trace.outside_spans_s", "failed_frac",
}
_PYTHON_STAGE = {
    "textproc.extract_us", "textproc.scrub_us", "textproc.langid_us",
    "textproc.ppl_us", "pipeline.python_phase_s", "python_workers.cpu_s",
}
LAYERS_OF = {
    "warc_filter": _COMMON | _PYTHON_STAGE | {
        "warc.read_s", "warc.mb_per_s", "warc.corrupt_members",
        "models.langid_us", "models.ppl_us", "models.load_s",
    },
    "staged_rerun": _COMMON | _PYTHON_STAGE | {
        "pipeline.text_ckpt_write_s", "pipeline.text_ckpt_mb",
        "textstats.stats_s", "rules.fold_s", "checkpoint.run_s",
        "checkpoint.resume_noop_s", "tables.files_written",
        "tables.bytes_per_doc", "report.rule_metrics_s",
        "report.history_latest_s",
    },
    "near_dup": _COMMON | {
        "dedup.minhash_s", "dedup.pairs_found", "dedup.planted_recall",
        "dedup.clusters_s", "dedup.line_dedup_s", "dedup.lines_kept_frac",
    },
}


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _processes_with(token: str) -> list[int]:
    """Pids whose environment carries ``PERFBENCH_RUN=token``."""
    needle = f"PERFBENCH_RUN={token}".encode()
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/environ", "rb") as fh:
                if needle in fh.read().split(b"\0"):
                    out.append(int(name))
        except OSError:
            continue
    return out


def _reap(token: str, grace_s: float = 15.0) -> None:
    """Wait for every process the child started to end; kill stragglers."""
    deadline = time.monotonic() + grace_s
    while time.monotonic() < deadline:
        if not _processes_with(token):
            return
        time.sleep(0.2)
    for pid in _processes_with(token):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while _processes_with(token):
        time.sleep(0.1)


def run_child(workload: str, manifest_path: str, work: str, seconds: float,
              traced: bool, tag: str, timeout: float) -> dict:
    """Run ``child.py`` to completion, or kill it after ``timeout``
    seconds; return its result, or ``{"error": ...}`` when it produced
    none."""
    cdir = os.path.join(work, tag)
    tmp = os.path.join(cdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    result = os.path.join(cdir, "result.json")
    token = uuid.uuid4().hex
    env = dict(os.environ)
    env.update(
        {
            "PYTHONPATH": os.pathsep.join([ROOT, HERE]),
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
            "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
            "SPARK_DRIVER_MEM": "1g",
            "SPARK_LOCAL_DIRS": os.path.join(cdir, "spark-local"),
            "TMPDIR": tmp,
            "PERFBENCH_RUN": token,
        }
    )
    cmd = [
        sys.executable, os.path.join(HERE, "child.py"),
        "--workload", workload, "--manifest", manifest_path, "--work", cdir,
        "--seconds", str(seconds), "--trace", str(int(traced)), "--result", result,
    ]
    log_path = os.path.join(cdir, "child.log")
    with open(log_path, "wb") as log:
        proc = subprocess.Popen(cmd, env=env, stdout=log, stderr=log, cwd=cdir,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=max(timeout, 1.0))
        except subprocess.TimeoutExpired:
            code = "timeout"
        finally:
            # also reached when this process is told to stop mid-run
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
            _reap(token)
    if code != 0 or not os.path.exists(result):
        with open(log_path, errors="replace") as fh:
            tail = fh.read()[-4000:]
        return {"error": f"child exit {code}\n{tail}"}
    with open(result) as fh:
        return json.load(fh)


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else float("nan")


def _dps(res: dict) -> float:
    """Documents per second of timed wall time over the whole loop.  The
    first timed iteration of ``warc_filter`` runs 10-30% slower than
    later ones, so a per-iteration median would jump with the iteration
    count; the loop total does not."""
    good = [r for r in res.get("iterations", []) if "error" not in r]
    wall = sum(r["wall_s"] for r in good)
    return sum(r["docs"] for r in good) / wall if wall else float("nan")


def _span_report(spans: list[dict]) -> str:
    """Per span name: count, median duration and median self time."""
    by: dict[str, list[dict]] = {}
    for s in spans:
        key = s["name"] + (f"[step{s['step']}]" if "step" in s else "")
        by.setdefault(key, []).append(s)
    lines = [f"{'span':40s} {'n':>3s} {'dur_s':>9s} {'self_s':>9s}"]
    for key, ss in by.items():
        lines.append(
            f"{key:40s} {len(ss):3d} {_median([s['dur_s'] for s in ss]):9.4f} "
            f"{_median([s['self_s'] for s in ss]):9.4f}"
        )
    return "\n".join(lines)


def main() -> int:
    ap = argparse.ArgumentParser(description="dqmtools_spark benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--docs", type=int, help="override the workload's input size")
    args = ap.parse_args()
    deadline = time.monotonic() + RUN_BUDGET_S
    # SIGTERM unwinds like an exception, so children are stopped and
    # the run directory removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    try:
        with open(spec_path) as fh:
            spec = json.load(fh)
        sys.path.insert(0, ROOT)
        from check import Checker
        from gen import generate
        from workloads import DOCS
    except (OSError, ImportError) as e:
        _log(f"cannot run: {e}")
        return 2
    if args.workload not in DOCS:
        _log(f"unknown workload {args.workload!r}; have {sorted(DOCS)}")
        return 2

    run_dir = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        docs = args.docs or DOCS[args.workload]
        manifest = generate(args.workload, args.seed, docs, os.path.join(run_dir, "input"))
        manifest_path = os.path.join(run_dir, "input", "manifest.json")
        _log("input: " + json.dumps(
            {k: v for k, v in manifest.items() if k not in ("planted", "sample_ids")}
        ))
        runs = [("plain", args.seconds / (2 if args.trace else 1), False)]
        if args.trace:
            runs.append(("traced", args.seconds / 2, True))
        results = {}
        for k, (tag, secs, traced) in enumerate(runs):
            share = (deadline - CHECK_RESERVE_S - time.monotonic()) / (len(runs) - k)
            results[tag] = run_child(args.workload, manifest_path, run_dir, secs,
                                     traced, tag, share)
        checker = Checker(ROOT, manifest, real_models=args.workload == "warc_filter")
        return report(args, spec, manifest, checker, results)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def report(args, spec: dict, manifest: dict, checker, results: dict) -> int:
    attempted = failed = 0
    check_layers: list[dict] = []
    for tag, res in results.items():
        if "error" in res:
            _log(f"{tag} child failed: {res['error']}")
            attempted += manifest["records"]
            failed += manifest["records"]
            continue
        _log(f"{tag}: setup {res['setup_s']:.2f}s, iteration walls "
             f"{[round(it.get('wall_s', float('nan')), 3) for it in res['iterations']]}")
        for it in res["iterations"]:
            attempted += it["docs"]
            if "error" in it:
                _log(f"{tag} iteration {it['i']} raised:\n{it['error']}")
                failed += it["docs"]
                continue
            n_bad, notes, layers = checker.check(args.workload, it["outputs"])
            failed += n_bad
            check_layers.append(layers)
            for note in notes[:10]:
                _log(f"{tag} iteration {it['i']}: {note}")
        corrupt = res.get("corrupt_members", 0)
        if corrupt:
            _log(f"{tag}: {corrupt} corrupt WARC members")
            failed += corrupt

    plain = results["plain"]
    metrics: dict[str, float] = {}
    if "error" not in plain and any("error" not in it for it in plain["iterations"]):
        good = [it for it in plain["iterations"] if "error" not in it]
        metrics = {
            "docs_per_s": _dps(plain),
            "rule_rerun_s": statistics.fmean(it["rerun_s"] for it in good),
            "setup_s": plain["setup_s"],
            "peak_rss_mb": _median([it["peak_rss_mb"] for it in good]),
        }
    if args.trace:
        traced = results["traced"]
        if "error" in traced:
            metrics = {}
        else:
            layers = dict(traced["layers"])
            for key in ("dedup.pairs_found", "dedup.planted_recall", "dedup.lines_kept_frac"):
                vals = [c[key] for c in check_layers if key in c]
                if vals:
                    layers[key] = _median(vals)
            layers["failed_frac"] = failed / max(attempted, 1)
            layers["trace.overhead_frac"] = 1.0 - _dps(traced) / metrics.get("docs_per_s", float("nan"))
            metrics = layers
            _log("spans (median over occurrences):\n" + _span_report(traced["spans"]))
            in_spans = sum(s["dur_s"] for s in traced["spans"] if s["name"] == "iteration")
            _log(f"timed loop {traced['loop_s']:.3f}s, in iteration spans {in_spans:.3f}s, "
                 f"between iterations (cache clear, sync, read-back) "
                 f"{traced['loop_s'] - in_spans:.3f}s")
            tdir = os.path.join(ROOT, ".perfbench", "traces")
            os.makedirs(tdir, exist_ok=True)
            with open(os.path.join(tdir, f"{args.workload}-{args.seed}.json"), "w") as fh:
                json.dump({"manifest": {k: v for k, v in manifest.items()
                                        if k not in ("planted", "sample_ids")},
                           "spans": traced["spans"]}, fh, indent=1)

    section = "per_layer" if args.trace else "end_to_end"
    applies = LAYERS_OF[args.workload] if args.trace else None
    out: dict[str, dict] = {}
    missing = []
    for m in spec[section]:
        name = m["name"]
        if name in metrics and math.isfinite(metrics[name]):
            value = metrics[name]
        elif applies is not None and name not in applies:
            value = 0.0
        else:
            missing.append(name)
            continue
        out[name] = {"value": value, "unit": m["unit"]}
    if missing:
        _log(f"metrics not measured: {missing}")
        return 1
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": out,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
