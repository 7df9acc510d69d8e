"""Self-test of the benchmark at tiny sizes.

    python3 perfbench/selftest.py [workload ...]

For each workload (all by default) it runs ``run.py`` untraced and
traced on a few dozen documents and checks that the result line has
exactly the contract's keys, reports no failed document, prints every
end-to-end metric (untraced) and every per-layer metric (traced) with
its unit, and that each per-layer time the workload measures is
positive.  It then checks that ``run.py`` exits non-zero without a
result in a directory holding only ``BENCHMARK.json`` and the
benchmark's own files.  Exits non-zero on the first failure.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TINY_DOCS = {"warc_filter": 48, "staged_rerun": 48, "near_dup": 60}
# differences of two measured times, which may read <= 0
SIGNED = {"rules.fold_s", "trace.overhead_frac", "trace.outside_spans_s"}


def _run(args: list[str], cwd: str) -> tuple[int, str]:
    proc = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )
    if proc.returncode:
        sys.stderr.write(proc.stderr[-3000:])
    return proc.returncode, proc.stdout


def _check_result(workload: str, trace: int, spec: dict) -> None:
    from run import LAYERS_OF

    code, out = _run(
        ["--workload", workload, "--seed", "7", "--seconds", "1",
         "--trace", str(trace), "--docs", str(TINY_DOCS[workload])],
        ROOT,
    )
    assert code == 0, f"{workload} trace={trace}: exit {code}"
    res = json.loads(out.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}, res.keys()
    assert res["correct"] is True and res["failed"] == 0, res
    assert isinstance(res["attempted"], int) and res["attempted"] >= 1, res
    section = spec["per_layer" if trace else "end_to_end"]
    for m in section:
        got = res["metrics"].get(m["name"])
        assert got is not None, f"{workload}: {m['name']} missing"
        assert got["unit"] == m["unit"], (m["name"], got)
        assert isinstance(got["value"], (int, float)), (m["name"], got)
        measured = not trace or m["name"] in LAYERS_OF[workload]
        if measured and m["unit"] in ("s", "us") and m["name"] not in SIGNED:
            assert got["value"] > 0, f"{workload}: {m['name']} = {got['value']}"
    print(f"ok  {workload} trace={trace}: {len(section)} metrics", flush=True)


def _check_bare_directory() -> None:
    bare = os.path.join(ROOT, ".perfbench", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    try:
        code, out = _run(
            ["--workload", "near_dup", "--seed", "1", "--seconds", "1", "--trace", "0"],
            bare,
        )
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    assert code != 0 and not out.strip(), (code, out)
    print("ok  bare directory: exit", code, flush=True)


def main() -> None:
    sys.path.insert(0, HERE)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    workloads = sys.argv[1:] or [w["name"] for w in spec["workloads"]]
    for w in workloads:
        for trace in (0, 1):
            _check_result(w, trace, spec)
    _check_bare_directory()


if __name__ == "__main__":
    main()
