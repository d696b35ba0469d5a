"""Self-test of the harness's process hygiene and fail-fast paths.

    python3 perfbench/selftest.py

Checks, each on the smallest workload:

* a run whose worker raises mid-pass exits non-zero, prints no result and
  leaves no process behind;
* a run cut by its timeout, and a run sent SIGTERM, do the same;
* in a directory holding only the benchmark (no engine sources) the
  benchmark exits non-zero at once without a result;
* the sweep slice takes at least one query from every ``plans/`` module
  whose queries are not all named in its exclusions, and every workload
  query has an oracle and is not globally excluded.

The self-test makes itself a child subreaper, so any process that escapes
a run is re-parented to it and found.
"""

from __future__ import annotations

import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(ROOT), str(HERE)]

import proctree  # noqa: E402
from workloads import GLOBAL_EXCLUSIONS, WORKLOADS  # noqa: E402

RUN = [sys.executable, str(HERE / "run.py"), "--workload", "sweep_sf0.01",
       "--seed", "3", "--seconds", "1", "--trace", "0"]


def _finish(proc: subprocess.Popen, timeout: float = 200) -> tuple[int, str, str, list[int]]:
    """Wait for a run; return its exit code, stdout, stderr and whatever
    outlived it (then killed)."""
    out, err = proc.communicate(timeout=timeout)
    left = proctree.wait_for_exit(os.getpid(), 2.0)
    proctree.kill_tree(os.getpid())
    return proc.returncode, out, err, left


def _start(extra: list[str], cwd: Path = ROOT, cmd: list[str] = RUN) -> subprocess.Popen:
    return subprocess.Popen(cmd + extra, cwd=cwd, stdout=subprocess.PIPE,
                            stderr=subprocess.PIPE, text=True)


def _no_result(rc: int, out: str, err: str, left: list[int]) -> str | None:
    if rc == 0:
        return f"exit code 0, expected a failure; stdout: {out[-300:]}"
    if '"correct"' in out:
        return "printed a result"
    if left:
        return f"processes left behind: {[proctree.describe(p) for p in left]}"
    return None


def check_raises_mid_pass() -> str | None:
    rc, out, err, left = _finish(_start(["--fail-mid-pass"]))
    if "injected failure mid-pass" not in err:
        return f"the injected failure did not surface: {err[-500:]}"
    return _no_result(rc, out, err, left)


def check_timeout() -> str | None:
    # the two set-up samples take about 15 s: the cut falls in the cold pass
    return _no_result(*_finish(_start(["--timeout", "30"])))


def check_sigterm() -> str | None:
    proc = _start([])
    time.sleep(28)  # inside the cold pass: JVM and Python workers are up
    proc.send_signal(signal.SIGTERM)
    return _no_result(*_finish(proc))


def check_without_engine() -> str | None:
    bare = HERE / ".cache" / "selftest-bare"
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, bare / HERE.name, ignore=shutil.ignore_patterns(".cache", "__pycache__"))
    shutil.copy(ROOT / "BENCHMARK.json", bare)
    try:
        t0 = time.monotonic()
        cmd = [sys.executable, f"{HERE.name}/run.py"] + RUN[2:]
        problem = _no_result(*_finish(_start([], cwd=bare, cmd=cmd), timeout=60))
        return problem or (None if time.monotonic() - t0 < 30 else "took over 30 s")
    finally:
        shutil.rmtree(bare, ignore_errors=True)


def check_slices() -> str | None:
    from etl_data_pipeline_spark.plans import ORACLES, QUERIES, load_all_plans
    from etl_data_pipeline_spark.plans.registry import _PLAN_MODULES

    load_all_plans()
    for wl in WORKLOADS.values():
        bad = [q for q in wl.queries if q not in ORACLES or q in GLOBAL_EXCLUSIONS]
        if bad:
            return f"{wl.name}: not runnable with an oracle: {bad}"
    sweep = WORKLOADS["sweep_sf0.01"]
    covered = {QUERIES[q].__module__ for q in sweep.queries}
    skipped = set(sweep.excluded) | set(GLOBAL_EXCLUSIONS)
    silent = sorted(m for m in set(_PLAN_MODULES) - covered
                    if any(fn.__module__ == m and q not in skipped for q, fn in QUERIES.items()))
    return f"sweep_sf0.01 skips modules without naming why: {silent}" if silent else None


def main() -> int:
    proctree.become_subreaper()
    failed = 0
    for check in (check_slices, check_without_engine, check_raises_mid_pass,
                  check_timeout, check_sigterm):
        t0 = time.monotonic()
        problem = check()
        failed += problem is not None
        print(f"{'FAIL' if problem else 'ok  '} {check.__name__} "
              f"({time.monotonic() - t0:.1f} s){': ' + problem if problem else ''}", flush=True)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
