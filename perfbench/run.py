"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload curation_sf0.1 --seed 7 --seconds 10 --trace 0

Run from the repository root.  A run

1. prepares the inputs (``prep.py``: parquet from ``--seed`` via
   ``tools/gen_sf.py`` plus the DuckDB oracle results, cached by sf and
   seed under ``perfbench/.cache``; not timed);
2. starts ``worker.py --setup-only`` ``SETUP_SAMPLES - 1`` times, then
   ``worker.py`` for the passes, each in its own process group
   (``setup_s`` is the median of all ``SETUP_SAMPLES`` set-ups), and
   samples the RSS of the whole process tree (driver, JVM, Python
   workers) from /proc while the passes' worker runs;
3. after the worker ends, waits briefly for its descendants to exit and
   fails the run if any survives (they are killed); on timeout, error or
   signal it kills the whole tree;
4. prints one context line, then the result JSON as the last stdout line:
   the end-to-end metrics with ``--trace 0``, the per-layer metrics with
   ``--trace 1`` (event log, UDF profiler and streaming listener on).
   Metric names and units are read from ``BENCHMARK.json``; a run whose
   computed metrics differ from that list fails.

The harness sets the run environment itself (``PYTHONPATH`` for Python
workers, ``SPARK_GRAFT_CPUS`` = usable cores, one BLAS/OpenMP thread,
private temp and Spark local dirs) and never edits engine code.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
CACHE = HERE / ".cache"
sys.path.insert(0, str(HERE))

import proctree  # noqa: E402
from prep import data_dir  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

#: whole-run wall limit (preparation included); a run must end within 180 s
RUN_TIMEOUT_S = 170.0
#: how long descendants may take to exit after the worker has ended
EXIT_GRACE_S = 15.0
#: engine files the benchmark needs in the checkout
REQUIRED = ("etl_data_pipeline_spark/plans/registry.py", "tools/gen_sf.py", "tests/conftest.py")

#: driver JVM max heap; the initial heap is left to the JVM, so the RSS
#: follows the pages the engine touches
DRIVER_MEM = "2g"

#: G1 grows the heap when collections take more than 1/(1 + ratio) of the
#: time (ratio 12 by default).  Under a busy host that made the committed
#: heap, and with it peak RSS, vary by up to 1.8x between runs of one
#: workload; at 1 it grows only when collections take over half the
#: time, which in practice is when live data needs the room
GC_TIME_RATIO = 1

#: set-ups per run (the passes' worker included); ``setup_s`` is their median
SETUP_SAMPLES = 3
#: figures each set-up reports; the run reports the median of each
SETUP_KEYS = ("setup_s", "session.start_s", "plans.registry.load_s", "trace.setup_cover")

_GC_PAUSE = re.compile(r"GC\(\d+\) Pause .* (\d+)([KMG])->(\d+)([KMG])\((\d+)([KMG])\) ([\d.]+)ms")
_MB = {"K": 1 / 1024, "M": 1.0, "G": 1024.0}


class RunFailed(Exception):
    pass


def _on_signal(signum, frame):  # noqa: ANN001
    raise RunFailed(f"received signal {signum}")


def run_env(tmp: Path, trace_dir: Path | None) -> dict[str, str]:
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(tmp / "warehouse"),
    }
    if trace_dir is not None:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": (trace_dir / "eventlog").as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.sql.pyspark.udf.profiler": "perf",
        })
    submit = [a for k, v in conf.items() for a in ("--conf", f"{k}={v}")]
    java_opts = (f"-XX:GCTimeRatio={GC_TIME_RATIO} -Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                 f"-Xlog:gc:file={tmp / 'gc.log'}")
    submit += ["--driver-java-options", java_opts, "pyspark-shell"]
    env.update({
        "PYTHONPATH": os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")])),
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "OMP_NUM_THREADS": "1",
        "OPENBLAS_NUM_THREADS": "1",
        "MKL_NUM_THREADS": "1",
        "NUMEXPR_NUM_THREADS": "1",
        "SPARK_LOCAL_DIRS": str(tmp / "local"),
        "TMPDIR": str(tmp),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "PYSPARK_SUBMIT_ARGS": shlex.join(submit),
    })
    return env


def supervise(cmd: list[str], env: dict, deadline: float, log) -> tuple[int, dict[str, float]]:  # noqa: ANN001
    """Run ``cmd`` in its own session until it exits; return its exit code
    and the RSS (MB, per command name) of the harness's whole process tree
    at its peak.  Kills the tree on timeout or signal; fails if a
    descendant outlives the process."""
    proc = subprocess.Popen(cmd, env=env, cwd=ROOT, stdout=log, stderr=log,
                            start_new_session=True)
    peak: dict[str, float] = {}
    try:
        while proc.poll() is None:
            if time.monotonic() > deadline:
                raise RunFailed(f"timed out: {' '.join(cmd[1:3])}")
            now = proctree.rss_mb(proctree.descendants(os.getpid()))
            if sum(now.values()) > sum(peak.values()):
                peak = now
            time.sleep(0.1)
    except BaseException:
        proctree.kill_tree(os.getpid(), also=proc.pid)
        raise
    survivors = proctree.wait_for_exit(os.getpid(), EXIT_GRACE_S)
    if survivors:
        names = [proctree.describe(p) for p in survivors]
        proctree.kill_tree(os.getpid())
        raise RunFailed(f"processes outlived the run: {names}")
    return proc.returncode, peak


def gc_summary(gc_log: Path) -> dict[str, float]:
    """From the driver JVM's ``-Xlog:gc`` lines (``GC(3) Pause Young ...
    812M->120M(2048M) 4.1ms``): the peak of the heap in use right after a
    collection, the peak committed heap, the pause count and their total."""
    pauses = list(_GC_PAUSE.finditer(gc_log.read_text()))
    return {
        "heap_after_gc_peak_mb": max((int(m[3]) * _MB[m[4]] for m in pauses), default=0.0),
        "heap_committed_peak_mb": max((int(m[5]) * _MB[m[6]] for m in pauses), default=0.0),
        "pauses": len(pauses),
        "pause_s": round(sum(float(m[7]) for m in pauses) / 1e3, 3),
    }


def metric_list(trace: bool) -> list[dict]:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return spec["per_layer" if trace else "end_to_end"]


def link_inputs(data: Path, run_dir: Path) -> Path:
    """Hard-link the cached inputs under a name unique to this run, so the
    engine's scratch outputs (keyed by the input dir's name) never carry
    over between runs."""
    sf_dir = run_dir / f"{data.name}_r{os.getpid()}"
    sf_dir.mkdir(parents=True)
    for f in data.glob("*.parquet"):
        os.link(f, sf_dir / f.name)
    return sf_dir


def drop_engine_scratch(sf_dir: Path) -> None:
    tag = sf_dir.name.replace(".", "_")
    for p in ROOT.glob(f".scratch/*/*{tag}*"):
        shutil.rmtree(p, ignore_errors=True) if p.is_dir() else p.unlink(missing_ok=True)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--timeout", type=float, default=RUN_TIMEOUT_S, help=argparse.SUPPRESS)
    ap.add_argument("--fail-mid-pass", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args()

    missing = [p for p in REQUIRED if not (ROOT / p).is_file()]
    if missing:
        print(f"perfbench: engine sources not found next to the benchmark: {missing}",
              file=sys.stderr)
        return 2

    proctree.become_subreaper()
    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, _on_signal)
    deadline = time.monotonic() + args.timeout
    run_dir = CACHE / f"run-{os.getpid()}-{time.time_ns()}"
    tmp = run_dir / "tmp"
    trace_dir = run_dir / "trace" if args.trace else None
    for d in (tmp / "local", *([trace_dir / "eventlog"] if trace_dir else [])):
        d.mkdir(parents=True)
    env = run_env(tmp, trace_dir)
    log_path = run_dir / "run.log"
    sf_dir = None
    try:
        t_prep = time.monotonic()
        with open(log_path, "w") as log:
            rc, _ = supervise([sys.executable, str(HERE / "prep.py"), args.workload, str(args.seed)],
                              env, deadline, log)
            if rc != 0:
                raise RunFailed(f"preparation failed (exit {rc})")
        prep_s = time.monotonic() - t_prep
        data = data_dir(WORKLOADS[args.workload], args.seed)
        sf_dir = link_inputs(data, run_dir)
        load_before = os.getloadavg()
        out_path = run_dir / "worker.json"
        cmd = [sys.executable, str(HERE / "worker.py"), "--workload", args.workload,
               "--sf-dir", str(sf_dir), "--oracle-dir", str(data / "oracle"), "--seconds", str(args.seconds),
               "--trace", str(args.trace), "--out", str(out_path)]
        if trace_dir:
            cmd += ["--trace-dir", str(trace_dir)]
        if args.fail_mid_pass:
            cmd.append("--fail-mid-pass")
        samples = []
        t_worker = time.monotonic()
        with open(log_path, "a") as log:
            for _ in range(SETUP_SAMPLES - 1):
                rc, _ = supervise(cmd + ["--setup-only", "--t0", repr(time.time())], env, deadline, log)
                if rc != 0:
                    raise RunFailed(f"set-up failed (exit {rc})")
                samples.append(json.loads(out_path.read_text()))
            # the passes' JVM writes the only GC and event logs read below
            (tmp / "gc.log").unlink(missing_ok=True)
            if trace_dir:
                for f in (trace_dir / "eventlog").iterdir():
                    f.unlink()
            rc, peak_rss = supervise(cmd + ["--t0", repr(time.time())], env, deadline, log)
        worker_s = time.monotonic() - t_worker
        if rc != 0:
            raise RunFailed(f"worker failed (exit {rc})")
        res = json.loads(out_path.read_text())
        samples.append(res)
        setup = {k: statistics.median(s[k] for s in samples) for k in SETUP_KEYS}
        gc = gc_summary(tmp / "gc.log")
        if args.trace:
            computed = {**res["layers"], **{k: setup[k] for k in SETUP_KEYS[1:]},
                        "trace.setup_s": setup["setup_s"],
                        "jvm.heap_after_gc_peak_mb": gc["heap_after_gc_peak_mb"]}
        else:
            computed = {"setup_s": setup["setup_s"], "cold_pass_s": res["cold_pass_s"],
                        "pass_s": res["pass_s"], "peak_rss_mb": sum(peak_rss.values())}
        wanted = metric_list(bool(args.trace))
        if {m["name"] for m in wanted} != set(computed):
            raise RunFailed(f"computed metrics {sorted(computed)} differ from BENCHMARK.json's "
                            f"{sorted(m['name'] for m in wanted)}")
        if trace_dir:
            traces = CACHE / "traces"
            traces.mkdir(exist_ok=True)
            shutil.copy(trace_dir / "spans.json", traces / f"{args.workload}-s{args.seed}.json")
    except RunFailed as e:
        tail = log_path.read_text()[-3000:] if log_path.exists() else ""
        print(f"perfbench: run failed: {e}\n{tail}", file=sys.stderr)
        return 1
    finally:
        proctree.kill_tree(os.getpid())
        if sf_dir is not None:
            drop_engine_scratch(sf_dir)
        shutil.rmtree(run_dir, ignore_errors=True)

    wl = WORKLOADS[args.workload]
    meta = json.loads((data / "meta.json").read_text())
    context = {
        "workload": wl.name, "seed": args.seed, "sf": wl.sf,
        "tables": meta["tables"],
        "input_bytes": sum(t["bytes"] for t in meta["tables"].values()),
        "queries": list(wl.queries), "excluded": wl.excluded,
        "passes_warm": res["passes_warm"],
        "pass_s_q1": res["pass_s_q1"], "pass_s_q3": res["pass_s_q3"],
        "failed_frac": res["failed"] / res["attempted"],
        "failures": res["failures"],
        "query_s": res["query_s"],
        "phase_s": {"prep": round(prep_s, 3), "worker": round(worker_s, 3), **res["phase_s"]},
        "setup_s_samples": [round(s["setup_s"], 3) for s in samples],
        "peak_rss_mb_by_command": {k: round(v, 1) for k, v in peak_rss.items()},
        "jvm_gc": gc,
        "loadavg_before": load_before, "loadavg_after": os.getloadavg(),
    }
    metrics = {m["name"]: {"value": computed[m["name"]], "unit": m["unit"]} for m in wanted}
    print("# perfbench " + json.dumps(context))
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
