"""The measured driver process of one run: one client, closed loop.

Drives the engine only through its public entry points
(``plans.load_all_plans``, ``session.get_spark``, ``QUERIES[name](spark,
sf_dir)`` and the ``toPandas()`` action), one query after another:

1. set-up: load the registry and start the session (``setup_s``);
   with ``--setup-only`` the worker stops here, so that ``run.py`` can
   take several set-up samples per run;
2. a cold pass in the fresh session (``cold_pass_s``), whose results are
   compared with the DuckDB oracle frames made by ``prep.py``;
3. warm passes until ``--seconds`` have passed since the first of them
   began (at least ``MIN_WARM_PASSES``; ``pass_s`` is their median), each
   result checked against the hashes of verified results.

``spark.stop()`` and the JVM's exit happen in a ``finally``.  Writes its
figures as JSON to ``--out``; ``run.py`` starts it and prints the result.
"""

from __future__ import annotations

import argparse
import json
import pickle
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(ROOT), str(HERE)]

from tracing import Spans, StreamingProgress, group_id, layer_metrics, read_event_log  # noqa: E402

from workloads import WORKLOADS  # noqa: E402

#: warm passes per run at least (their median is ``pass_s``)
MIN_WARM_PASSES = 2


def result_hash(pdf) -> tuple:  # noqa: ANN001 - pandas.DataFrame
    """Order-insensitive digest of a result: columns, dtypes, rows, and
    the wrapping sum of per-row hashes."""
    import numpy as np
    import pandas as pd

    df = pdf.reindex(sorted(pdf.columns), axis=1)
    try:
        rows = pd.util.hash_pandas_object(df, index=False)
    except TypeError:  # array/map cells: hash their repr
        df = df.apply(lambda c: c.map(lambda v: repr(v.tolist() if isinstance(v, np.ndarray) else v))
                      if c.dtype == object else c)
        rows = pd.util.hash_pandas_object(df, index=False)
    return (tuple(df.columns), tuple(map(str, pdf.dtypes[df.columns])), len(df),
            int(rows.to_numpy(dtype=np.uint64).sum(dtype=np.uint64)))


class Checker:
    """Each result against the oracle frame of its query.

    A result whose digest equals the oracle's, or that of a result already
    verified, passes at once; any other goes through the repository's
    exact comparison, ``tests/conftest.py::assert_frames_match``."""

    def __init__(self, oracle_dir: Path):
        self.oracle_dir = oracle_dir
        self.expected: dict = {}  # query -> oracle frame, or its error text
        self.verified: dict[str, set[tuple]] = {}
        self.failures: list[str] = []

    def check(self, query: str, res, pass_no: int) -> bool:  # noqa: ANN001
        if isinstance(res, BaseException):
            return self._fail(query, pass_no, f"raised {res!r}"[:300])
        if query not in self.expected:
            with open(self.oracle_dir / f"{query}.pkl", "rb") as f:
                self.expected[query] = pickle.load(f)
            ok = self.verified[query] = set()
            if not isinstance(self.expected[query], str):
                ok.add(result_hash(self.expected[query]))
        digest = result_hash(res)
        if digest in self.verified[query]:
            return True
        expected = self.expected[query]
        if isinstance(expected, str):
            return self._fail(query, pass_no, expected)
        from tests.conftest import assert_frames_match

        try:
            assert_frames_match(res, expected, query)
        except AssertionError as e:
            return self._fail(query, pass_no, f"mismatch: {e}"[:300])
        self.verified[query].add(digest)
        return True

    def _fail(self, query: str, pass_no: int, why: str) -> bool:
        self.failures.append(f"pass {pass_no} {query}: {why}")
        return False


def storage_counters(spark) -> tuple[int, float]:  # noqa: ANN001
    """Persisted RDDs and their cached MB (memory + disk)."""
    sc = spark.sparkContext
    infos = sc._jsc.sc().getRDDStorageInfo()
    mb = sum(i.memSize() + i.diskSize() for i in infos) / 2**20
    return int(sc._jsc.getPersistentRDDs().size()), mb


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--oracle-dir", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--t0", type=float, required=True, help="epoch time of spawn")
    ap.add_argument("--out", required=True)
    ap.add_argument("--trace-dir")
    ap.add_argument("--setup-only", action="store_true")
    ap.add_argument("--fail-mid-pass", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args()
    wl = WORKLOADS[args.workload]
    trace = bool(args.trace)

    spans = Spans()
    with spans.span("setup", start=args.t0) as setup:
        with spans.span("plans.registry.load"):
            from etl_data_pipeline_spark.plans import QUERIES, load_all_plans

            load_all_plans()
        with spans.span("session.start"):
            from etl_data_pipeline_spark.session import get_spark

            spark = get_spark(app_name=f"perfbench-{wl.name}")
    parts = {s.name: spans.duration(s) for s in spans.spans if s.parent == setup.id}
    out: dict = {"setup_s": spans.duration(setup),
                 "session.start_s": parts["session.start"],
                 "plans.registry.load_s": parts["plans.registry.load"],
                 # how much of the set-up wall its two child spans account for
                 "trace.setup_cover": 1 - spans.self_time(setup) / spans.duration(setup)}
    if args.setup_only:
        stop_spark(spark)
        Path(args.out).write_text(json.dumps(out))
        return
    try:
        spark.sparkContext.setLogLevel("ERROR")
        stream = StreamingProgress()
        if trace:
            spark.streams.addListener(stream.listener())
            spans.on_enter = lambda s: s.query and spark.sparkContext.setJobGroup(
                group_id(s), f"{s.name} {s.query}")
        checker = Checker(Path(args.oracle_dir))
        extra = {"python_s": {}, "rows": {}, "batches": stream.batches,
                 "batch_ms": stream.batch_ms, "persisted_rdds": {}, "cached_mb": {}}
        attempted = failed = 0
        t_warm = None
        pass_no = 0
        while True:
            stream.pass_no = pass_no
            if trace:
                spark.profile.clear(type="perf")
            results = []
            with spans.span("pass", pass_no=pass_no):
                for i, q in enumerate(wl.queries):
                    if args.fail_mid_pass and i == len(wl.queries) // 2:
                        raise RuntimeError("injected failure mid-pass (self-test)")
                    try:
                        with spans.span("build", q, pass_no):
                            df = QUERIES[q](spark, args.sf_dir)
                        with spans.span("action", q, pass_no):
                            results.append((q, df.toPandas()))
                    except Exception as e:  # noqa: BLE001 - counted as failed
                        results.append((q, e))
            t_check = time.monotonic()
            for q, res in results:
                attempted += 1
                failed += not checker.check(q, res, pass_no)
            out["check_s"] = out.get("check_s", 0.0) + time.monotonic() - t_check
            extra["rows"][pass_no] = sum(len(r) for _, r in results if not isinstance(r, BaseException))
            if trace:
                extra["python_s"][pass_no] = profiled_python_s(spark, Path(args.trace_dir) / f"profile{pass_no}")
                extra["persisted_rdds"][pass_no], extra["cached_mb"][pass_no] = storage_counters(spark)
            pass_no += 1
            if t_warm is None:
                t_warm = time.monotonic()
            elif pass_no > MIN_WARM_PASSES and time.monotonic() - t_warm >= args.seconds:
                break
    finally:
        t_stop = time.monotonic()
        stop_spark(spark)
        out["stop_s"] = time.monotonic() - t_stop

    walls = [spans.duration(s) for s in spans.passes()]
    warm = walls[1:]
    q = statistics.quantiles(warm, n=4) if len(warm) > 1 else [warm[0]] * 3
    out.update({
        "cold_pass_s": walls[0],
        "pass_s": statistics.median(warm),
        "pass_s_q1": q[0],
        "pass_s_q3": q[2],
        "passes_warm": len(warm),
        "attempted": attempted,
        "failed": failed,
        "failures": checker.failures[:20],
        "query_s": query_seconds(spans),
        "phase_s": {k: round(out.pop(k), 3) for k in ("check_s", "stop_s")},
    })
    if trace:
        out["layers"] = traced_layers(spans, args.trace_dir, extra)
        spans.dump(Path(args.trace_dir) / "spans.json")
    Path(args.out).write_text(json.dumps(out))


def query_seconds(spans: Spans) -> dict[str, list[float]]:
    """Per query: build + action seconds of the cold pass and the median
    warm pass."""
    per: dict[str, dict[int, float]] = {}
    for s in spans.spans:
        if s.query is not None:
            d = per.setdefault(s.query, {})
            d[s.pass_no] = d.get(s.pass_no, 0.0) + spans.duration(s)
    return {q: [round(d[0], 3), round(statistics.median(v for p, v in d.items() if p), 3)]
            for q, d in per.items() if len(d) > 1}


def profiled_python_s(spark, dump_dir: Path) -> float:  # noqa: ANN001
    """Total cProfile time of every Python UDF/kernel since the last clear,
    read back through the public ``spark.profile.dump``."""
    import pstats

    spark.profile.dump(str(dump_dir), type="perf")
    return sum(pstats.Stats(str(p)).total_tt for p in dump_dir.glob("*.pstats"))


def traced_layers(spans: Spans, trace_dir: str, extra: dict) -> dict:
    """The per-pass layer figures, and how much of the pass wall the
    build and action spans account for."""
    (log_file,) = (p for p in Path(trace_dir, "eventlog").rglob("*") if p.is_file())
    log = read_event_log(log_file)
    passes = spans.passes()
    warm = [s.pass_no for s in passes[1:]]
    layers = layer_metrics(spans, log, warm, extra)
    warm_spans = passes[1:]
    layers["trace.pass_s"] = statistics.median(spans.duration(s) for s in warm_spans)
    layers["trace.pass_cover"] = statistics.median(
        1 - spans.self_time(s) / spans.duration(s) for s in warm_spans)
    return layers


def stop_spark(spark) -> None:  # noqa: ANN001
    """Stop the session, then close the gateway and wait for the JVM."""
    from pyspark import SparkContext

    try:
        spark.stop()
    finally:
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=20)
            except subprocess.TimeoutExpired:  # run.py kills the rest of the tree
                proc.kill()


if __name__ == "__main__":
    main()

