"""Preparation for one (workload, seed): generate the parquet inputs from
the seed with ``tools/gen_sf.py`` and compute every query's oracle result
with DuckDB.  Neither step is timed.

Results are cached under ``perfbench/.cache/data/sf<sf>_s<seed>/``:
the parquet files, ``meta.json`` (row counts and bytes per table) and
``oracle/<query>.pkl`` (the oracle's pandas frame, or its error text).

Run as ``python perfbench/prep.py <workload> <seed>``; prints the data
directory on its last stdout line.
"""

from __future__ import annotations

import contextlib
import json
import os
import pickle
import shutil
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
CACHE = HERE / ".cache"
sys.path[:0] = [str(ROOT), str(ROOT / "tools"), str(HERE)]

from workloads import (  # noqa: E402
    ORACLE_MAX_TEMP,
    ORACLE_MEMORY_LIMIT,
    ORACLE_SECONDS,
    WORKLOADS,
    Workload,
)


def data_dir(workload: Workload, seed: int) -> Path:
    return CACHE / "data" / f"sf{workload.sf:g}_s{seed}"


def generate(workload: Workload, seed: int, out: Path) -> None:
    """Write every table at the workload's sf, drawn from ``seed``."""
    import gen_sf

    gen_sf.SEED = seed
    with contextlib.redirect_stdout(sys.stderr):
        gen_sf.gen(workload.sf, str(out))


def run_oracles(queries: list[str], sf_dir: Path, out: Path) -> dict[str, float]:
    """Write each query's oracle frame (or its error text) to
    ``out/<query>.pkl``; return the wall time of each."""
    import duckdb

    from etl_data_pipeline_spark.catalog import TABLES, table_path
    from etl_data_pipeline_spark.plans import ORACLES, load_all_plans

    load_all_plans()
    tmp = out / f"duckdb_tmp{os.getpid()}"
    tmp.mkdir(parents=True, exist_ok=True)
    con = duckdb.connect(config={
        "memory_limit": ORACLE_MEMORY_LIMIT,
        "max_temp_directory_size": ORACLE_MAX_TEMP,
        "temp_directory": str(tmp),
        "threads": len(os.sched_getaffinity(0)),
    })
    secs = {}
    try:
        for name in TABLES:
            if os.path.exists(table_path(str(sf_dir), name)):
                con.execute(
                    f"CREATE VIEW {name} AS SELECT * FROM "
                    f"read_parquet('{table_path(str(sf_dir), name)}')"
                )
        for q in queries:
            timer = threading.Timer(ORACLE_SECONDS, con.interrupt)
            t0 = time.monotonic()
            timer.start()
            try:
                frame = con.execute(ORACLES[q]).fetchdf()
            except Exception as e:  # noqa: BLE001 - recorded, counted as failed
                frame = f"oracle failed under the cap: {e!r}"[:500]
            finally:
                timer.cancel()
            secs[q] = round(time.monotonic() - t0, 3)
            part = out / f"{q}.pkl.tmp{os.getpid()}"
            with open(part, "wb") as f:
                pickle.dump(frame, f)
            part.rename(out / f"{q}.pkl")
    finally:
        con.close()
        shutil.rmtree(tmp, ignore_errors=True)
    return secs


def prepare(workload: Workload, seed: int) -> Path:
    """Make sure the inputs and every query's oracle result exist."""
    final = data_dir(workload, seed)
    if not (final / "meta.json").exists():
        work = final.with_name(f"{final.name}.tmp{os.getpid()}")
        shutil.rmtree(work, ignore_errors=True)
        t0 = time.monotonic()
        generate(workload, seed, work)
        import pyarrow.parquet as pq

        meta = {
            "sf": workload.sf,
            "seed": seed,
            "tables": {
                p.stem: {"rows": pq.ParquetFile(p).metadata.num_rows, "bytes": p.stat().st_size}
                for p in sorted(work.glob("*.parquet"))
            },
            "gen_s": round(time.monotonic() - t0, 3),
        }
        (work / "meta.json").write_text(json.dumps(meta, indent=1))
        try:
            work.rename(final)
        except OSError:  # another run finished the same (sf, seed) first
            shutil.rmtree(work, ignore_errors=True)
    oracle_dir = final / "oracle"
    oracle_dir.mkdir(exist_ok=True)
    todo = [q for q in workload.queries if not (oracle_dir / f"{q}.pkl").exists()]
    if todo:
        secs = run_oracles(todo, final, oracle_dir)
        print(json.dumps({"oracle_s": secs}), file=sys.stderr)
    return final


def main() -> None:
    workload, seed = WORKLOADS[sys.argv[1]], int(sys.argv[2])
    print(prepare(workload, seed))


if __name__ == "__main__":
    main()
