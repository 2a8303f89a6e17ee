"""Pin a row count and digest for every query op at one seed.

    python3 perfbench/pin.py [--seed 1]

Generates the query workloads' inputs for the seed, runs every query op
once, checks its rows against the query's DuckDB oracle on the same
data (the comparison ``tools/verify_oracle.py`` makes), and writes
``[rows, digest]`` per query to ``perfbench/pins.json``. Runs at that
seed then also compare each op against its pin, so a later change that
alters a result is caught even where the oracle would change with it.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

import run as bench


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    sys.path[:0] = [bench.ROOT]
    import check
    import workloads
    from spans import Tracer

    work = os.path.join(os.getcwd(), ".perfbench_work", f"pin-{os.getpid()}")
    os.makedirs(work)
    env = bench.pin_environment(work)
    pins, bad = {}, []
    r = workloads.Run(work, args.seed, Tracer(False), env["cores"])
    try:
        wl = workloads.ReportsAndCuration(r)
        wl.prepare()
        wl.start_session(0)
        for q in wl.ops:
            canon = check.canonical(wl.queries[q](r.spark, wl.data).toPandas())
            reason = wl.oracle.compare(wl.oracle_sql[q], canon)
            if reason:
                bad.append(f"{q}: {reason}")
            pins[q] = [len(canon[2]), check.digest(canon)]
        wl.teardown()
    finally:
        bench.stop_engine(r.spark)
        shutil.rmtree(work, ignore_errors=True)
    if bad:
        print("\n".join(bad), file=sys.stderr)
        return 1
    path = os.path.join(bench.HERE, "pins.json")
    data = {}
    if os.path.exists(path):
        with open(path) as f:
            data = json.load(f)
    data[str(args.seed)] = pins
    with open(path, "w") as f:
        json.dump(data, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"pinned {len(pins)} queries at seed {args.seed} in {path}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
