"""Record the GOLD content hashes each workload must reproduce per seed.

    python3 perfbench/record_expected.py --seeds 0-63

Run from the repository root. For every seed it runs one refresh of each
workload exactly as ``run.py`` does - a full refresh, or the delta set-up
plus one delta refresh - and writes the order-independent hash of every
GOLD table to ``perfbench/expected_gold.json`` under ``<workload>/<seed>``.
``run.py`` then fails any refresh whose GOLD differs. Re-record only when
a change to the program is meant to change its output.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

import run as R


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seeds", default="0-63", help="inclusive range, e.g. 0-63")
    args = ap.parse_args()
    lo, hi = (int(x) for x in args.seeds.split("-"))
    repo_root = os.getcwd()
    run_root = os.path.join(repo_root, ".perfbench_run", f"record-{os.getpid()}")
    R.isolate(run_root, repo_root)
    import checks as C
    import gen
    import spans as T
    import workloads as W
    from nyc_government_hiring_audit_data_platform_spark.session import get_spark

    spark = get_spark(app_name="perfbench-record", cpus=R.CORES, driver_memory="1g",
                      extra_conf={"spark.sql.warehouse.dir": os.path.join(run_root, "store", "warehouse")})
    spark.sparkContext.setLogLevel("ERROR")
    env = W.Env(spark, T.Tracer(spark, enabled=False), os.path.join(run_root, "store"))
    recorded = {}
    try:
        for seed in range(lo, hi + 1):
            for workload in R.WORKLOADS:
                paths = gen.generate(os.path.join(run_root, "inputs"), seed, gen.SIZES[workload])
                if workload == "weekly_delta_refresh":
                    W.delta_setup(env, paths)
                    W.delta_refresh(env, paths)
                else:
                    W.full_refresh(env, paths)
                gold = C.collect_gold(env)
                recorded[f"{workload}/{seed}"] = {t: C.content_hash(rows) for t, rows in gold.items()}
                print(workload, seed, recorded[f"{workload}/{seed}"], file=sys.stderr, flush=True)
        # merged at the end, so that runs over disjoint seed ranges can
        # record side by side
        recorded = {**C.load_expected(), **recorded}
        with open(C.EXPECTED_PATH, "w") as f:
            json.dump(dict(sorted(recorded.items())), f, indent=1)
            f.write("\n")
    finally:
        spark.stop()
        R.shutdown_jvm()
        shutil.rmtree(run_root, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
