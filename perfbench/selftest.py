"""Smoke self-test of the benchmark.

    python3 perfbench/selftest.py

Run from the repository root. Checks that the input generator is
deterministic per seed, then runs every workload at a tiny size, untraced
and traced, and checks that each prints one well-formed result line whose
metric names and units are exactly those ``BENCHMARK.json`` declares, with
no failed operation. Exits non-zero on the first problem. Takes a few
minutes: every run starts its own Spark session.
"""

from __future__ import annotations

import filecmp
import json
import os
import re
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
# runs run.py with every workload shrunk to a tiny size that still takes
# every code path of both flows; the seed has no recorded GOLD hashes, so
# refreshes are checked against each other
TINY_RUN = """
import sys
sys.path.insert(0, {here!r})
import gen
for name in gen.SIZES:
    gen.SIZES[name] = gen.Sizes(
        payroll_rows=300, payroll_stems=3, payroll_variants=2,
        posting_rows=20, posting_stems=2, posting_variants=1,
        lightcast_rows=8, delta_postings=4,
    )
import run
sys.argv = ["run.py", "--workload", {workload!r}, "--seed", "987654", "--seconds", "1", "--trace", {trace!r}]
sys.exit(run.main())
"""


def check_generator() -> None:
    sys.path.insert(0, HERE)
    import gen

    with tempfile.TemporaryDirectory(dir=os.getcwd()) as tmp:
        a = gen.generate(os.path.join(tmp, "a"), 7, gen.SIZES["weekly_delta_refresh"])
        b = gen.generate(os.path.join(tmp, "b"), 7, gen.SIZES["weekly_delta_refresh"])
        c = gen.generate(os.path.join(tmp, "c"), 8, gen.SIZES["weekly_delta_refresh"])
        for name in a:
            if not filecmp.cmp(a[name], b[name], shallow=False):
                raise SystemExit(f"generator: {name} differs between two runs of one seed")
        if all(filecmp.cmp(a[n], c[n], shallow=False) for n in a):
            raise SystemExit("generator: seeds 7 and 8 gave identical inputs")
    print("selftest: generator deterministic per seed")


def check_run(spec: dict, workload: str, trace: str) -> None:
    proc = subprocess.run(
        [sys.executable, "-c", TINY_RUN.format(here=HERE, workload=workload, trace=trace)],
        capture_output=True, text=True, timeout=600,
    )
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"{workload} trace={trace}: exit code {proc.returncode}")
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        raise SystemExit(f"{workload}: result keys {sorted(result)}")
    if not (result["correct"] and result["failed"] == 0 and result["attempted"] >= 1):
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"{workload} trace={trace}: {result['failed']} of {result['attempted']} failed")
    declared = {m["name"]: m["unit"] for m in spec["per_layer" if trace == "1" else "end_to_end"]}
    got = {n: m["unit"] for n, m in result["metrics"].items()}
    if got != declared:
        raise SystemExit(f"{workload} trace={trace}: metrics {got} != declared {declared}")
    for name, m in result["metrics"].items():
        if not (NAME.match(name) and UNIT.match(m["unit"]) and isinstance(m["value"], (int, float))):
            raise SystemExit(f"{workload}: malformed metric {name}: {m}")
    print(f"selftest: {workload} trace={trace}: {len(got)} metrics, "
          f"{result['attempted']} operations, none failed")


def main() -> int:
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    check_generator()
    for w in spec["workloads"]:
        for trace in ("0", "1"):
            check_run(spec, w["name"], trace)
    shutil.rmtree(".perfbench_run", ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
