"""Self-test of the benchmark at sf0.001: a cold, a warm-up and two
measured warm passes per workload. Run from the repository root:

    python3 perfbench/selftest.py [workload ...]

For each workload it checks that

* every end-to-end and every per-layer metric is emitted with its unit;
* a planted wrong result (one row dropped from an op's result) is
  counted as a failed op;
* the same seed gives the same op order and the same constants;
* ``catalog.jobs``, ``queries.build_jobs`` and ``exec.jobs`` are
  identical across two traced runs;

and that ``BENCHMARK.json`` is the one ``spec.py`` generates.
Exits non-zero on the first failed check.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import spec  # noqa: E402

SEED = 3
COUNTS = ("catalog.jobs", "queries.build_jobs", "exec.jobs")


def bench(workload: str, trace: int, *extra: str) -> tuple[dict, dict]:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
        "--seed", str(SEED), "--seconds", "0",
        "--sf", "0.001", "--trace", str(trace), *extra,
    ]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-4000:])
        raise AssertionError(f"{' '.join(cmd)} exited {p.returncode}")
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-2])["report"], json.loads(lines[-1])


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise AssertionError(what)
    print(f"ok   {what}", flush=True)


def check_spec() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        expect(json.load(f) == spec.benchmark_json(), "BENCHMARK.json matches spec.py")


def check_units(result: dict, table: dict, what: str) -> None:
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    want = {k: v[0] for k, v in table.items()}
    expect(got == want, f"{what}: every metric emitted once with its unit")


def check_workload(w: str) -> None:
    rep0, res0 = bench(w, 0)
    expect(res0["correct"] and res0["failed"] == 0, f"{w}: all ops correct")
    check_units(res0, spec.END_TO_END, f"{w} --trace 0")

    victim = spec.OPS[w][0]
    rep_bad, res_bad = bench(w, 0, "--plant-wrong", victim)
    expect(not res_bad["correct"] and res_bad["failed"] >= 1,
           f"{w}: planted wrong result of {victim} counted as failed "
           f"({res_bad['failed']} of {res_bad['attempted']})")

    rep1, res1 = bench(w, 1)
    rep2, res2 = bench(w, 1)
    check_units(res1, spec.LAYERS, f"{w} --trace 1")
    expect(rep0["orders"] == rep1["orders"] == rep2["orders"]
           and rep0["constants"] == rep1["constants"] == rep2["constants"],
           f"{w}: same seed, same op orders and constants")
    for name in COUNTS:
        a, b = res1["metrics"][name]["value"], res2["metrics"][name]["value"]
        expect(a == b, f"{w}: {name} identical across traced runs ({a})")


def main(argv: list[str]) -> int:
    check_spec()
    for w in argv or list(spec.WORKLOADS):
        check_workload(w)
    print("selftest passed")
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
