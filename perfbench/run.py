"""Layered benchmark of the engine: one seeded workload per invocation.

    python3 perfbench/run.py --workload sql_ra_tpch --seed 1 --seconds 15 --trace 0

Run from the repository root. It generates the seeded tables under
``.perfbench_work/`` (removed at exit), starts one fresh measured
process (``child.py``) with a fresh ``TMPDIR``, Spark local dirs and
``SPARK_GRAFT_CPUS`` = the usable core count, and prints:

* a ``{"report": ...}`` line: per-op records summary, seeded constants,
  pass orders, the effective Spark conf (``SPARK_GRAFT_CONF`` included),
  Spark/Python versions, core count, seed and scale factor;
* as the last line, ``{"correct", "attempted", "failed", "metrics"}``.
  With ``--trace 0`` the metrics are the end-to-end ones of
  ``spec.END_TO_END``; with ``--trace 1`` the per-layer ones of
  ``spec.LAYERS``.

Load model: closed loop, one client thread, one op at a time. An op is
one DataFrame build plus the full Arrow collect of its result; a pass
runs every op of the workload once in a seeded order. The first pass
after set-up is the cold pass; one unmeasured warm-up pass follows,
then measured warm passes until at least two passes and ``--seconds``
of op time are done.
Every op's result is checked, outside the timed region, against DuckDB
over the same files.

``--trace 1`` first runs the untraced process, then a traced one (Spark
event log on, spans around every engine call); per-layer numbers come
from the traced process and the tracing overhead is the difference of
their median warm pass times.

Exits non-zero without a result line when the engine package is not
next to this directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import spec  # noqa: E402

DEFAULT_SF = 0.01
NPROC = len(os.sched_getaffinity(0))
CHILD_TIMEOUT_S = 150.0


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    raise SystemExit(2)


def _stop_group(proc: subprocess.Popen, grace: float = 10.0) -> None:
    """Stop the child and every process it started (its process group:
    the JVM and Python workers), and wait until none is left."""
    if proc.poll() is None:
        os.killpg(proc.pid, signal.SIGKILL)
    proc.wait()
    deadline = time.time() + grace
    while True:
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        if time.time() > deadline + grace:
            print("perfbench: processes of the measured run did not exit", file=sys.stderr)
            return
        if time.time() > deadline:
            os.killpg(proc.pid, signal.SIGKILL)
        time.sleep(0.1)


def run_child(args, work: str, data: str, trace: int, tag: str) -> dict:
    child_work = os.path.join(work, tag)
    tmp = os.path.join(child_work, "tmp")
    local = os.path.join(child_work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d)
    env = dict(os.environ)
    env.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=local,
        SPARK_GRAFT_CPUS=str(NPROC),
        SPARK_GRAFT_WAREHOUSE=os.path.join(child_work, "warehouse"),
        PYTHONPATH=os.pathsep.join([ROOT] + [p for p in [env.get("PYTHONPATH")] if p]),
    )
    out = os.path.join(child_work, "result.json")
    cmd = [
        sys.executable, os.path.join(HERE, "child.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(trace),
        "--data", data, "--work", child_work, "--out", out,
    ]
    if args.plant_wrong:
        cmd += ["--plant-wrong", args.plant_wrong]
    log_path = os.path.join(work, f"{tag}.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            cmd + ["--spawn-time", repr(time.time())],
            cwd=ROOT, env=env, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        try:
            proc.wait(timeout=CHILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            pass
        finally:
            _stop_group(proc)
    if proc.returncode != 0 or not os.path.exists(out):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        _fail(f"measured process {tag} failed (exit {proc.returncode})")
    with open(out) as f:
        return json.load(f)


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _measured(res: dict, pass_no: int) -> bool:
    """A measured warm pass: not the cold pass nor a warm-up pass."""
    return pass_no > res["warmup_passes"]


def _warm(res: dict) -> list[dict]:
    return [r for r in res["records"] if _measured(res, r["pass"])]


def _pass_sums(res: dict, key) -> list[float]:
    """Per warm pass, the sum of ``key(record)``; key may return None."""
    sums: dict[int, float] = defaultdict(float)
    for r in _warm(res):
        v = key(r)
        sums[r["pass"]] += v or 0.0
    return [sums[p] for p in sorted(sums)] or [0.0]


def end_to_end(res: dict) -> tuple[dict, dict]:
    warm_ok = [r for r in _warm(res) if r.get("ok")]
    lat = [r["latency_s"] for r in warm_ok]
    by_op: dict[str, list[float]] = defaultdict(list)
    for r in warm_ok:
        by_op[r["op"]].append(r["latency_s"])
    op_median = {k: _median(v) for k, v in by_op.items()}
    # ops per second of a pass made of each op's median latency: the
    # same quantity as ops / busy time, without one slow sample of one
    # op moving it
    pass_s = sum(op_median.values())
    metrics = {
        "setup_s": res["setup_s"],
        "cold_pass_s": res["cold_pass_s"],
        "ops_per_s": len(by_op) / pass_s if pass_s else 0.0,
        "slowest_op_s": max(op_median.values(), default=0.0),
    }
    detail = {"op_p50_s": _median(lat), "op_samples": len(lat),
              "warm_passes": res["warm_passes"],
              "slowest_op": max(op_median, key=op_median.get, default=None),
              "op_median_s": op_median, "op_warm_s": dict(by_op),
              "cold_op_s": {r["op"]: r.get("latency_s") for r in res["records"] if r["pass"] == 0}}
    return metrics, detail


def _self_sums(res: dict) -> dict[tuple[str, str], float]:
    """(op id, span name) -> summed self time; the op span's own self
    time is named "uncovered": op time no engine-call span covers."""
    sums: dict[tuple[str, str], float] = defaultdict(float)
    for s in res.get("self_times", []):
        if s["op"]:
            sums[(s["op"], "uncovered" if s["name"] == "op" else s["name"])] += s["self_s"]
    return sums


def _self_per_pass(res: dict, name: str) -> list[float]:
    per_pass: dict[int, float] = defaultdict(float)
    for (op_id, span), v in _self_sums(res).items():
        if span == name:
            per_pass[int(op_id.split(":", 1)[0])] += v
    first = res["warmup_passes"] + 1
    return [per_pass[p] for p in range(first, first + res["warm_passes"])]


def self_time_breakdown(res: dict) -> dict:
    """op -> span name -> median over warm passes of its self time."""
    per: dict[str, dict[str, list[float]]] = defaultdict(lambda: defaultdict(list))
    for (op_id, span), v in _self_sums(res).items():
        pass_no, op = op_id.split(":", 1)
        if _measured(res, int(pass_no)):
            per[op][span].append(v)
    return {op: {k: _median(v) for k, v in d.items()} for op, d in per.items()}


def per_layer(res: dict, untraced: dict) -> dict:
    m: dict[str, float] = {}
    recs = res["records"]
    m["process.peak_rss_mb"] = (res["jvm_hwm_kb"] + res["py_hwm_kb"]) * 1024 / 1e6
    m["session.get_spark_s"] = res["get_spark_s"]
    m["catalog.register_all_s"] = res["register_all_s"]
    m["catalog.jobs"] = res["catalog_jobs"]
    for name in ("ra.parse", "ra.resolve", "engine.sql", "queries.build",
                 "exec.collect", "sources.write", "sources.read"):
        m[f"{name}_s"] = _median(_self_per_pass(res, name))
    for phase in ("analysis", "optimization", "planning"):
        m[f"catalyst.{phase}_s"] = _median(_pass_sums(res, lambda r: r.get(f"phase_{phase}_s")))
    reg = lambda r: r["kind"] == "registry"  # noqa: E731
    m["queries.build_jobs"] = _median(_pass_sums(res, lambda r: r.get("build_jobs") if reg(r) else 0))
    m["queries.cold_build_jobs"] = sum(
        r.get("build_jobs", 0) for r in recs if r["pass"] == 0 and reg(r))
    reg_lat = sum(r.get("latency_s", 0.0) for r in _warm(res) if reg(r))
    reg_build = sum(_self_per_pass(res, "queries.build"))
    m["queries.build_share"] = reg_build / reg_lat if reg_lat else 0.0
    for key in ("jobs", "stages", "tasks", "scheduler_delay_s", "run_s", "cpu_s",
                "gc_s", "shuffle_write_mb", "spill_mb", "python_stages", "python_mb"):
        m[f"exec.{key}"] = _median(_pass_sums(res, lambda r, k=key: r.get("exec", {}).get(k)))
    m["exec.result_mb"] = _median(_pass_sums(res, lambda r: r.get("result_mb")))
    m["exec.failed_tasks"] = sum(r.get("exec", {}).get("failed_tasks", 0) for r in recs)
    m["sources.write_mb"] = _median(_pass_sums(res, lambda r: (r.get("write_bytes") or 0) / 1e6))
    wb = sum(r.get("write_bytes", 0) for r in recs)
    wi = sum(r.get("write_input_bytes", 0) for r in recs)
    m["sources.write_amp"] = wb / wi if wi else 0.0
    rows = sum(r.get("payload_rows", 0) for r in recs)
    m["sources.null_reject_ratio"] = sum(r.get("payload_nulls", 0) for r in recs) / rows if rows else 0.0
    m["failed_ops_ratio"] = sum(1 for r in recs if not r.get("ok")) / len(recs)
    pass_lat = _pass_sums(res, lambda r: r.get("latency_s"))
    uncovered = _self_per_pass(res, "uncovered")
    m["trace.uncovered_share"] = _median(
        [u / t for u, t in zip(uncovered, pass_lat) if t]) if pass_lat else 0.0
    base = _median(_pass_sums(untraced, lambda r: r.get("latency_s")))
    m["trace.overhead_s"] = _median(pass_lat) - base
    m["trace.overhead_share"] = m["trace.overhead_s"] / base if base else 0.0
    by_op: dict[str, list[float]] = defaultdict(list)
    for r in _warm(res):
        if r.get("ok"):
            by_op[r["op"]].append(r["latency_s"])
    for w_ops in spec.OPS.values():
        for op in w_ops:
            m[spec.op_metric(op)] = _median(by_op.get(op, []))
    return {k: m[k] for k in spec.LAYERS}


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(spec.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=DEFAULT_SF)
    ap.add_argument("--plant-wrong", default="",
                    help="drop one row of this op's result before the check")
    args = ap.parse_args(argv)

    # SIGTERM (a caller's timeout) unwinds through the finally blocks that
    # stop the measured process group and remove the work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, "sql_query_engine_spark")):
        _fail(f"engine package not found under {ROOT}")

    import datagen

    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        data = os.path.join(work, "data", f"sf{args.sf:g}")
        sizes = datagen.generate(data, args.seed, args.sf)
        untraced = run_child(args, work, data, 0, "reference" if args.trace else "untraced")
        traced = run_child(args, work, data, 1, "traced") if args.trace else None
    finally:
        shutil.rmtree(work, ignore_errors=True)

    res = traced or untraced
    # every op of every measured process counts, the reference one too
    recs = untraced["records"] + (traced["records"] if traced else [])
    failed = sum(1 for r in recs if not r.get("ok"))
    e2e, detail = end_to_end(untraced)
    if args.trace:
        values, names = per_layer(traced, untraced), spec.LAYERS
    else:
        values, names = e2e, spec.END_TO_END
    metrics = {k: {"value": values[k], "unit": names[k][0]} for k in names}
    report = {
        "workload": args.workload, "seed": args.seed, "sf": args.sf,
        "seconds": args.seconds, "trace": args.trace, "nproc": NPROC,
        "spark_version": res["spark_version"], "python_version": res["python_version"],
        "spark_graft_conf": os.environ.get("SPARK_GRAFT_CONF", ""),
        "spark_conf": res["spark_conf"], "table_rows": sizes,
        "constants": res["constants"], "orders": res["orders"],
        "end_to_end": e2e, **detail,
        "errors": sorted({f"{r['op_id']}: {r.get('error')}" for r in recs if not r.get("ok")}),
        "layer_map": {k: {"unit": u, "moves": mv, "workloads": w}
                      for k, (u, mv, w) in spec.LAYERS.items()},
    }
    if args.trace:
        report["self_time_s"] = self_time_breakdown(traced)
        report["spans"] = traced["spans"]
    print(json.dumps({"report": report}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(recs),
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
