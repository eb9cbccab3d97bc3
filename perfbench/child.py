"""The measured process: set up the engine, run the passes, check every
result, and write raw per-op records as JSON.

``run.py`` starts this script in a fresh process with a fresh temp
directory and passes the wall-clock time at which it spawned the
process, so set-up is measured from process start. Only the
engine's public functions are called; each call is wrapped in a span
when tracing is on.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import resource
import sys
import time
import traceback

# After the cold pass, WARMUP_PASSES unmeasured passes let the JIT and
# the Python workers settle: the first pass after the cold one is the
# slowest warm pass and the one whose time varies most from run to run.
# Measured warm passes then run until at least MIN_WARM_PASSES passes
# are done and ``--seconds`` of op time is measured. A fixed count, not
# elapsed time alone, sets how many passes a run makes, so a machine that
# is faster for a while does not add a pass. The counts are kept small:
# every run also pays set-up and a cold pass, and comparing two commits
# takes dozens of runs.
WARMUP_PASSES = 1
MIN_WARM_PASSES = 2


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _canonical(table):
    """The rows in one fixed order, so results holding the same rows in
    another order compare equal; unsortable column types keep theirs."""
    import pyarrow as pa

    try:
        return table.sort_by([(c, "ascending") for c in table.column_names])
    except pa.ArrowException:
        return table


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--data", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--spawn-time", type=float, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--plant-wrong", default="")
    a = ap.parse_args(argv)

    import pyspark

    from sql_query_engine_spark import Engine, get_spark

    import spans

    tracer = spans.Tracer(bool(a.trace))
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
        ),
    }
    event_dir = os.path.join(a.work, "eventlog")
    if a.trace:
        os.makedirs(event_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })

    with tracer.span("setup"):
        t0 = time.perf_counter()
        with tracer.span("session.get_spark"):
            spark = get_spark("perfbench", extra_conf=conf)
        t1 = time.perf_counter()
        sc = spark.sparkContext
        sc.setLogLevel("ERROR")
        sc.setJobGroup("setup", "setup")
        with tracer.span("catalog.register_all"):
            engine = Engine(spark, a.data)
        t2 = time.perf_counter()
    setup_s = time.time() - a.spawn_time
    app_id = sc.applicationId
    tracker = sc.statusTracker()
    result: dict = {
        "setup_s": setup_s,
        "get_spark_s": t1 - t0,
        "register_all_s": t2 - t1,
        "catalog_jobs": len(tracker.getJobIdsForGroup("setup")),
        "spark_conf": dict(sc.getConf().getAll()),
        "spark_version": pyspark.__version__,
        "python_version": platform.python_version(),
    }

    import duckdb

    from sql_query_engine_spark.catalog import TABLES, table_path

    import check
    import workloads

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{table_path(a.data, t)}'")
    n_customer = con.sql("SELECT count(*) FROM customer").fetchone()[0]
    ctx = workloads.Ctx(
        spark=spark, engine=engine, data_dir=a.data, work_dir=a.work,
        con=con, tracer=tracer,
        consts=workloads.constants(a.seed, n_customer),
    )
    ops = {op.name: op for op in workloads.make_ops(a.workload)}
    result["constants"] = ctx.consts
    records: list[dict] = []
    verified: dict = {}  # op -> last result that matched its oracle

    def run_op(op, pass_no: int) -> dict:
        op_id = f"{pass_no}:{op.name}"
        rec = {"pass": pass_no, "op": op.name, "op_id": op_id, "kind": op.kind}
        sc.setJobGroup(op_id, op.name)
        try:
            with tracer.span("op", op_id):
                b0 = time.perf_counter()
                df = op.build(ctx, op_id)
                b1 = time.perf_counter()
                build_jobs = len(tracker.getJobIdsForGroup(op_id))
                c0 = time.perf_counter()
                with tracer.span("exec.collect", op_id):
                    table = df.toArrow()
                c1 = time.perf_counter()
        except Exception as e:  # an op that raises is a failed op
            rec.update(ok=False, error=f"{type(e).__name__}: {e}"[:500])
            traceback.print_exc(file=sys.stderr)
            return rec
        finally:
            sc.setJobGroup("bench", "bench")
        rec.update(
            build_s=b1 - b0, collect_s=c1 - c0, latency_s=(b1 - b0) + (c1 - c0),
            build_jobs=build_jobs,
            jobs=len(tracker.getJobIdsForGroup(op_id)),
            rows=table.num_rows, result_mb=table.nbytes / 1e6,
        )
        phases = df._jdf.queryExecution().tracker().phases()
        it = phases.iterator()
        while it.hasNext():
            kv = it.next()
            rec[f"phase_{kv._1()}_s"] = kv._2().durationMs() / 1e3
        if op.name == a.plant_wrong and table.num_rows:
            table = table.slice(0, table.num_rows - 1)
        if op.payload_column:
            rec["payload_rows"] = table.num_rows
            rec["payload_nulls"] = table.column(op.payload_column).null_count
        if isinstance(op, workloads.WarcRoundTrip):
            out = op.out_dir(ctx, op_id)
            rec["write_bytes"] = sum(
                os.path.getsize(os.path.join(out, f)) for f in os.listdir(out)
            )
            rec["write_input_bytes"] = op.input_bytes(ctx)
        canon = _canonical(table)
        if canon.equals(verified.get(op.name)):
            reason = None  # the same rows as a result that already matched
        else:
            reason = check.diff(check.arrow_multiset(table), op.expected(ctx))
        if reason is None:
            verified[op.name] = canon
        rec["ok"] = reason is None
        if reason:
            rec["error"] = f"wrong result: {reason}"
            print(f"perfbench: {op_id} {rec['error']}", file=sys.stderr)
        return rec

    orders = workloads.pass_orders(a.seed, tuple(ops))
    result["orders"] = []

    def run_pass(pass_no: int) -> float:
        order = next(orders)
        result["orders"].append(order)
        recs = [run_op(ops[name], pass_no) for name in order]
        records.extend(recs)
        return sum(r.get("latency_s", 0.0) for r in recs)

    result["cold_pass_s"] = run_pass(0)
    for pass_no in range(1, WARMUP_PASSES + 1):
        run_pass(pass_no)
    result["warmup_passes"] = WARMUP_PASSES
    measured, n_warm = 0.0, 0
    while measured < a.seconds or n_warm < MIN_WARM_PASSES:
        n_warm += 1
        measured += run_pass(WARMUP_PASSES + n_warm)
    result["warm_passes"] = n_warm
    result["jvm_hwm_kb"] = _vm_hwm_kb(sc._gateway.proc.pid)
    result["py_hwm_kb"] = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    spark.stop()
    result["records"] = records

    if a.trace:
        import glob

        logs = glob.glob(os.path.join(event_dir, app_id + "*"))
        groups = spans.group_metrics(logs[0]) if logs else {}
        for rec in records:
            rec["exec"] = groups.get(rec["op_id"], {})
        result["self_times"] = [
            {"name": s["name"], "op": s["op"], "self_s": st}
            for s, st in tracer.self_times()
        ]
        result["spans"] = tracer.spans

    with open(a.out, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    raise SystemExit(main(sys.argv[1:]))
