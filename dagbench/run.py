"""Benchmark entry point.

    python3 dagbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout.  One process, one Spark session on
``local[nproc]``, one client in a closed loop: set-up (session start,
seeded inputs, warm-up and prebuilt state), then ops back to back
until ``--seconds`` have passed and the workload's ``min_ops`` have
run, each followed by an untimed output check.  Everything the run
writes stays under ``.dagbench_work/`` in the checkout.

The last stdout line is the result: ``{"correct", "attempted",
"failed", "metrics"}``; the line before it (``# info ...``) carries the
context -- host load and nproc, the tail percentile and sample count,
Spark jobs per op, errors.  ``--trace 0`` reports the end-to-end
metrics; ``--trace 1`` alternates traced and untraced ops, reports
every per-layer metric plus the tracing overhead, and writes the span
file to ``.dagbench_work/spans-<workload>-<seed>.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("backfill", "lakehouse_write")


def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def isolate(work: str) -> dict:
    """Keep every file the run (and the JVM it starts) writes inside
    ``work``; returns the Spark conf that does so."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
                  if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    return {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }


def jobs_started(sc) -> int:
    """Jobs this SparkContext has started so far (runs no job)."""
    return int(sc._jsc.sc().dagScheduler().numTotalJobs())


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - last resort, never leave it
            proc.kill()
            proc.wait(timeout=30)


def main(argv=None) -> int:
    args = parse(argv)
    sys.path[:0] = [ROOT, HERE]
    # fails (non-zero, no result) when the package is not beside us
    import workloads  # noqa: F401

    base = os.path.join(ROOT, ".dagbench_work")
    work = os.path.join(base, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        return measure(args, base, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def measure(args, base: str, work: str) -> int:
    import diskstat
    import metrics as M
    import spans as T
    import workloads as WL
    from esg_decarbonization_data_integration_and_data_pipline_spark.session import (
        get_spark,
    )

    conf = isolate(work)
    nproc = len(os.sched_getaffinity(0))
    load_start = os.getloadavg()
    rss = M.RssSampler()
    rss.start()
    traced = bool(args.trace)
    event_dir = os.path.join(work, "eventlog")
    if traced:
        os.makedirs(event_dir, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.dir": event_dir})

    t0 = time.perf_counter()
    spark = get_spark(f"dagbench-{args.workload}", master=f"local[{nproc}]",
                      conf=conf)
    start_s = time.perf_counter() - t0
    try:
        sc = spark.sparkContext
        sc.setLogLevel("ERROR")
        tracer = T.Tracer(sc if traced else None)
        wl = WL.WORKLOADS[args.workload]()
        ctx = WL.Ctx(spark, work, args.seed, nproc, tracer, traced)
        t1 = time.perf_counter()
        setup_info = wl.setup(ctx)
        warm_s = time.perf_counter() - t1
        setup_s = time.perf_counter() - t0

        ops = []
        t_meas = time.perf_counter()
        cycle = wl.cycle
        i = 0
        while True:
            # a traced run alternates whole op cycles traced / untraced
            arm = traced and (i // cycle) % 2 == 0
            tracer.enabled = arm or not traced
            tracer.op = i
            j0 = jobs_started(sc)
            o0 = time.perf_counter()
            try:
                if arm:
                    with tracer.span(f"op.{args.workload}", "op"):
                        res = wl.op(ctx, i)
                else:
                    res = wl.op(ctx, i)
            except Exception:  # noqa: BLE001 - a failed op is counted
                res = WL.OpResult(False, traceback.format_exc(limit=8))
            wall = time.perf_counter() - o0
            jobs = jobs_started(sc) - j0
            tracer.op = None
            try:
                res = wl.after_op(ctx, i, res)
            except Exception:  # noqa: BLE001 - a failed check is counted
                res.ok, res.error = False, traceback.format_exc(limit=8)
            ops.append({"wall": wall, "ok": res.ok, "error": res.error,
                        "commit_s": res.commit_s, "read_s": res.read_s,
                        "kind": res.kind, "jobs": jobs, "traced": arm})
            i += 1
            arms = {o["traced"] for o in ops}
            if (time.perf_counter() - t_meas >= args.seconds
                    and i % cycle == 0 and i >= wl.min_ops
                    and (not traced or len(arms) == 2)):
                break
        tracer.enabled = True
        tracer.restore()
        fin = wl.finish(ctx)
        vroot = fin.get("versioned_root")
        meta_n, meta_b = (diskstat.versioned_metadata(vroot) if vroot
                          else (0, 0))
        peak_mb = rss.stop()
    finally:
        stop_spark(spark)

    attempted = len(ops)
    failed = sum(1 for o in ops if not o["ok"])
    if not fin["ok"]:
        failed = attempted
    # (op kind, value): latencies are medians per kind of the op mix
    walls = [(o["kind"], o["wall"]) for o in ops if o["traced"] == traced]
    tail_v, tail_pct, tail_n = M.tail(walls)
    commits = [(o["kind"], c) for o in ops for c in o["commit_s"]]
    reads = [(o["kind"], r) for o in ops for r in o["read_s"]]
    info = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "nproc": nproc, "loadavg_start": load_start,
        "loadavg_end": os.getloadavg(), "ops": attempted,
        "op_walls_s": [round(o["wall"], 4) for o in ops],
        "op_kinds": [o["kind"] for o in ops],
        "op_tail": {"percentile": tail_pct, "samples": tail_n},
        "failed_ratio": failed / attempted,
        "spark_jobs_per_op": [o["jobs"] for o in ops],
        "commit_samples": len(commits), "read_samples": len(reads),
        "setup": {"start_s": start_s, "warm_s": warm_s, **setup_info},
        **fin.get("info", {}),
        "errors": [o["error"] for o in ops if o["error"]][:3],
    }
    if traced:
        log = T.read_event_log(event_dir)
        traced_ids = [k for k, o in enumerate(ops) if o["traced"]]
        plain = [(o["kind"], o["wall"]) for o in ops if not o["traced"]]
        overhead = M.mix_median(walls) - M.mix_median(plain)
        layer = M.per_layer(
            tracer, log, traced_ids, getattr(wl, "deps", {}),
            {"metadata_files": meta_n, "sidecar_bytes": meta_b},
            {"start_s": start_s, "warm_s": warm_s}, overhead)
        units = M.LAYER_UNITS
        out_metrics = {k: {"value": v, "unit": units[k]}
                       for k, v in layer.items()}
        # the same op of the next (untraced) cycle must run as many jobs
        pairs = [(o["jobs"], ops[k + cycle]["jobs"])
                 for k, o in enumerate(ops)
                 if o["traced"] and k + cycle < len(ops)]
        info["spark_jobs_traced_vs_untraced"] = pairs
        info["tracing_adds_no_job"] = all(a == b for a, b in pairs)
        info["unattributed_jobs"] = T.unattributed_jobs(tracer.spans, log)
        info["layers_not_reached"] = sorted(
            {k.split(".")[0] for k in layer}
            - {k.split(".")[0] for k, v in layer.items() if v})
        span_file = os.path.join(
            base, f"spans-{args.workload}-{args.seed}.jsonl")
        tracer.dump(span_file)
        info["span_file"] = os.path.relpath(span_file, ROOT)
    else:
        out_metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "op_p50_s": {"value": M.mix_median(walls), "unit": "s"},
            "op_tail_s": {"value": tail_v, "unit": "s"},
            "commit_p50_s": {"value": M.mix_median(commits), "unit": "s"},
            "read_p50_s": {"value": M.mix_median(reads), "unit": "s"},
            "ok_ratio": {"value": 1.0 - failed / attempted, "unit": "ratio"},
            "write_amp": {"value": fin["write_amp"], "unit": "ratio"},
            "space_amp": {"value": fin["space_amp"], "unit": "ratio"},
            "peak_rss_mb": {"value": peak_mb, "unit": "MB"},
        }
    print("# info " + json.dumps(info, default=str))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": out_metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
