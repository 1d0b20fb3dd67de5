"""Benchmark of the dupers_spark dedup engine, driven through its public API.

    python3 perfbench/run.py --workload build_normal --seed 1 --seconds 30 \
        --trace 0

Run from the root of a checkout. Workloads (see workloads.py): build_normal,
append_serve. One client, closed loop, Spark at local[<cores>]. The last
stdout line is one JSON object {correct, attempted, failed, metrics}: the
end-to-end metrics with ``--trace 0``, the per-layer ledger with
``--trace 1``. The line before it (``perfbench-report ...``) holds every
sample with its host load, the tail percentiles with sample counts, the
Spark job counts per call and the error rate. A wrong or failed call makes
the command exit 1; a checkout without the program exits 2.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = ".perfbench_work"
WORKLOADS = ("build_normal", "append_serve")
END_TO_END = (("setup_s", "s"), ("images_per_s", "images/s"),
              ("search_p50_s", "s"), ("lookup_p50_s", "s"),
              ("maintain_s", "s"), ("bytes_per_input_byte", "ratio"),
              ("peak_rss_mb", "MB"))
DRIVER_MEM = "1g"


def parse(argv) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def session(workdir: str, trace: bool):
    """The program's own build_session at local[<cores>], with scratch
    space, temp files and (traced runs only) the event log inside the
    work directory."""
    from dupers_spark.session import build_session

    local = os.path.abspath(os.path.join(workdir, "spark-local"))
    tmp = os.path.abspath(os.path.join(workdir, "tmp"))
    for d in (local, tmp):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = local
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
                  if p])
    # -Xms at the heap cap: the heap is then fully resident after a few
    # young collections, so peak RSS varies with the program's native and
    # thread memory instead of with when G1 chose to grow the heap
    conf = {"spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions":
                f"-Xms{DRIVER_MEM} -Djava.io.tmpdir={tmp} -XX:-UsePerfData"}
    if trace:
        evdir = os.path.abspath(os.path.join(workdir, "eventlog"))
        os.makedirs(evdir, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + evdir,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    cores = len(os.sched_getaffinity(0))
    t0 = time.perf_counter()
    spark = build_session("perfbench", cores=cores, extra_conf=conf)
    return spark, time.perf_counter() - t0, cores


def stop(spark) -> None:
    """Stop the session and the JVM it launched, and wait for it."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        proc.wait(timeout=60)


def e2e_metrics(run, out: dict, session_s: float, peak: float) -> dict:
    s = run.samples

    def med(key):
        return statistics.median(s[key])

    vals = {"setup_s": session_s + run.info["setup_median_s"],
            "images_per_s": med("images_per_s"),
            "search_p50_s": med("search"), "lookup_p50_s": med("lookup"),
            "maintain_s": med("maintain"),
            "bytes_per_input_byte": out["bytes_per_input_byte"],
            "peak_rss_mb": peak}
    return {k: {"value": vals[k], "unit": u} for k, u in END_TO_END}


def report(run, wl: str, args, cores: int, session_s: float) -> dict:
    from ledger import summary

    return {"workload": wl, "seed": args.seed, "trace": args.trace,
            "cores": cores, "session_s": round(session_s, 3),
            "error_rate": run.failed / max(1, run.attempted),
            "summary": {k: summary(v) for k, v in run.samples.items()},
            "samples": run.load,
            "jobs_per_call": {k: [x["jobs"] for x in v]
                              for k, v in run.load.items()},
            "info": run.info,
            "errors": [e[-2000:] for e in run.errors]}


def main(argv=None) -> int:
    args = parse(argv)
    if not os.path.isdir(os.path.join(ROOT, "dupers_spark")):
        print("perfbench: no dupers_spark/ package beside perfbench/; run "
              "from the root of a full checkout", file=sys.stderr)
        return 2
    os.chdir(ROOT)
    sys.path[:0] = [ROOT, HERE]
    import layers
    import ledger
    import workloads as W

    wl, trace = args.workload, bool(args.trace)
    workdir = os.path.join(WORK, f"run-{wl}-{args.seed}-{os.getpid()}")
    reports = os.path.join(WORK, "reports")
    os.makedirs(reports, exist_ok=True)
    baseline = os.path.join(WORK, "untraced", f"{wl}.json")
    t_session = time.perf_counter()
    spark, session_s, cores = session(workdir, trace)
    run = W.Run(spark, ledger.Tracer(spark, f"{wl}-{args.seed}"), workdir,
                args.seed, args.seconds, trace)
    out, vals, peak = None, {}, 0.0
    try:
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        out = (W.build_normal(run) if wl == "build_normal"
               else W.append_serve(run, ROOT))
        run.info["timed_p50"] = layers.timed_p50(run)
        peak = ledger.vm_hwm_mb(jvm_pid)
        if trace:
            vals = layers.layer_pass(run, wl, out)
    except Exception:  # noqa: BLE001 — any crash is a failed run
        import traceback

        run.attempted += 1
        run.failed += 1
        run.errors.append(traceback.format_exc())
        print(run.errors[-1], file=sys.stderr)
    finally:
        t_stop = time.perf_counter()
        stop(spark)
        run.info["phase_s"] = {
            "imports": round(t_session - T_START, 2),
            "session": round(session_s, 2),
            "workload": round(t_stop - t_session - session_s, 2),
            "stop": round(time.perf_counter() - t_stop, 2)}

    metrics = {}
    try:
        if run.failed == 0 and trace:
            untraced = None
            if os.path.exists(baseline):
                with open(baseline) as fh:
                    untraced = json.load(fh)["timed_p50"]
            jobs = ledger.fold_event_log(ledger.find_event_log(
                os.path.join(workdir, "eventlog")))
            vals = layers.assemble(run, out, vals, jobs, session_s, untraced)
            metrics = {n: {"value": vals[n], "unit": u}
                       for n, u, _ in layers.names()}
        elif run.failed == 0:
            metrics = e2e_metrics(run, out, session_s, peak)
            os.makedirs(os.path.dirname(baseline), exist_ok=True)
            with open(baseline, "w") as fh:
                json.dump({"seed": args.seed,
                           "timed_p50": run.info["timed_p50"]}, fh)
    finally:
        tag = f"{wl}-{args.seed}-trace{args.trace}"
        run.tracer.dump(os.path.join(reports, f"spans-{tag}.jsonl"))
        shutil.rmtree(workdir, ignore_errors=True)
        shutil.rmtree(os.path.join(WORK, "append", "warehouse"),
                      ignore_errors=True)
    rep = report(run, wl, args, cores, session_s)
    with open(os.path.join(reports, f"report-{tag}.json"), "w") as fh:
        json.dump(rep, fh, indent=1, default=str)
    correct = run.failed == 0
    print("perfbench-report " + json.dumps(rep, default=str))
    print(json.dumps({"correct": correct, "attempted": max(1, run.attempted),
                      "failed": run.failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
