"""Oracle-checked benchmark of the KG engine's run modes.

    python3 perfbench/run.py --workload construct_x5 --seed 1 --seconds 6 --trace 0

Runs one workload on `local[nproc]` from this one Python process, in a
closed loop (one client; each job starts when the previous one ended) for
`--seconds`, checks every job's output against a pandas oracle, and prints
every metric by name with its unit. The last stdout line is one JSON object
{"correct", "attempted", "failed", "metrics"}: with `--trace 0` the
end-to-end metrics of BENCHMARK.json, with `--trace 1` the per-layer ones
(spans are written to perfbench/.work/spans/). Wall time, throughput, CPU
time and the failed share print on `metric` lines marked "not gated".

Set-up (`setup_s`) = session start + the median of three input
generate-and-write passes (dictionary included) + the untimed warm-up jobs.
Everything the run writes stays under perfbench/.work/.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
PACKAGE = "knowledge_graph_integration_rag_biomedical_qna_spark"
JOB_TIMEOUT_S = 100  # a job still running then is cancelled and counted failed
SETUP_REPS = 3

# gated: figures that repeat from run to run on a shared host
END_TO_END = {"setup_s": "s", "peak_rss_mb": "MB", "spark_jobs": "count", "spark_tasks": "count"}
# printed by name, not gated: wall and CPU time follow the co-tenants' load
# (per-run medians move 25-45% with the host's CPU steal)
UNGATED = {"job_s": "s", "items_per_s": "1/s", "cpu_s": "s", "failed_frac": "ratio"}
PER_LAYER = {
    "session.start_s": "s", "sources.scan_s": "s", "sources.input_rows": "count",
    "turn_assembly.self_s": "s", "turn_assembly.rows_out": "count",
    "turn_assembly.jobs": "count", "turn_assembly.tasks": "count",
    "extraction.self_s": "s", "extraction.transfer_s": "s",
    "extraction.kernel_us_per_turn": "us", "extraction.rows_out": "count",
    "pipeline.plan_build_s": "s", "pipeline.plan_py4j_calls": "count",
    "pipeline.dict_ship_s": "s", "pipeline.jobs": "count",
    "linking.self_s": "s", "linking.surfaces_scored": "count", "linking.accept_ratio": "ratio",
    "linking.resolve_s": "s", "linking.edges_dropped": "count",
    "canonicalize.nodes_s": "s", "canonicalize.edge_stats_s": "s",
    "canonicalize.edge_groups": "count",
    "checkpoint.job_s": "s", "checkpoint.unattributed_frac": "ratio",
    "checkpoint.self_s": "s", "checkpoint.group_s": "s", "checkpoint.groups": "count",
    "checkpoint.finalize_s": "s", "checkpoint.bytes_written": "bytes",
    "checkpoint.jobs_per_group": "count", "checkpoint.n_convs_mismatch": "count",
    "streaming.job_s": "s", "streaming.batch_s": "s", "streaming.add_batch_s": "s",
    "streaming.batches": "count", "streaming.rows_per_batch": "count",
    "query.link_s": "s", "query.retrieve_s": "s", "query.jobs_per_ask": "count",
    "query.plan_py4j_calls": "count",
    "trace.job_s": "s", "trace.overhead_frac": "ratio", "trace.unattributed_frac": "ratio",
}


def pin_environment(work: str) -> int:
    """Width, worker imports and scratch locations, fixed here rather than
    inherited: local[nproc] with nproc shuffle partitions, the package on the
    Python workers' path, and every temp/spill/warehouse dir under `work`."""
    cpus = len(os.sched_getaffinity(0))
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ.update({
        "PYTHONPATH": ROOT + (os.pathsep + path if path else ""),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEM": "2g",
    })
    import tempfile

    tempfile.tempdir = None
    return cpus


def tail_percentile(xs: list) -> dict:
    """The highest percentile with at least ten samples beyond it."""
    for p in (99.9, 99, 95, 90, 75, 50):
        if len(xs) * (1 - p / 100) >= 10:
            return {"percentile": p, "value_s": statistics.quantiles(xs, n=1000)[int(p * 10) - 1],
                    "samples": len(xs)}
    return {"percentile": None, "value_s": None, "samples": len(xs)}


def run(workload: str, seed: int, seconds: float, trace: bool, scale: float = 1.0,
        tamper=None, work: str = WORK) -> dict:
    """One benchmark run; returns {"result": <last line>, "report": {...}}.
    `scale` shrinks the inputs and `tamper` alters each job's output before
    its check (both for the self-test)."""
    cpus = pin_environment(work)
    from knowledge_graph_integration_rag_biomedical_qna_spark.session import get_spark

    from perfbench.ledger import ProcTree, Tracer, adopt_orphans, host_stamp
    from perfbench.workloads import WORKLOADS

    stamp = host_stamp()
    adopt_orphans()
    with ProcTree() as tree:
        t0 = time.perf_counter()
        spark = get_spark(
            app_name=f"perfbench-{workload}", master=f"local[{cpus}]", shuffle_partitions=cpus,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": os.path.join(work, "spark-local"),
                "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
                # the heap is fixed at 2 GB and touched up front, so the
                # resident memory of the heap does not depend on when the
                # collector last ran
                "spark.driver.extraJavaOptions":
                    f"-Xms2g -XX:+AlwaysPreTouch -Djava.io.tmpdir={work}/tmp "
                    f"-Dderby.system.home={work}/derby",
            })
        session_s = time.perf_counter() - t0
        out = _run(spark, tree, WORKLOADS[workload](seed, work, scale), seconds, trace,
                   tamper, stamp, session_s, Tracer(spark.sparkContext), work)
        # not on an error path: SIGTERM inside a py4j call leaves its reply
        # unread, so the JVM is not called again, only told to exit
        spark.stop()
        return out


def _run(spark, tree, wl, seconds, trace, tamper, stamp, session_s, tr, work) -> dict:
    import pyarrow
    import pyspark

    from perfbench.ledger import host_ticks

    sc = spark.sparkContext
    input_s = []
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        wl.make_inputs()
        input_s.append(time.perf_counter() - t0)
    out_root = os.path.join(work, "out")
    shutil.rmtree(out_root, ignore_errors=True)
    warm_s = []
    for i in range(wl.warmups):
        t0 = time.perf_counter()
        wl.warm(spark, tr, os.path.join(out_root, f"warmup-{i}"))
        warm_s.append(time.perf_counter() - t0)
    setup_s = session_s + statistics.median(input_s) + sum(warm_s)
    wl.expect()

    jobs = []
    ticks0 = host_ticks()
    t_end = time.perf_counter() + seconds
    # traced runs interleave untraced and traced jobs ABBA, so the tracing
    # overhead is not confounded with the session still warming up
    while time.perf_counter() < t_end or len(jobs) < (4 if trace else 1):
        i = len(jobs)
        job = {"id": i, "out": os.path.join(out_root, f"job-{i}"),
               "traced": trace and i % 4 in (1, 2)}
        tr.enabled, tr.job = job["traced"], i
        if job["traced"]:
            wl.wrap(tr)
        watchdog = threading.Timer(JOB_TIMEOUT_S, sc.cancelAllJobs)
        watchdog.start()
        group = {"group": f"perfbench-{os.getpid()}-job-{i}"}
        if not job["traced"]:  # traced jobs get a group per span
            sc.setJobGroup(group["group"], wl.name)
        cpu0, t0 = tree.cpu_s(), time.perf_counter()
        try:
            job["result"] = wl.job(spark, tr, job["out"])
            job["ok"] = True
        except Exception:
            traceback.print_exc()
            job["ok"] = False
        job["wall"] = time.perf_counter() - t0
        job["cpu"] = tree.cpu_s() - cpu0
        watchdog.cancel()
        if not job["traced"]:
            sc.setLocalProperty("spark.jobGroup.id", None)
            job["spark_jobs"], job["spark_tasks"] = tr.jobs_tasks(group)
        tr.unwrap_all()
        tr.enabled, tr.job = False, None
        jobs.append(job)
    ticks1 = host_ticks()
    stamp["steal_frac"] = (ticks1[0] - ticks0[0]) / max(ticks1[1] - ticks0[1], 1)

    mismatch = {}
    for job in jobs:
        if job["ok"]:
            diff = wl.check(job["out"], job.get("result"), tamper)
            for k, v in diff.items():
                mismatch[k] = mismatch.get(k, 0) + v
            job["ok"] = not any(v for k, v in diff.items() if k != "n_convs")
    failed_setup, attempted_setup = wl.extra_failed, wl.extra_attempted
    failed = sum(not j["ok"] for j in jobs) + wl.extra_failed
    attempted = len(jobs) + wl.extra_attempted
    plain = [j for j in jobs if not j["traced"]]
    job_s = statistics.median(j["wall"] for j in plain)

    report = {
        "workload": wl.name, "seed": wl.seed, "loop": "closed, 1 client",
        "cpus": len(os.sched_getaffinity(0)), "host": stamp,
        "versions": {"pyspark": pyspark.__version__, "pyarrow": pyarrow.__version__,
                     "java": spark._jvm.java.lang.System.getProperty("java.version"),
                     "python": sys.version.split()[0]},
        "setup": {"session_s": session_s, "inputs_s": input_s, "warmup_s": warm_s},
        "jobs_s": [j["wall"] for j in plain], "jobs_cpu_s": [j["cpu"] for j in plain],
        "job_s_tail": tail_percentile([j["wall"] for j in plain]),
        "items": wl.items, "item": wl.item, "mismatch": mismatch,
        "ungated": {"job_s": job_s, "items_per_s": wl.items / job_s,
                    "cpu_s": statistics.median(j["cpu"] for j in plain)},
    }
    if not trace:
        metrics = {
            "setup_s": setup_s,
            "peak_rss_mb": tree.peak_rss_mb,
            "spark_jobs": statistics.median(j["spark_jobs"] for j in plain),
            "spark_tasks": statistics.median(j["spark_tasks"] for j in plain),
        }
        units = END_TO_END
    else:
        traced = [j for j in jobs if j["traced"] and j["ok"]]
        tr.enabled = True
        layer = wl.ledger(spark, tr, traced) if traced else {"trace.job_s": 0.0, "_attributed_s": 0.0}
        tr.enabled = False
        failed += wl.extra_failed - failed_setup
        attempted += wl.extra_attempted - attempted_setup
        attributed = layer.pop("_attributed_s")
        metrics = {k: layer.get(k, 0.0) for k in PER_LAYER}
        metrics["session.start_s"] = session_s
        metrics["sources.input_rows"] = wl.items
        metrics["trace.overhead_frac"] = layer["trace.job_s"] / job_s - 1
        metrics["trace.unattributed_frac"] = 1 - attributed / job_s
        units = PER_LAYER
        spans_dir = os.path.join(work, "spans")
        os.makedirs(spans_dir, exist_ok=True)
        with open(os.path.join(spans_dir, f"{wl.name}-{wl.seed}.jsonl"), "w") as fh:
            for s in tr.spans:
                s["jobs"], s["tasks"] = tr.jobs_tasks(s)
                fh.write(json.dumps(s) + "\n")
    tr.close()
    report["ungated"]["failed_frac"] = failed / attempted
    shutil.rmtree(out_root, ignore_errors=True)
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }
    return {"result": result, "report": report}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops the processes it started (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    # the engine under test is the checkout's own package, never an installed one
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE} package in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    try:
        import pyspark  # noqa: F401

        from perfbench.ledger import stop_descendants
        from perfbench.workloads import WORKLOADS
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    try:
        out = run(args.workload, args.seed, args.seconds, bool(args.trace))
    finally:
        # the JVM and its Python workers end before this process does
        stop_descendants()
    res, rep = out["result"], out["report"]
    print("report " + json.dumps(rep, default=str))
    for k, m in res["metrics"].items():
        print(f"metric {k} = {m['value']:.6g} {m['unit']}")
    for k, v in rep["ungated"].items():
        print(f"metric {k} = {v:.6g} {UNGATED[k]} (not gated)")
    print(json.dumps(res))
    return 0 if math.isfinite(sum(m["value"] for m in res["metrics"].values())) else 1


if __name__ == "__main__":
    sys.exit(main())
