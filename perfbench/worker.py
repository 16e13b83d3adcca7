"""One fresh process = one SparkSession, one generic warm-up job, one timed
pass.

Run by ``run.py``; not meant to be started by hand. Arguments are a JSON
object on argv[1]; the result is written as JSON to ``<out>/result.json``.

The timed pass is bracketed by readings of the process tree (CPU, resident
high-water mark) and of the host (steal, CPU pressure). Job and shuffle
counts come from Spark's in-memory status store, which is populated with
the UI off; it is a private API, so ``run.py`` pins the Spark version.
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _session(cfg: dict):
    from skripsi_mapreduce_spark.session import get_spark

    # scratch files stay inside the checkout: Spark's local dirs, the JVM's
    # temp dir (native-library extraction) and no hsperfdata file
    tmp = os.environ["TMPDIR"]
    return get_spark(
        app_name=f"perfbench-{cfg['workload']}",
        master=f"local[{cfg['cpus']}]",
        shuffle_partitions=cfg["cpus"],
        extra_conf={
            "spark.driver.memory": cfg["heap"],
            "spark.driver.extraJavaOptions": f"{cfg['jvm']} -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            "spark.local.dir": tmp,
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        },
    )


def _opt_ms(opt) -> int | None:
    return opt.get().getTime() if opt.isDefined() else None


def read_jobs(sc) -> list[dict]:
    """Every job of the session, each with its stages' metrics."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    seq = store.jobsList(None)
    jobs, seen = [], set()
    for i in range(seq.size()):
        j = seq.apply(i)
        grp = j.jobGroup()
        stages = []
        ids = j.stageIds()
        for k in range(ids.size()):
            sid = ids.apply(k)
            if sid in seen:
                continue
            seen.add(sid)
            s = store.lastStageAttempt(sid)
            if str(s.status()) == "SKIPPED":
                continue
            stages.append({
                "tasks": s.numTasks(),
                "failed_tasks": s.numFailedTasks(),
                "run_ms": s.executorRunTime(),
                "cpu_ns": s.executorCpuTime(),
                "gc_ms": s.jvmGcTime(),
                "shuffle_write": s.shuffleWriteBytes(),
                "shuffle_read": s.shuffleReadBytes(),
                "input": s.inputBytes(),
            })
        jobs.append({
            "id": j.jobId(),
            "group": grp.get() if grp.isDefined() else None,
            "start_ms": _opt_ms(j.submissionTime()),
            "end_ms": _opt_ms(j.completionTime()),
            "status": str(j.status()),
            "stages": stages,
        })
    return jobs


def main(cfg: dict) -> None:
    sys.path.insert(0, ROOT)
    import procstat
    from passes import PASSES, PASS_GROUP, Tracer

    run = PASSES[cfg["workload"]]
    pid = os.getpid()
    spark = _session(cfg)
    sc = spark.sparkContext
    t_ready = time.time()
    if spark.version != cfg["spark"]:
        raise SystemExit(
            f"Spark {spark.version} found, benchmark pinned to {cfg['spark']} "
            "(the status-store readout uses private APIs)"
        )
    # Generic warm-up only: the first job of a fresh JVM pays for task
    # launch and shuffle setup whatever the workload is. Workload-specific
    # compilation stays in the pass, because every CLI invocation of the
    # thesis pipeline pays it too.
    sc.setJobGroup("session", "session")
    spark.range(0, 20000, numPartitions=cfg["cpus"]).selectExpr("id % 7 AS k").groupBy(
        "k").count().collect()
    t_warm = time.time()

    sc.setJobGroup(PASS_GROUP, "")
    tracer = Tracer(sc, cfg["trace"])
    load = procstat.loadavg()
    host0, psi0, cpu0 = procstat.cpu_times(), procstat.psi_cpu_some_us(), procstat.tree_cpu_s(pid)
    t0 = time.perf_counter()
    info = run(spark, tracer, cfg["main_in"], os.path.join(cfg["out"], "main"))
    run_s = time.perf_counter() - t0
    cpu_s = procstat.tree_cpu_s(pid) - cpu0
    host1, psi1 = procstat.cpu_times(), procstat.psi_cpu_some_us()
    hwm = procstat.tree_hwm_mb(pid)

    # warm-up jobs ran under the "session" group, pass jobs under the pass
    # group or a span's group
    jobs = read_jobs(sc)
    total = max(host1["total"] - host0["total"], 1)
    # the launcher waits for these after this process exits
    with open(os.path.join(cfg["out"], "pids.json"), "w") as f:
        json.dump([p for p in procstat.tree(pid) if p != pid], f)
    result = {
        "run_s": run_s,
        "cpu_s": cpu_s,
        "peak_rss_mb": sum(hwm.values()),
        "start_s": t_ready - cfg["spawned"],
        "warm_s": t_warm - t_ready,
        "jobs": [j for j in jobs if j["group"] != "session"],
        "session_jobs": [j for j in jobs if j["group"] == "session"],
        "spans": tracer.spans,
        "info": info,
        "env": {
            "loadavg_start": load,
            "steal_share": (host1["steal"] - host0["steal"]) / total,
            "host_busy_share": (host1["busy"] - host0["busy"]) / total,
            "psi_cpu_some_s": None if psi0 is None or psi1 is None else (psi1 - psi0) / 1e6,
            "hwm_mb": hwm,
            "nproc": os.cpu_count(),
            "spark": spark.version,
            "java": sc._jvm.System.getProperty("java.version"),
        },
    }
    with open(os.path.join(cfg["out"], "result.json"), "w") as f:
        json.dump(result, f)
    # Stop the JVM and wait for it: the gateway server exits when its stdin
    # closes, and takes the Python daemon and workers down with it.
    gateway = sc._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


if __name__ == "__main__":
    main(json.loads(sys.argv[1]))
