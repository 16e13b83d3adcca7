"""Benchmark for the thesis pipeline (ETL -> TF-IDF -> K-Means) and the
near-dedup layer.

    python3 perfbench/run.py <the pinned flags in BENCHMARK.json "command"> \
        --workload paper_pipeline --seed 1 --seconds 5 --trace 0

Run from the repository root. Inputs are generated from ``--seed`` (and
cached per seed under ``.perfbench/``) before anything is timed, together
with the expected outputs. Each timed pass runs in a fresh worker process
(``worker.py``) that starts a SparkSession with the pinned JVM settings,
runs one generic warm-up job, runs the pass once, and exits; passes repeat
until ``--seconds`` of undisturbed passes have run (see ``STEAL_LIMIT``).
Every pass's outputs are checked; a wrong output is a failed operation.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (medians over passes). ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` alternates traced and untraced passes and
reports per-layer metrics from the traced ones, plus the tracing overhead.
The line before it is the environment record; the full trace (spans joined
with per-job and per-stage numbers) goes to ``.perfbench/trace-*.json``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import expect  # noqa: E402
import gen  # noqa: E402
import procstat  # noqa: E402
from passes import KMEANS_K, KMEANS_M, KMEANS_SEED, NUM_HASHES, ROWS_PER_BAND, THRESHOLD  # noqa: E402

WORK = ".perfbench"
MAX_PASSES = 2
RUN_LIMIT_S = 170  # a run must end within 180 s
# A pass during which the hypervisor stole more than this share of the
# host's CPU time is disturbed: on the 4-vCPU VM the benchmark was tuned on,
# passes with steal above 5% ran 15-80% slower. A disturbed pass is still
# checked, but one more pass replaces it while the run has time, and the
# metrics come from undisturbed passes when there are any.
STEAL_LIMIT = 0.05
NO_NEW_PASS_AFTER_S = 80

SIZES = {
    "paper_pipeline": {"reviews": 2000},
    "near_dedup": {"docs": 2500},
    "dedup_ingest": {"docs": 2000, "batches": 2, "batch": 150},
}

LAYERS = ("session", "io", "etl", "tfidf", "kmeans", "dedup", "components")
LAYER_FIELDS = {
    "wall_s": "s", "driver_s": "s", "jobs": "count", "tasks": "count",
    "failed_tasks": "count", "executor_run_s": "s", "executor_cpu_s": "s",
    "gc_s": "s", "shuffle_write_mb": "MB", "shuffle_read_mb": "MB", "input_mb": "MB",
}
EXTRA_LAYER_METRICS = {
    "session.start_s": "s", "session.warm_s": "s",
    "kmeans.iterations": "count", "kmeans.s_per_iteration": "s",
    "dedup.candidate_pairs": "count", "dedup.verified_pairs": "count",
    "dedup.verify_yield": "ratio", "io.output_mb": "MB",
    "trace.overhead_s": "s",
}
E2E_UNITS = {"run_s": "s", "cpu_s": "s", "peak_rss_mb": "MB", "setup_s": "s",
             "jobs": "count", "shuffle_mb": "MB"}


# --------------------------------------------------------------------------
# Inputs and expected outputs
# --------------------------------------------------------------------------
def _write_docs(path: str, docs: list[tuple[int, str]]) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path)
    pq.write_table(
        pa.table({"doc_id": pa.array([d for d, _ in docs], pa.int64()),
                  "text": pa.array([t for _, t in docs], pa.string())}),
        os.path.join(path, "part-0.parquet"),
    )


def _write_lines(path: str, lines: list[str]) -> None:
    with open(path, "w", encoding="utf-8") as f:
        f.write("\n".join(lines) + "\n")


def write_inputs(workload: str, seed: int, size: dict, dict_size: int, d: str) -> dict:
    """Write one input set into ``d``; return the expected outputs."""
    os.makedirs(d)
    if workload == "paper_pipeline":
        r = gen.reviews(seed, size["reviews"], dict_size)
        _write_lines(os.path.join(d, "reviews.json"), r["lines"])
        _write_lines(os.path.join(d, "adj.txt"), r["dictionary"])
        _write_lines(os.path.join(d, "stopwords.txt"), r["stopwords"])
        return expect.paper_expected(r["lines"], r["dictionary"], r["stopwords"],
                                     KMEANS_K, KMEANS_M, KMEANS_SEED)
    g = gen.DocGen(seed)
    docs = g.corpus(size["docs"])
    if workload == "near_dedup":
        _write_docs(os.path.join(d, "documents"), docs)
        exp = expect.near_dedup_expected(docs, THRESHOLD, NUM_HASHES, ROWS_PER_BAND)
    else:
        _write_docs(os.path.join(d, "corpus"), docs)
        batches, pool = [], list(docs)
        for i in range(size["batches"]):
            b = g.batch(size["batch"], pool)
            _write_docs(os.path.join(d, f"batch_{i:02d}"), b)
            batches.append(b)
            pool += b
        exp = expect.ingest_expected(docs, batches, THRESHOLD, NUM_HASHES, ROWS_PER_BAND)
    exp["cluster_of"] = {str(k): v for k, v in g.cluster.items()}
    return exp


def prepare(workload: str, seed: int, dict_size: int) -> str:
    """Generate (or reuse) the inputs and expected outputs for one seed."""
    key = json.dumps([workload, seed, dict_size, SIZES[workload]], sort_keys=True)
    d = os.path.join(WORK, "inputs", f"{workload}-{seed}-{hashlib.md5(key.encode()).hexdigest()[:10]}")
    if os.path.exists(os.path.join(d, "expected.json")):
        return d
    tmp = d + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    exp = write_inputs(workload, seed, SIZES[workload], dict_size, os.path.join(tmp, "main"))
    with open(os.path.join(tmp, "expected.json"), "w") as f:
        json.dump(exp, f)
    shutil.rmtree(d, ignore_errors=True)
    os.replace(tmp, d)
    return d


# --------------------------------------------------------------------------
# Checks
# --------------------------------------------------------------------------
def _rows(path: str) -> list[dict]:
    import pyarrow.parquet as pq

    return pq.read_table(path).to_pylist()


def check(workload: str, exp: dict, res: dict, inp: str, out: str) -> tuple[int, list[str]]:
    info = res["info"]
    if workload == "paper_pipeline":
        return expect.check_paper(
            exp, info, _rows(os.path.join(out, "review_book")),
            _rows(os.path.join(out, "features")), _rows(os.path.join(out, "clusters")),
        )
    cluster_of = {int(k): v for k, v in exp["cluster_of"].items()}
    if workload == "near_dedup":
        keep = _rows(os.path.join(out, "keep"))
        n, bad = expect.check_near_dedup(exp, keep)
        bad += expect.check_planted([[r["doc_id"], r["keep_id"]] for r in keep], cluster_of)
        return n, bad
    store = os.path.join(out, "store")
    ids = [r["doc_id"] for r in _rows(os.path.join(inp, "corpus"))]
    ids += [r["doc_id"] for b in sorted(os.listdir(store)) for r in _rows(os.path.join(store, b))]
    return expect.check_ingest(exp, info, ids)


# --------------------------------------------------------------------------
# Metrics
# --------------------------------------------------------------------------
def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    return total + (cur_e - cur_s if cur_e is not None else 0.0)


def _stage_sums(jobs: list[dict]) -> dict:
    st = [s for j in jobs for s in j["stages"]]
    return {
        "jobs": len(jobs),
        "tasks": sum(s["tasks"] for s in st),
        "failed_tasks": sum(s["failed_tasks"] for s in st),
        "executor_run_s": sum(s["run_ms"] for s in st) / 1e3,
        "executor_cpu_s": sum(s["cpu_ns"] for s in st) / 1e9,
        "gc_s": sum(s["gc_ms"] for s in st) / 1e3,
        "shuffle_write_mb": sum(s["shuffle_write"] for s in st) / 1e6,
        "shuffle_read_mb": sum(s["shuffle_read"] for s in st) / 1e6,
        "input_mb": sum(s["input"] for s in st) / 1e6,
    }


def end_to_end(res: dict) -> dict:
    return {
        "run_s": res["run_s"],
        "cpu_s": res["cpu_s"],
        "peak_rss_mb": res["peak_rss_mb"],
        "setup_s": res["start_s"] + res["warm_s"],
        "jobs": len(res["jobs"]),
        "shuffle_mb": _stage_sums(res["jobs"])["shuffle_write_mb"],
    }


def _dir_mb(path: str) -> float:
    return sum(os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(path) for f in fs) / 1e6


def per_layer(res: dict, exp: dict, out: str) -> dict:
    """Layer metrics of one traced pass: every job is charged to the span
    whose job group it ran under, i.e. the call that submitted it."""
    spans = {str(s["id"]): s for s in res["spans"]}
    by_layer: dict[str, list[dict]] = {}
    for j in res["jobs"]:
        span = spans.get(j["group"])
        by_layer.setdefault(span["layer"] if span else "pass", []).append(j)
    by_layer["session"] = res["session_jobs"]
    m = {}
    for layer in LAYERS:
        jobs = by_layer.get(layer, [])
        sums = _stage_sums(jobs)
        if layer == "session":
            wall = res["start_s"] + res["warm_s"]
            driver = wall - _union_s([(j["start_ms"] / 1e3, j["end_ms"] / 1e3) for j in jobs])
        else:
            wall = driver = 0.0
            for s in (s for s in res["spans"] if s["layer"] == layer):
                w = s["end"] - s["start"]
                ivals = [
                    (max(j["start_ms"] / 1e3, s["start"]), min(j["end_ms"] / 1e3, s["end"]))
                    for j in jobs if j["group"] == str(s["id"])
                ]
                wall += w
                driver += w - _union_s([iv for iv in ivals if iv[1] > iv[0]])
        m[f"{layer}.wall_s"] = wall
        m[f"{layer}.driver_s"] = driver
        for k, v in sums.items():
            m[f"{layer}.{k}"] = v
    info = res["info"]
    m["session.start_s"] = res["start_s"]
    m["session.warm_s"] = res["warm_s"]
    iters = info.get("iterations", 0)
    m["kmeans.iterations"] = iters
    m["kmeans.s_per_iteration"] = m["kmeans.wall_s"] / iters if iters else 0.0
    cand, ver = exp.get("candidate_pairs", 0), exp.get("verified_pairs", 0)
    m["dedup.candidate_pairs"] = cand
    m["dedup.verified_pairs"] = ver
    m["dedup.verify_yield"] = ver / cand if cand else 0.0
    m["io.output_mb"] = _dir_mb(out)
    return m


def _calm(results) -> list[dict]:
    return [r for r in results if r["env"]["steal_share"] <= STEAL_LIMIT]


def report(passes: list[tuple[dict, bool]], trace: bool) -> dict:
    """Medians over passes: end-to-end metrics from the untraced passes
    (the undisturbed ones if any), or per-layer metrics from the traced ones
    plus the tracing overhead."""
    untraced = [r for r, t in passes if not t]
    if not trace:
        e2e = [end_to_end(r) for r in (_calm(untraced) or untraced)]
        return {k: {"value": statistics.median(m[k] for m in e2e), "unit": u}
                for k, u in E2E_UNITS.items()}
    traced = [r for r, t in passes if t]
    names = {**{f"{layer}.{k}": u for layer in LAYERS for k, u in LAYER_FIELDS.items()},
             **EXTRA_LAYER_METRICS}
    metrics = {k: {"value": statistics.median(r["layers"][k] for r in traced), "unit": u}
               for k, u in names.items() if k != "trace.overhead_s"}
    metrics["trace.overhead_s"] = {
        "value": statistics.median(r["run_s"] for r in traced)
        - statistics.median(r["run_s"] for r in untraced),
        "unit": "s",
    }
    return metrics


# --------------------------------------------------------------------------
# Passes and the run
# --------------------------------------------------------------------------
def _kill(pids: list[int]) -> None:
    for p in pids:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _wait_gone(pids: list[int]) -> None:
    """Wait until every process in ``pids`` has ended; kill any still alive
    after 30 s."""
    deadline = time.monotonic() + 30
    while any(procstat.alive(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.1)
    _kill([p for p in pids if procstat.alive(p)])


def run_pass(args, inputs: str, n: int, trace: bool, deadline: float) -> tuple[dict, str]:
    out = os.path.join(WORK, "out", f"{args.workload}-{os.getpid()}-{n}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    cfg = {
        "workload": args.workload, "spark": args.spark, "heap": args.heap, "jvm": args.jvm,
        "cpus": args.cpus, "trace": trace, "out": os.path.abspath(out),
        "main_in": os.path.abspath(os.path.join(inputs, "main")),
        "spawned": time.time(),
    }
    log = os.path.join(WORK, "logs", f"{args.workload}-{args.seed}-{n}.log")
    with open(log, "w") as f:
        proc = subprocess.Popen([sys.executable, os.path.join(HERE, "worker.py"), json.dumps(cfg)],
                                stdout=f, stderr=subprocess.STDOUT,
                                env={**os.environ, "PYTHONHASHSEED": "0",
                                     "TMPDIR": os.path.abspath(os.path.join(WORK, "tmp")),
                                     "SPARK_LOCAL_DIRS": os.path.abspath(os.path.join(WORK, "tmp"))})
        try:
            proc.wait(timeout=max(deadline - time.monotonic(), 1))
        except subprocess.TimeoutExpired:
            tree = procstat.tree(proc.pid)
            _kill(tree)
            proc.wait()
            _wait_gone(tree)
            raise SystemExit(f"worker passed the {RUN_LIMIT_S} s run limit; log in {log}")
    # the worker waited for its JVM; the JVM's Python daemon may outlive it
    pid_file = os.path.join(out, "pids.json")
    if os.path.exists(pid_file):
        with open(pid_file) as f:
            _wait_gone(json.load(f))
    if proc.returncode != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"worker failed with code {proc.returncode}; log in {log}")
    with open(os.path.join(out, "result.json")) as f:
        return json.load(f), os.path.join(out, "main")


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=sorted(SIZES))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--spark", required=True, help="pinned Spark version")
    p.add_argument("--heap", required=True, help="driver heap (-Xmx)")
    p.add_argument("--jvm", required=True, help="driver JVM options")
    p.add_argument("--cpus", type=int, required=True, help="local[N], capped at nproc")
    p.add_argument("--dict-size", type=int, required=True, help="adjective dictionary words")
    args = p.parse_args(argv)
    args.cpus = max(1, min(args.cpus, os.cpu_count() or 1))
    if not os.path.isdir("skripsi_mapreduce_spark") or not os.path.isfile("tests/oracles.py"):
        print("run from the repository root: skripsi_mapreduce_spark/ and tests/oracles.py "
              "are needed", file=sys.stderr)
        return 2
    for sub in ("inputs", "out", "logs", "tmp"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)

    deadline = time.monotonic() + RUN_LIMIT_S
    inputs = prepare(args.workload, args.seed, args.dict_size)
    with open(os.path.join(inputs, "expected.json")) as f:
        exp = json.load(f)

    passes: list[tuple[dict, bool]] = []
    attempted, failures = 0, []
    t_run = time.monotonic()

    def enough() -> bool:
        if args.trace:
            return len(passes) >= 2
        return sum(r["run_s"] for r in _calm(r for r, _ in passes)) >= args.seconds

    while not passes or (
        not enough() and len(passes) < MAX_PASSES
        and time.monotonic() - t_run < NO_NEW_PASS_AFTER_S
    ):
        traced = bool(args.trace) and len(passes) % 2 == 0
        res, out = run_pass(args, inputs, len(passes), traced, deadline)
        n, bad = check(args.workload, exp, res, os.path.join(inputs, "main"), out)
        attempted += n
        failures += bad
        if traced:
            res["layers"] = per_layer(res, exp, out)
        passes.append((res, traced))
        shutil.rmtree(os.path.dirname(out), ignore_errors=True)

    metrics = report(passes, bool(args.trace))
    if args.trace:
        with open(os.path.join(WORK, f"trace-{args.workload}-{args.seed}.json"), "w") as f:
            json.dump([{k: r[k] for k in ("spans", "jobs", "layers", "run_s")}
                       for r, t in passes if t], f)
    for msg in failures:
        print(f"check failed: {msg}", file=sys.stderr)
    print(json.dumps({"env": [r["env"] for r, _ in passes],
                      "passes": [{k: r[k] for k in ("run_s", "cpu_s", "peak_rss_mb",
                                                    "start_s", "warm_s")} for r, _ in passes]}))
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": len(failures), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
