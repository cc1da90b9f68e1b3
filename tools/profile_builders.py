"""Profile every registry entry's BUILDER call (plan construction).

r12 measured ~114.5 s of the bench total in Python-side plan
construction before the column-fragment memoization landed; the r12
verdict (#5) asks for a post-colcache re-profile of all 158 builders,
committed, so the remaining top offenders are either fixed or
documented as real execution (eager checkpoints, count-gated hints,
artifact builds) rather than py4j round-trips.

Method: warm one full builder pass (JVM/JIT, artifact builds, schema
cache), then two timed passes of ``builder(spark, sf_dir)`` ONLY — no
action is run on the returned DataFrame, so entries whose builders are
pure construction measure py4j/analysis latency, while entries whose
builders execute (localCheckpoint, collect-gated decisions, streaming
drains) measure that execution; the table marks which is which via the
``exec`` heuristic (builder runs Spark jobs).

Jobs are counted through the public status tracker: each timed builder
call runs under its own job group, and a streaming drain's micro-batch
jobs run under the stream's run id, recorded by a query listener.

Usage:  python tools/profile_builders.py [sf_dir]   # writes the table
"""

from __future__ import annotations

import json
import os
import sys
import time

from pyspark.sql.streaming import StreamingQueryListener

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


class _StreamRuns(StreamingQueryListener):
    """Run ids of the streaming queries started since the last clear;
    Spark runs each query's micro-batch jobs under its run id as the
    job group."""

    def __init__(self) -> None:
        self.run_ids: list[str] = []

    def onQueryStarted(self, event) -> None:
        self.run_ids.append(str(event.runId))

    def onQueryProgress(self, event) -> None:
        pass

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from bench import _drop_leftover_rdd_blocks

    from github_data_pipeline_spark.plans import all_plans
    from github_data_pipeline_spark.session import get_spark

    # the status store must keep every timed job until they are counted
    spark = get_spark(
        "profile-builders",
        master=f"local[{cpus}]",
        extra_conf={"spark.ui.retainedJobs": "100000"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    streams = _StreamRuns()
    spark.streams.addListener(streams)
    registry = all_plans()
    names = [q.name for q in registry if q.oracle is not None]

    # warm pass: builds artifacts, fills schema/colcache, JITs
    for n in names:
        registry[n].builder(spark, sf_dir)
        _drop_leftover_rdd_blocks(spark)

    out: dict[str, dict] = {}
    for i in range(2):
        for n in names:
            group = f"profile-builders:{i}:{n}"
            streams.run_ids.clear()
            sc.setJobGroup(group, n)
            t0 = time.time()
            registry[n].builder(spark, sf_dir)
            el = round(time.time() - t0, 3)
            sc.setLocalProperty("spark.jobGroup.id", None)
            _drop_leftover_rdd_blocks(spark)
            cur = out.get(n)
            if cur is None or el < cur["s"]:
                out[n] = {"s": el, "groups": [group, *streams.run_ids]}
    # counted after the passes: the status store learns of jobs from
    # the asynchronous listener bus, so a count taken right after the
    # builder returns can miss its last jobs
    spark.streams.removeListener(streams)
    time.sleep(1)
    tracker = sc.statusTracker()
    for v in out.values():
        v["jobs"] = sum(len(tracker.getJobIdsForGroup(g)) for g in v.pop("groups"))

    rows = sorted(out.items(), key=lambda kv: -kv[1]["s"])
    total = round(sum(v["s"] for v in out.values()), 1)
    lines = [
        "# PROFILE_BUILDERS — plan-construction time per registry entry",
        "",
        f"`tools/profile_builders.py {sf_dir}` on `local[{cpus}]`:",
        "min-of-2 wall seconds for `builder(spark, sf_dir)` alone (no",
        "action on the result). `jobs` counts Spark jobs the builder",
        "itself ran — 0 means the time is pure driver-side construction",
        "(py4j round trips, analysis); >0 means the builder executes",
        "(eager checkpoints, count-gated broadcast decisions, streaming",
        "drains, artifact reads) and its time is real work, not",
        "construction overhead.",
        "",
        f"**Total builder time across {len(out)} entries: {total} s**",
        "(the bench pays this once per timed pass).",
        "",
        "| entry | builder s | jobs |",
        "|---|---|---|",
    ]
    for n, v in rows:
        lines.append(f"| {n} | {v['s']:.3f} | {v['jobs']} |")
    body = "\n".join(lines) + "\n"
    with open(os.path.join(REPO, "PROFILE_BUILDERS.md"), "w") as f:
        f.write(body)
    print(json.dumps({n: v["s"] for n, v in rows[:25]}, indent=0))
    print(f"total {total} s -> PROFILE_BUILDERS.md")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
