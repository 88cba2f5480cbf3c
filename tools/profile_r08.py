"""Round-8 measurement harness (guide §1: measure first).

For each named query (anything in __spark_entry__.queries(), including
model queries), in ONE session:
  - capture .explain("formatted") to plans/r08/<name>_<tag>.txt
  - run the same action the bench times (.count()) best-of-N isolated,
    recording wall seconds AND the number of Spark jobs/stages/tasks the
    run launched (job-count ~= fixed scheduler overhead, the dominant
    term for iterative queries at sf0.1)
  - optionally run a noop-sink pass (computes every column — catches
    count()-only pruning artifacts) when --noop is given

r7 ADVICE fix: flags are parsed with argparse, so
``profile_r08.py --tag after out.json q1`` no longer writes to a file
literally named "--tag".

Usage: python tools/profile_r08.py out.json [--tag before|after] [--noop]
       [--plans-only] [--runs N] name...
       (SPARK_GRAFT_SF_DIR selects the data dir — point it at
        .bench_scale10 to profile the 10x tier)
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("out_path")
    ap.add_argument("--tag", default="before")
    ap.add_argument("--noop", action="store_true")
    ap.add_argument("--plans-only", action="store_true")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("names", nargs="*")
    args = ap.parse_intermixed_args()

    import __spark_entry__ as entry_mod
    from bench import BENCH_EXTRA
    from ufc_data_warehouse_spark.session import get_spark

    names = args.names or list(BENCH_EXTRA)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    plans_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "r08"
    )
    os.makedirs(plans_dir, exist_ok=True)

    spark = get_spark(app_name="ufc-profile-r08")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    qs = entry_mod.queries()

    def canary() -> float:
        t0 = time.perf_counter()
        spark.range(0, 20_000_000, 1, 32).selectExpr("sum(id * id % 97) as s").collect()
        return time.perf_counter() - t0

    rec: dict = {
        "sf_dir": sf_dir,
        "tag": args.tag,
        "runs": args.runs,
        "loadavg_start": [round(x, 2) for x in os.getloadavg()],
        "canary_sec": round(min(canary() for _ in range(3)), 4),
        "queries": {},
    }
    st = spark.sparkContext.statusTracker()

    for name in names:
        if name not in qs:
            rec["queries"][name] = {"error": "unknown query"}
            continue
        try:
            df = qs[name](spark, sf_dir)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
            with open(os.path.join(plans_dir, f"{name}_{args.tag}.txt"), "w") as f:
                f.write(plan)
            n_exchanges = plan.count("Exchange")
            if args.plans_only:
                rec["queries"][name] = {"exchanges_in_plan": n_exchanges}
                print(f"# {name}: plan captured exch={n_exchanges}", file=sys.stderr)
                continue
            spark.sparkContext._jvm.System.gc()
            best = None
            rows = 0
            jobs = stages = tasks = 0
            for r in range(args.runs):
                group = f"{name}:{args.tag}:{r}"
                spark.sparkContext.setJobGroup(group, name)
                t0 = time.perf_counter()
                rows = qs[name](spark, sf_dir).count()
                dt = time.perf_counter() - t0
                spark.sparkContext.setJobGroup(None, None)
                if best is None or dt < best:
                    best = dt
                if r == 0:
                    job_ids = st.getJobIdsForGroup(group)
                    jobs = len(job_ids)
                    for jid in job_ids:
                        ji = st.getJobInfo(jid)
                        if ji is not None:
                            for sid in ji.stageIds:
                                stages += 1
                                si = st.getStageInfo(sid)
                                if si is not None:
                                    tasks += si.numTasks
            noop_sec = None
            if args.noop:
                t0 = time.perf_counter()
                qs[name](spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                noop_sec = round(time.perf_counter() - t0, 4)
            rec["queries"][name] = {
                "best_sec": round(best, 4),
                "rows": rows,
                "jobs_run0": jobs,
                "stages_run0": stages,
                "tasks_run0": tasks,
                "exchanges_in_plan": n_exchanges,
            }
            if noop_sec is not None:
                rec["queries"][name]["noop_sec"] = noop_sec
            print(
                f"# {name}: {best:.3f}s rows={rows} jobs={jobs} "
                f"stages={stages} tasks={tasks} exch={n_exchanges}",
                file=sys.stderr,
            )
        except Exception as ex:  # noqa: BLE001
            rec["queries"][name] = {"error": f"{type(ex).__name__}: {str(ex)[:200]}"}
            print(f"# {name}: ERROR {ex}", file=sys.stderr)
    rec["loadavg_end"] = [round(x, 2) for x in os.getloadavg()]
    rec["canary_end_sec"] = round(min(canary() for _ in range(3)), 4)
    with open(args.out_path, "w") as f:
        json.dump(rec, f, indent=1)
    spark.stop()


if __name__ == "__main__":
    main()
