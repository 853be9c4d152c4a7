"""``query_iterative``: the loop-heavy operators, one noop-sink pass at a time.

Set-up is the session, the table scans and one untimed pass that also
checks every query against its DuckDB oracle (oracle time is not set-up).
The timed phase then runs whole passes, as many as fit the run's
seconds (at least one), and each query's median is reported.
"""

from __future__ import annotations

import math
import os
import statistics
import sys
import time

from spans import SPARK_TOTALS, Tracer, group_job_ids, job_totals, plan_seconds

ITERATIVE = [
    "graph_pagerank",
    "graph_k_core",
    "rec_als_rank1",
]

#: Scale factor of the generated tables.  The iterative queries are
#: dominated by per-job overhead (each launches 7-29 Spark jobs while its
#: plan is built), so a small scale keeps that share; it also keeps one
#: run inside the benchmark's time budget.
SF = 0.001


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def run(ctx, seconds: float, corrupt: frozenset = frozenset()) -> dict:
    """Run the workload; return end-to-end and per-layer metrics.

    ``corrupt`` names queries whose Spark result is altered before the
    oracle comparison (self-test only).
    """
    import datagen
    import duckdb

    sys.path.insert(0, os.path.join(ctx.root, "tools"))
    from check_oracle import canon, duck_connection

    from data_ingestion_worker_spark.functions import checkpoint
    from data_ingestion_worker_spark.registry import all_specs

    tracer: Tracer | None = ctx.tracer
    queries = ITERATIVE
    sf_dir = os.path.join(ctx.work, "tables")
    t = time.perf_counter()
    datagen.write_tables(sf_dir, ctx.seed, SF)
    ctx.exclude_from_setup(time.perf_counter() - t)

    specs = all_specs()   # imports every operator module: wrap after
    if tracer:
        tracer.wrap_everywhere(checkpoint.cut_lineage,
                               "functions.cut_lineage",
                               "data_ingestion_worker_spark")
    spark = ctx.start_spark()
    con = duck_connection(sf_dir)

    # Untimed warm + correctness pass.
    for name in queries:
        ctx.attempted += 1
        try:
            sdf = specs[name].fn(spark, sf_dir)
            cols, rows = sdf.columns, [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001 - a failing query is counted
            ctx.fail(f"{name}: spark error: {e}")
            continue
        if name in corrupt:
            rows = rows[1:]
        t = time.perf_counter()
        try:
            res = con.execute(specs[name].oracle)
            dcols, drows = [d[0] for d in res.description], res.fetchall()
            why = (None if sorted(cols) == sorted(dcols)
                   and canon(rows, cols) == canon(drows, dcols)
                   else "result differs from its oracle")
        except duckdb.Error as e:
            why = f"oracle error: {e}"
        ctx.exclude_from_setup(time.perf_counter() - t)
        if why:
            ctx.fail(f"{name}: {why}")
    con.close()
    ctx.setup_done()

    wall: dict[str, list[float]] = {q: [] for q in queries}
    build: dict[str, list[float]] = {q: [] for q in queries}
    execs: dict[str, list[float]] = {q: [] for q in queries}
    plans: dict[str, list[float]] = {q: [] for q in queries}
    build_jobs: list[int] = []
    totals = dict.fromkeys(SPARK_TOTALS, 0.0)
    passes = 0
    cuts_before = tracer.calls("functions.cut_lineage") if tracer else 0
    sc = spark.sparkContext
    start = time.perf_counter()
    last = 0.0
    # Whole passes only: start another one if it should end in time.
    while passes == 0 or time.perf_counter() - start + last <= seconds:
        pass_start = time.perf_counter()
        for name in queries:
            ctx.attempted += 1
            group = f"{ctx.run_id}:{name}:{passes}"
            if tracer:
                sc.setJobGroup(group + ":build", name)
            try:
                t0 = time.perf_counter()
                df = specs[name].fn(spark, sf_dir)
                t1 = time.perf_counter()
                if tracer:
                    plans[name].append(plan_seconds(df))
                    sc.setJobGroup(group + ":exec", name)
                t2 = time.perf_counter()
                _noop(df)
                t3 = time.perf_counter()
            except Exception as e:  # noqa: BLE001
                ctx.fail(f"{name}: spark error in timed pass: {e}")
                continue
            wall[name].append((t1 - t0) + (t3 - t2))
            build[name].append(t1 - t0)
            execs[name].append(t3 - t2)
            if tracer:
                sc.setLocalProperty("spark.jobGroup.id", None)
                b_ids = group_job_ids(spark, group + ":build")
                e_ids = group_job_ids(spark, group + ":exec")
                build_jobs.append(len(b_ids))
                for k, v in job_totals(spark, b_ids + e_ids).items():
                    totals[k] += v
        passes += 1
        last = time.perf_counter() - pass_start

    med = {q: statistics.median(v) for q, v in wall.items() if v}
    metrics = {}
    if med:
        suite = sum(med.values())
        metrics["query.suite_s"] = (suite, "s")
        metrics["latency_s"] = (
            math.exp(sum(math.log(v) for v in med.values()) / len(med)), "s")
        metrics["throughput_per_min"] = (len(med) / suite * 60.0, "1/min")
    if tracer:
        metrics["operators.build_s"] = (
            sum(statistics.median(v) for v in build.values() if v), "s")
        metrics["operators.build_jobs"] = (sum(build_jobs) / passes, "count")
        metrics["catalyst.plan_s"] = (
            sum(statistics.median(v) for v in plans.values() if v), "s")
        for q in queries:
            metrics[f"operators.{q}.build_s"] = (
                statistics.median(build[q]) if build[q] else 0.0, "s")
            metrics[f"spark.{q}.exec_s"] = (
                statistics.median(execs[q]) if execs[q] else 0.0, "s")
        metrics["functions.cut_lineage.calls"] = (
            (tracer.calls("functions.cut_lineage") - cuts_before) / passes,
            "count")
        for k, v in totals.items():
            metrics[f"spark.{k}"] = (v / passes, SPARK_TOTALS[k])
    metrics["query.passes"] = (passes, "count")
    metrics["wall.timed"] = (time.perf_counter() - start, "s")
    return metrics
