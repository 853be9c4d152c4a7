"""``contact_import``: the reference lifecycle through ``JobStreamConsumer``.

The engine sees only contact CSVs and one message file per job.  Set-up
is the session, the control store and one untimed warm job through the
closed-loop consumer: a clean job whose contacts are the "consolidated
earlier" ones that later jobs collide with.  Then two timed phases:

- closed loop: one client, one job per microbatch
  (``max_files_per_trigger=1``, the reference's one-message receive).
  The client drops a job's message file, waits for the job's terminal
  action, then drops the next.  Latency is message visible -> terminal
  action.  The loop runs as many jobs as fit the run's seconds (at
  least one).
- drain: the review tail and a backlog in one availableNow drain.  The
  review step discards every failing staging row and re-sends the first
  closed-loop job (reprocess, auto-resolve, consolidate: updates and
  contacts); a backlog of two fresh jobs, one of hundreds of rows and
  one large, arrives with it (initial processing: inserts).
  All of it fits one trigger, so the control store is measured under
  both kinds of write in the shared-plan batch path.

Every job's status, unresolved-issue count and contacts rows are checked
once at the end against what the generator planted.
"""

from __future__ import annotations

import json
import os
import statistics
import time

from spans import SPARK_TOTALS, group_job_ids, job_totals

#: Job sizes are fixed so that a seed changes what the rows hold (which
#: rows are faulty, and how), not how much work a phase is.
CLOSED_ROWS = 400
#: Drain backlog: a clean job of hundreds of rows (it completes at once)
#: and a large job with planted faults.
BACKLOG_ROWS = 500
LARGE_ROWS = 20_000
MAX_FILES_PER_TRIGGER = 3
DURATION_KEYS = {"latestOffset": "latest_offset", "getBatch": "get_batch",
                 "queryPlanning": "query_planning", "addBatch": "add_batch",
                 "walCommit": "wal_commit", "triggerExecution": "trigger"}
STAGES = ("ingest", "validate", "route", "consolidate")


class _Lifecycle:
    """Inboxes, message files and the per-job expectation check."""

    def __init__(self, ctx, spark, store) -> None:
        self.ctx = ctx
        self.spark = spark
        self.store = store
        self.csv_dir = os.path.join(ctx.work, "csv")
        os.makedirs(self.csv_dir, exist_ok=True)
        self.expected: dict[int, tuple[str, int, int]] = {}
        self.check_group = f"{ctx.run_id}:check"

    def consumer(self, phase: str, max_files: int):
        from data_ingestion_worker_spark.streaming import JobStreamConsumer

        inbox = os.path.join(self.ctx.work, f"inbox-{phase}")
        os.makedirs(inbox, exist_ok=True)
        return JobStreamConsumer(
            self.spark, self.store, inbox,
            os.path.join(self.ctx.work, f"ckpt-{phase}"),
            max_files_per_trigger=max_files)

    @staticmethod
    def send(consumer, job) -> None:
        """Make one job message visible atomically (hidden name, then
        rename: the file source never lists a half-written file)."""
        body = json.dumps({"job_id": job.job_id, "s3_key": job.path})
        tmp = os.path.join(consumer.inbox_dir, f".msg-{job.job_id}.tmp")
        with open(tmp, "w") as f:
            f.write(body + "\n")
        os.rename(tmp, os.path.join(
            consumer.inbox_dir, f"msg-{job.job_id}-{time.time_ns()}.json"))

    def expect(self, job, status: str, issues: int, contacts: int) -> None:
        self.expected[job.job_id] = (status, issues, contacts)

    def _read(self, table: str):
        """Read a control table past any tracing wrapper: checks are the
        benchmark's work, not the engine's."""
        read = type(self.store).read
        return getattr(read, "__wrapped__", read)(self.store, table)

    def check(self) -> None:
        """Compare status, unresolved issues and contacts rows per job.
        Runs in its own job group so its Spark jobs are told apart."""
        from pyspark.sql import functions as F

        t = time.perf_counter()
        sc = self.spark.sparkContext
        sc.setJobGroup(self.check_group, "benchmark: expectation check")
        jobs = {int(r["job_id"]): (r["job_status"],
                                   int(r["job_issue_count"] or 0))
                for r in self._read("jobs")
                .select("job_id", "job_status", "job_issue_count").collect()}
        contacts = {int(r["j"]): int(r["n"]) for r in self._read("contacts")
                    .groupBy((F.col("staging_id") / 1_000_000_000)
                             .cast("long").alias("j"))
                    .agg(F.count(F.lit(1)).alias("n")).collect()}
        sc.setLocalProperty("spark.jobGroup.id", None)
        for j, want in sorted(self.expected.items()):
            got = jobs.get(j, (None, 0)) + (contacts.get(j, 0),)
            if got != want:
                self.ctx.fail(f"job {j}: expected {want} got {got}")
        self.ctx.exclude_from_setup(time.perf_counter() - t)


def _wait_for(consumer, query, n_results: int) -> None:
    while len(consumer.results) < n_results:
        if query.exception() is not None or not query.isActive:
            raise RuntimeError(f"consumer stopped: {query.exception()}")
        time.sleep(0.002)


def _progress(query) -> list[dict]:
    return [p for p in query.recentProgress if p.get("numInputRows", 0) > 0]


def run(ctx, seconds: float, closed_rows: int = CLOSED_ROWS,
        backlog_rows: int = BACKLOG_ROWS, large_rows: int = LARGE_ROWS,
        corrupt: bool = False) -> dict:
    """Run the workload; return end-to-end and per-layer metrics.

    ``corrupt`` alters one job's expected outcome before the check
    (self-test only).
    """
    import datagen
    from data_ingestion_worker_spark.control import ControlStore
    from data_ingestion_worker_spark.control import processor as proc_mod

    tracer = ctx.tracer
    if tracer:
        tracer.wrap_everywhere(proc_mod.read_contacts_csv,
                               "ingest.read_contacts_csv",
                               "data_ingestion_worker_spark")
        for op in ("read", "upsert", "overwrite", "delete"):
            tracer.wrap(ControlStore, op, f"control.store.{op}")
    spark = ctx.start_spark()
    sc = spark.sparkContext
    store = ControlStore(spark, os.path.join(ctx.work, "control"))
    life = _Lifecycle(ctx, spark, store)

    def make(job_id, rows, existing, clean):
        t = time.perf_counter()
        job = datagen.contact_job(life.csv_dir, ctx.seed, job_id, rows,
                                  existing, clean)
        ctx.exclude_from_setup(time.perf_counter() - t)
        return job

    # -- set-up: one warm job through the closed-loop consumer ------------
    closed = life.consumer("closed", 1)
    q_a = closed.start(available_now=False, processing_interval="0 seconds")
    try:
        warm = make(1, 100, [], True)
        life.send(closed, warm)
        ctx.attempted += 1
        life.expect(warm, warm.status, warm.issues, warm.valid)
        _wait_for(closed, q_a, 1)
        existing = warm.emails
        ctx.setup_done()

        measured_from = time.perf_counter()
        status_store = sc._jsc.sc().statusStore()
        jobs_total_before = status_store.jobsList(None).size()
        group_a = str(q_a.runId)
        a_before = set(group_job_ids(spark, group_a)) if tracer else set()
        closed.processor.stage_seconds = {}

        # -- closed loop ----------------------------------------------------
        latencies: list[float] = []
        per_job_spark: list[int] = []
        a_jobs = []
        start = time.perf_counter()
        # At least one job; start another only if it should finish
        # within the seconds.
        while (not latencies or time.perf_counter() - start
               + latencies[-1] <= seconds):
            job_id = 1000 + len(a_jobs)
            job = make(job_id, closed_rows, existing, job_id % 3 == 0)
            n_seen = len(closed.results)
            jobs_before = len(group_job_ids(spark, group_a)) if tracer else 0
            ctx.attempted += 1
            t0 = time.perf_counter()
            life.send(closed, job)
            _wait_for(closed, q_a, n_seen + 1)
            latencies.append(time.perf_counter() - t0)
            if tracer:
                per_job_spark.append(
                    len(group_job_ids(spark, group_a)) - jobs_before)
            life.expect(job, job.status, job.issues,
                        job.valid if job.status == "COMPLETED" else 0)
            a_jobs.append(job)
    finally:
        q_a.stop()
    stage_s = {"closed": dict(closed.processor.stage_seconds)}
    a_ids = (sorted(set(group_job_ids(spark, group_a)) - a_before)
             if tracer else [])

    # -- drain: review tail + backlog in one trigger ------------------------
    # 1000 % 3 != 0: the first closed-loop job always carries faults.
    reviewed = a_jobs[0]
    fresh = [make(2000, backlog_rows, existing, True),
             make(2001, large_rows, existing, False)]
    drain = life.consumer("drain", MAX_FILES_PER_TRIGGER)
    group_review = f"{ctx.run_id}:review"
    if tracer:
        sc.setJobGroup(group_review, "review: discard failing rows")
    t0 = time.perf_counter()
    closed.processor.discard_failing_rows()
    if tracer:
        sc.setLocalProperty("spark.jobGroup.id", None)
    for job in [reviewed] + fresh:
        life.send(drain, job)
    q_b = drain.start(available_now=True)
    q_b.awaitTermination()
    wall_b = time.perf_counter() - t0
    if q_b.exception() is not None:
        raise RuntimeError(str(q_b.exception()))
    ctx.attempted += 1 + len(fresh)
    life.expect(reviewed, "COMPLETED", 0, reviewed.valid)
    for job in fresh:
        life.expect(job, job.status, job.issues,
                    job.valid if job.status == "COMPLETED" else 0)
    stage_s["drain"] = dict(drain.processor.stage_seconds)
    if corrupt:
        life.expected[fresh[0].job_id] = ("FAILED", 0, 0)
    life.check()

    n_drained = 1 + len(fresh)
    metrics: dict[str, tuple[float, str]] = {
        "latency_s": (statistics.median(latencies), "s"),
        "throughput_per_min": (
            (len(a_jobs) + n_drained) / (sum(latencies) + wall_b) * 60.0,
            "1/min"),
        "contact.closed_jobs": (len(latencies), "count"),
        "contact.drain_jobs_per_min": (n_drained / wall_b * 60.0, "1/min"),
        "wall.closed_jobs": (latencies, "s"),
        "wall.drain": (wall_b, "s"),
    }
    if not tracer:
        return metrics

    for phase, secs in stage_s.items():
        for st in STAGES:
            metrics[f"control.processor.{phase}.{st}_s"] = (
                secs.get(st, 0.0), "s")
    metrics["ingest.read_contacts_csv.calls"] = (
        tracer.calls("ingest.read_contacts_csv", measured_from), "count")
    metrics["ingest.read_contacts_csv.s"] = (
        tracer.self_seconds("ingest.read_contacts_csv", measured_from), "s")
    # Store operations per processed job, over both timed phases.
    n_jobs = len(a_jobs) + n_drained
    for op in ("read", "upsert", "overwrite", "delete"):
        name = f"control.store.{op}"
        metrics[f"{name}.calls"] = (
            tracer.calls(name, measured_from) / n_jobs, "count")
        metrics[f"{name}.s"] = (
            tracer.self_seconds(name, measured_from) / n_jobs, "s")
    # Every Spark job after set-up must belong to a phase's streaming
    # query (its run id is the job group, also inside foreachBatch), the
    # review's own group, or the benchmark's check.
    b_ids = (group_job_ids(spark, str(q_b.runId))
             + group_job_ids(spark, group_review))
    checks = group_job_ids(spark, life.check_group)
    metrics["spark.unattributed_jobs"] = (
        status_store.jobsList(None).size() - jobs_total_before
        - len(a_ids) - len(b_ids) - len(checks), "count")
    for k, v in job_totals(spark, a_ids + b_ids).items():
        metrics[f"spark.{k}"] = (v, SPARK_TOTALS[k])
    metrics["spark.jobs_per_import_job"] = (
        statistics.median(per_job_spark), "count")
    prog_a = _progress(q_a)[1:]   # the first batch is the warm job
    for key, name in DURATION_KEYS.items():
        metrics[f"streaming.{name}_s"] = (statistics.median(
            p["durationMs"].get(key, 0) for p in prog_a) / 1000.0, "s")
    prog_b = _progress(q_b)
    metrics["streaming.batches"] = (len(prog_a) + len(prog_b), "count")
    metrics["streaming.jobs_per_batch"] = (
        sum(p["numInputRows"] for p in prog_b) / max(len(prog_b), 1), "count")
    metrics["streaming.dead_letters"] = (
        life._read("dead_letters").count(), "count")
    return metrics
