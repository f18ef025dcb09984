"""Benchmark of the north-rule pages job, end to end and layer by layer.

Run from the repository root:

    python3 perfbench/run.py --workload crawl_text --seed 1 --seconds 9 --trace 0
    python3 perfbench/run.py --workload all --seed 1        # every workload in turn

Each workload is a closed loop: this process is the only client and runs
one job at a time on ``local[nproc]``. The job gets only the generated
parquet table (perfbench/gen.py, cached per seed under perfbench/.work).

``--trace 0`` reports the end-to-end metrics:

- ``pages_per_sec``: input pages over the median wall time from the call
  into ``pages_flagship`` until its result is written to the noop sink;
- ``setup_s``: the median over the session set-ups after the first of
  ``get_spark`` plus the Python-worker warm-up, made after the timed jobs.
  The first set-up, which launches the JVM, is reported alone as
  ``session.cold_s`` by the traced run.

Before timing, one run in the fresh JVM writes the job's output, which
the DuckDB gate (perfbench/gate.py) checks. A run that raises or fails
the gate counts in ``failed``.

``--trace 1`` is a separate run with Spark's event log on. It reports the
per-layer metrics: each layer's self time as the difference between
successive plan prefixes run to the noop sink, stage metrics from the
event log, the tracing overhead, the peak resident memory of the JVM
and its Python workers over the untraced jobs, and the checkpoint layer: the
composition ``tools/submit_job.py --checkpoint`` runs, stopped at half
its buckets and resumed, whose resumed output also goes through the gate.
Spans, the event log and the extraction stage's UDF profile stay under
perfbench/.work. The last line of standard output is the JSON result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
TMP = os.path.join(WORK, "tmp")  # Spark's local dirs and every temp file stay in the checkout

CK_BUCKETS = 2      # checkpoint buckets; the interrupted run stops after half
MIN_SAMPLES = 3     # timed job runs per measured set, at least
RESTARTS = 3        # session set-ups after the cold one, for setup_s
TRACE_REPS = 2      # repeats of each plan prefix in the traced run
SPINE_STEP_HOURS = 24 * 7
BASE_CONF = {"spark.ui.showConsoleProgress": "false"}


T0 = time.perf_counter()


def log(*a):
    print(f"[{time.perf_counter() - T0:6.1f}s]", *a, file=sys.stderr, flush=True)


def median(xs):
    return statistics.median(xs)


# ---------------------------------------------------------------- session


def _warm_workers(spark, cpus):
    """Boot one Python worker per core and load the extraction stage's
    modules in it: a tiny run of the Arrow extractor on every core."""
    from pyspark.sql import functions as F

    from pliers_spark.pages_pipeline import extract_page_features_arrow

    tiny = spark.range(0, cpus * 4, 1, cpus).select(
        F.concat(F.lit("u"), F.col("id").cast("string")).alias("url"),
        F.lit(None).cast("timestamp").alias("warc_ts"),
        F.lit("en").alias("lang"),
        F.lit("Warm the workers up").alias("text"),
    )
    extract_page_features_arrow(tiny).write.format("noop").mode("overwrite").save()


def start_session(cpus, conf=None, warm=True):
    """Returns (spark, get_spark seconds, worker warm-up seconds)."""
    from pliers_spark.session import get_spark

    local = {"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={TMP} -XX:-UsePerfData"}
    t0 = time.perf_counter()
    spark = get_spark("perfbench", cpus=cpus, extra_conf={**BASE_CONF, **local, **(conf or {})})
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    if warm:
        _warm_workers(spark, cpus)
    return spark, t1 - t0, time.perf_counter() - t1


def shutdown_jvm():
    """Stop the session and the JVM behind it, and wait for the JVM to exit."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


class RssSampler:
    """Peak summed RSS of a process and all its descendants; ``take``
    returns the peak since the last ``take``."""

    def __init__(self, root_pid, interval=0.1):
        self.root, self.interval, self.peak = root_pid, interval, 0
        self._stop = threading.Event()
        self._lock = threading.Lock()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss(self):
        children = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
        total, todo = 0, [self.root]
        while todo:
            pid = todo.pop()
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except OSError:
                pass
            todo.extend(children.get(pid, []))
        return total

    def _run(self):
        while True:
            rss = self._tree_rss()
            with self._lock:
                self.peak = max(self.peak, rss)
            if self._stop.wait(self.interval):
                return

    def take(self):
        with self._lock:
            peak, self.peak = self.peak, 0
        return peak

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def jvm_pid():
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def gc_seconds(spark):
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1000.0


# ---------------------------------------------------------------- jobs


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def flagship(spark, path, threshold):
    from pliers_spark.pages_pipeline import pages_flagship

    return pages_flagship(spark, path, spine_step_hours=SPINE_STEP_HOURS,
                          heavy_hitter_threshold=threshold)


def checkpointed(spark, path, out_dir, fail_after=None):
    """The composition ``tools/submit_job.py --checkpoint`` runs:
    CheckpointedRun.run(extract_page_features_arrow) -> windowed_page_features
    -> resample_grid -> asof_join. Returns the result DataFrame; the
    extraction has run (and been checkpointed) by the time it returns."""
    from pyspark.sql import functions as F

    from pliers_spark.operators import temporal as TP
    from pliers_spark.operators.asof import asof_join
    from pliers_spark.pages_pipeline import extract_page_features_arrow, windowed_page_features
    from pliers_spark.plans.checkpoint import CheckpointedRun

    ck = CheckpointedRun(stage_id="extract_v1", out_dir=out_dir, num_buckets=CK_BUCKETS)
    ck.run(spark, spark.read.parquet(path), extract_page_features_arrow,
           F.pmod(F.xxhash64("url"), F.lit(CK_BUCKETS)).cast("int"), fail_after=fail_after)
    feats = windowed_page_features(ck.read_output(spark))
    spine = TP.resample_grid(
        spark.read.parquet(path).select("url", "warc_ts"), ["url"], "warc_ts",
        SPINE_STEP_HOURS * 3600,
    ).withColumnRenamed("warc_ts", "t")
    value_cols = [c for c in feats.columns if c not in ("url", "warc_ts")]
    return asof_join(spine, feats, ["url"], "t", "warc_ts", value_cols)


def interrupt(spark, path, out_dir):
    """Run the checkpointed job into an empty dir and stop it at half the buckets."""
    shutil.rmtree(out_dir, ignore_errors=True)
    try:
        checkpointed(spark, path, out_dir, fail_after=CK_BUCKETS // 2)
    except RuntimeError as e:
        if "simulated failure" in str(e):
            return
        raise
    raise RuntimeError("the interrupted run did not stop at fail_after")


# ---------------------------------------------------------------- run


class Run:
    def __init__(self, args):
        import pyarrow.parquet as pq

        import gen
        import gate

        self.args = args
        self.threshold = gen.WORKLOADS[args.workload]["heavy_hitter_threshold"]
        self.cpus = len(os.sched_getaffinity(0))
        self.dir = os.path.join(WORK, f"{args.workload}-{args.seed}")
        shutil.rmtree(self.dir, ignore_errors=True)
        os.makedirs(self.dir)
        self.path = gen.pages_path(os.path.join(WORK, "tables"), args.workload, args.seed)
        table = pq.read_table(self.path, columns=["url", "text"])
        self.rows = table.num_rows
        self.sample = gate.sample_urls(table, self.threshold)
        self.attempted = 0
        self.failed = 0
        keys = pq.read_table(self.path, columns=["url", "warc_ts"])
        self.has_ties = keys.group_by(["url", "warc_ts"]).aggregate([]).num_rows < keys.num_rows

    def sub(self, name):
        return os.path.join(self.dir, name)

    def attempt(self, fn, *a):
        """Run one job; a raise counts as a failed run and returns None."""
        self.attempted += 1
        try:
            return fn(*a)
        except Exception:
            self.failed += 1
            log(traceback.format_exc(limit=3))
            return None

    def job(self, spark):
        """One pages_flagship run to the noop sink; returns its wall time."""
        t0 = time.perf_counter()
        noop(flagship(spark, self.path, self.threshold))
        return time.perf_counter() - t0

    # -- correctness gate

    def gate_run(self, spark):
        """Untimed work in the fresh JVM, run concurrently: write one
        pages_flagship output and recompute the sample's features with the
        JVM twin. Then check the output. Being the first jobs in the JVM,
        these also warm its JIT for the timed runs."""
        from concurrent.futures import ThreadPoolExecutor

        from pyspark.sql import functions as F

        from pliers_spark.pages_pipeline import extract_page_features

        pages = spark.read.parquet(self.path)
        with ThreadPoolExecutor(max_workers=2) as pool:
            futures = [
                pool.submit(lambda: flagship(spark, self.path, self.threshold)
                            .write.mode("overwrite").parquet(self.sub("output"))),
                pool.submit(lambda: extract_page_features(pages.where(F.col("url").isin(self.sample)))
                            .write.mode("overwrite").parquet(self.sub("reference"))),
            ]
            for f in futures:
                f.result()
        self.check(self.sub("output"))

    def check(self, out):
        import gate

        problems = gate.check(out, self.path, self.sub("reference"), self.sample)
        log(f"gate on {os.path.basename(out)}: {len(self.sample)} sampled urls, "
            f"problems: {problems or 'none'}")
        if problems:
            raise AssertionError("; ".join(problems))

    def check_resumed(self):
        """The gate on the resumed output, and its hash against the
        uninterrupted output's."""
        import gate

        out = self.sub("resumed_output")
        self.check(out)
        if not self.has_ties:
            a, b = gate.order_hash(self.sub("output")), gate.order_hash(out)
            if a != b:
                raise AssertionError(f"resumed output (rows, hash) {b} != uninterrupted {a}")

    # -- phases

    def cold(self):
        """Launch the JVM and run the gate; the gate run boots the workers."""
        spark, self.cold_s, _ = start_session(self.cpus, warm=False)
        log(f"cold session {self.cold_s:.2f}s")
        self.attempt(self.gate_run, spark)
        log("gate run done")
        return spark

    def restart(self, conf=None):
        from pyspark.sql import SparkSession

        SparkSession.getActiveSession().stop()
        spark, start, warm = start_session(self.cpus, conf)
        self.setups.append((start, warm))
        log(f"set-up {start:.2f}s + worker warm-up {warm:.2f}s")
        return spark

    def measure(self):
        """The timed jobs follow the gate run and one untimed job in the
        same session, and the session set-ups come after them, so no timed
        job is among the first, JIT-cold ones of its JVM or session."""
        self.setups = []
        spark = self.cold()
        self.attempt(self.job, spark)
        walls = []
        deadline = time.perf_counter() + self.args.seconds
        while (len(walls) < MIN_SAMPLES or time.perf_counter() < deadline) \
                and self.failed <= MIN_SAMPLES:
            w = self.attempt(self.job, spark)
            if w is not None:
                walls.append(w)
        log(f"job walls {[round(w, 3) for w in walls]}")
        if not walls:
            raise SystemExit("no job run completed")
        for _ in range(RESTARTS):
            self.restart()
        setup = [s + w for s, w in self.setups]
        return {
            "pages_per_sec": (self.rows / median(walls), "pages/s", len(walls)),
            "setup_s": (median(setup), "s", len(setup)),
        }

    def trace(self):
        """The traced run: per-layer metrics from plan prefixes, spans and the event log."""
        import trace as tr
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from pliers_spark.operators import temporal as TP
        from pliers_spark.operators.asof import detect_heavy_hitters
        from pliers_spark.pages_pipeline import extract_page_features_arrow, windowed_page_features
        from pliers_spark.plans.leakage import assert_leakage_free

        self.setups = []
        self.cold()
        # untraced reference for the tracing overhead
        spark = self.restart()
        self.attempt(self.job, spark)  # the first job after a restart is slower; not compared
        with RssSampler(jvm_pid()) as rss:
            rss.take()
            untraced = [w for w in (self.attempt(self.job, spark) for _ in range(TRACE_REPS)) if w]
            peak_rss = rss.take()
        events = self.sub("eventlog")
        os.makedirs(events)
        spark = self.restart({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + events,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
        spans = tr.Spans(spark)
        pages = spark.read.parquet(self.path)
        counts, gc = {}, []

        def counted(df, key):
            obs = Observation(key)
            return df.observe(obs, F.count(F.lit(1)).alias("n")), obs

        def prefix(name, build, key=None):
            """Run one plan prefix to the noop sink; ``build`` is timed too,
            as pages_flagship runs its census while building the plan."""
            with spans.span(name):
                df = build()
                if key:
                    df, obs = counted(df, key)
                noop(df)
            if key:
                counts.setdefault(key, []).append(obs.get["n"])

        with spans.span("census"):
            hot = len(detect_heavy_hitters(pages.select("url"), ["url"], self.threshold).collect())
        skew = hot > 0
        for rep in range(TRACE_REPS):
            with spans.span("rep"):
                prefix("scan", lambda: pages.select("url", "warc_ts", "text"))
                with spans.span("census.take"):
                    detect_heavy_hitters(pages.select("url"), ["url"], self.threshold).take(1)
                prefix("extract", lambda: extract_page_features_arrow(pages), "extract.rows_out")
                feats = windowed_page_features(extract_page_features_arrow(pages), skew_safe=skew)
                prefix("windows", lambda: feats)
                with spans.span("leakage"):
                    assert_leakage_free(feats)
                prefix("spine", lambda: TP.resample_grid(
                    pages.select("url", "warc_ts"), ["url"], "warc_ts", SPINE_STEP_HOURS * 3600),
                    "spine.rows")
                g0 = gc_seconds(spark)
                prefix("full", lambda: flagship(spark, self.path, self.threshold), "asof.rows_out")
                gc.append(gc_seconds(spark) - g0)
        bucket_walls, rerun = checkpoint_probe(self, spark, spans)
        self.attempt(self.check_resumed)
        traced = spans.durations("full")
        # extraction-stage UDF profile, an artifact and not a metric
        spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
        with spans.span("profile"):
            noop(extract_page_features_arrow(pages))
        spark.conf.unset("spark.sql.pyspark.udf.profiler")
        prof_dir = self.sub("udf_profile")
        spark.profile.dump(prof_dir)
        shutdown_jvm()
        spans.dump(self.sub("spans.json"))
        logs = [os.path.join(events, f) for f in os.listdir(events)]
        per_span = tr.parse_event_log(logs[0])
        top5 = tr.top_functions(prof_dir)
        with open(self.sub("udf_profile_top5.json"), "w") as f:
            json.dump(top5, f, indent=1)

        def d(name):
            return median(spans.durations(name))

        def ev(span, key):
            return per_span.get(span, {}).get(key, 0.0) / TRACE_REPS

        def own(key):  # the as-of join's part of the full job
            return ev("full", key) - sum(ev(p, key) for p in ("census.take", "windows", "spine"))

        metrics = {
            "session.cold_s": (self.cold_s, "s"),
            "session.start_s": (median([s for s, _ in self.setups]), "s"),
            "session.worker_warm_s": (median([w for _, w in self.setups]), "s"),
            "scan.s": (d("scan"), "s"),
            "scan.rows": (ev("scan", "records_read"), "count"),
            "scan.bytes_read": (ev("scan", "files_read_bytes"), "bytes"),
            "census.s": (d("census.take"), "s"),
            "census.hot_urls": (hot, "count"),
            "extract.s": (d("extract") - d("scan"), "s"),
            "extract.rows_out": (median(counts["extract.rows_out"]), "count"),
            # summed over the stage's tasks, as Spark reports them
            "extract.py_run_s": (ev("extract", "py_run_ms") / 1000, "s"),
            "extract.py_boot_s": ((ev("extract", "py_start_ms") + ev("extract", "py_init_ms")) / 1000, "s"),
            "extract.py_bytes_sent": (ev("extract", "py_bytes_sent"), "bytes"),
            "extract.py_bytes_received": (ev("extract", "py_bytes_received"), "bytes"),
            "windows.s": (d("windows") - d("extract"), "s"),
            "windows.shuffle_write_bytes": (ev("windows", "shuffle_write_bytes"), "bytes"),
            "windows.spill_bytes": (ev("windows", "spill_bytes"), "bytes"),
            "leakage.audit_s": (d("leakage"), "s"),
            "spine.s": (d("spine"), "s"),
            "spine.rows": (median(counts["spine.rows"]), "count"),
            "asof.s": (d("full") - d("census.take") - d("windows") - d("leakage") - d("spine"), "s"),
            "asof.rows_out": (median(counts["asof.rows_out"]), "count"),
            "asof.shuffle_write_bytes": (own("shuffle_write_bytes"), "bytes"),
            "asof.spill_bytes": (own("spill_bytes"), "bytes"),
            "checkpoint.bucket_s": (median(bucket_walls), "s"),
            "checkpoint.extract_passes_per_bucket": (
                per_span["ck.run"].get("py_executions", 0) / len(bucket_walls), "count"),
            "checkpoint.scan_bytes_per_input_byte": (
                per_span["ck.run"].get("files_read_bytes", 0.0) / os.path.getsize(self.path), "ratio"),
            "checkpoint.bytes_written": (per_span["ck.run"].get("bytes_written", 0.0), "bytes"),
            "checkpoint.rerun_buckets": (rerun, "count"),
            "checkpoint.resume_s": (d("ck.resume"), "s"),
            "jvm.gc_s": (median(gc), "s"),
            "process.peak_rss_mb": (peak_rss / 2**20, "MB"),
            "trace.pages_per_sec": (self.rows / median(traced), "pages/s"),
            "trace.overhead": (median(traced) / median(untraced) - 1.0, "share"),
        }
        log(f"spans: {self.sub('spans.json')}  event log: {logs[0]}")
        log(f"extraction UDF profile, top 5 by own time: {self.sub('udf_profile_top5.json')}")
        for row in top5:
            log(f"  {row['tottime_s']:>8.3f}s  {row['calls']:>9}  {row['function']}")
        return {k: (v, u, 1) for k, (v, u) in metrics.items()}



def checkpoint_probe(r, spark, spans):
    """The checkpoint layer, traced: the checkpointed job into an empty dir,
    then stopped at half its buckets and resumed until its complete result
    is written. Returns the per-bucket wall times of the full run and the
    number of buckets the resume ran again although they were done."""
    import duckdb

    full, part = r.sub("probe_full"), r.sub("probe_resume")
    with spans.span("ck.run"):
        checkpointed(spark, r.path, full)
    with spans.span("ck.interrupt"):
        interrupt(spark, r.path, part)
    with spans.span("ck.resume"):
        checkpointed(spark, r.path, part).write.mode("overwrite").parquet(r.sub("resumed_output"))
    con = duckdb.connect()
    try:
        walls = [w / 1000 for (w,) in con.sql(
            f"SELECT wall_ms FROM read_parquet('{full}/_manifest/*.parquet')").fetchall()]
        rerun = con.sql(f"""
            SELECT count(*) FROM (SELECT partition_key FROM read_parquet('{part}/_manifest/*.parquet')
            WHERE status = 'done' GROUP BY partition_key HAVING count(*) > 1)""").fetchone()[0]
    finally:
        con.close()
    return walls, rerun


def report(workload, metrics, attempted, failed):
    print(f"[{workload}] runs attempted {attempted}, failed {failed} "
          f"(error_rate {failed / max(attempted, 1):.3f})")
    for name, (value, unit, n) in metrics.items():
        print(f"[{workload}] {name:<40} {value:>16.6g} {unit:<8} n={n}")


def run_workload(workload, seed, seconds, trace, stderr=None):
    """One benchmark run in its own process, from the repository root.
    Returns its standard output and its JSON result (None if it printed none)."""
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=stderr, text=True)
    lines = proc.stdout.strip().splitlines()
    ok = proc.returncode == 0 and bool(lines)
    return proc.stdout, json.loads(lines[-1]) if ok else None


def run_all(args):
    """Every workload in its own process; prints each one's metrics."""
    import gen

    ok = True
    for w in gen.WORKLOADS:
        out, result = run_workload(w, args.seed, args.seconds, args.trace)
        print(out, end="", flush=True)
        ok &= result is not None and result["correct"]
    return 0 if ok else 1


def main(argv=None):
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=9)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    os.makedirs(TMP, exist_ok=True)
    os.environ.update(SPARK_LOCAL_DIRS=TMP, TMPDIR=TMP)
    sys.path.insert(0, ROOT)
    import pliers_spark.pages_pipeline  # noqa: F401  (fail fast without the package)

    if args.workload == "all":
        return run_all(args)
    run = Run(args)
    try:
        metrics = run.trace() if args.trace else run.measure()
    finally:
        shutdown_jvm()
        log("JVM stopped")
    report(args.workload, metrics, run.attempted, run.failed)
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u, _) in metrics.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
