"""Extraction benchmark for the flagship pipeline (``stages.run_extraction``).

Usage, from the repository root::

    python3 perfbench/run.py --workload crawl_resume --seed 1 --seconds 12 --trace 0

One driver process runs Spark at ``local[<cores>]``; Spark is the only
source of parallelism. A run

1. sets up (``session.build_session``, seeded input generation, workload
   set-up, one untimed pass of the pipeline over the inputs);
2. with ``--trace 0`` repeats the workload's timed job at ``local[<cores>]``
   in two halves of ``--seconds``/2 each, the second after a fresh set-up,
   with the host canary before every job; between the halves it sets up at
   ``local[1]`` and times the same job three times for ``scaling_eff_1to4``.
   ``setup_s`` is the median of the three set-ups. Every job's output is
   checked;
3. with ``--trace 1`` instead alternates untraced and traced jobs, runs the
   layer probes and prints the per-layer metrics.

The last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; lines before it record
the run environment and the raw samples. Work files go under
``.perfbench_work/`` in the current directory.
"""

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench_work")
MIN_JOBS = 3  # per half of the timed jobs
SCALING_JOBS = 3
# about one pass of the host canary on a quiet 4-vCPU x86 VM; see probe.py
CANARY_REF_S = 0.2
CANARY_PASSES = 2  # before each timed job: one pass alone spreads +-20%
MB = 1e6
# end-to-end metric -> unit (printed with --trace 0, listed in BENCHMARK.json)
E2E_UNITS = {
    "docs_per_s": "docs/s",
    "mb_per_s": "MB/s",
    "scaling_eff_1to4": "ratio",
    "setup_s": "s",
    "peak_rss_mb": "MB",
}

# name -> (corpus kind, documents or pages, parquet row-group rows)
WORKLOADS = {
    # ~32 KB tag-heavy pages, all payloads distinct: the Python HTML kernel
    # dominates the job, and dedup collapses nothing
    "large_pages": ("large", 96, 16),
    # ~700 B template pages at dup 0.5 + ~1% invalid rows, half the urls
    # already committed: per-row Spark cost, the resume anti-join, dedup
    # that collapses work, P1 drops and the checkpoint commit
    "crawl_resume": ("crawl", 2_000, 500),
}


def _isolate(work: str) -> None:
    """Keep every file Spark, the JVM and Python write under ``work``."""
    tmp = os.path.join(work, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)  # what earlier runs' JVMs left
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_WAREHOUSE_DIR"] = os.path.join(work, "warehouse")
    os.environ["JDK_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_DRIVER_MEM"] = "2g"


def _require_program() -> None:
    sys.path.insert(0, ROOT)
    try:
        import legal_document_ocr_spark.stages  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not importable from {ROOT}: {e}", file=sys.stderr)
        sys.exit(2)


class Tracer:
    """In-memory spans (name, start, end, parent index); a no-op when disabled."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        rec = {"name": name, "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter() - T_PROCESS, **attrs}
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - T_PROCESS


class Bench:
    """One run of one workload: inputs, Spark session, timed job, checks."""

    def __init__(self, workload: str, seed: int, tracer: Tracer) -> None:
        from perfbench import gen

        self.gen = gen
        self.kind, self.size, self.row_group = WORKLOADS[workload]
        self.seed = seed
        self.tracer = tracer
        self.dir = os.path.join(WORK, workload)
        self.spark = None
        self.jobs = 0

    # -- set-up ---------------------------------------------------------------
    def _corpus(self):
        g = self.gen
        if self.kind == "large":
            return g.large_pages(self.seed, self.size)
        return g.template_pages(self.seed, self.size, dup_rate=0.5, invalid_rate=0.01)

    def setup(self, master: str) -> float:
        """Session + inputs + warm-up; returns its wall seconds."""
        t0 = time.perf_counter()
        self.start(master)
        self.prepare()
        self.warm_up()
        return time.perf_counter() - t0

    def start(self, master: str) -> None:
        from legal_document_ocr_spark import stages
        from legal_document_ocr_spark.session import build_session

        self.stop()
        with self.tracer.span("session.build_session", master=master):
            self.spark = build_session(app_name="perfbench", master=master)
            self.spark.sparkContext.setLogLevel("ERROR")
        # A pandas UDF caches its JVM function on first use, bound to that
        # SparkContext's accumulator server; after a restart in the same
        # process every task would report to the dead server. Rebind.
        for name in dir(stages):
            udf = getattr(getattr(stages, name), "_unwrapped", None)
            if udf is not None:
                udf._judf_placeholder = None

    def prepare(self) -> None:
        """Generate the inputs and write them, with the expected text."""
        from pyspark.sql import functions as F

        if os.path.isdir(self.dir):
            shutil.rmtree(self.dir)
        with self.tracer.span("generate"):
            corpus = self._corpus()
            self.pages_path, self.expected_path = self.gen.write_corpus(
                corpus, self.dir, "pages", self.row_group
            )
            valid = corpus.valid_indexes()
            self.rows = corpus.rows
            self.valid_rows = len(valid)
            self.valid_bytes = corpus.valid_html_bytes()
            self.html_sample = [corpus.html[i] for i in valid]
            if self.kind == "crawl":
                # the seeded half of the valid urls that set-up commits
                half = random.Random(self.seed + 1).sample(valid, len(valid) // 2)
                self.half_path, _ = self.gen.write_corpus(
                    corpus.subset(sorted(half)), self.dir, "half", self.row_group
                )
        self.pages = self.spark.read.parquet(self.pages_path)
        self.expected = self.spark.read.parquet(self.expected_path)
        row = self.expected.agg(F.count("*"), F.sum(_text_hash("expected"))).first()
        self.expected_sum = (row[0], row[1])

    def warm_up(self) -> None:
        """Run the pipeline once untimed: starts the Python workers the timed
        job uses and compiles its plan. For crawl_resume this is the set-up
        commit of half the valid urls into a fresh checkpoint store."""
        from legal_document_ocr_spark.scale.checkpoint import CheckpointStore
        from legal_document_ocr_spark.stages import run_extraction

        with self.tracer.span("warm_up"):
            if self.kind == "crawl":
                self.base_store = os.path.join(self.dir, "store")
                CheckpointStore(self.base_store).commit(
                    run_extraction(self.spark.read.parquet(self.half_path))
                )
            else:
                run_extraction(self.pages).write.format("noop").mode("overwrite").save()

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    # -- the timed job ----------------------------------------------------------
    def job(self):
        """Run the timed job once -> (wall seconds, check), where ``check()``
        returns the rows wrong, missing or extra."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from legal_document_ocr_spark.scale.checkpoint import CheckpointStore
        from legal_document_ocr_spark.stages import run_extraction

        self.jobs += 1
        if self.kind == "crawl":
            store_dir = os.path.join(self.dir, f"resume-{self.jobs}")
            shutil.copytree(self.base_store, store_dir)
            store = CheckpointStore(store_dir)
            t0 = time.perf_counter()
            with self.tracer.span("job", kind="resume"):
                with self.tracer.span("stages.run_extraction"):
                    out = run_extraction(self.pages, checkpoint=store)
                with self.tracer.span("CheckpointStore.commit"):
                    store.commit(out)
            dt = time.perf_counter() - t0
            self._mark_timed_end()
            self.last_store = store
            return dt, lambda: self.check_store(store)
        obs = Observation(f"check{self.jobs}")
        t0 = time.perf_counter()
        with self.tracer.span("job", kind="noop"):
            with self.tracer.span("stages.run_extraction"):
                out = run_extraction(self.pages, dedup=True, with_fields=True)
            out.observe(obs, F.count("*"), F.sum(_text_hash("extracted_text"))).write.format(
                "noop"
            ).mode("overwrite").save()
        dt = time.perf_counter() - t0
        self._mark_timed_end()
        got = tuple(obs.get.values())
        return dt, lambda: 0 if got == self.expected_sum else self.check_rows(out)

    def _mark_timed_end(self) -> None:
        """Traced runs: remember the last SQL execution of the timed call."""
        if self.tracer.enabled:
            from perfbench import sqlmetrics

            self.timed_upto = sqlmetrics.last_execution_id(self.spark)

    # -- output checks ------------------------------------------------------------
    def check_rows(self, out) -> int:
        """Full outer join on url against the expected text: rows wrong,
        missing or extra (duplicated urls count once per extra copy)."""
        from pyspark.sql import functions as F

        got = out.select("url", "extracted_text")
        joined = got.join(self.expected, "url", "full_outer")
        row = joined.agg(
            F.sum(
                (~F.col("extracted_text").eqNullSafe(F.col("expected"))).cast("long")
            ).alias("bad"),
            F.count("*").alias("n"),
            F.countDistinct("url").alias("urls"),
        ).first()
        return int(row["bad"] or 0) + (row["n"] - row["urls"])

    def check_store(self, store) -> int:
        """Resume result: committed runs hold every valid url once with the
        expected text, no invalid row, and manifests add up to the valid
        count. A checksum first; the full outer join only when it differs."""
        from pyspark.sql import functions as F

        results = store.read_results(self.spark)
        n, urls, digest = results.agg(
            F.count("*"), F.countDistinct("url"), F.sum(_text_hash("extracted_text"))
        ).first()
        off = abs(sum(m["total_rows"] for m in store.manifests()) - self.valid_rows)
        if (n, digest) == self.expected_sum and urls == n:
            return off
        return off + self.check_rows(results)


def _text_hash(col: str):
    from pyspark.sql import functions as F

    # decimal sum: a bigint sum of full-range hashes overflows under ANSI
    return F.xxhash64(F.col("url"), F.col(col)).cast("decimal(38,0)")


def _jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


def shutdown_jvm() -> None:
    """Stop the py4j gateway JVM and wait for it, so no process outlives the run."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = gw.proc
    try:
        gw.shutdown()
    finally:
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def timed_loop(bench: Bench, seconds: float, min_jobs: int, out: dict, host: bool) -> None:
    """Repeat the job for ``seconds``, at least ``min_jobs`` times, adding
    each timed job's wall time to ``out``. With ``host`` it also adds the
    host canary times just before the job and the driver tree's peak RSS
    during it, the JVM heap collected first so that every job starts from
    the same heap. Over all jobs it counts the attempts, the rows
    wrong/missing/extra and the jobs that raised. Every job is checked."""
    from perfbench import probe

    t_end = time.perf_counter() + seconds
    n = failed = 0
    while n + failed < min_jobs or time.perf_counter() < t_end:
        if host:
            bench.spark._jvm.System.gc()
            canary = [probe.host_canary_s(bench.spark) for _ in range(CANARY_PASSES)]
            probe.reset_peak_rss(probe.process_tree(_jvm_pid(bench.spark)))
        out["attempted"] += 1
        try:
            dt, check = bench.job()
            out["bad"] += check()
        except Exception:
            traceback.print_exc()
            failed += 1
            if failed >= min_jobs:
                break
            continue
        n += 1
        out["times"].append(dt)
        if host:
            out["canary"].extend(canary)
            # workers started during the job count from their own start
            out["rss_mb"].append(probe.peak_rss_mb(probe.process_tree(_jvm_pid(bench.spark))))
    out["failed"] += failed


def run_e2e(bench: Bench, seconds: float, cores: int) -> dict:
    """Three set-ups. After the first (timed from process start) and the
    third, half of the timed jobs each run at local[cores]; after the second,
    at local[1], the scaling jobs. Splitting the timed jobs over the run
    keeps one slow minute of a shared host from deciding the median."""
    from perfbench import probe

    main = {"times": [], "canary": [], "rss_mb": [], "attempted": 0, "bad": 0, "failed": 0}
    one = {"times": [], "attempted": 0, "bad": 0, "failed": 0}
    bench.setup(f"local[{cores}]")
    setups = [time.perf_counter() - T_PROCESS]
    for _ in range(2):  # the canary's own first passes compile its code
        probe.host_canary_s(bench.spark)
    timed_loop(bench, seconds / 2, MIN_JOBS, main, host=True)
    setups.append(bench.setup("local[1]"))
    timed_loop(bench, 0, SCALING_JOBS, one, host=False)
    setups.append(bench.setup(f"local[{cores}]"))
    timed_loop(bench, seconds / 2, MIN_JOBS, main, host=True)

    times, times1 = main["times"], one["times"]
    bad, failed = main["bad"] + one["bad"], main["failed"] + one["failed"]
    # with no successful job the rates read 0 (and ``correct`` is false)
    t_n = statistics.median(times) if times else math.inf
    t_1 = statistics.median(times1) if times1 else 0.0
    # seconds on this host -> seconds on the reference host
    slowdown = statistics.median(main["canary"]) / CANARY_REF_S if times else 1.0
    print(json.dumps({"samples": {
        "setup_s": setups, "job_s": times, "job_s_local1": times1,
        "canary_s": main["canary"], "rss_mb": main["rss_mb"],
        "host_slowdown": slowdown, "wall_docs_per_s": bench.valid_rows / t_n,
        "mismatched_rows": bad,
        "expected_rows": bench.valid_rows * (main["attempted"] + one["attempted"] - failed),
    }}))
    metrics = {
        "docs_per_s": bench.valid_rows * slowdown / t_n,
        "mb_per_s": bench.valid_bytes / MB * slowdown / t_n,
        "scaling_eff_1to4": t_1 / (cores * t_n),
        "setup_s": statistics.median(setups) / slowdown,
        "peak_rss_mb": max(main["rss_mb"], default=0.0),
    }
    return {
        "correct": bad == 0 and failed == 0,
        "attempted": main["attempted"] + one["attempted"],
        "failed": failed,
        "metrics": {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in metrics.items()},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    _require_program()
    _isolate(WORK)
    from perfbench import probe

    cores = probe.cores()
    env = {
        "workload": args.workload, "seed": args.seed, "nproc": cores,
        "master": f"local[{cores}]", "loadavg_before": probe.loadavg(), **probe.versions(),
    }
    tracer = Tracer(enabled=bool(args.trace))
    bench = Bench(args.workload, args.seed, tracer)
    try:
        if args.trace:
            from perfbench import layers

            result = layers.run_traced(bench, cores, env)
        else:
            result = run_e2e(bench, args.seconds, cores)
    finally:
        bench.stop()
        shutdown_jvm()
    env["loadavg_after"] = probe.loadavg()
    print(json.dumps({"env": env}))
    if tracer.enabled:
        path = os.path.join(WORK, f"trace-{args.workload}-{args.seed}.json")
        with open(path, "w") as f:
            json.dump({"env": env, "spans": tracer.spans}, f, indent=1)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
