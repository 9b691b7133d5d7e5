"""Spark session and the timed job of each benchmark workload.

Every workload is a closed loop of one job at a time. ``JOBS[name]``
gives the job, which returns a small summary, and ``CHECKS[name]`` the
check of that summary (plus anything the job wrote) against the
generator's expectations. ``interleaved_onefile`` is no workload of its
own: html_bulk's traced run runs its job over html_bulk's interleaved
table. Checks read outputs back through Spark but
never through the code under test.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession, functions as F

SALT_PER_SLOT = 4  # --salt-partitions = 4 x slots in the planted-skew probe
NUM_BUCKETS = 16  # run_extraction's resume buckets


def slots() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory_mb() -> int:
    """A quarter of the machine's RAM, at most 3 GB."""
    with open("/proc/meminfo") as f:
        total_kb = int(f.readline().split()[1])
    return max(512, min(3072, total_kb // 4096))


def make_session(
    work: str, nslots: int | None = None, event_log: str | None = None
) -> SparkSession:
    """A ``local[nslots]`` session that keeps all its files under ``work``."""
    n = nslots or slots()
    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    b = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("spark-swish-perfbench")
        .config("spark.driver.memory", f"{driver_memory_mb()}m")
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={local} -XX:-UsePerfData")
        .config("spark.local.dir", local)
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", str(2 * n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2000")
    )
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", event_log)
            .config("spark.eventLog.compress", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    return gw.proc.pid if gw is not None and getattr(gw, "proc", None) else None


def stop_session(spark: SparkSession) -> None:
    """Stop the session and its JVM, and wait until the JVM has exited,
    so the next session starts a fresh JVM."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def load_plants(inp: str) -> dict:
    with open(os.path.join(inp, "plants.json")) as f:
        return json.load(f)


# --- jobs -----------------------------------------------------------------
# job(spark, src, out_dir) -> summary dict. ``src`` is the parquet table
# the job reads (a directory or a list of files), ``out_dir`` is fresh
# per repetition.


def _read(spark: SparkSession, src) -> DataFrame:
    return spark.read.parquet(*src) if isinstance(src, list) else spark.read.parquet(src)


def _extract_job(spark, src, out, salt=False):
    from libswish3_spark.pipeline import salt_by_size
    from libswish3_spark.plans.checkpoint import run_extraction

    docs = _read(spark, src)
    if salt:
        docs = salt_by_size(docs, SALT_PER_SLOT * spark.sparkContext.defaultParallelism)
    run_extraction(spark, docs, out, num_buckets=NUM_BUCKETS)
    return {"out": out}


def job_html_bulk(spark, src, out):
    return _extract_job(spark, src, out)


def job_salted(spark, src, out):
    """salt_by_size + run_extraction, as submit_extract.py's
    --salt-partitions composes them."""
    return _extract_job(spark, src, out, salt=True)


def interleaved_stages(spark: SparkSession, src, expect: DataFrame):
    """The interleaved table's job as two lazily composed stages: the
    extracted per-document fields the generator predicts, and their join
    to ``expect`` aggregated to one row. No sink."""
    from libswish3_spark.pipeline import extract

    def extracted() -> DataFrame:
        media = F.filter("spans", lambda s: s["kind"] == F.lit("media"))
        return extract(_read(spark, src)).select(
            "doc_id",
            "nwords",
            F.array_join(F.transform(media, lambda s: s["media_ref"]), "|").alias("refs"),
            "error",
        )

    def compare(got: DataFrame) -> dict:
        e = expect.select(
            "doc_id",
            F.col("nwords").alias("e_nwords"),
            F.col("refs").alias("e_refs"),
            F.col("error").alias("e_error"),
        )
        bad = (
            (F.col("nwords") != F.col("e_nwords"))
            | (F.col("refs") != F.col("e_refs"))
            | ~F.col("error").eqNullSafe(F.col("e_error"))
            | F.col("e_nwords").isNull()
        )
        row = (
            got.join(F.broadcast(e), "doc_id", "left")
            .agg(
                F.count("*").alias("rows"),
                F.sum(F.when(bad, 1).otherwise(0)).alias("mismatches"),
                F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0)).alias("errors"),
            )
            .collect()[0]
        )
        return row.asDict()

    return extracted, compare


def job_interleaved_onefile(spark, src, out, expect: DataFrame):
    extracted, compare = interleaved_stages(spark, src, expect)
    return compare(extracted())


def neardup_stages(spark: SparkSession, src: str):
    """The near-dup chain as named, lazily composed stages."""
    from libswish3_spark.functions import dedup as D
    from libswish3_spark.operators.signatures import build_minhash_bucket_index

    docs = _read(spark, src)
    index = lambda: build_minhash_bucket_index(docs, "doc_id", "text")  # noqa: E731
    cands = lambda idx: D.candidate_pairs_from_buckets(idx, pairs="auto")  # noqa: E731
    verify = lambda c: D.jaccard_verify(docs, c, "doc_id", "text", threshold=0.5)  # noqa: E731
    resolve = D.resolve_clusters

    def apply(clusters, out):
        losers = clusters.where(F.col("doc_id") != F.col("keeper")).select("doc_id")
        docs.join(losers, "doc_id", "left_anti").write.mode("overwrite").parquet(out)

    return index, cands, verify, resolve, apply


def job_neardup_chain(spark, src, out):
    index, cands, verify, resolve, apply = neardup_stages(spark, src)
    apply(resolve(verify(cands(index()))), out)
    return {"out": out}


def _noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def warm_extract(spark, src):
    from libswish3_spark.pipeline import extract

    _noop(extract(_read(spark, src)))


def warm_neardup(spark, src):
    from libswish3_spark.operators.signatures import build_minhash_bucket_index

    _noop(build_minhash_bucket_index(_read(spark, src), "doc_id", "text"))


WARM = {
    "html_bulk": warm_extract,
    "interleaved_onefile": warm_extract,
    "neardup_chain": warm_neardup,
}

JOBS = {
    "html_bulk": job_html_bulk,
    "interleaved_onefile": job_interleaved_onefile,
    "neardup_chain": job_neardup_chain,
}


# --- checks ---------------------------------------------------------------
# check(runner, summary) -> None, raising CheckFailed.


class CheckFailed(Exception):
    pass


def _expect(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


def _fingerprint(df: DataFrame) -> tuple[int, int]:
    """(rows, sum of per-row xxhash64) of (doc_id, nwords, title,
    description): equal for two tables with the same rows in any order."""
    h = F.xxhash64("doc_id", F.col("nwords").cast("long"), "title", "description")
    row = df.agg(F.count("*"), F.sum(h.cast("decimal(38,0)"))).collect()[0]
    return row[0], row[1]


def check_html_bulk(runner, summary):
    got = _fingerprint(
        runner.spark.read.parquet(os.path.join(summary["out"], "data")).select(
            "doc_id",
            "nwords",
            F.element_at("properties", "swishtitle").alias("title"),
            F.element_at("properties", "swishdescription").alias("description"),
        )
    )
    want = runner.expect
    _expect(got[0] == want[0], f"rows {got[0]} != {want[0]}")
    _expect(got[1] == want[1], "per-document nwords/title/description differ from the oracle")
    man = runner.spark.read.parquet(os.path.join(summary["out"], "_manifest"))
    n = man.agg(F.sum("docs")).collect()[0][0]
    docs = runner.plants["docs"]
    _expect(n == docs, f"manifest counts {n} docs, expected {docs}")


def check_interleaved_onefile(runner, summary):
    plants = runner.plants
    _expect(summary["rows"] == plants["docs"], f"rows {summary['rows']} != {plants['docs']}")
    _expect(summary["mismatches"] == 0, f"{summary['mismatches']} documents differ")
    _expect(
        summary["errors"] == plants["expected_errors"],
        f"{summary['errors']} error rows, expected {plants['expected_errors']}",
    )


def check_neardup_chain(runner, summary):
    plants = runner.plants
    row = (
        runner.spark.read.parquet(summary["out"])
        .agg(F.count("*").alias("n"), F.sum(F.length("text")).alias("chars"))
        .collect()[0]
    )
    _expect(
        row["n"] == plants["expected_survivors"],
        f"{row['n']} survivors, oracle {plants['expected_survivors']}",
    )
    _expect(
        row["chars"] == plants["expected_surviving_chars"],
        f"{row['chars']} surviving chars, oracle {plants['expected_surviving_chars']}",
    )


def check_salted(runner, summary):
    """Row count and total words of html_bulk's planted-skew table."""
    row = (
        runner.spark.read.parquet(os.path.join(summary["out"], "data"))
        .agg(F.count("*").alias("n"), F.sum("nwords").alias("words"))
        .collect()[0]
    )
    want = runner.plants["skew"]
    _expect(row["n"] == want["docs"], f"rows {row['n']} != {want['docs']}")
    _expect(
        row["words"] == want["expected_words"],
        f"{row['words']} words, expected {want['expected_words']}",
    )


CHECKS = {
    "html_bulk": check_html_bulk,
    "interleaved_onefile": check_interleaved_onefile,
    "neardup_chain": check_neardup_chain,
}


class Runner:
    """Runs one workload's job, each repetition into a fresh output
    directory that is removed after its check."""

    def __init__(self, spark: SparkSession, workload: str, inp: str, work: str):
        self.spark = spark
        self.workload = workload
        self.inp = inp
        self.work = work
        self.plants = load_plants(inp)
        self.n = 0
        self.expect = None

    def load_expectations(self) -> None:
        """What the checks compare against: html_bulk's oracle
        fingerprint, interleaved_onefile's cached per-document table
        (the job joins it)."""
        path = os.path.join(self.inp, "expect.parquet")
        if self.workload == "html_bulk":
            self.expect = _fingerprint(self.spark.read.parquet(path))
        elif self.workload == "interleaved_onefile":
            self.expect = self.spark.read.parquet(path).cache()
            self.expect.count()

    def _out(self) -> str:
        self.n += 1
        return os.path.join(self.work, f"out-{self.n}")

    def run(self) -> tuple[float, dict]:
        """One job over the input table; returns (wall seconds, summary)."""
        job, out = JOBS[self.workload], self._out()
        src = os.path.join(self.inp, "input")
        t0 = time.perf_counter()
        if self.workload == "interleaved_onefile":
            summary = job(self.spark, src, out, self.expect)
        else:
            summary = job(self.spark, src, out)
        return time.perf_counter() - t0, summary

    def check(self, summary: dict) -> None:
        try:
            CHECKS[self.workload](self, summary)
        finally:
            shutil.rmtree(summary.get("out", ""), ignore_errors=True)

    def warm(self) -> None:
        """The set-up pass: the workload's Python kernels over the small
        warm table (one file per slot), which starts every Python worker
        and fills its per-process memos."""
        WARM[self.workload](self.spark, os.path.join(self.inp, "warm"))


def timed_setup(workload: str, inp: str, work: str, **session_kw):
    """Session start plus the warm pass, timed; then the checks'
    expectations are loaded, untimed. Returns (spark, runner, seconds)."""
    t0 = time.perf_counter()
    spark = make_session(work, **session_kw)
    runner = Runner(spark, workload, inp, work)
    runner.warm()
    seconds = time.perf_counter() - t0
    runner.load_expectations()
    return spark, runner, seconds
