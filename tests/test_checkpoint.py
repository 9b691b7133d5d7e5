"""run_extraction's checkpoint contract on synthetic HTML documents:
resume, the manifest's per-bucket rows (also under task retries), the
bucket-count guard, idempotent reruns, and the session the call leaves
behind."""

import glob
import os
import shutil
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from libswish3_spark.operators.queries import _html_wrap
from libswish3_spark.plans import checkpoint as cp
from test_signatures import SF

MANIFEST = ["bucket", "docs", "words", "errors", "run_id", "num_buckets"]


def _docs(spark, n=None):
    """sf0.001's documents as HTML docs rows; every 7th carries an
    upstream error, which the kernel passes through with nwords 0."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    if n is not None:
        docs = docs.where(F.col("doc_id") < n)
    return _html_wrap(docs).withColumn(
        "error", F.when(F.col("doc_id").cast("long") % 7 == 0, F.lit("fetch failed"))
    )


def _manifest_rows(spark, out):
    return sorted(tuple(r) for r in cp.read_manifest(spark, out).select(*MANIFEST).collect())


def _manifest_files(out):
    return glob.glob(os.path.join(out, "_manifest", "part-*"))


def _grouped_data(spark, out, buckets, run_id="run0", num_buckets=8):
    """The manifest rows ``buckets`` should have: the written data
    grouped by bucket, zero rows for empty buckets."""
    grouped = {
        r["bucket"]: (r["docs"], r["words"], r["errors"])
        for r in cp.read_extracted(spark, out)
        .groupBy("bucket")
        .agg(
            F.count("*").alias("docs"),
            F.sum("nwords").alias("words"),
            F.count("error").alias("errors"),
        )
        .collect()
    }
    return [(b, *grouped.get(b, (0, 0, 0)), run_id, num_buckets) for b in sorted(buckets)]


def test_resume_after_a_died_pass(spark, tmp_path):
    out = str(tmp_path / "x")
    docs = _docs(spark)
    n = docs.count()

    r1 = cp.run_extraction(spark, docs, out, num_buckets=8, buckets_per_pass=3, max_passes=1)
    assert len(r1["processed"]) == 3 and r1["skipped"] == []
    r2 = cp.run_extraction(spark, docs, out, num_buckets=8)
    assert r2["skipped"] == sorted(r1["processed"]) and len(r2["processed"]) == 5
    r3 = cp.run_extraction(spark, docs, out, num_buckets=8)
    assert r3 == {"processed": [], "skipped": list(range(8))}

    data = cp.read_extracted(spark, out)
    assert data.count() == n == data.select("doc_id").distinct().count()
    m = cp.read_manifest(spark, out).agg(F.sum("docs"), F.sum("words"), F.sum("errors"))
    d = data.agg(F.sum("nwords"), F.count("error"))
    assert tuple(m.collect()[0]) == (n, *d.collect()[0])


def test_manifest_rows_are_the_data_grouped_by_bucket(spark, tmp_path):
    """3 documents over 8 buckets: the occupied buckets' rows equal a
    groupBy of the written data, the empty ones get zero rows."""
    out = str(tmp_path / "x")
    cp.run_extraction(spark, _docs(spark, 3), out, num_buckets=8, run_id="r")
    want = _grouped_data(spark, out, range(8), run_id="r")
    assert sum(r[1] for r in want) == 3
    assert sum(r[3] for r in want) == 1  # doc 0
    assert _manifest_rows(spark, out) == want


def test_each_pass_counts_only_its_own_buckets(spark, tmp_path):
    """Three passes over 8 buckets: each pass's manifest file holds
    exactly its chunk's rows, equal to a groupBy of the data, so no
    count carries over from one chunk to the next."""
    out = str(tmp_path / "x")
    r = cp.run_extraction(spark, _docs(spark), out, num_buckets=8, buckets_per_pass=3)
    assert r["processed"] == list(range(8))
    files = _manifest_files(out)
    assert len(files) == 3
    want = _grouped_data(spark, out, range(8))
    got = []
    for f in files:
        rows = sorted(tuple(x) for x in spark.read.parquet(f).select(*MANIFEST).collect())
        assert [x[0] for x in rows] in ([0, 1, 2], [3, 4, 5], [6, 7])
        got += rows
    assert sorted(got) == want


def test_manifest_part_file_schema(spark, tmp_path):
    """Manifest part files keep one exact schema, so manifests appended
    across versions and resumes read as one table."""
    import pyarrow.parquet as pq

    out = str(tmp_path / "x")
    cp.run_extraction(spark, _docs(spark, 20), out, num_buckets=4)
    (f,) = _manifest_files(out)
    assert spark.read.parquet(f).schema.simpleString() == (
        "struct<bucket:int,docs:bigint,words:bigint,errors:bigint,"
        "run_id:string,num_buckets:int>"
    )
    assert [(c.name, str(c.type), c.nullable) for c in pq.read_schema(f)] == [
        ("bucket", "int32", False),
        ("docs", "int64", False),
        ("words", "int64", False),
        ("errors", "int64", False),
        ("run_id", "string", False),
        ("num_buckets", "int32", False),
    ]


def test_extracted_schema_unchanged(spark, tmp_path):
    from libswish3_spark import pipeline

    before = pipeline.EXTRACTED_SCHEMA.json()
    cp.run_extraction(spark, _docs(spark, 10), str(tmp_path / "x"), num_buckets=2)
    assert pipeline.EXTRACTED_SCHEMA.json() == before
    assert "bucket" not in pipeline.EXTRACTED_SCHEMA.fieldNames()


# A session of its own with two task attempts per task. The upstream
# mapInArrow runs in the same (result) stage as the kernel, since the
# input has more files than slots and so is not spread; on each task's
# first attempt it passes one batch on, leaves a marker and raises.
_RETRY_SCRIPT = """
import os, sys
from pyspark import TaskContext
from pyspark.sql import SparkSession
from libswish3_spark.plans.checkpoint import run_extraction

src, out, marks = sys.argv[1:]
spark = (
    SparkSession.builder.master("local[2,2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("OFF")

def flaky(batches):
    ctx = TaskContext.get()
    for i, batch in enumerate(batches):
        if i == 1 and ctx.attemptNumber() == 0:
            open(os.path.join(marks, str(ctx.partitionId())), "w").close()
            raise RuntimeError("injected failure")
        yield batch

docs = spark.read.parquet(src)
run_extraction(spark, docs.mapInArrow(flaky, docs.schema), out, num_buckets=8)
spark.stop()
"""


def test_manifest_exact_under_task_retries(spark, tmp_path):
    """Every task's first attempt fails partway through its partition:
    the manifest still equals the written data grouped by bucket, and
    counts each input document once."""
    src, out, marks = (str(tmp_path / d) for d in ("in", "out", "marks"))
    os.makedirs(marks)
    docs = _docs(spark)
    n = docs.count()
    docs.repartition(4).write.parquet(src)
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(filter(None, [root, env.get("PYTHONPATH")]))
    r = subprocess.run(
        [sys.executable, "-c", _RETRY_SCRIPT, src, out, marks],
        env=env,
        capture_output=True,
        timeout=300,
    )
    assert r.returncode == 0, r.stderr.decode()[-3000:]
    assert len(os.listdir(marks)) >= 2  # the failures did happen
    rows = _manifest_rows(spark, out)
    assert rows == _grouped_data(spark, out, range(8))
    assert sum(row[1] for row in rows) == n


def test_bucket_count_change_raises(spark, tmp_path):
    out = str(tmp_path / "x")
    docs = _docs(spark, 40)
    cp.run_extraction(spark, docs, out, num_buckets=8, buckets_per_pass=3, max_passes=1)
    with pytest.raises(ValueError, match="num_buckets"):
        cp.run_extraction(spark, docs, out, num_buckets=16)
    r = cp.run_extraction(spark, docs, out, num_buckets=8)
    assert len(r["skipped"]) == 3
    assert cp.read_extracted(spark, out).count() == 40


def test_unreadable_manifest_raises(spark, tmp_path):
    """Only an absent manifest means "nothing done": one that exists but
    cannot be read must not resume as an empty done-set."""
    out = str(tmp_path / "x")
    os.makedirs(os.path.join(out, "_manifest"))
    with open(os.path.join(out, "_manifest", "part-00000.parquet"), "w") as f:
        f.write("not parquet")
    with pytest.raises(Exception, match="(?i)parquet"):
        cp.run_extraction(spark, _docs(spark, 10), out, num_buckets=4)
    assert not os.path.exists(os.path.join(out, "data"))


def test_rerun_after_losing_part_of_the_manifest(spark, tmp_path):
    """The lost bucket is rewritten in place (dynamic overwrite): no
    duplicate rows, the other bucket's data kept, its manifest row back."""
    out = str(tmp_path / "x")
    docs = _docs(spark, 40)
    cp.run_extraction(spark, docs, out, num_buckets=2)
    before = _manifest_rows(spark, out)
    man = os.path.join(out, "_manifest")
    spark.read.parquet(man).where("bucket != 0").write.parquet(man + "_new")
    shutil.rmtree(man)
    shutil.move(man + "_new", man)

    r = cp.run_extraction(spark, docs, out, num_buckets=2)
    assert r == {"processed": [0], "skipped": [1]}
    assert cp.read_extracted(spark, out).count() == 40
    assert _manifest_rows(spark, out) == before


def test_session_overwrite_mode_unchanged(spark, tmp_path):
    """The dynamic overwrite is an option of the data write, not a
    session setting that turns the caller's later overwrites dynamic."""
    key = "spark.sql.sources.partitionOverwriteMode"
    mode = spark.conf.get(key)
    spark.conf.set(key, "STATIC")
    try:
        cp.run_extraction(spark, _docs(spark, 10), str(tmp_path / "x"), num_buckets=2)
        assert spark.conf.get(key) == "STATIC"
    finally:
        spark.conf.set(key, mode)


def test_one_manifest_file_per_pass(spark, tmp_path):
    out = str(tmp_path / "x")
    docs = _docs(spark, 40)
    cp.run_extraction(spark, docs, out, num_buckets=8, buckets_per_pass=3, max_passes=1)
    assert len(_manifest_files(out)) == 1
    cp.run_extraction(spark, docs, out, num_buckets=8, buckets_per_pass=3)
    assert len(_manifest_files(out)) == 3
    assert len(_manifest_rows(spark, out)) == 8


def test_submit_resume_keeps_existing_postings(spark, tmp_path):
    """A resumed spark-submit run that processes no bucket keeps the
    postings already written, also when their path is a URI."""
    import submit_extract

    src, out = str(tmp_path / "in"), str(tmp_path / "out")
    postings = (tmp_path / "postings").as_uri()
    _docs(spark, 20).write.parquet(src)
    argv = ["--input", src, "--output", out, "--buckets", "2", "--postings", postings]
    batch = "spark.sql.execution.arrow.maxRecordsPerBatch"
    kept = spark.conf.get(batch)  # main() sets its own on the shared session
    try:
        assert submit_extract.main(argv) == 0
        files = sorted(glob.glob(str(tmp_path / "postings" / "part-*")))
        assert files
        assert submit_extract.main(argv) == 0
        assert sorted(glob.glob(str(tmp_path / "postings" / "part-*"))) == files
    finally:
        spark.conf.set(batch, kept)
