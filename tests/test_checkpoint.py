"""run_extraction's checkpoint contract on synthetic HTML documents:
resume, the manifest's per-bucket rows, the bucket-count guard,
idempotent reruns, and the session the call leaves behind."""

import glob
import os
import shutil

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
    assert sum(d for d, _, _ in grouped.values()) == 3
    assert sum(e for _, _, e in grouped.values()) == 1  # doc 0
    assert _manifest_rows(spark, out) == [
        (b, *grouped.get(b, (0, 0, 0)), "r", 8) for b in range(8)
    ]


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
