"""Idempotent, resumable batch extraction.

The north rule requires 10^12-document runs to resume from checkpointed
partition manifests. Mechanism:

* documents are assigned a deterministic ``bucket = pmod(xxhash64(doc_id), B)``;
* each completed chunk of buckets writes its rows to the output
  (partitioned by bucket), then appends ``(bucket, docs, words, errors,
  run_id, num_buckets)`` per bucket to a manifest table — the manifest
  is written only *after* the data, so a crash can at worst leave a
  bucket's data present but unrecorded. Its counts come from counters
  the data write's own kernel tasks keep (see :func:`run_extraction`),
  not from a second job over the written files;
* resume = one existence probe of the manifest and, if present, one read
  of it for the done-set; only the missing buckets are processed, and
  their output directories are rewritten (dynamic partition overwrite),
  which makes the data+manifest pair idempotent per bucket.

The module needs a classic (non-Connect) session: the existence probe
goes through the JVM and the counters are Python accumulators, neither
of which Spark Connect offers.

This is the batch analogue of Structured Streaming's checkpoint (see
``libswish3_spark.streaming``), usable where the input is a static
table rather than a stream.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
from pyspark.accumulators import AccumulatorParam
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

from libswish3_spark.config import SwishConfig, default_config
from libswish3_spark.pipeline import EXTRACTED_SCHEMA, _kernel_input, extract_batch_fn

# a resume reads every part file a manifest ever got as one table: keep
# these types and non-null columns, which older part files have too
_MANIFEST = pa.schema(
    [
        pa.field("bucket", pa.int32(), nullable=False),
        pa.field("docs", pa.int64(), nullable=False),
        pa.field("words", pa.int64(), nullable=False),
        pa.field("errors", pa.int64(), nullable=False),
        pa.field("run_id", pa.string(), nullable=False),
        pa.field("num_buckets", pa.int32(), nullable=False),
    ]
)
# a new StructType: EXTRACTED_SCHEMA.add() would mutate the shared schema
_BUCKETED_SCHEMA = StructType(
    EXTRACTED_SCHEMA.fields + [StructField("bucket", IntegerType())]
)


def with_bucket(docs: DataFrame, num_buckets: int) -> DataFrame:
    return docs.withColumn(
        "bucket", F.pmod(F.xxhash64("doc_id"), F.lit(num_buckets)).cast("int")
    )


def path_exists(spark: SparkSession, path: str) -> bool:
    """Existence through the Hadoop FileSystem of ``path``'s scheme, so
    object-store URIs answer too (``os.path.exists`` sees local paths only)."""
    sc = spark.sparkContext
    p = sc._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(sc._jsc.hadoopConfiguration()).exists(p)


def completed_buckets(
    spark: SparkSession, manifest_path: str, num_buckets: int
) -> set[int]:
    """The manifest's done-set; croaks when a resume changes the bucket count.

    bucket = pmod(hash(doc_id), B) — under a new B every doc lands in a
    DIFFERENT bucket, so anti-joining the new bucket range against a
    manifest written at the old B silently skips docs (their old bucket
    id is "done") and double-processes others. Manifests written before
    the count was recorded read it as null and pass (nothing to validate
    against). Only an absent manifest means "nothing done": one that
    exists but cannot be read raises.
    """
    if not path_exists(spark, manifest_path):
        return set()
    rows = (
        spark.read.schema("bucket int, num_buckets int")
        .parquet(manifest_path)
        .collect()
    )
    prior = {r["num_buckets"] for r in rows} - {None}
    if prior and prior != {num_buckets}:
        raise ValueError(
            f"resume with num_buckets={num_buckets} but the manifest at "
            f"{manifest_path} was written with num_buckets={sorted(prior)}: "
            "bucket assignment is a function of the count, so resuming "
            "under a different count corrupts the done-set. Re-run with "
            f"num_buckets={sorted(prior)[0]} or start a fresh output path."
        )
    return {r["bucket"] for r in rows}


def run_extraction(
    spark: SparkSession,
    docs: DataFrame,
    output_path: str,
    num_buckets: int = 16,
    config: SwishConfig | None = None,
    include_map: dict | None = None,
    run_id: str = "run0",
    buckets_per_pass: int | None = None,
    max_passes: int | None = None,
) -> dict:
    """Checkpointed extraction: resumes where the manifest left off.

    Returns {"processed": [...buckets...], "skipped": [...]}.

    Buckets are processed in CHUNKS (default: all remaining buckets in
    one pass): the bucket predicate is a computed hash, so it cannot be
    pushed down to the scan, and a per-bucket loop would re-read the
    whole input once per bucket — O(B × full-scan) at 10^12 docs. One
    chunk = one input scan and one dynamic-partition write, then one
    small append of the chunk's manifest rows as one file; the commit
    point stays manifest-after-data, at chunk granularity.
    ``buckets_per_pass`` bounds how much work a driver crash can lose
    (e.g. 64 over 10k buckets runs ~160 scans, each committed, losing at
    most 0.6% of the run on a crash) — ALL chunks run in this call.
    ``max_passes`` additionally stops after that many chunks (tests
    simulate a died run with ``max_passes=1``; an earlier form silently
    did this whenever buckets_per_pass was set, leaving 99.4% of the
    corpus unprocessed for a caller who followed the docstring).

    The manifest's docs, words and errors (rows with a non-null
    ``error``) are counted by the kernel's tasks as they emit the rows,
    into one accumulator per chunk. They are exact: nothing shuffles
    after the kernel, so it runs in the write's result stage, and Spark
    applies a result task's accumulator update only for the first
    successful attempt of each partition — the attempt whose files were
    committed. Failed and speculative attempts add nothing, whatever
    shuffles (input spread, salting, an XInclude join) run upstream.
    """
    manifest_path = os.path.join(output_path, "_manifest")
    data_path = os.path.join(output_path, "data")
    done = completed_buckets(spark, manifest_path, num_buckets)
    bucketed = with_bucket(docs, num_buckets)
    todo = [b for b in range(num_buckets) if b not in done]
    step = buckets_per_pass or max(len(todo), 1)
    chunks = [todo[i : i + step] for i in range(0, len(todo), step)]
    if max_passes is not None:
        chunks = chunks[:max_passes]
    kernel = extract_batch_fn(config or default_config(), include_map)

    processed = []
    for chunk in chunks:
        part = bucketed.where(F.col("bucket").isin(chunk))
        acc = spark.sparkContext.accumulator(
            np.zeros((3, len(chunk)), np.int64), _Counts()
        )
        out = _kernel_input(part, keep=("bucket",)).mapInArrow(
            _counted(kernel, chunk, acc), schema=_BUCKETED_SCHEMA
        )
        # data first, manifest second: the commit point is the manifest
        out.write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("bucket").parquet(data_path)
        n = len(chunk)
        manifest = pa.table(
            [chunk, *acc.value, [run_id] * n, [num_buckets] * n], schema=_MANIFEST
        )
        # built from Arrow: from a list of tuples it goes through a pickled
        # Python RDD (0.7-1 s for 16 rows), and literal struct rows cost
        # one Py4J call per value (~0.3 s for 16 rows)
        spark.createDataFrame(manifest).coalesce(1).write.mode("append").parquet(
            manifest_path
        )
        processed.extend(chunk)
    return {"processed": processed, "skipped": sorted(done)}


class _Counts(AccumulatorParam):
    """Element-wise sum of int64 arrays."""

    def zero(self, value):
        return np.zeros_like(value)

    def addInPlace(self, value1, value2):
        value1 += value2
        return value1


def _counted(kernel, chunk: list[int], acc):
    """``kernel`` wrapped to pass each row's ``bucket`` through and to
    add per-bucket ``(docs, words, errors)`` to ``acc`` as a (3, len(chunk))
    array once the partition ends. The kernel emits one output batch,
    row for row, per input batch."""
    buckets = np.asarray(chunk)  # ascending: todo is

    def fn(batches):
        counts = np.zeros((3, len(chunk)), np.int64)
        held = []

        def stripped():
            for batch in batches:
                i = batch.schema.get_field_index("bucket")
                held.append(batch.column(i))
                yield batch.drop_columns(["bucket"])

        for out in kernel(stripped()):
            bucket = held.pop(0)
            slot = np.searchsorted(buckets, bucket.to_numpy())
            errors = out.column("error").is_valid()
            np.add.at(counts[0], slot, 1)
            np.add.at(counts[1], slot, out.column("nwords").to_numpy())
            np.add.at(counts[2], slot, errors.to_numpy(zero_copy_only=False))
            yield out.append_column("bucket", bucket)
        acc.add(counts)

    return fn


def read_extracted(spark: SparkSession, output_path: str) -> DataFrame:
    return spark.read.parquet(os.path.join(output_path, "data"))


def read_manifest(spark: SparkSession, output_path: str) -> DataFrame:
    return spark.read.parquet(os.path.join(output_path, "_manifest"))
