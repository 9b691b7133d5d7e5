#!/usr/bin/env python
"""Cluster entrypoint: checkpointed extraction via spark-submit.

    spark-submit --py-files libswish3_spark.zip submit_extract.py \\
        --input  s3://bucket/docs/            \\
        --output s3://bucket/extracted/       \\
        --buckets 4096 --salt-partitions 8192 \\
        [--config swish.xml] [--streaming --checkpoint s3://.../ck] \\
        [--xinclude] [--postings s3://bucket/postings/] \\
        [--minhash-index s3://bucket/minhash_buckets/]

Batch mode resumes idempotently from the output's bucket manifest
(plans/checkpoint.py), whose per-bucket docs, words and errors the data
write's kernel tasks count as they emit the rows; streaming mode resumes
from the sink checkpoint. Batch mode then rewrites ``_metrics`` next to
the output: counts per read split of the whole written output
(overwrite, so re-deriving on a resume is idempotent). Resume never
reads it. Package the library with ``zip -r libswish3_spark.zip
libswish3_spark`` (pure Python, no native deps).
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main(argv=None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True, help="docs table path (parquet/Iceberg)")
    p.add_argument("--output", required=True)
    p.add_argument("--config", help="swish.xml-format config file")
    p.add_argument("--buckets", type=int, default=256, help="resume granularity")
    p.add_argument("--salt-partitions", type=int, default=0, help="mega-doc skew salt")
    p.add_argument("--xinclude", action="store_true", help="resolve XIncludes (joins)")
    p.add_argument("--postings", help="also write index postings here")
    p.add_argument(
        "--minhash-index",
        help="also write the minhash band-bucket signature index here "
        "(operators/signatures.py — computed once at ingest so no dedup "
        "query ever re-folds signatures over the corpus). The index is "
        "built from the PARSED swishdefault buffer: streaming arrivals "
        "checked against it must bucket through near_dup_stream("
        "extracted=True) so both sides shingle the same text",
    )
    p.add_argument(
        "--neardup-candidates",
        help="also write near-dup candidate pairs here, derived from the "
        "minhash index with pairs='auto' (all-pairs for ordinary buckets, "
        "star edges for clone-family buckets above the size threshold — "
        "the scale-safe default; the O(size²) all-pairs edge set stays "
        "an explicit opt-in of the library API). Requires --minhash-index",
    )
    p.add_argument("--streaming", action="store_true")
    p.add_argument("--checkpoint", help="streaming checkpoint location")
    p.add_argument("--run-id", default="run0")
    args = p.parse_args(argv)

    from pyspark.sql import SparkSession

    from libswish3_spark.config import default_config, load_config_xml
    from libswish3_spark.pipeline import extraction_metrics, salt_by_size

    spark = (
        SparkSession.builder.appName("libswish3-extract")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2000")
        .getOrCreate()
    )
    cfg = default_config()
    if args.config:
        with open(args.config) as f:
            cfg = load_config_xml(f.read())

    if args.streaming:
        from libswish3_spark.streaming import start_extraction_stream

        if not args.checkpoint:
            p.error("--streaming requires --checkpoint")
        q = start_extraction_stream(
            spark, args.input, args.output, args.checkpoint, cfg, once=True
        )
        q.awaitTermination()
        return 0

    from libswish3_spark.plans.checkpoint import (
        path_exists,
        read_extracted,
        run_extraction,
    )

    docs = spark.read.parquet(args.input)
    if args.xinclude:
        from libswish3_spark.operators.xinclude import with_includes

        docs = with_includes(docs)
    if args.salt_partitions:
        docs = salt_by_size(docs, args.salt_partitions)

    result = run_extraction(
        spark, docs, args.output, num_buckets=args.buckets, config=cfg,
        run_id=args.run_id,
    )
    extracted = read_extracted(spark, args.output)
    # overwrite, not append: the metrics derive from the full
    # materialized output, so a resumed run re-deriving them is
    # idempotent — appending re-added rows for every previously
    # completed bucket on each resume, double-counting docs/words/
    # errors in the table
    extraction_metrics(extracted).write.mode("overwrite").parquet(
        os.path.join(args.output, "_metrics")
    )
    # derived index builds are idempotent overwrites, but a resumed run
    # that processed zero new buckets can skip recomputing them when the
    # output already exists — they are the most expensive steps here.
    # (The existence probe goes through Hadoop's FileSystem, so it
    # answers for object-store URIs as well as local paths.)
    def _fresh_or_missing(path: str) -> bool:
        return bool(result["processed"]) or not path_exists(spark, path)

    if args.postings and _fresh_or_missing(args.postings):
        from libswish3_spark.operators.postings import extract_index_postings

        extract_index_postings(docs, cfg).write.mode("overwrite").parquet(
            args.postings
        )
    if args.minhash_index and _fresh_or_missing(args.minhash_index):
        from pyspark.sql import functions as F

        from libswish3_spark.operators.signatures import build_minhash_bucket_index

        corpus = extracted.select(
            "doc_id",
            F.element_at("metanames", "swishdefault").alias("text"),
        ).where(F.col("text").isNotNull())
        build_minhash_bucket_index(corpus).write.mode("overwrite").parquet(
            args.minhash_index
        )
    if args.neardup_candidates:
        if not args.minhash_index:
            p.error("--neardup-candidates requires --minhash-index")
        if _fresh_or_missing(args.neardup_candidates):
            from libswish3_spark.functions.dedup import (
                candidate_pairs_from_buckets,
            )

            idx = spark.read.parquet(args.minhash_index)
            candidate_pairs_from_buckets(idx, pairs="auto").write.mode(
                "overwrite"
            ).parquet(args.neardup_candidates)
    print(
        f"processed buckets: {len(result['processed'])}, "
        f"resumed past: {len(result['skipped'])}"
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
