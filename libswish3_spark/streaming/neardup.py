"""Streaming near-dup detection against the STORED corpus index.

The ingest-time twin of the batch minhash chain: each arriving
document's band buckets are computed WITHIN the row (stateless — the
same `functions.dedup.doc_band_buckets` Arrow kernel the stored index
is built with) and joined against the STATIC stored bucket index
(operators/signatures.py). Spark executes the stream-static join
without any streaming state: the static side is just re-planned per
micro-batch, so the operator survives restarts for free and its cost
per batch is (batch buckets) ⋈ (index) — at 100 TB, a bucket-bucketed
index makes that a co-located lookup, not a scan.

Output rows ``(doc_id, matched_id, bucket)`` are CANDIDATES of new docs
against already-indexed content — the signal an ingest pipeline uses to
drop near-duplicates before they land. A pair sharing k band buckets
appears k times (per-batch `dropDuplicates` in the sink, or the
downstream exact verification, collapses them — a global streaming
`distinct` would accumulate unbounded state for no benefit).
Exact verification (`jaccard_verify`) composes downstream exactly as in
the batch chain.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from libswish3_spark.functions.dedup import doc_band_buckets


def swishdefault_text(docs: DataFrame, config=None) -> DataFrame:
    """(doc_id, spans) → (doc_id, text): the SAME projection
    ``submit_extract --minhash-index`` feeds the stored index build —
    full extraction, then ``metanames['swishdefault']``. Streaming
    arrivals bucketed through this helper are guaranteed to shingle the
    identical text the index was built from (extract() is a narrow
    mapInArrow kernel, so it composes with readStream unchanged)."""
    from libswish3_spark.pipeline import extract

    return (
        extract(docs, config)
        .select(
            "doc_id",
            F.element_at("metanames", "swishdefault").alias("text"),
        )
        .where(F.col("text").isNotNull())
    )


def stream_band_buckets(
    docs: DataFrame, extracted: bool = False, config=None
) -> DataFrame:
    """docs stream (doc_id, spans) → exploded (id, bucket) rows.

    Stateless Arrow batch kernel (`doc_band_buckets`; a row's buckets
    depend on its own text alone) — no watermark, no state store; batch
    and stream inputs take the same plan.

    The bucketed text MUST match what the index was built from:

    - ``extracted=False`` (default): the concatenation of ALL raw text
      spans — for an index built from raw document text (e.g.
      ``build_minhash_bucket_index(docs, "doc_id", "text")``).
    - ``extracted=True``: the ``swishdefault`` extraction projection
      (``swishdefault_text``) — for an index built by
      ``submit_extract --minhash-index``, which indexes the PARSED
      buffer. Bucketing raw markup against a parsed-text index silently
      misses near-duplicates.
    """
    if extracted:
        src = docs if "text" in docs.columns else swishdefault_text(docs, config)
        ident, text = src["doc_id"], src["text"]
    else:
        src = docs
        ident = F.col("doc_id")
        text = F.array_join(
            F.transform(
                F.filter("spans", lambda s: s["kind"] == F.lit("text")),
                lambda s: s["text"],
            ),
            " ",
        )
    return doc_band_buckets(src.select(ident.alias("id"), text.alias("_t")), "id", "_t")


def near_dup_stream(
    docs_stream: DataFrame,
    bucket_index: DataFrame,
    extracted: bool = False,
    config=None,
) -> DataFrame:
    """Arriving docs ⋈ stored index → (doc_id, matched_id, bucket).

    ``bucket_index`` is the materialized (id, bucket) table — pass the
    parquet/Iceberg reader, already hot-bucket-capped at build time if
    cap semantics are wanted (applying the cap here would re-aggregate
    the static side every micro-batch).

    Pass ``extracted=True`` when the index was built by
    ``submit_extract --minhash-index`` (which indexes the parsed
    ``swishdefault`` buffer) so arrivals are bucketed over the same
    extraction projection; the default buckets raw text spans, matching
    an index built directly from raw document text.
    """
    idx = bucket_index.select(
        F.col("id").alias("matched_id"), F.col("bucket").alias("bucket")
    )
    mine = stream_band_buckets(docs_stream, extracted=extracted, config=config)
    return (
        mine.join(idx, "bucket")
        .where(F.col("id") != F.col("matched_id"))
        .select(F.col("id").alias("doc_id"), "matched_id", "bucket")
    )
