"""libswish3_spark — a PySpark-native document extraction engine.

A from-scratch reimplementation of the *semantics* of karpet/libswish3
(the Swish3 document-parsing C library) as an idiomatic Spark pipeline:

* input: tables of interleaved text + media documents
  ``docs(doc_id string, spans array<struct<kind,text,media_ref,offset>>)``
* output: ``extracted(doc_id, spans array<struct<kind,text,media_ref,order>>,
  metanames map<string,string>, properties map<string,string>, nwords, ...)``

The reference's libxml2 SAX callbacks (reference: src/libswish3/parser.c)
are replaced by a batched byte-stream markup scanner + DOM-heuristic
classifier running inside ``mapInArrow`` over Arrow batches; the
tokenizer (reference: src/libswish3/tokenizer.c) is re-expressed with
precompiled Unicode character-class regexes, vectorized per batch.

Nothing here is a code port: the reference is consulted only for
behavioral parity (word-boundary rules, metaname/property bucketing,
token positions), verified against the counts published in its own
test suite (reference: src/t/001-wordcount.t).
"""

from libswish3_spark.config import SwishConfig, default_config, load_config_xml
from libswish3_spark.functions.dedup import (
    drop_frequent_paragraphs,
    exact_duplicates,
    jaccard_verify,
    minhash_candidates,
    resolve_clusters,
)
from libswish3_spark.functions.media import extract_media_features
from libswish3_spark.functions.similarity import (
    brute_force_topk,
    embedding_near_dup_pairs,
    lsh_bucketed_topk,
)
from libswish3_spark.functions.text import gopher_filter, redact_pii
from libswish3_spark.parser import parse_document
from libswish3_spark.pipeline import (
    DOCS_SCHEMA,
    EXTRACTED_SCHEMA,
    extract,
    extraction_metrics,
    reconcile_actions,
    salt_by_size,
)

__all__ = [
    "SwishConfig",
    "default_config",
    "load_config_xml",
    "parse_document",
    "extract",
    "extraction_metrics",
    "reconcile_actions",
    "salt_by_size",
    "DOCS_SCHEMA",
    "EXTRACTED_SCHEMA",
    # training-data pipeline layer
    "exact_duplicates",
    "minhash_candidates",
    "jaccard_verify",
    "resolve_clusters",
    "drop_frequent_paragraphs",
    "gopher_filter",
    "redact_pii",
    "brute_force_topk",
    "lsh_bucketed_topk",
    "embedding_near_dup_pairs",
    "extract_media_features",
]

__version__ = "0.1.0"
