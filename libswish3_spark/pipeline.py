"""Spark pipeline: docs → extracted, designed for 10^12-document scale.

Physical plan (see SURVEY.md §3.4):

    scan(docs)                         — Iceberg/parquet, column-pruned to
                                         the columns the parser needs
      → optional skew repartition      — hash(doc_id) + salt for mega-docs
      → mapInArrow(extract_batch)      — P1-P12 + T1-T9 per Arrow batch,
                                         narrow (zero shuffle)
      → sink append                    — checkpoint.py counts its manifest
                                         in the write's kernel tasks

The whole extraction is a narrow map: Catalyst prunes and pushes down
around it, AQE handles post-shuffle sizing for downstream aggs, and the
only state per task is one document's parse state. Arrow batch size is
the memory bound (``spark.sql.execution.arrow.maxRecordsPerBatch``).
"""

from __future__ import annotations

from array import array as _array

from typing import Iterator

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from libswish3_spark.config import SwishConfig, default_config

# --- schemas (BASELINE.json input_hint: authoritative input shape) ---------
SPAN_IN = StructType(
    [
        StructField("kind", StringType()),
        StructField("text", StringType()),
        StructField("media_ref", StringType()),
        StructField("offset", IntegerType()),
    ]
)
DOCS_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("spans", ArrayType(SPAN_IN)),
    ]
)
# docs + optional header/docinfo metadata columns (FIXTURES.md §1).
# mtime/action complete the reference DocInfo (docinfo.c:202-258 stat
# mtime; parser.c:1848-2030 Last-Modified/Action stream headers).
DOCS_FULL_SCHEMA = StructType(
    DOCS_SCHEMA.fields
    + [
        StructField("mime", StringType()),
        StructField("parser", StringType()),
        StructField("encoding", StringType()),
        StructField("size", LongType()),
        StructField("mtime", LongType()),
        StructField("action", StringType()),
        # stream arrival order (frame index from parse_framed_stream);
        # the deterministic equal-mtime tiebreak for reconcile/upsert
        StructField("seq", LongType()),
        StructField("error", StringType()),
    ]
)

SPAN_OUT = StructType(
    [
        StructField("kind", StringType()),
        StructField("text", StringType()),
        StructField("media_ref", StringType()),
        StructField("order", IntegerType()),
    ]
)
EXTRACTED_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("spans", ArrayType(SPAN_OUT)),
        StructField("metanames", MapType(StringType(), StringType())),
        StructField("properties", MapType(StringType(), StringType())),
        StructField("nwords", LongType()),
        StructField("parser", StringType()),
        StructField("error", StringType()),
    ]
)

_EXTRACT_COLS = ["doc_id", "spans", "parser", "mime", "error", "includes"]


def _arrow_out_schema():
    import pyarrow as pa

    span = pa.struct(
        [
            ("kind", pa.string()),
            ("text", pa.string()),
            ("media_ref", pa.string()),
            ("order", pa.int32()),
        ]
    )
    return pa.schema(
        [
            ("doc_id", pa.string()),
            ("spans", pa.list_(span)),
            ("metanames", pa.map_(pa.string(), pa.string())),
            ("properties", pa.map_(pa.string(), pa.string())),
            ("nwords", pa.int64()),
            ("parser", pa.string()),
            ("error", pa.string()),
        ]
    )


def extract_batch_fn(config: SwishConfig, include_map: dict | None = None):
    """Build the mapInArrow kernel.

    Output is constructed as flat Arrow arrays + offset vectors
    (ListArray/MapArray.from_arrays) — the per-span/py-dict path through
    pandas object columns costs more than the parse itself, so the
    columnar build is what keeps the pipeline Python-light outside the
    parser proper. Config rides the closure (small, broadcast-like).
    """

    def fn(batches):
        import pyarrow as pa

        from libswish3_spark.config import default_config
        from libswish3_spark.parser import make_include_resolver, parse_to_state

        cfg = config or default_config()
        resolver = make_include_resolver(include_map) if include_map else None
        out_schema = _arrow_out_schema()

        for batch in batches:
            names = set(batch.schema.names)
            n = batch.num_rows
            doc_ids = batch.column("doc_id").to_pylist()
            # flat child-array accessors instead of spans.to_pylist():
            # materializing a dict per span struct costs ~4x the three
            # flat string-list conversions, and the parser accepts
            # (kind, text, ref) tuples — zip slices lazily per row
            spans_col = batch.column("spans")
            try:
                sv = spans_col.values
                sk = sv.field("kind").to_pylist()
                stx = sv.field("text").to_pylist()
                sr = sv.field("media_ref").to_pylist()
                so = spans_col.offsets.to_pylist()
                svalid = spans_col.is_valid().to_pylist()

                def row_spans(i):
                    if not svalid[i]:
                        return ()
                    a, b = so[i], so[i + 1]
                    return zip(sk[a:b], stx[a:b], sr[a:b])

            except (AttributeError, pa.lib.ArrowInvalid):
                spans_in = spans_col.to_pylist()

                def row_spans(i):
                    return spans_in[i] or ()
            parsers = batch.column("parser").to_pylist() if "parser" in names else [None] * n
            mimes = batch.column("mime").to_pylist() if "mime" in names else [None] * n
            errors = batch.column("error").to_pylist() if "error" in names else [None] * n
            includes = (
                batch.column("includes").to_pylist() if "includes" in names else [None] * n
            )

            s_kindc = bytearray()  # 0 word / 1 media codes (see parser)
            s_text: list[str] = []
            s_refs: list[tuple[int, str]] = []  # sparse (span idx, ref)
            s_ord = _array("i")
            s_off = _array("i")
            s_off.append(0)
            m_keys: list[str] = []
            m_vals: list[str] = []
            m_off = [0]
            p_keys: list[str] = []
            p_vals: list[str] = []
            p_off = [0]
            nwords: list[int] = []
            out_parser: list[str] = []
            out_error: list[str | None] = []

            for i in range(n):
                parser = parsers[i]
                if parser is None:
                    parser = (
                        cfg.parser_for_mime(mimes[i])
                        if mimes[i]
                        else _guess_parser_cached(doc_ids[i], cfg)
                    )
                parser = (parser or "HTML").upper()
                if errors[i]:
                    nwords.append(0)
                    out_parser.append(parser)
                    out_error.append(errors[i])
                else:
                    row_resolver = resolver
                    if includes[i]:
                        # per-row include map from the distributed join
                        row_resolver = make_include_resolver(dict(includes[i]))
                    st = parse_to_state(
                        doc_ids[i], row_spans(i), parser, cfg, row_resolver
                    )
                    # mega-doc segments carry their global position offset
                    # in the doc_id tail (operators/megadoc.py); applying
                    # it here costs nothing vs a post-hoc 10^9-struct
                    # rebuild in Catalyst
                    off = 0
                    if parser == "TXTSEG" and "\x02" in doc_ids[i]:
                        try:
                            # id tail: ...\x02<idx>\x02<offset>\x02<doc_total>
                            off = int(doc_ids[i].rsplit("\x02", 2)[1])
                        except (ValueError, IndexError):
                            off = 0
                    if st.s_kindc:
                        # the parser keeps spans columnar already — no
                        # row materialization or transpose needed; kind
                        # codes and orders extend as C buffers
                        if st.s_refs:
                            base = len(s_kindc)
                            s_refs.extend(
                                (base + j, r) for j, r in st.s_refs
                            )
                        s_kindc.extend(st.s_kindc)
                        s_text.extend(st.s_text)
                        if off:
                            s_ord.extend([x + off for x in st.s_ord])
                        else:
                            s_ord.extend(st.s_ord)
                    m_keys.extend(st.metanames.keys())
                    m_vals.extend(st.metanames.values())
                    p_keys.extend(st.properties.keys())
                    p_vals.extend(st.properties.values())
                    nwords.append(st.nwords)
                    out_parser.append(parser)
                    out_error.append(st.error)
                s_off.append(len(s_kindc))
                m_off.append(len(m_keys))
                p_off.append(len(p_keys))

            import numpy as np

            # kind: dictionary-index cast (C-built string column — ~6x
            # cheaper than pa.array over 10^5 repeated python strings)
            kind_idx = np.frombuffer(bytes(s_kindc), dtype=np.int8)
            kind_arr = pa.DictionaryArray.from_arrays(
                pa.array(kind_idx), pa.array(["word", "media"])
            ).cast(pa.string())
            # media_ref: dense all-"" unless media present in the batch
            if s_refs:
                ref_list = [""] * len(s_kindc)
                for j, r in s_refs:
                    ref_list[j] = r
                ref_arr = pa.array(ref_list, pa.string())
            else:
                ref_arr = pa.DictionaryArray.from_arrays(
                    pa.array(np.zeros(len(s_kindc), dtype=np.int8)),
                    pa.array([""]),
                ).cast(pa.string())
            span_struct = pa.StructArray.from_arrays(
                [
                    kind_arr,
                    pa.array(s_text, pa.string()),
                    ref_arr,
                    pa.array(np.frombuffer(s_ord, dtype=np.int32), pa.int32()),
                ],
                names=["kind", "text", "media_ref", "order"],
            )
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(doc_ids, pa.string()),
                    pa.ListArray.from_arrays(
                        pa.array(np.frombuffer(s_off, dtype=np.int32), pa.int32()),
                        span_struct,
                    ),
                    pa.MapArray.from_arrays(
                        pa.array(m_off, pa.int32()),
                        pa.array(m_keys, pa.string()),
                        pa.array(m_vals, pa.string()),
                    ),
                    pa.MapArray.from_arrays(
                        pa.array(p_off, pa.int32()),
                        pa.array(p_keys, pa.string()),
                        pa.array(p_vals, pa.string()),
                    ),
                    pa.array(nwords, pa.int64()),
                    pa.array(out_parser, pa.string()),
                    pa.array(out_error, pa.string()),
                ],
                schema=out_schema,
            )

    return fn


# value: (cfg, parser) — the cfg rides in the entry so its id cannot be
# recycled by a later config while the entry is alive (Python workers
# are reused across tasks, and each task unpickles a fresh config)
_PARSER_GUESS_CACHE: dict[tuple[int, str], tuple[SwishConfig, str]] = {}


def _guess_parser_cached(doc_id: str, cfg: SwishConfig) -> str:
    """Memoized ext→parser lookup for the kernel's per-row Python loop
    (_guess_parser is a pure function of (config, extension) —
    docinfo.c:202-258 ext → mime → parser). Size-capped so a pathological
    extension corpus cannot grow executor memory unboundedly; a full
    memo is emptied, which also frees the configs of finished tasks."""
    from libswish3_spark.parser import _guess_parser

    ext = doc_id.rsplit(".", 1)[-1].lower() if "." in doc_id else ""
    key = (id(cfg), ext)
    got = _PARSER_GUESS_CACHE.get(key)
    if got is None:
        if len(_PARSER_GUESS_CACHE) >= 4096:
            _PARSER_GUESS_CACHE.clear()
        got = _PARSER_GUESS_CACHE[key] = (cfg, _guess_parser(doc_id, cfg))
    return got[1]


def extract(
    docs: DataFrame,
    config: SwishConfig | None = None,
    include_map: dict | None = None,
    salt_partitions: int | None = None,
    spread: bool = True,
) -> DataFrame:
    """The extraction pipeline: ``docs`` → ``extracted``.

    Narrow at scale — the per-document kernel adds no shuffle of its
    own. Two input redistributions exist, both bounded to the *input*
    side (the heavy extracted output never shuffles here):

    * ``salt_partitions``: documents redistributed by
      ``hash(doc_id) + size-salt`` so mega-documents (the skew unit,
      cf. the reference's 100 MB guard libswish3.h:177) spread across
      tasks instead of pinning one executor.
    * ``spread`` (default): when the scan yields fewer splits than the
      cluster has slots — the single-file / single-row-group input case
      (guide §2.5 "one huge unsplittable file") — the pruned input is
      round-robin repartitioned once so the Python kernel runs on every
      core instead of one. ``ensure_parallelism`` is a no-op whenever
      the input already has >= defaultParallelism files, i.e. always at
      real scale; callers that repartition the input themselves
      (megadoc segment spreads) pass ``spread=False``. Streaming inputs
      are never touched.
    """
    cfg = config or default_config()
    return _kernel_input(docs, salt_partitions, spread).mapInArrow(
        extract_batch_fn(cfg, include_map), schema=EXTRACTED_SCHEMA
    )


def _kernel_input(
    docs: DataFrame,
    salt_partitions: int | None = None,
    spread: bool = True,
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """``docs`` pruned to the kernel's columns plus ``keep``, then salted
    or spread as :func:`extract` documents."""
    cols = [c for c in [*_EXTRACT_COLS, *keep] if c in docs.columns]
    pruned = docs.select(*cols)  # column pruning reaches the scan
    if salt_partitions:
        return salt_by_size(pruned, salt_partitions)
    if spread and not docs.isStreaming:
        return ensure_parallelism(pruned)
    return pruned


def ensure_parallelism(df: DataFrame, min_parts: int | None = None) -> DataFrame:
    """Spread an under-partitioned input before expensive per-row compute.

    No-op whenever the scan already yields >= min_parts splits — always
    true at scale, where inputs arrive as many files/row-groups — so it
    costs nothing on a real cluster. On a small or single-row-group
    input (local test/bench corpora) it buys full parallelism for one
    tiny shuffle. Used by extract() itself (guarded: batch inputs only,
    and a no-op whenever the scan is already split) and by the
    JVM-hash-heavy pipelines (minhash, jaccard) whose per-row cost
    dwarfs a row's shuffle weight.
    """
    spark = df.sparkSession
    target = min_parts or spark.sparkContext.defaultParallelism
    # file-count heuristic instead of df.rdd.getNumPartitions(): the RDD
    # probe converts the whole plan per call (driver-side analysis cost,
    # Spark-Connect-incompatible). inputFiles() is a driver listing; it
    # undercounts splits when files hold many row-groups, which only
    # errs toward repartitioning small inputs — the intended direction.
    try:
        n_inputs = len(df.inputFiles())
    except Exception:  # non-file source (rate, memory, createDataFrame)
        n_inputs = 0
    if n_inputs < target:
        return df.repartition(target)
    return df


def salt_by_size(docs: DataFrame, num_partitions: int) -> DataFrame:
    """Skew-aware redistribution for mega-documents.

    A document is a single row, so "salting" cannot split it — the goal
    is byte-balanced partitions: no task should inherit several of the
    biggest documents. Hash placement leaves that to chance (two of the
    top docs collide with probability ~k²/2n — at 1000:1 size skew that
    is the whole p99). Instead: sort by size descending, then
    round-robin repartition. The balance is stratified-probabilistic,
    not guaranteed: RoundRobinPartitioning locally re-sorts rows by
    binary representation before dealing (sortBeforeRepartition=true,
    for retry determinism), so two mega-docs in the same post-sort
    input partition can still collide. What the construction does
    guarantee: each input range-partition's rows — and therefore its
    bytes — spread evenly (±1 row) across ALL outputs, so an output's
    byte sum is ~1/n of every size stratum (see test_megadoc skew
    test). A hard top-n-in-n-distinct-partitions guarantee would need a
    global rank (single-task window) — the wrong trade at 10^12 docs.

    Cost: two payload shuffles (range-sort + round-robin). This is the
    explicit opt-in rescue for corpora whose size skew would otherwise
    pin one executor (the reference's answer is a hard 100 MB cap,
    libswish3.h:177); for intra-document parallelism see
    operators/megadoc.py, which splits the row itself.
    """
    sized = docs.withColumn(
        "_sz",
        F.aggregate(
            "spans", F.lit(0), lambda acc, s: acc + F.length(s["text"])
        ),
    )
    return (
        sized.sort(F.desc("_sz"), "doc_id")
        .repartition(num_partitions)
        .drop("_sz")
    )


def extraction_metrics(extracted: DataFrame) -> DataFrame:
    """Docs, words, spans and error rows per ``spark_partition_id()`` of
    ``extracted`` (A4; reference: swish_lint.c:50,152 files/twords
    counters), in one partial-aggregated pass.

    The partition is the split of the plan that computes ``extracted``.
    For a re-read of written output that is the read-time file split,
    not the task that extracted the rows, so this is no lineage record.
    Resume never reads it: ``plans/checkpoint.py`` resumes from its
    bucket manifest.
    """
    return (
        extracted.groupBy(F.spark_partition_id().alias("partition_id"))
        .agg(
            F.count("*").alias("docs"),
            F.sum("nwords").alias("words"),
            F.sum(F.size("spans")).alias("spans"),
            F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0)).alias("errors"),
        )
    )


def _is_table_target(target: str) -> bool:
    """Table-vs-path guess for :func:`write_extracted`: a dotted,
    separator-free name reads as ``catalog.db.table`` UNLESS its last
    segment is a known data-file extension — ``out.parquet`` is a
    relative file path, not a table named ``parquet`` in schema
    ``out``. (Spark resolves relative paths against the driver JVM's
    working directory.)"""
    ext = target.rsplit(".", 1)[-1].lower()
    return (
        "/" not in target
        and target.count(".") >= 1
        and ext not in ("parquet", "json", "csv", "orc", "avro", "txt")
    )


def write_extracted(
    extracted: DataFrame,
    target: str,
    mode: str = "append",
    partition_cols: tuple[str, ...] = (),
    as_table: bool | None = None,
) -> None:
    """S8 sink: Iceberg table when a catalog-qualified name is given
    (``catalog.db.table`` via ``writeTo`` — fanout append, hidden
    partitioning from the table spec), parquet path otherwise (this
    sandbox has no Iceberg runtime jars; the call shape is identical).

    ``as_table`` overrides the table-vs-path guess. The auto-detect
    treats a dotted, separator-free name as a table UNLESS its last
    segment is a known data-file extension — a bare relative filename
    like ``out.parquet`` is a path, not a table named ``parquet`` in
    schema ``out``. Genuinely ambiguous names should pass ``as_table``
    explicitly.
    """
    if as_table is None:
        as_table = _is_table_target(target)
    if as_table:
        writer = extracted.writeTo(target)
        if mode == "overwrite":
            writer.overwritePartitions()
        else:
            writer.append()
        return
    w = extracted.write.mode(mode)
    if partition_cols:
        w = w.partitionBy(*partition_cols)
    w.parquet(target)


def reconcile_actions(docs: DataFrame) -> DataFrame:
    """Collapse a stream's Action history into the surviving doc set.

    The aggregator protocol carries ``Action: add|update|delete`` per
    framed doc (reference: parser.c:2002-2013; the Swish-e consumer
    applies them against its index). Relationally: keep, per doc_id,
    only the LATEST action — mtime, then stream arrival order via the
    ``seq`` frame index parse_framed_stream assigns — and drop docs
    whose latest action is delete. One groupBy shuffle on doc_id;
    max_by keeps the whole surviving row without a self-join.

    The equal-mtime tiebreak is a TWO-field key (seq, arrival): null
    seq sorts explicitly AFTER every genuine seq value (coalesced to
    Long.MAX — a mixed coalesce of real seqs with
    monotonically_increasing_id would let a null-seq row in partition 0
    compare as *earlier* than a seq-carrying row), and rows tied on
    that still break by monotonically_increasing_id, which follows
    arrival order only when the partition layout does (and is not
    stable under task retry) — carry a real ``seq`` when equal-mtime
    replays must resolve identically to the streaming twin.
    """
    _LONG_MAX = (1 << 63) - 1
    seq_col = (
        F.coalesce(F.col("seq"), F.lit(_LONG_MAX))
        if "seq" in docs.columns
        else F.lit(_LONG_MAX)
    )
    seq = docs.withColumn("_seq", seq_col).withColumn(
        "_arrival", F.monotonically_increasing_id()
    )
    latest = (
        seq.groupBy("doc_id")
        .agg(
            F.max_by(
                F.struct(*[c for c in seq.columns if c != "doc_id"]),
                F.struct(
                    F.coalesce("mtime", F.lit(0)), F.col("_seq"), F.col("_arrival")
                ),
            ).alias("r")
        )
        .select("doc_id", "r.*")
        .drop("_seq", "_arrival")
    )
    return latest.where(
        F.coalesce(F.lower("action"), F.lit("add")) != "delete"
    )


def totals(extracted: DataFrame) -> DataFrame:
    """Run totals (reference: swish_lint.c:268-345 'total words')."""
    return extracted.agg(
        F.count("*").alias("files"), F.sum("nwords").alias("total_words")
    )
