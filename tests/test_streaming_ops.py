"""Streaming operator tests: upsert, dedup and near-dup streams and
their batch twins."""

from pyspark.sql import functions as F


def test_upsert_stream_action_semantics_across_restart(spark, tmp_path):
    """Streaming Action reconcile (S3): latest version wins, delete
    tombstones, and state survives a checkpointed restart — a delete in
    run 2 must beat the add that run 1 absorbed into state."""
    from libswish3_spark.pipeline import DOCS_FULL_SCHEMA
    from libswish3_spark.streaming.upsert import upsert_stream

    src = str(tmp_path / "frames")
    ckpt = str(tmp_path / "ckpt")

    def row(doc_id, text, mtime, action):
        return {
            "doc_id": doc_id,
            "spans": [{"kind": "text", "text": text, "media_ref": "", "offset": 0}],
            "mtime": mtime,
            "action": action,
        }

    out = str(tmp_path / "emissions")

    def run(rows, run_id):
        spark.createDataFrame(rows, schema=DOCS_FULL_SCHEMA).write.mode(
            "append"
        ).parquet(src)
        stream = spark.readStream.schema(DOCS_FULL_SCHEMA).parquet(src)

        # foreachBatch parquet sink: checkpoint-recoverable (memory sink
        # is not), and the realistic MERGE-feed shape
        def sink(df, bid):
            df.withColumn("_run", F.lit(run_id)).write.mode("append").parquet(out)

        q = (
            upsert_stream(stream)
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return {
            r["doc_id"]: r
            for r in spark.read.parquet(out).where(F.col("_run") == run_id).collect()
        }

    got1 = run(
        [row("a", "a v1", 100, "add"), row("b", "b v1", 100, "add"),
         row("c", "c v1", 100, "add")],
        1,
    )
    assert got1["a"]["alive"] and got1["c"]["alive"]
    assert got1["a"]["text"] == "a v1"

    got2 = run(
        [row("a", "a v2", 200, "update"), row("c", "", 300, "delete"),
         row("a", "a stale", 50, "update")],  # stale mtime must lose
        2,
    )
    assert set(got2) == {"a", "c"}  # b untouched in run 2 → not re-emitted
    assert got2["a"]["alive"] and got2["a"]["text"] == "a v2"
    assert got2["a"]["mtime"] == 200
    assert got2["c"]["alive"] is False  # tombstone despite run-1 state


def test_dedup_stream_first_seen_survives_restart(spark, tmp_path):
    """Streaming exact dedup: a duplicate arriving AFTER a checkpointed
    restart must still be dropped (the seen-set lives in the
    checkpoint, not in memory); new content still flows."""
    from libswish3_spark.pipeline import DOCS_FULL_SCHEMA
    from libswish3_spark.streaming.dedup import dedup_stream

    src = str(tmp_path / "docs")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "kept")

    def row(doc_id, text, seq):
        return {
            "doc_id": doc_id,
            "spans": [{"kind": "text", "text": text, "media_ref": "", "offset": 0}],
            "seq": seq,
        }

    def run(rows, run_id):
        spark.createDataFrame(rows, schema=DOCS_FULL_SCHEMA).write.mode(
            "append"
        ).parquet(src)
        stream = spark.readStream.schema(DOCS_FULL_SCHEMA).parquet(src)

        def sink(df, bid):
            df.where(F.col("doc_id").isNotNull()).withColumn(
                "_run", F.lit(run_id)
            ).write.mode("append").parquet(out)

        q = (
            dedup_stream(stream)
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return {
            r["doc_id"]
            for r in spark.read.parquet(out).where(F.col("_run") == run_id).collect()
        }

    # run 1: a, b distinct; c duplicates a within the batch (higher seq)
    got1 = run(
        [row("a", "alpha text", 0), row("b", "beta text", 1), row("c", "alpha text", 2)],
        1,
    )
    assert got1 == {"a", "b"}  # c dropped, first arrival kept

    # run 2 (restart): d duplicates a ACROSS the restart; e is new
    got2 = run([row("d", "alpha text", 3), row("e", "gamma text", 4)], 2)
    assert got2 == {"e"}


def test_streaming_near_dup_against_stored_index(spark, tmp_path):
    """Ingest-time near-dup detection: an arriving copy of an
    already-indexed document must surface as a candidate pair via the
    stream-static join against the stored bucket index; novel content
    must not. Stateless — no watermark, no state store."""
    from libswish3_spark.operators.signatures import build_minhash_bucket_index
    from libswish3_spark.pipeline import DOCS_SCHEMA
    from libswish3_spark.streaming.neardup import near_dup_stream

    corpus_text = "the quick brown fox jumps over the lazy dog again and again"
    static = spark.createDataFrame(
        [("old1", corpus_text), ("old2", "completely unrelated corpus words here")],
        ["doc_id", "text"],
    )
    idx_path = str(tmp_path / "bucket_idx")
    build_minhash_bucket_index(static, "doc_id", "text").write.parquet(idx_path)

    src = str(tmp_path / "arrivals")
    out = str(tmp_path / "pairs")

    def row(doc_id, text):
        return {
            "doc_id": doc_id,
            "spans": [{"kind": "text", "text": text, "media_ref": "", "offset": 0}],
        }

    spark.createDataFrame(
        [row("new_dup", corpus_text), row("new_novel", "entirely fresh never seen tokens")],
        schema=DOCS_SCHEMA,
    ).write.parquet(src)

    stream = spark.readStream.schema(DOCS_SCHEMA).parquet(src)
    pairs = near_dup_stream(stream, spark.read.parquet(idx_path))

    def sink(df, bid):
        df.dropDuplicates(["doc_id", "matched_id"]).write.mode("append").parquet(out)

    q = (
        pairs.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {(r["doc_id"], r["matched_id"]) for r in spark.read.parquet(out).collect()}
    assert ("new_dup", "old1") in got  # identical text → same buckets, guaranteed
    assert not [p for p in got if p[0] == "new_novel"]


def test_keep_first_equal_seq_tiebreak_matches_batch_twin():
    """Within-batch keeper under equal/missing seq = min (seq, doc_id),
    exactly the batch twin's min_by(struct(seq, doc_id)) ordering —
    NOT pandas iteration order, which varies with partitioning/retries."""
    import pandas as pd

    from libswish3_spark.streaming.dedup import _keep_first

    class FakeState:
        exists = False

        def update(self, v):
            self.value = v

    # doc 'z' arrives first in iteration order but ties on seq with 'a';
    # the (seq, doc_id) ordering must pick 'a'
    pdf = pd.DataFrame(
        {"doc_id": ["z", "a", "m"], "text": ["tz", "ta", "tm"], "seq": [5, 5, 9]}
    )
    state = FakeState()
    out = pd.concat(list(_keep_first(("fp1",), iter([pdf]), state)))
    assert list(out["doc_id"]) == ["a"]
    assert state.value == ("a",)

    # all-null seq coerces to 0 for every row → doc_id decides
    pdf2 = pd.DataFrame(
        {"doc_id": ["q", "b"], "text": ["tq", "tb"], "seq": [None, None]}
    )
    state2 = FakeState()
    out2 = pd.concat(list(_keep_first(("fp2",), iter([pdf2]), state2)))
    assert list(out2["doc_id"]) == ["b"]


def test_streaming_near_dup_extracted_mode_matches_swishdefault_index(
    spark, tmp_path
):
    """When the stored index is built from the PARSED swishdefault
    buffer (the submit_extract --minhash-index wiring), arrivals must be
    bucketed over the same extraction projection: extracted=True finds a
    markup near-duplicate that raw-span bucketing misses (raw shingles
    would include the divergent tag soup)."""
    from libswish3_spark.operators.signatures import build_minhash_bucket_index
    from libswish3_spark.pipeline import DOCS_SCHEMA
    from libswish3_spark.streaming.neardup import (
        near_dup_stream,
        swishdefault_text,
    )

    from pyspark.sql.types import StringType, StructField, StructType

    schema = StructType(DOCS_SCHEMA.fields + [StructField("parser", StringType())])
    body = "the quick brown fox jumps over the lazy dog again and again"

    def doc(doc_id, html):
        return {
            "doc_id": doc_id,
            "spans": [{"kind": "text", "text": html, "media_ref": "", "offset": 0}],
            "parser": "HTML",
        }

    corpus = spark.createDataFrame(
        [
            doc("old1", f"<html><body><p>{body}</p></body></html>"),
            doc("old2", "<html><body>totally unrelated corpus words</body></html>"),
        ],
        schema=schema,
    )
    # index over the extracted text — exactly submit_extract's projection
    idx_path = str(tmp_path / "swishdefault_idx")
    build_minhash_bucket_index(swishdefault_text(corpus)).write.parquet(idx_path)

    # same BODY text, different markup (attrs, nesting, extra tags):
    # parsed text identical → extracted-mode buckets identical
    arrivals = spark.createDataFrame(
        [doc("new_dup", f'<html><body><div class="c"><b>{body}</b></div></body></html>')],
        schema=schema,
    )
    src = str(tmp_path / "arrivals")
    arrivals.write.parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)

    out = str(tmp_path / "pairs")
    pairs = near_dup_stream(stream, spark.read.parquet(idx_path), extracted=True)
    q = (
        pairs.writeStream.foreachBatch(
            lambda df, bid: df.dropDuplicates(["doc_id", "matched_id"])
            .write.mode("append")
            .parquet(out)
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {(r["doc_id"], r["matched_id"]) for r in spark.read.parquet(out).collect()}
    assert ("new_dup", "old1") in got
    assert ("new_dup", "old2") not in got

    # and the RAW default buckets a DIFFERENT text (tag soup included):
    # its bucket set diverges from the extracted-mode set — the drift
    # that silently erodes recall when the index is parsed-text built
    from libswish3_spark.streaming.neardup import stream_band_buckets

    raw_buckets = {
        r["bucket"] for r in stream_band_buckets(arrivals).collect()
    }
    ext_buckets = {
        r["bucket"]
        for r in stream_band_buckets(arrivals, extracted=True).collect()
    }
    assert raw_buckets != ext_buckets


def test_batch_keep_first_null_seq_coalesces_like_streaming_twin(spark):
    """A fingerprint with both a NULL-seq row and a seq=0 row must pick
    the SAME keeper in batch and streaming: both coalesce NULL→0 and
    fall to doc_id. (Spark struct ordering sorts NULL before 0 — the
    uncoalesced form diverged from the pandas twin.)"""
    from libswish3_spark.streaming.dedup import keep_first

    def row(doc_id, seq):
        return {
            "doc_id": doc_id,
            "spans": [
                {"kind": "text", "text": "same text", "media_ref": "", "offset": 0}
            ],
            "seq": seq,
        }

    # 'z' has NULL seq, 'a' has 0: NULL coalesces to 0, doc_id breaks
    # the tie → 'a' (what the streaming _keep_first key picks)
    docs = spark.createDataFrame(
        [row("z", None), row("a", 0)],
        "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>, seq long",
    )
    got = keep_first(docs).collect()
    assert len(got) == 1 and got[0]["doc_id"] == "a"


def test_near_dup_stream_restart_no_duplicate_no_lost_pairs(spark, tmp_path):
    """Checkpoint-kill-restart for ingest-time near-dup: run 1's pairs
    must not re-emit after restart (the checkpoint owns progress) and
    run 2's arrivals must still match — no duplicates, no losses. The
    operator is stateless (stream-static join), so the only state is
    source progress; this pins that the checkpoint actually carries it."""
    from libswish3_spark.operators.signatures import build_minhash_bucket_index
    from libswish3_spark.pipeline import DOCS_SCHEMA
    from libswish3_spark.streaming.neardup import near_dup_stream

    corpus_text = "the quick brown fox jumps over the lazy dog again and again"
    other_text = "pack my box with five dozen liquor jugs every single day"
    static = spark.createDataFrame(
        [("old1", corpus_text), ("old2", other_text)], ["doc_id", "text"]
    )
    idx_path = str(tmp_path / "idx")
    build_minhash_bucket_index(static, "doc_id", "text").write.parquet(idx_path)

    src = str(tmp_path / "arrivals")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "pairs")

    def row(doc_id, text):
        return {
            "doc_id": doc_id,
            "spans": [{"kind": "text", "text": text, "media_ref": "", "offset": 0}],
        }

    def run(rows, run_id):
        spark.createDataFrame(rows, schema=DOCS_SCHEMA).write.mode(
            "append"
        ).parquet(src)
        stream = spark.readStream.schema(DOCS_SCHEMA).parquet(src)
        pairs = near_dup_stream(stream, spark.read.parquet(idx_path))

        def sink(df, bid):
            df.dropDuplicates(["doc_id", "matched_id"]).withColumn(
                "_run", F.lit(run_id)
            ).write.mode("append").parquet(out)

        q = (
            pairs.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return [
            (r["doc_id"], r["matched_id"])
            for r in spark.read.parquet(out).where(F.col("_run") == run_id).collect()
        ]

    got1 = run([row("n1", corpus_text)], 1)
    assert ("n1", "old1") in got1

    # restart: n1 must NOT re-emit; n2 (dup of old2) must emit
    got2 = run([row("n2", other_text)], 2)
    assert [p for p in got2 if p[0] == "n2" and p[1] == "old2"]
    assert not [p for p in got2 if p[0] == "n1"]  # no duplicate emission


def test_keep_first_media_only_docs_not_collapsed(spark):
    """The exact-dedup fingerprint covers the FULL span sequence, not
    spans[0].text: two DIFFERENT image-only docs (first span media,
    text NULL) must both survive, while byte-identical media docs still
    dedup. The old spans[0].text fingerprint gave every media-first doc
    a NULL fp — all of them collapsed into one group and only the first
    ever survived."""
    from libswish3_spark.streaming.dedup import keep_first

    rows = [
        ("img1", [("media", None, "img://a", 0)], 1),
        ("img2", [("media", None, "img://b", 0)], 2),   # different image
        ("img1dup", [("media", None, "img://a", 0)], 3),  # exact dup of img1
        ("mixed", [("media", None, "img://a", 0), ("text", "caption", "", 1)], 4),
    ]
    df = spark.createDataFrame(
        rows,
        "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>, seq long",
    )
    out = {r["doc_id"]: r for r in keep_first(df).collect()}
    assert set(out) == {"img1", "img2", "mixed"}  # img1dup deduped, img2 kept


def test_upsert_equal_mtime_resolves_by_seq_not_iteration_order():
    """Equal-mtime rows must resolve by the frame seq (the batch twin's
    max_by(struct(mtime, seq, ...)) ordering), not by pandas iteration
    order — a delete iterated BEFORE its same-mtime add must still win
    when its seq is higher."""
    import pandas as pd

    from libswish3_spark.streaming.upsert import _upsert

    class FakeState:
        exists = False
        hasTimedOut = False

        def __init__(self):
            self.stored = None

        @property
        def get(self):
            return self.stored

        def update(self, v):
            self.stored = v

    # adversarial iteration order: the delete (seq=2) comes FIRST
    pdf = pd.DataFrame(
        {
            "mtime": [100, 100],
            "seq": [2, 1],
            "action": ["delete", "add"],
            "text": [None, "body"],
        }
    )
    state = FakeState()
    (out,) = list(_upsert(("d1",), [pdf], state))
    assert out["action"].iloc[0] == "delete" and not out["alive"].iloc[0]
    # and the reverse seq assignment flips the winner
    pdf2 = pdf.assign(seq=[1, 2])
    state2 = FakeState()
    (out2,) = list(_upsert(("d1",), [pdf2], state2))
    assert out2["action"].iloc[0] == "add" and out2["alive"].iloc[0]


def test_upsert_null_seq_sorts_after_real_seq_like_batch_twin():
    """A null-seq row at equal mtime must BEAT a seq-carrying row, in
    both engines: the batch twin (pipeline.reconcile_actions) coalesces
    null seq to Long.MAX in its max_by key; the streaming kernel must
    use the identical sentinel or the same replay resolves differently
    across the two paths (this was a live divergence — streaming
    coalesced null seq to 0, sorting it BEFORE every genuine seq)."""
    import pandas as pd

    from libswish3_spark.streaming.upsert import _upsert

    class FakeState:
        exists = False
        hasTimedOut = False

        def __init__(self):
            self.stored = None

        @property
        def get(self):
            return self.stored

        def update(self, v):
            self.stored = v

    # delete carries NO seq (e.g. a non-framed feed), add carries seq=7:
    # null-seq sorts last → the delete is the latest action
    pdf = pd.DataFrame(
        {
            "mtime": [100, 100],
            "seq": [None, 7],
            "action": ["delete", "add"],
            "text": [None, "body"],
        }
    )
    state = FakeState()
    (out,) = list(_upsert(("d1",), [pdf], state))
    assert out["action"].iloc[0] == "delete" and not out["alive"].iloc[0]
