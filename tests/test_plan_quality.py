"""Physical-plan quality gates: the plans we'd want at 100 TB, asserted.

These catch regressions where a code change silently degrades the plan
(broadcast lost, pushdown broken, extra shuffle introduced). The last
test checks every registry entry's result against its DuckDB oracle.
"""

import pytest
from pyspark.sql import functions as F

import libswish3_spark as lsw
from libswish3_spark.operators.queries import QUERIES


SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_parser_dispatch_broadcasts(spark):
    plan = _plan(QUERIES["parser_dispatch"][0](spark, SF))
    assert "BroadcastHashJoin" in plan


def test_filter_pushdown_reaches_scan(spark, tmp_path):
    """A filter before extract() must reach the parquet scan, not sit
    above the mapInArrow."""
    path = str(tmp_path / "docs")
    QUERIES["extract_txt"][0].__globals__  # noqa: B018 (documentation only)
    from libswish3_spark.operators.queries import _html_wrap, _docs

    _html_wrap(_docs(spark, SF)).write.parquet(path)
    docs = spark.read.parquet(path)
    filtered = docs.where(F.col("doc_id") < "100")
    plan = _plan(lsw.extract(filtered))
    assert "PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,100)" in plan


def test_column_pruning_reaches_scan(spark, tmp_path):
    """extract() must not read columns the parser doesn't need."""
    path = str(tmp_path / "docs2")
    from libswish3_spark.operators.queries import _docs, _html_wrap

    wide = _html_wrap(_docs(spark, SF)).withColumn("junk", F.lit("x" * 10))
    wide.write.parquet(path)
    plan = _plan(lsw.extract(spark.read.parquet(path)))
    assert "junk" not in plan.split("ReadSchema")[1][:400]


def test_extraction_exchange_policy(spark, tmp_path):
    """extract() stays narrow at scale; the only below-MapInArrow
    Exchange ever allowed is the guarded single-file input spread.

    The local sf tables are one parquet file with one row group, so a
    narrow extraction would run its whole Python kernel on ONE core
    (guide §2.5 "one huge unsplittable file"): extract() round-robins
    the pruned input once in that case. On an input that already has
    >= defaultParallelism files — the always-true case at scale — the
    spread must be a no-op and the plan shuffle-free."""
    plan = _plan(QUERIES["extract_html"][0](spark, SF))
    # plan text is top-down: [0] = above the kernel (output side),
    # [1] = below it (input side)
    above, below = plan.split("MapInArrow")[:2]
    # the input spread is the ONLY exchange, and it is round-robin
    assert below.count("Exchange") == 1
    assert "RoundRobinPartitioning" in below
    # nothing above the kernel shuffles the heavy extracted output
    assert "Exchange" not in above

    # at-scale shape: many-file input → no Exchange anywhere
    from libswish3_spark.operators.queries import _docs, _html_wrap

    path = str(tmp_path / "many_files")
    target = spark.sparkContext.defaultParallelism
    _html_wrap(_docs(spark, SF)).repartition(target).write.parquet(path)
    plan2 = _plan(lsw.extract(spark.read.parquet(path)))
    assert "Exchange" not in plan2


def test_dedup_exact_partial_agg(spark):
    """Map-side combine before the exchange (two HashAggregate levels)."""
    plan = _plan(QUERIES["dedup_exact"][0](spark, SF))
    assert plan.count("HashAggregate") >= 2
    assert plan.count("Exchange") == 1


def test_topk_uses_takeordered(spark):
    """ann_cosine_topk must not global-sort: TakeOrderedAndProject."""
    plan = _plan(QUERIES["ann_cosine_topk"][0](spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan.replace("TakeOrderedAndProject", "")


def test_aqe_enabled(spark):
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"


def test_pack_sequences_window_is_partitioned(spark):
    """Packing must window per source shard — a global (single
    partition) window would funnel the corpus through one task."""
    plan = _plan(QUERIES["pack_sequences"][0](spark, SF))
    assert "hashpartitioning(source" in plan
    assert "SinglePartition" not in plan


def test_quality_topk_window_is_partitioned(spark):
    plan = _plan(QUERIES["quality_topk"][0](spark, SF))
    assert "hashpartitioning(lang" in plan
    assert "SinglePartition" not in plan


def test_sample_mix_is_narrow(spark):
    """Deterministic mixing is a scan-side filter: no shuffle at all."""
    plan = _plan(QUERIES["sample_mix"][0](spark, SF))
    assert "Exchange" not in plan


def test_signature_chain_never_sinks_into_scan_filters(spark):
    """A non-outer explode over a computed array makes the optimizer
    infer size()>0 and push the WHOLE generating expression into the
    file scan's DataFilters — serializing the signature chain into the
    scan stage (one task per source file; measured 4-5x the job). The
    explode_outer + null-filter formulation must keep every scan's
    DataFilters free of the tokenize/hash chain."""
    for name in ("minhash_bucket_index", "dedup_ngram_spans", "neardup_incremental",
                 "dedup_ngram_jaccard"):
        plan = _plan(QUERIES[name][0](spark, SF))
        for seg in plan.split("DataFilters: [")[1:]:
            filters = seg.split("]")[0]
            assert "regexp_extract_all" not in filters, (name, filters[:300])
            assert "md5" not in filters, (name, filters[:300])


def test_no_query_plans_a_cartesian_join(spark):
    """Every registered query must plan without CartesianProduct or
    BroadcastNestedLoopJoin — the two shapes that detonate at scale."""
    bad = []
    for name, (fn, _) in QUERIES.items():
        plan = _plan(fn(spark, SF))
        for marker in ("CartesianProduct", "BroadcastNestedLoopJoin"):
            if marker in plan:
                bad.append((name, marker))
    assert bad == []


def test_corpus_rarity_never_broadcasts_the_vocabulary(spark):
    """The corpus frequency table is vocabulary-sized (billions of keys
    at web scale): it must reach the lookup as a SHUFFLED hash join,
    never a broadcast build side; the only broadcast allowed is the
    1-row corpus-total aggregate, and the constant-key trick must not
    degrade to BroadcastNestedLoopJoin."""
    plan = _plan(QUERIES["corpus_rarity"][0](spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "ShuffledHashJoin" in plan
    for seg in plan.split("BroadcastExchange")[1:]:
        # no broadcast subtree keyed/partitioned on the token column
        assert "hashpartitioning(tok" not in seg[:400]


def test_auto_candidate_pairs_plan_no_wider_than_all_pairs(spark):
    """pairs='auto' picks all-pairs or star per bucket with a filter
    on the left join side, so it plans no exchange beyond the plain
    all-pairs self-join."""
    from libswish3_spark.functions import dedup as D

    idx = spark.createDataFrame(
        [(f"d{i}", f"b{i % 5}") for i in range(40)], ["id", "bucket"]
    )
    exchanges = {
        pairs: _plan(D.candidate_pairs_from_buckets(idx, pairs=pairs)).count("Exchange")
        for pairs in ("all", "auto")
    }
    assert exchanges["auto"] <= exchanges["all"], exchanges


def test_jaccard_verify_runs_the_shingle_kernel_once(spark):
    """jaccard_verify hash-partitions the shingle kernel's output on id
    once, so both join sides read one exchange (the second as a reused
    exchange): the executed plan holds one shingle-kernel node, like
    the one band-bucket kernel node of the candidate side."""
    from libswish3_spark.functions import dedup as D

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    verified = D.jaccard_verify(
        docs, D.minhash_candidates(docs, "doc_id", "text"), "doc_id", "text"
    )
    assert verified.count() > 0
    verified.collect()
    final = _plan(verified).split("== Initial Plan ==")[0]
    assert final.count("MapInArrow shingle_kernel") == 1, final
    assert final.count("MapInArrow band_bucket_kernel") == 1, final


def test_registry_fits_driver_correctness_cap():
    """The driver's correctness harness checks at most 50 registry
    entries per round (r04 covered exactly the first 50 of 58 — the
    overflow was silently untested). Every entry must have an oracle,
    and the registry must stay within the cap; merge related queries
    into union-schema entries (see queries.py 'Merged registry
    entries') rather than exceeding it."""
    assert len(QUERIES) <= 50, (
        f"{len(QUERIES)} registry entries — entries beyond 50 never get "
        "a driver correctness row; merge or retire queries"
    )
    missing_oracle = [n for n, (_, sql) in QUERIES.items() if not sql]
    assert missing_oracle == []


def test_registry_matches_duckdb_oracles(spark):
    """Every registry entry returns the same rows as its DuckDB oracle
    over the same parquet tables (oracle_harness's order-insensitive
    compare), under the UTC session time zone the harness runs with."""
    import oracle_harness

    tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        failures = oracle_harness.run(spark, SF)
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)
    assert failures == []


def test_oracle_harness_rejects_unknown_names(spark):
    """A name that is not a registry entry (a retired or misspelt one)
    must fail before anything runs, not be skipped into a clean
    'FAILURES: none'."""
    import oracle_harness

    with pytest.raises(ValueError, match="dedup_resolved_apply"):
        oracle_harness.run(spark, SF, {"dedup_apply", "dedup_resolved_apply"})
