"""The traced run: per-layer metrics of one workload.

Layers are timed from outside, by calling the engine's public functions
in the benchmark's own spans:

* serial, on one core, over a sample of the workload's Arrow batches
  (scaled to the whole input by bytes): ``events.html_events`` /
  ``xml_events``, ``parser.parse_to_state`` minus events and tokenizer,
  the tokenizer over the parsed buffers, and the full
  ``pipeline.extract_batch_fn`` kernel (its Arrow layer is the kernel
  minus the parse);
* in Spark at ``local[nproc]``, as differences of noop-sink jobs: scan,
  input spread, the JVM-Python boundary (an identity ``mapInArrow``),
  the kernel, the parquet write, the manifest;
* in the traced end-to-end job, spans around steps that run as jobs
  of their own: the near-dup chain with a ``localCheckpoint`` between
  stages; ``run_extraction``'s resume step before its data write and
  its manifest step after it (the stats read-back and manifest append),
  bounded by spans around its parquet writes;
* on html_bulk, a planted-skew table (a few 1.5 MB documents among small
  ones) through ``salt_by_size`` + ``run_extraction``: the salt layer and
  the task-time spread of the slowest stage, and a weak-scaling
  diagnostic (1 slot over 1/nproc of the files against nproc slots over
  all of them), reported but not gated;
* on html_bulk, the interleaved table (multi-span HTML/XML/TXT documents
  with media spans and 1% bad rows, one file with one row group) through
  ``pipeline.extract`` without a sink: the ``interleaved.*`` probe layers,
  where the input spread fires, and, from its job with the extraction
  checkpointed, the checked join + aggregate after it;
* the Spark event log of the traced end-to-end jobs (stages, tasks,
  shuffle, spill, GC, task-time spread) and the JVM's peak RSS.

Every per-layer metric is printed on every workload; a layer the
workload does not run (the dedup stages on html_bulk, the extraction
layers on neardup_chain) reads 0. The ``kernel.*`` counts sum over the
tables the traced run extracts end to end.

Untraced and traced end-to-end jobs alternate in one session; their
ratio is ``trace.overhead_frac``. ``reconcile.ratio`` is the sum of the
layer self times on the blocking path (probe differences and traced
spans) over the traced end-to-end time.
Spans and counts stay in memory and are written to
``.perfbench/trace-<workload>.json`` at the end.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import sys
import time

import jobs

# (name, unit, better)
PER_LAYER = [
    ("events.self_s", "s", "lower"),
    ("parser.self_s", "s", "lower"),
    ("tokenizer.self_s", "s", "lower"),
    ("pipeline.kernel_s", "s", "lower"),
    ("pipeline.arrow_s", "s", "lower"),
    ("spark.scan_s", "s", "lower"),
    ("spark.boundary_s", "s", "lower"),
    ("spark.kernel_s", "s", "lower"),
    ("pipeline.spread_fired", "bool", "lower"),
    ("interleaved.scan_s", "s", "lower"),
    ("interleaved.spread_fired", "bool", "lower"),
    ("interleaved.spread_s", "s", "lower"),
    ("interleaved.boundary_s", "s", "lower"),
    ("interleaved.kernel_s", "s", "lower"),
    ("pipeline.spread_s", "s", "lower"),
    ("pipeline.salt_s", "s", "lower"),
    ("checkpoint.write_s", "s", "lower"),
    ("checkpoint.resume_s", "s", "lower"),
    ("checkpoint.manifest_s", "s", "lower"),
    ("check.aggregate_s", "s", "lower"),
    ("spark.task_p50_s", "s", "lower"),
    ("spark.task_max_s", "s", "lower"),
    ("spark.task_skew", "ratio", "lower"),
    ("skew.task_p50_s", "s", "lower"),
    ("skew.task_max_s", "s", "lower"),
    ("skew.task_skew", "ratio", "lower"),
    ("signatures.index_s", "s", "lower"),
    ("dedup.candidates_s", "s", "lower"),
    ("dedup.candidate_pairs", "count", "lower"),
    ("dedup.capped_buckets", "count", "lower"),
    ("dedup.star_buckets", "count", "lower"),
    ("dedup.verify_s", "s", "lower"),
    ("dedup.verified_pairs", "count", "higher"),
    ("dedup.verify_yield", "ratio", "higher"),
    ("dedup.resolve_s", "s", "lower"),
    ("dedup.resolve_local", "bool", "higher"),
    ("dedup.apply_s", "s", "lower"),
    ("spark.stages", "count", "lower"),
    ("spark.tasks", "count", "lower"),
    ("spark.failed_tasks", "count", "lower"),
    ("spark.shuffle_mb", "MB", "lower"),
    ("spark.spill_mb", "MB", "lower"),
    ("spark.gc_s", "s", "lower"),
    ("jvm.peak_rss_mb", "MB", "lower"),
    *[
        (f"kernel.{what}.{cls}", unit, better)
        for what, unit, better in (
            ("docs_in", "count", "higher"),
            ("bytes_in", "bytes", "higher"),
            ("spans_out", "count", "higher"),
            ("words_out", "count", "higher"),
            ("error_rows", "count", "lower"),
        )
        for cls in ("html", "xml", "txt")
    ],
    ("trace.overhead_frac", "ratio", "lower"),
    ("reconcile.ratio", "ratio", "higher"),
    ("scaling.eff_1toN", "ratio", "higher"),
]

KERNEL_COLS = ("doc_id", "spans", "parser", "mime", "error")
SERIAL_DOCS = 2000  # sample size of the serial layer timings
MIN_ROUNDS = 3  # rounds of probes and end-to-end pairs, at least
IL_ROUNDS = 2  # rounds of probes and traced jobs over the interleaved table
NEARDUP_STAGES = (
    "signatures.index",
    "dedup.candidates",
    "dedup.verify",
    "dedup.resolve",
    "dedup.apply",
)
# the layers timed as spans of the traced end-to-end job
TRACED_LAYERS = {
    "html_bulk": ("checkpoint.resume", "checkpoint.manifest"),
    "neardup_chain": NEARDUP_STAGES,
}


class Tracer:
    """Spans (name, parent, start, end) and counts, kept in memory."""

    def __init__(self):
        self.spans: list[dict] = []
        self.counts: dict[str, float] = {}
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {
            "name": name,
            "parent": self.spans[self._stack[-1]]["name"] if self._stack else None,
            "start": time.perf_counter(),
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def timed(self, name: str, fn, *args, **kw):
        with self.span(name):
            return fn(*args, **kw)

    def add(self, name: str, start: float, end: float) -> None:
        """A span whose bounds were taken by other spans."""
        parent = self.spans[self._stack[-1]]["name"] if self._stack else None
        self.spans.append({"name": name, "parent": parent, "start": start, "end": end})

    def median(self, name: str) -> float:
        return statistics.median(_dur(s) for s in self.spans if s["name"] == name)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "counts": self.counts}, f)


def _dur(rec: dict) -> float:
    return rec["end"] - rec["start"]


# --- serial kernel layers --------------------------------------------------


def serial_layers(inp: str, plants: dict) -> dict:
    """One-core self times of events, parser, tokenizer and the Arrow
    layer over the first SERIAL_DOCS documents, scaled to the whole input
    by bytes."""
    import pyarrow.dataset as ds

    from libswish3_spark.config import default_config
    from libswish3_spark.events import html_events, xml_events
    from libswish3_spark.parser import parse_to_state
    from libswish3_spark.pipeline import extract_batch_fn
    from libswish3_spark.tokenizer import split_tokens

    cfg = default_config()
    table = ds.dataset(os.path.join(inp, "input"), format="parquet").head(SERIAL_DOCS)
    batches = table.to_batches(max_chunksize=2000)
    rows = table.to_pylist()
    docs = []
    for r in rows:
        parser = (r["parser"] or cfg.parser_for_mime(r["mime"]) or "HTML").upper()
        spans = [(s["kind"], s["text"], s["media_ref"]) for s in r["spans"] or ()]
        docs.append((r["doc_id"], spans, parser, r["error"]))
    sample_bytes = sum(len(t) for _, spans, _, _ in docs for _, t, _ in spans)

    def events():
        for _, spans, parser, err in docs:
            if err or parser.startswith("T"):
                continue
            scan = html_events if parser.startswith("H") else xml_events
            for kind, text, _ in spans:
                if kind != "media" and text:
                    scan(text)

    def parse():
        for doc_id, spans, parser, err in docs:
            if not err:
                parse_to_state(doc_id, spans, parser, cfg)

    # the parser tokenizes each buffer's bumper-separated segments
    states = [parse_to_state(d, sp, p, cfg) for d, sp, p, e in docs if not e]
    segments = [seg for st in states for buf in st.metanames.values() for seg in buf.split("\x03")]

    def tokenize():
        for seg in segments:
            split_tokens(seg)

    fn = extract_batch_fn(cfg)

    def kernel():
        for out in fn(batches):
            out.num_rows

    # each layer three times, in turn; the median of each is kept
    t: dict = {}
    for _ in range(3):
        for name, f in (("events", events), ("parse", parse), ("tok", tokenize), ("kernel", kernel)):
            t0 = time.perf_counter()
            f()
            t.setdefault(name, []).append(time.perf_counter() - t0)
    events_s, parse_s, tok_s, kernel_s = (
        statistics.median(t[k]) for k in ("events", "parse", "tok", "kernel")
    )

    total_bytes = sum(c["bytes"] for c in plants["by_class"].values())
    scale = total_bytes / max(sample_bytes, 1)
    return {
        "events.self_s": events_s * scale,
        "parser.self_s": (parse_s - events_s - tok_s) * scale,
        "tokenizer.self_s": tok_s * scale,
        "pipeline.kernel_s": kernel_s * scale,
        "pipeline.arrow_s": (kernel_s - parse_s) * scale,
    }


# --- Spark-side layer probes -----------------------------------------------


def extraction_probes(runner, write: bool) -> tuple[list, bool]:
    """The noop-sink probe jobs whose differences give the extraction
    job's blocking-path layers, in order: scan, input spread, identity
    ``mapInArrow``, extract, and with ``write`` extract + parquet write.
    Returns ([(name, fn)], whether the input spread fired)."""
    from libswish3_spark.pipeline import ensure_parallelism, extract
    from libswish3_spark.plans.checkpoint import with_bucket

    spark = runner.spark
    docs = spark.read.parquet(os.path.join(runner.inp, "input"))
    # the columns the kernel reads, as extract() prunes them
    pruned = docs.select(*[c for c in KERNEL_COLS if c in docs.columns])
    pre = ensure_parallelism(pruned)
    fired = pre is not pruned
    # the spread probe runs either way: unfired, it times the guard alone
    probes = [
        ("spark.scan", lambda: jobs._noop(pruned)),
        ("pipeline.spread", lambda: jobs._noop(pre)),
    ]

    def identity(batches):
        yield from batches

    probes.append(("spark.identity", lambda: jobs._noop(pre.mapInArrow(identity, pre.schema))))
    probes.append(("spark.extract", lambda: jobs._noop(extract(docs))))
    if write:
        n = [0]

        def write():
            n[0] += 1
            path = os.path.join(runner.work, f"probe-write-{n[0]}")
            extracted = with_bucket(extract(docs), jobs.NUM_BUCKETS)
            extracted.write.mode("overwrite").partitionBy("bucket").parquet(path)

        probes.append(("checkpoint.write", write))
    return probes, fired


def extraction_layers(t: dict[str, float]) -> dict:
    """Layer self times from the probes' median times ``t``. Differences
    are kept as measured: a layer near zero can read slightly negative."""
    out = {
        "spark.scan_s": t["spark.scan"],
        "pipeline.spread_s": t["pipeline.spread"] - t["spark.scan"],
        "spark.boundary_s": t["spark.identity"] - t["pipeline.spread"],
        "spark.kernel_s": t["spark.extract"] - t["spark.identity"],
    }
    if "checkpoint.write" in t:
        out["checkpoint.write_s"] = t["checkpoint.write"] - t["spark.extract"]
    return out


@contextlib.contextmanager
def traced_writes(tracer: Tracer):
    """Every ``DataFrameWriter.parquet`` call in a span of its own, named
    ``write:<last path component>``, so the steps of a function that
    writes several tables are timed without changing the function."""
    from pyspark.sql.readwriter import DataFrameWriter

    parquet = DataFrameWriter.parquet

    def traced(self, path, *args, **kw):
        with tracer.span("write:" + os.path.basename(os.path.normpath(path))):
            return parquet(self, path, *args, **kw)

    DataFrameWriter.parquet = traced
    try:
        yield
    finally:
        DataFrameWriter.parquet = parquet


def traced_extraction(tracer: Tracer, runner) -> tuple[dict, dict]:
    """html_bulk's job, ``run_extraction``, with its parquet writes
    traced. Its resume step (the input's file listing and the manifest
    reads that find the buckets still to do) runs from the start of the
    job until the data write starts, its manifest step
    from the end of the data write to the end of the manifest append.
    Returns (the end-to-end span, the summary)."""
    with traced_writes(tracer), tracer.span("e2e.traced") as e2e:
        first = len(tracer.spans)
        summary = runner.run()[1]
        writes = {s["name"]: s for s in tracer.spans[first:]}
        data, manifest = writes["write:data"], writes["write:_manifest"]
        tracer.add("checkpoint.resume", e2e["start"], data["start"])
        tracer.add("checkpoint.manifest", data["end"], manifest["end"])
    return e2e, summary


def interleaved_probe(tracer: Tracer, runner) -> tuple[dict, dict, int, int]:
    """html_bulk's interleaved table in the traced run's session: its
    own set-up pass, one untimed checked job, then IL_ROUNDS rounds of
    the extraction probes (no write) and the job with its extraction
    checkpointed, so the checked join + aggregate after it is timed on
    its own. Returns (layer metrics, kernel counts, attempted, failed)."""
    spark, sc = runner.spark, runner.spark.sparkContext
    il_inp = os.path.join(runner.inp, "interleaved")
    il = jobs.Runner(spark, "interleaved_onefile", il_inp, runner.work)
    sc.setJobGroup("interleaved-warm", "interleaved set-up")
    il.warm()
    il.load_expectations()
    extracted, compare = jobs.interleaved_stages(spark, os.path.join(il.inp, "input"), il.expect)
    attempted = failed = 0

    def checked(fn) -> None:
        nonlocal attempted, failed
        attempted += 1
        summary = fn()
        sc.setJobGroup("check", "output checks")
        try:
            il.check(summary)
        except jobs.CheckFailed as e:
            failed += 1
            print(f"check failed: {e}", file=sys.stderr)

    checked(lambda: il.run()[1])
    probes, fired = extraction_probes(il, write=False)
    probe_t: dict[str, list] = {}
    for r in range(IL_ROUNDS):
        sc.setJobGroup("probes", "layer probes")
        for name, fn in probes:
            with tracer.span("interleaved." + name) as rec:
                fn()
            probe_t.setdefault(name, []).append(_dur(rec))

        def job():
            sc.setJobGroup(f"interleaved-{r}", "interleaved traced")
            with tracer.span("interleaved.e2e"):
                got = tracer.timed(
                    "interleaved.extract", lambda: extracted().localCheckpoint(eager=True)
                )
                return tracer.timed("check.aggregate", compare, got)

        checked(job)
    layers = extraction_layers({k: statistics.median(v) for k, v in probe_t.items()})
    metrics = {"interleaved." + k.split(".", 1)[1]: v for k, v in layers.items()}
    metrics["interleaved.spread_fired"] = float(fired)
    metrics["check.aggregate_s"] = tracer.median("check.aggregate")
    sc.setJobGroup("counts", "kernel counts")
    return metrics, kernel_counts(il, il.plants), attempted, failed


def kernel_counts(runner, plants: dict) -> dict:
    """Documents and bytes in (from the generator's record) and spans,
    words and error rows out (from the engine's output), by parser
    class."""
    from pyspark.sql import functions as F

    from libswish3_spark.pipeline import extract

    out = {}
    for cls, c in plants["by_class"].items():
        out[f"kernel.docs_in.{cls}"] = float(c["docs"])
        out[f"kernel.bytes_in.{cls}"] = float(c["bytes"])
    rows = (
        extract(runner.spark.read.parquet(os.path.join(runner.inp, "input")))
        .groupBy(F.lower("parser").alias("cls"))
        .agg(
            F.sum(F.size("spans")).alias("spans"),
            F.sum("nwords").alias("words"),
            F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0)).alias("errors"),
        )
        .collect()
    )
    for r in rows:
        out[f"kernel.spans_out.{r['cls']}"] = float(r["spans"])
        out[f"kernel.words_out.{r['cls']}"] = float(r["words"])
        out[f"kernel.error_rows.{r['cls']}"] = float(r["errors"])
    return out


# --- near-dup chain ---------------------------------------------------------


def traced_neardup(tracer: Tracer, runner, out: str) -> tuple[dict, dict]:
    """The chain with a localCheckpoint between stages, one span each;
    each stage's jobs carry its name as their job description, which the
    event log records. Returns (the end-to-end span, the chain's counts
    taken after it)."""
    from pyspark.sql import functions as F

    from libswish3_spark.functions import dedup as D

    spark, sc = runner.spark, runner.spark.sparkContext
    index, cands, verify, resolve, apply = jobs.neardup_stages(
        spark, os.path.join(runner.inp, "input")
    )

    def stage(name, fn, *args):
        sc.setJobDescription(name)
        try:
            return tracer.timed(name, fn, *args)
        finally:
            sc.setJobDescription(None)

    with tracer.span("e2e.traced") as e2e:
        idx = stage("signatures.index", lambda: index().localCheckpoint(eager=True))
        cand = stage("dedup.candidates", lambda: cands(idx).localCheckpoint(eager=True))
        ver = stage("dedup.verify", lambda: verify(cand).localCheckpoint(eager=True))
        clusters = stage("dedup.resolve", lambda: resolve(ver).localCheckpoint(eager=True))
        stage("dedup.apply", apply, clusters, out)
    sc.setJobGroup("counts", "chain counts")
    n_cand, n_ver = cand.count(), ver.count()
    sizes = idx.groupBy("bucket").count()
    return e2e, {
        "dedup.candidate_pairs": float(n_cand),
        "dedup.verified_pairs": float(n_ver),
        "dedup.verify_yield": n_ver / n_cand if n_cand else 0.0,
        "dedup.capped_buckets": float(D.cap_drop_metrics(idx).collect()[0]["dropped_buckets"]),
        "dedup.star_buckets": float(sizes.where(F.col("count") > D.STAR_THRESHOLD).count()),
    }


# --- event log -----------------------------------------------------------------


def _events(log_dir: str):
    # Spark 4 writes rolling logs: one directory of event files per app
    for path in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True):
        if os.path.isfile(path):
            with open(path) as f:
                for line in f:
                    yield json.loads(line)


def event_log_metrics(log_dir: str, prefix: str) -> dict:
    """Per traced repetition (the Spark jobs of job group
    ``<prefix><n>``): stages, tasks, failed tasks, shuffle written,
    spill and GC, and the task-time spread of its heaviest stage; the
    median over the repetitions."""
    stages_of_rep: dict[str, list[int]] = {}
    tasks: dict[int, list[dict]] = {}
    for ev in _events(log_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            if group.startswith(prefix):
                stages_of_rep.setdefault(group, []).extend(ev["Stage IDs"])
        elif kind == "SparkListenerTaskEnd":
            tasks.setdefault(ev["Stage ID"], []).append(ev)

    def m(t, key):
        return (t.get("Task Metrics") or {}).get(key) or 0

    per_rep = []
    for ids in stages_of_rep.values():
        ran = [s for s in set(ids) if s in tasks]
        if not ran:
            continue
        evs = [t for s in ran for t in tasks[s]]
        heavy = max(ran, key=lambda s: sum(m(t, "Executor Run Time") for t in tasks[s]))
        d = sorted(
            (t["Task Info"]["Finish Time"] - t["Task Info"]["Launch Time"]) / 1000
            for t in tasks[heavy]
        )
        p50 = statistics.median(d)
        per_rep.append(
            {
                "spark.stages": len(ran),
                "spark.tasks": len(evs),
                "spark.failed_tasks": sum(
                    (t.get("Task End Reason") or {}).get("Reason") != "Success" for t in evs
                ),
                "spark.shuffle_mb": sum(
                    (m(t, "Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    for t in evs
                )
                / 2**20,
                "spark.spill_mb": sum(m(t, "Disk Bytes Spilled") for t in evs) / 2**20,
                "spark.gc_s": sum(m(t, "JVM GC Time") for t in evs) / 1000,
                "spark.task_p50_s": p50,
                "spark.task_max_s": d[-1],
                "spark.task_skew": d[-1] / p50 if p50 else 0.0,
            }
        )
    if not per_rep:
        return {}
    return {k: float(statistics.median(r[k] for r in per_rep)) for k in per_rep[0]}


def resolve_ran_local(log_dir: str) -> float:
    """1 if the traced chain's resolve stage ran the driver-side
    union-find, 0 if it ran the distributed doubling rounds. Read from
    the SQL plans the event log records under the stage's job
    description: every doubling round joins the edge and label tables,
    the union-find path runs no join."""
    plans = [
        ev.get("physicalPlanDescription") or ""
        for ev in _events(log_dir)
        if ev.get("Event", "").endswith("SQLExecutionStart")
        and ev.get("description") == "dedup.resolve"
    ]
    if not plans:
        raise RuntimeError("the event log holds no SQL plan of the resolve stage")
    return float(not any("Join" in p for p in plans))


def _peak_rss_mb(pid: int | None) -> float:
    if pid is None:
        return 0.0
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


# --- planted skew ----------------------------------------------------------------


def skew_probe(tracer: Tracer, runner, rounds: int = 1) -> tuple[dict, int, int]:
    """html_bulk's planted-skew table through salt_by_size +
    run_extraction (job groups ``skew-<n>``, checked), and the salt layer
    as salt -> noop minus scan -> noop. Returns (metrics, attempted,
    failed)."""
    from libswish3_spark.pipeline import salt_by_size

    spark, sc = runner.spark, runner.spark.sparkContext
    src = os.path.join(runner.inp, "skew")
    docs = spark.read.parquet(src)
    pruned = docs.select(*[c for c in KERNEL_COLS if c in docs.columns])
    salted = salt_by_size(pruned, jobs.SALT_PER_SLOT * sc.defaultParallelism)
    scan, salt, failed = [], [], 0
    for i in range(rounds):
        sc.setJobGroup("probes", "layer probes")
        with tracer.span("skew.scan") as rec:
            jobs._noop(pruned)
        scan.append(_dur(rec))
        with tracer.span("pipeline.salt") as rec:
            jobs._noop(salted)
        salt.append(_dur(rec))
        sc.setJobGroup(f"skew-{i}", "planted-skew job")
        out = runner._out()
        with tracer.span("skew.job"):
            jobs.job_salted(spark, src, out)
        sc.setJobGroup("check", "output checks")
        try:
            jobs.check_salted(runner, {"out": out})
        except jobs.CheckFailed as e:
            failed += 1
            print(f"check failed: {e}", file=sys.stderr)
    return {"pipeline.salt_s": statistics.median(salt) - statistics.median(scan)}, rounds, failed


# --- weak scaling -----------------------------------------------------------------


def scaling_eff(workload: str, inp: str, work: str, t_n: float) -> float:
    """1 slot over 1/nproc of the input files against nproc slots over
    all of them (``t_n``, the untraced end-to-end median)."""
    n = jobs.slots()
    files = sorted(glob.glob(os.path.join(inp, "input", "*.parquet")))
    share = files[: max(1, len(files) // n)]
    spark, runner, _ = jobs.timed_setup(workload, inp, work, nslots=1)
    try:
        times = []
        for i in range(3):  # the first one warms up, as on nproc slots
            out = os.path.join(work, f"scale-{i}")
            t0 = time.perf_counter()
            jobs.JOBS[workload](spark, share, out)
            times.append(time.perf_counter() - t0)
        times = times[1:]
    finally:
        jobs.stop_session(spark)
    return statistics.median(times) / t_n if t_n else 0.0


# --- the traced run ------------------------------------------------------------------


def run(workload: str, inp: str, work: str, seconds: float) -> dict:
    """Rounds of: each layer probe once, then the untraced and the traced
    end-to-end job (their order alternating), until ``seconds`` have
    passed and at least MIN_ROUNDS rounds ran; every end-to-end output
    is checked. Then the counts, the serial layers and, on html_bulk,
    the planted-skew and interleaved tables and the weak-scaling
    diagnostic."""
    tracer = Tracer()
    metrics = {name: 0.0 for name, _, _ in PER_LAYER}
    log_dir = os.path.join(work, "eventlog")
    spark, runner, _ = jobs.timed_setup(workload, inp, work, event_log=log_dir)
    sc = spark.sparkContext
    attempted = failed = 0
    untraced, traced, probe_t = [], [], {}

    def checked(summary) -> bool:
        nonlocal failed
        sc.setJobGroup("check", "output checks")
        try:
            runner.check(summary)
            return True
        except jobs.CheckFailed as e:
            failed += 1
            print(f"check failed: {e}", file=sys.stderr)
            return False

    def e2e(traced_rep: bool, r: int) -> None:
        nonlocal attempted
        attempted += 1
        if not traced_rep:
            sc.setJobGroup(f"untraced-{r}", "untraced end-to-end")
            dt, summary = runner.run()
            if checked(summary):
                untraced.append(dt)
            return
        sc.setJobGroup(f"traced-{r}", "traced end-to-end")
        counts = {}
        if workload == "neardup_chain":
            out = runner._out()
            rec, counts = traced_neardup(tracer, runner, out)
            summary = {"out": out}
        else:
            rec, summary = traced_extraction(tracer, runner)
        if checked(summary):
            traced.append(_dur(rec))
            metrics.update(counts)

    try:
        # the first full-size job pays JIT and code-generation costs
        attempted += 1
        checked(runner.run()[1])
        if workload == "neardup_chain":
            src = spark.read.parquet(os.path.join(inp, "input"))
            probes, fired = [("spark.scan", lambda: jobs._noop(src))], False
        else:
            probes, fired = extraction_probes(runner, write=True)
        t_end = time.perf_counter() + seconds
        r = 0
        while r < MIN_ROUNDS or time.perf_counter() < t_end:
            sc.setJobGroup("probes", "layer probes")
            for name, fn in probes:
                with tracer.span(name) as rec:
                    fn()
                probe_t.setdefault(name, []).append(_dur(rec))
            for traced_rep in (r % 2 == 1, r % 2 == 0):
                e2e(traced_rep, r)
            r += 1
        sc.setJobGroup("counts", "kernel counts")
        t = {k: statistics.median(v) for k, v in probe_t.items()}
        layers = {f"{n}_s": tracer.median(n) for n in TRACED_LAYERS[workload]}
        if workload == "neardup_chain":
            metrics["spark.scan_s"] = t["spark.scan"]
        else:
            layers.update(extraction_layers(t))
            metrics["pipeline.spread_fired"] = float(fired)
            metrics.update(kernel_counts(runner, runner.plants))
            with tracer.span("serial"):
                metrics.update(serial_layers(inp, runner.plants))
        metrics.update(layers)
        if workload == "html_bulk":
            salt, n, bad = skew_probe(tracer, runner)
            metrics.update(salt)
            attempted, failed = attempted + n, failed + bad
            il_layers, il_counts, n, bad = interleaved_probe(tracer, runner)
            metrics.update(il_layers)
            for k, v in il_counts.items():
                metrics[k] = metrics.get(k, 0.0) + v
            attempted, failed = attempted + n, failed + bad
        metrics["jvm.peak_rss_mb"] = _peak_rss_mb(jobs.jvm_pid())
    finally:
        jobs.stop_session(spark)
    metrics.update(event_log_metrics(log_dir, "traced-"))
    if workload == "neardup_chain":
        metrics["dedup.resolve_local"] = resolve_ran_local(log_dir)
    skew = event_log_metrics(log_dir, "skew-")
    for k in ("task_p50_s", "task_max_s", "task_skew"):
        if f"spark.{k}" in skew:
            metrics[f"skew.{k}"] = skew[f"spark.{k}"]
    t_traced = statistics.median(traced)
    t_untraced = statistics.median(untraced)
    metrics["trace.overhead_frac"] = t_traced / t_untraced - 1
    metrics["reconcile.ratio"] = sum(layers.values()) / t_traced
    if workload == "html_bulk":
        metrics["scaling.eff_1toN"] = scaling_eff(workload, inp, work, t_untraced)
    tracer.counts = dict(metrics)
    tracer.write(os.path.join(os.path.dirname(work), f"trace-{workload}.json"))
    units = {name: unit for name, unit, _ in PER_LAYER}
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }
