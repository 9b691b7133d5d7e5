"""Seeded input generator for the spark-swish benchmark workloads.

Run as a separate process so its memory never counts against the Spark
driver process's peak RSS::

    python3 perfbench/gen.py --workload html_bulk --seed 1 --cache .perfbench

Writes, under ``<cache>/<workload>-seed<seed>-n<slots>-v<version>``
(created atomically: a temp dir renamed at the end; kept if it exists)
and prints that path. ``slots`` is the number of CPUs this process may
run on, as the Spark session's ``local[nproc]``:

* ``input/``  — the docs table the timed job reads (parquet);
* ``warm/``   — a small table of the same shape, one file per slot, for
  the set-up pass;
* ``expect.parquet`` — per-document expectations, where the workload
  checks per document;
* ``plants.json`` — what was planted and the measured share of each
  property, plus the scalar expectations of the workload;
* html_bulk only: ``skew/``, the planted-skew table, and
  ``interleaved/``, the interleaved one-file table with its own
  ``input/``, ``warm/``, ``expect.parquet`` and ``plants.json``; both
  are probed by html_bulk's traced run.

The expectations never come from the code under test: HTML word counts
and the near-duplicate survivors come from the repository's DuckDB
oracles (``ORACLE_EXTRACT_HTML``, ``ORACLE_DEDUP_APPLY``) over the
generated table, and the interleaved documents' expectations from this
generator's own construction.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import re
import shutil
import sys

import pyarrow as pa
import pyarrow.parquet as pq

# the engine's package, from the root of the checkout this file is in
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from libswish3_spark.operators import queries  # noqa: E402

# the sf-style corpus vocabulary: short lowercase ASCII words, so the
# ASCII token pattern below is exactly the engine's tokenization
VOCAB = (
    "a the batch part spark line column order small sort fast value scan "
    "hash slow group agg filter query big key window row table stream "
    "merge data vector customer join index shard page token node cache "
    "plan task stage file"
).split()
TOKEN_RE = re.compile(r"[a-z0-9'_]+")

SPAN_T = pa.struct(
    [
        ("kind", pa.string()),
        ("text", pa.string()),
        ("media_ref", pa.string()),
        ("offset", pa.int32()),
    ]
)
DOCS_T = pa.schema(
    [
        ("doc_id", pa.string()),
        ("spans", pa.list_(SPAN_T)),
        ("parser", pa.string()),
        ("mime", pa.string()),
        ("error", pa.string()),
    ]
)
TEXT_T = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])

# workload sizes; bump VERSION whenever a size or a rule changes so
# cached inputs are rebuilt
VERSION = 11
HTML_BASE_DOCS = 5000  # one sf0.1 documents table
HTML_REPLICAS = 2
HTML_FILES = 32
IL_DOCS = 12000
IL_BAD_FRAC = 0.01
ND_FAMILIES = 320
ND_HOT_EVERY = 64  # every 64th family is a hot family of 64 members
ND_HOT_SIZE = 64
ND_FILES = 8
# base text lengths in words; the DuckDB oracle's shingling is quadratic
# in them, and 48+ words keep every pair of family members above the
# Jaccard threshold (see _clone)
ND_WORDS = (48, 64)
SKEW_SMALL_DOCS = 3000  # html_bulk's planted-skew table: small documents
SKEW_BIG_DOCS = 3  # plus this many planted documents
SKEW_BIG_BYTES = 3 << 19  # of 1.5 MB; span-per-word output rows of larger ones strain the heap
SKEW_FILES = 8
WARM_DOCS_PER_FILE = 24


def sf_words(rng: random.Random, lo: int = 8, hi: int = 96) -> list[str]:
    """One sf0.1-style document body: 8 to 96 vocabulary words."""
    return rng.choices(VOCAB, k=rng.randint(lo, hi))


def ntok(s: str) -> int:
    return len(TOKEN_RE.findall(s.lower()))


def html_doc(doc_id: int, source: str, body: str) -> str:
    return (
        f"<html><head><title>doc {doc_id} from {source}</title></head>"
        f"<body>{body}</body></html>"
    )


def _span(text: str, kind: str = "text", ref: str = "") -> dict:
    return {"kind": kind, "text": text, "media_ref": ref, "offset": 0}


def _docs_table(rows: list[dict]) -> pa.Table:
    cols = {f.name: [r.get(f.name) for r in rows] for f in DOCS_T}
    return pa.Table.from_pydict(cols, schema=DOCS_T)


def _write_files(table: pa.Table, out_dir: str, nfiles: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    n = table.num_rows
    step = -(-n // nfiles)
    for i in range(nfiles):
        part = table.slice(i * step, step)
        if part.num_rows:
            pq.write_table(part, os.path.join(out_dir, f"part-{i:04d}.parquet"))


def _html_rows(rng: random.Random, n: int, id0: int) -> list[tuple[int, str, str]]:
    return [
        (id0 + i, f"src{rng.randrange(20)}", " ".join(sf_words(rng)))
        for i in range(n)
    ]


def _write_warm_html(rng: random.Random, out: str, slots: int) -> None:
    rows = _html_rows(rng, WARM_DOCS_PER_FILE * slots, 10**9)
    table = _docs_table(
        [
            {"doc_id": str(d), "spans": [_span(html_doc(d, s, t))], "parser": "HTML"}
            for d, s, t in rows
        ]
    )
    _write_files(table, os.path.join(out, "warm"), slots)


def _duckdb(threads: int):
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET threads = {threads}")
    return con


def gen_html_bulk(rng: random.Random, out: str, slots: int) -> dict:
    """sf0.1-style HTML documents replicated x2, one span each, in many
    files, plus the planted-skew table. Expectations: the repository's
    HTML oracle (nwords = title tokens + body tokens; title; description
    = body)."""
    base = _html_rows(rng, HTML_BASE_DOCS, 0)
    k = HTML_REPLICAS
    rows = [(d * k + r, s, t) for d, s, t in base for r in range(k)]
    rng.shuffle(rows)
    truth = pa.table(
        {
            "doc_id": pa.array([d for d, _, _ in rows], pa.int64()),
            "source": [s for _, s, _ in rows],
            "text": [t for _, _, t in rows],
        }
    )
    table = _docs_table(
        [
            {"doc_id": str(d), "spans": [_span(html_doc(d, s, t))], "parser": "HTML"}
            for d, s, t in rows
        ]
    )
    _write_files(table, os.path.join(out, "input"), HTML_FILES)
    con = _duckdb(slots)
    con.register("documents", truth)
    con.execute(
        f"""
        COPY (
          SELECT CAST(doc_id AS VARCHAR) AS doc_id, CAST(nwords AS BIGINT) AS nwords,
                 title, description
          FROM ({queries.ORACLE_EXTRACT_HTML})
        ) TO '{os.path.join(out, "expect.parquet")}' (FORMAT parquet)
        """
    )
    _write_warm_html(rng, out, slots)
    il_dir = os.path.join(out, "interleaved")
    il = gen_interleaved_onefile(rng, il_dir, slots)
    with open(os.path.join(il_dir, "plants.json"), "w") as f:
        json.dump(il, f, indent=1, sort_keys=True)
    total_bytes = sum(len(html_doc(d, s, t)) for d, s, t in rows)
    return {
        "docs": len(rows),
        "files": HTML_FILES,
        "skew": _write_skew(rng, out),
        "interleaved_docs": il["docs"],
        "by_class": {"html": {"docs": len(rows), "bytes": total_bytes}},
        "shares": {"media_docs": 0.0, "bad_rows": 0.0},
        "largest_doc_bytes": max(len(html_doc(d, s, t)) for d, s, t in rows),
    }


def _il_doc(rng: random.Random, doc_id: int, cls: str) -> tuple[list[dict], int, list[str]]:
    """One interleaved document of parser class ``cls``: 2-4 text spans,
    a media span between some of them. Returns (spans, nwords, refs)."""
    nseg = rng.randint(2, 4)
    segs = [sf_words(rng, 4, 40) for _ in range(nseg)]
    words = sum(len(s) for s in segs)
    if cls == "html":
        src = f"src{rng.randrange(20)}"
        head = f"<html><head><title>doc {doc_id} from {src}</title></head><body><p>"
        tail = "</p></body></html>"
        words += 4  # title tokens: doc, <id>, from, <src>
    elif cls == "xml":
        head, tail = "<doc><p>", "</p></doc>"
    else:
        head, tail = "", ""
        words += 1  # TXT title is the numeric doc_id
    spans, refs = [], []
    for j, seg in enumerate(segs):
        text = " " + " ".join(seg) + " "
        if j == 0:
            text = head + text
        if j == nseg - 1:
            text += tail
        spans.append(_span(text))
        if j < nseg - 1 and rng.random() < 0.6:
            ref = f"img://{doc_id}/{j}"
            refs.append(ref)
            spans.append(_span("", "media", ref))
    return spans, words, refs


_MIME = {"html": "text/html", "xml": "application/xml", "txt": "text/plain"}


def gen_interleaved_onefile(rng: random.Random, out: str, slots: int) -> dict:
    """html_bulk's interleaved table: multi-span documents with media spans between text spans; HTML,
    XML and TXT, chosen by ``parser`` for half the rows and by ``mime``
    for the rest. About 1% planted bad rows: a preset ``error``, XML
    with content after the root (fatal), or XML with an undefined
    entity in its last element (wounded). One file, one row group."""
    rows, expect = [], []
    counts = {"media_docs": 0, "preset": 0, "xml_fatal": 0, "xml_wounded": 0}
    by_class = {c: {"docs": 0, "bytes": 0} for c in ("html", "xml", "txt")}
    for i in range(IL_DOCS):
        doc_id = 10_000_000 + i
        r = rng.random()
        bad = None
        if r < IL_BAD_FRAC:
            bad = ("preset", "xml_fatal", "xml_wounded")[i % 3]
        cls = "xml" if bad in ("xml_fatal", "xml_wounded") else rng.choices(
            ("html", "xml", "txt"), (2, 1, 1)
        )[0]
        row = {"doc_id": str(doc_id)}
        if rng.random() < 0.5:
            row["parser"] = cls.upper()
        else:
            row["mime"] = _MIME[cls]
        err = None
        if bad == "xml_fatal":
            inner, extra = sf_words(rng, 4, 40), sf_words(rng, 2, 8)
            text = (
                f"<doc><p>{' '.join(inner)}</p></doc>"
                f"<extra>{' '.join(extra)}</extra>"
            )
            spans, words, refs = [_span(text)], len(inner), []
        elif bad == "xml_wounded":
            a, b, c = sf_words(rng, 4, 30), sf_words(rng, 2, 10), sf_words(rng, 2, 10)
            text = (
                f"<doc><p>{' '.join(a)}</p>"
                f"<p>{' '.join(b)} &bogus; {' '.join(c)}</p></doc>"
            )
            spans, words, refs = [_span(text)], len(a) + len(b) + len(c), []
        else:
            spans, words, refs = _il_doc(rng, doc_id, cls)
            if bad == "preset":
                err = "decode: invalid utf-8 sequence"
                row["error"] = err
                words, refs = 0, []
        if bad:
            counts[bad] += 1
        if refs:
            counts["media_docs"] += 1
        row["spans"] = spans
        rows.append(row)
        by_class[cls]["docs"] += 1
        by_class[cls]["bytes"] += sum(len(s["text"]) for s in spans)
        expect.append(
            {
                "doc_id": str(doc_id),
                "nwords": words,
                "refs": "|".join(refs),
                "error": err,
                "class": bad or "ok",
            }
        )
    os.makedirs(os.path.join(out, "input"))
    table = _docs_table(rows)
    pq.write_table(
        table,
        os.path.join(out, "input", "part-0000.parquet"),
        row_group_size=table.num_rows,
    )
    pq.write_table(pa.Table.from_pylist(expect), os.path.join(out, "expect.parquet"))
    warm = []
    for i in range(WARM_DOCS_PER_FILE * slots):
        cls = ("html", "xml", "txt")[i % 3]
        spans, _, _ = _il_doc(rng, 10**9 + i, cls)
        warm.append({"doc_id": str(10**9 + i), "spans": spans, "parser": cls.upper()})
    _write_files(_docs_table(warm), os.path.join(out, "warm"), 1)
    n = len(rows)
    return {
        "docs": n,
        "files": 1,
        "row_groups": 1,
        "by_class": by_class,
        "shares": {
            "media_docs": counts["media_docs"] / n,
            "bad_rows": {k: counts[k] / n for k in ("preset", "xml_fatal", "xml_wounded")},
        },
        "largest_doc_bytes": max(sum(len(s["text"]) for s in r["spans"]) for r in rows),
        "expected_errors": counts["preset"],
    }


def _clone(rng: random.Random, base: list[str]) -> list[str]:
    """A near-duplicate: up to two word substitutions. With bases of
    48+ words every pair of family members keeps 3-gram Jaccard above
    0.5, so star and all-pairs edges resolve the same clusters."""
    out = list(base)
    for _ in range(rng.randint(0, 2)):
        out[rng.randrange(len(out))] = rng.choice(VOCAB)
    return out


ND_SIZES = (1, 1, 2, 2, 3, 4, 6, 8)  # the ordinary families' sizes, in turn


def _family_sizes(n: int) -> list[int]:
    """Family sizes are fixed, so every seed has the same document count;
    only the texts and their order depend on the seed."""
    return [
        ND_HOT_SIZE if f % ND_HOT_EVERY == ND_HOT_EVERY - 1 else ND_SIZES[f % len(ND_SIZES)]
        for f in range(n)
    ]


def _neardup_rows(rng: random.Random, families: int, id0: int) -> tuple[list, int]:
    rows, hot_docs = [], 0
    for size in _family_sizes(families):
        base = sf_words(rng, *ND_WORDS)
        for m in range(size):
            rows.append(" ".join(base if m == 0 else _clone(rng, base)))
        if size == ND_HOT_SIZE:
            hot_docs += size
    rng.shuffle(rows)
    return [(id0 + i, t) for i, t in enumerate(rows)], hot_docs


def _materialized(sql: str) -> str:
    """``sql`` with its shingle and bucket CTEs materialized. DuckDB
    inlines a CTE at each reference, which would recompute every
    document's shingles and minhashes once per reference."""
    for cte in ("sh", "bk"):
        head = f"\n{cte} AS ("
        if head not in sql:
            raise ValueError(f"the oracle has no {cte} CTE")
        sql = sql.replace(head, f"\n{cte} AS MATERIALIZED (")
    return sql


def gen_neardup_chain(rng: random.Random, out: str, slots: int) -> dict:
    """Clone families of sf-style text: most families have at most 8
    members, every 64th has 64, which sends its buckets down the star
    path of ``pairs="auto"``. Expectation: survivors and surviving chars
    of the repository's DuckDB dedup chain over the generated table."""
    rows, hot_docs = _neardup_rows(rng, ND_FAMILIES, 0)
    table = pa.Table.from_pylist(
        [{"doc_id": d, "text": t} for d, t in rows], schema=TEXT_T
    )
    _write_files(table, os.path.join(out, "input"), ND_FILES)
    con = _duckdb(slots)
    con.register("documents", table)
    survivors, chars = con.execute(_materialized(queries.ORACLE_DEDUP_APPLY)).fetchone()
    warm_rows, _ = _neardup_rows(rng, 2 * slots, 10**9)
    _write_files(
        pa.Table.from_pylist([{"doc_id": d, "text": t} for d, t in warm_rows], schema=TEXT_T),
        os.path.join(out, "warm"),
        slots,
    )
    return {
        "docs": len(rows),
        "files": ND_FILES,
        "by_class": {},
        "shares": {"hot_family_docs": hot_docs / len(rows)},
        "largest_doc_bytes": max(len(t) for _, t in rows),
        "expected_survivors": survivors,
        "expected_surviving_chars": chars,
    }


def _write_skew(rng: random.Random, out: str) -> dict:
    """html_bulk's planted-skew table: small sf-style HTML documents plus
    a few 1.5 MB ones, for the salt_by_size probe of the traced run.
    Expectations: row count and total words."""
    small = _html_rows(rng, SKEW_SMALL_DOCS, 2 * 10**8)
    rows = [(d, html_doc(d, s, t), ntok(f"doc {d} from {s}") + ntok(t)) for d, s, t in small]
    for j in range(SKEW_BIG_DOCS):
        d = 10**8 + j
        paras, size = [], 0
        while size < SKEW_BIG_BYTES:
            paras.append("<p>" + " ".join(sf_words(rng, 64, 64)) + "</p>")
            size += len(paras[-1])
        rows.append((d, html_doc(d, "big", "".join(paras)), 4 + 64 * len(paras)))
    rng.shuffle(rows)
    table = _docs_table(
        [{"doc_id": str(d), "spans": [_span(h)], "parser": "HTML"} for d, h, _ in rows]
    )
    _write_files(table, os.path.join(out, "skew"), SKEW_FILES)
    return {
        "docs": len(rows),
        "planted_docs_share": SKEW_BIG_DOCS / len(rows),
        "largest_doc_bytes": max(len(h) for _, h, _ in rows),
        "expected_words": sum(w for _, _, w in rows),
    }


GENERATORS = {
    "html_bulk": gen_html_bulk,
    "neardup_chain": gen_neardup_chain,
}


def input_dir(cache: str, workload: str, seed: int, slots: int) -> str:
    return os.path.join(cache, f"{workload}-seed{seed}-n{slots}-v{VERSION}")


def generate(workload: str, seed: int, cache: str) -> str:
    """Write one workload's inputs unless they already exist; returns
    their directory."""
    slots = len(os.sched_getaffinity(0))
    out = input_dir(cache, workload, seed, slots)
    if os.path.exists(os.path.join(out, "plants.json")):
        return out
    pa.set_cpu_count(slots)
    pa.set_io_thread_count(slots)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rng = random.Random(f"{workload}:{seed}")
    plants = GENERATORS[workload](rng, tmp, slots)
    plants.update({"workload": workload, "seed": seed, "version": VERSION})
    with open(os.path.join(tmp, "plants.json"), "w") as f:
        json.dump(plants, f, indent=1, sort_keys=True)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(GENERATORS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--cache", required=True)
    a = p.parse_args(argv)
    print(generate(a.workload, a.seed, a.cache))
    return 0


if __name__ == "__main__":
    sys.exit(main())
