"""Fixture corpus: the reference's golden test documents as docs rows.

The reference asserts exact per-document word counts over
``src/test_docs/`` (reference: src/t/001-wordcount.t:36-80). We ingest
those same documents (read from the read-only reference checkout when
present — they are *test data*, not code) through our byte-ingest layer
and pin the published counts as goldens.

Path adjustment: for TXT documents the reference appends the file path
as the ``swishtitle`` metaname (parser.c:2690-2699), so its published
count includes words from its relative path ``../src/test_docs`` (2
tokens: ``src``, ``test_docs`` — see 001-wordcount.t:14-17). Our
``doc_id`` is ``test_docs/<name>``, whose path prefix contributes 1
token (``test_docs``), so our golden = published − 1 for TXT docs.
XML/HTML documents carry no path contribution. ``xinclude.xml``
follows the same arithmetic per text-mode include (2 includes → −2).
"""

from __future__ import annotations

import os

from libswish3_spark.config import SwishConfig, default_config
from libswish3_spark.sources.files import ingest_bytes

REFERENCE_TEST_DOCS = "/root/reference/src/test_docs"
REFERENCE_TEST_STDIN = "/root/reference/src/test_stdin"

# Published golden nwords (reference: src/t/001-wordcount.t:30-80),
# adjusted to our doc_id path per the module docstring. TXT entries are
# published_base (content+filename words) + 1 for the 'test_docs' path
# token. None = platform-variant in the reference (asserted as a range
# in tests instead).
GOLDEN_NWORDS: dict[str, int | None] = {
    "badxml.xml": 10,
    "contractions.xml": 17,
    "dom.xml": 5,
    "empty_doc.html": 0,
    "foo.txt": 18 + 1,
    "has_nulls.txt": 15 + 1,
    "html_broken.html": 2,
    "inline.html": 9,
    "inline.xml": 14,
    "latin1.html": 10,
    "latin1-noencoding.html": 10,
    "latin1.txt": 0,  # undecodable under default UTF-8 locale
    "latin1.xml": 5,
    "meta.html": 23,
    "min.txt": 3 + 1,
    "multi_props.xml": 27,
    "nested_meta.xml": 20,
    "no_words.html": 0,
    "noindex.html": 19,
    "properties.html": 19,
    "t.html": 6,
    "testutf.xml": 8671,
    "UPPERlower.XML": 19,
    "utf.xml": 32,
    "utf8.html": 11,
    "words.txt": 57 + 1,
    "words.xml": 56,
    # 42 (content + include filename words) + 1 path token ('test_docs')
    # per text-mode include (2 includes; the reference's relative path
    # contributed 2 tokens each, ours contributes 1):
    "xinclude.xml": 42 + 2 * 1,
    # platform/libc-variant counts (001-wordcount.t:63-79): assert range
    "UTF-8-demo.txt": None,  # linux: ~7xx
    "UTF-8-gzipped.txt.gz": None,
    "utf8-tokens-1.txt": None,  # 15 or 16 (+path)
}

# TXT docs that need SWISH_ENCODING=ISO8859-1 to decode (001-wordcount.t:103-110)
LATIN1_ENV_GOLDENS = {
    # published base (content + filename words) + 1 for 'test_docs'
    "latin1.txt": 5 + 1,
    "greek_and_ojibwe.txt": 52 + 1,
}

XINCLUDE_SOURCES = ("included.xml", "include-recursive.xml", "foo.txt")


def reference_available() -> bool:
    return os.path.isdir(REFERENCE_TEST_DOCS)


def fixture_names() -> list[str]:
    # include-target docs ride along so the XInclude join has rows to hit
    return sorted(set(GOLDEN_NWORDS) | set(XINCLUDE_SOURCES))


def load_fixture_rows(
    config: SwishConfig | None = None,
    names: list[str] | None = None,
    default_encoding: str | None = None,
) -> list[dict]:
    """Ingest the reference corpus into docs rows (doc_id = test_docs/<name>)."""
    cfg = config or default_config()
    if default_encoding:
        cfg = cfg.with_overrides(default_encoding=default_encoding)
    rows = []
    for name in names or fixture_names():
        path = os.path.join(REFERENCE_TEST_DOCS, name)
        if not os.path.exists(path):
            continue
        with open(path, "rb") as f:
            data = f.read()
        rows.append(ingest_bytes(data, f"test_docs/{name}", cfg))
    return rows


def load_include_map(config: SwishConfig | None = None) -> dict:
    """XInclude target map: doc_id → (text, parser) for the join-side."""
    cfg = config or default_config()
    out = {}
    for name in XINCLUDE_SOURCES:
        path = os.path.join(REFERENCE_TEST_DOCS, name)
        if not os.path.exists(path):
            continue
        with open(path, "rb") as f:
            row = ingest_bytes(f.read(), f"test_docs/{name}", cfg)
        out[row["doc_id"]] = (row["spans"][0]["text"], row["parser"])
    return out

