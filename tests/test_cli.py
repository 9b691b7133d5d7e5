"""CLI twin goldens: swish_tokenize / swish_header / swish_lint output
contracts, pinned against the reference's own test expectations
(src/t/005-tokenizer.t, src/t/002-header.t, swish_lint.c:345-350)."""

import io
import json
import sys

import pytest

from libswish3_spark.cli import main
from libswish3_spark.sources import fixtures as fx

needs_reference = pytest.mark.skipif(
    not fx.reference_available(), reason="reference corpus not present"
)


def _run(argv, stdin_bytes=None):
    out, err = io.StringIO(), io.StringIO()
    old_out, old_err = sys.stdout, sys.stderr
    sys.stdout, sys.stderr = out, err
    try:
        rc = main(argv)
    finally:
        sys.stdout, sys.stderr = old_out, old_err
    return rc, out.getvalue(), err.getvalue()


def test_tokenize_goldens_from_005_tokenizer_t():
    """The reference's 005-tokenizer.t expectations, verbatim:
    'foobar' → one token len 6; '++foo++' edge-strips to 'foo' len 3;
    the Chinese phrase is 1 token; the Spanish phrase 9; the URI 3."""
    rc, out, _ = _run(["tokenize", "foobar"])
    assert rc == 0
    assert "t->value = foobar" in out and "t->len = 6" in out
    assert "parsed 1 tokens" in out

    _, out, _ = _run(["tokenize", "++foo++"])
    assert "t->value = foo" in out and "t->len = 3" in out

    _, out, _ = _run(["tokenize", "布朗在迅速跳下懒狐狗"])
    assert "parsed 1 tokens" in out

    _, out, _ = _run(
        ["tokenize", "el zorro marrón rápido saltó sobre el perro perezoso"]
    )
    assert "parsed 9 tokens" in out

    _, out, _ = _run(["tokenize", "http://FOOBAR.COM/"])
    assert "parsed 3 tokens" in out


@needs_reference
def test_header_reads_reference_swish_xml(tmp_path):
    """002-header.t shape: read the reference's own test_configs/
    swish.xml, dump the merged view, and round-trip it back out
    (swish_header writes swish_header.xml)."""
    src = "/root/reference/src/test_configs/swish.xml"
    rc, out, _ = _run(["header", src])
    assert rc == 0
    dump = json.loads(out)
    # MetaNames from the file (bias, alias); <other>color size weight
    # </other> declares the children as tag ALIASES of 'other'
    assert dump["metanames"]["foo"]["bias"] == 10
    assert dump["metanames"]["bar"]["bias"] == -5
    assert dump["metanames"]["title"]["alias_for"] == "swishtitle"
    for child in ("color", "size", "weight"):
        assert dump["tag_aliases"][child] == "other"
    # PropertyNames typing/flags (PROP_INT=3 PROP_DATE=2, libswish3.h)
    assert dump["properties"]["bar"]["type"] == 3  # int
    assert dump["properties"]["lastmod"]["type"] == 2  # date
    assert dump["properties"]["description"]["verbatim"] is True
    assert dump["properties"]["description"]["max"] == 10000
    assert dump["properties"]["notsorted"]["sort"] is False
    # MIME + Parsers sections land in the merged view
    assert dump["parsers"].get("text/foo") == "XML"
    assert dump["parsers"].get("foo/bar") == "HTML"  # <MIME><au>foo/bar

    # write path: merged view round-trips through config_to_xml
    outx = tmp_path / "swish_header.xml"
    rc, _, err = _run(["header", src, "-w", str(outx)])
    assert rc == 0 and outx.exists()
    rc2, out2, _ = _run(["header", str(outx)])
    assert rc2 == 0
    dump2 = json.loads(out2)
    assert dump2["metanames"].keys() == dump["metanames"].keys()
    assert dump2["properties"].keys() == dump["properties"].keys()


@needs_reference
def test_header_xmlns_metanames_like_002_header_t():
    """002-header.t asserts xmlns-qualified metanames (swish:color,
    foo:name) survive the header read of test_configs/xmlns.xml."""
    rc, out, _ = _run(["header", "/root/reference/src/test_configs/xmlns.xml"])
    assert rc == 0
    dump = json.loads(out)
    assert "swish:color" in dump["metanames"]
    assert "foo:name" in dump["metanames"]


@needs_reference
def test_lint_totals_over_reference_docs(capsys):
    """swish_lint.c:345-350 output shape over real reference fixtures:
    '<N> files' + 'total words: <sum>' with golden-known word counts."""
    rc, out, _ = _run(
        ["lint", "-v",
         "/root/reference/src/test_docs/dom.xml",
         "/root/reference/src/test_docs/contractions.xml"]
    )
    assert rc == 0
    assert "2 files" in out
    # goldens: dom.xml = 5 words, contractions.xml = 17 (fixtures.py)
    assert "total words: 22" in out


def test_lint_counts_document_error_rows(tmp_path, capsys):
    """Per-document parse errors (error ROWS from the ingest layer)
    must reach stderr and the exit status even without -v — a corrupt
    .gz used to lint clean with exit 0."""
    import gzip as _gz

    from libswish3_spark.cli import main

    bad = tmp_path / "broken.txt.gz"
    good = _gz.compress(b"hello world tokens")
    bad.write_bytes(good[: len(good) // 2])  # truncated gzip
    rc = main(["lint", str(bad)])
    err = capsys.readouterr().err
    assert rc == 1
    assert "gzip" in err


def test_tokenize_len_is_bytes(capsys):
    """swish_tokenize's t->len is the token's UTF-8 BYTE length
    (xmlStrlen), the same semantics as postings.py's len column —
    'café' is 5, not 4."""
    from libswish3_spark.cli import main

    rc = main(["tokenize", "café"])
    out = capsys.readouterr().out
    assert rc == 0
    assert "t->len = 5" in out
