"""Config loader / merge / flag tests (C1-C4, A5, A3)."""

import pytest

from libswish3_spark.config import (
    CLASS_ATTRIBUTES,
    default_config,
    load_config_xml,
)
from libswish3_spark.parser import parse_document
from libswish3_spark.sources import fixtures as fx

needs_reference = pytest.mark.skipif(
    not fx.reference_available(), reason="reference corpus not present"
)


def test_defaults_match_reference():
    cfg = default_config()
    # config.c:268-373
    assert set(cfg.metanames) == {"swishdefault", "swishtitle"}
    assert set(cfg.properties) == {"swishdescription", "swishtitle"}
    assert cfg.tag_aliases == {"title": "swishtitle", "body": "swishdescription"}
    assert cfg.parsers["text/html"] == "HTML"
    assert cfg.parsers["default"] == "HTML"
    # config.c:189-194 flag defaults
    assert cfg.tokenize and not cfg.cascade_meta_context
    assert cfg.ignore_xmlns and cfg.follow_xinclude
    assert cfg.undef_metas == "index" and cfg.undef_attrs == "disable"


def test_loader_sections_and_flags():
    cfg = load_config_xml(
        """
        <swish>
          <MetaNames><foo bias="5"/><bar id="9">baz qux</bar></MetaNames>
          <PropertyNames><myprop verbatim="1" type="int"/></PropertyNames>
          <TagAlias><foo>oldfoo</foo></TagAlias>
          <Parsers><TXT>application/x-custom</TXT></Parsers>
          <MIME><weird>application/x-weird</weird></MIME>
          <XMLClassAttributes>class</XMLClassAttributes>
          <UndefinedMetaTags>auto</UndefinedMetaTags>
          <CascadeMetaContext>1</CascadeMetaContext>
          <FollowXInclude>no</FollowXInclude>
        </swish>
        """
    )
    assert cfg.metanames["foo"].bias == 5
    assert cfg.metanames["bar"].id == 9
    assert cfg.tag_aliases["baz"] == "bar" and cfg.tag_aliases["qux"] == "bar"
    assert cfg.properties["myprop"].verbatim and cfg.properties["myprop"].type == 3
    assert cfg.tag_aliases["oldfoo"] == "foo"
    assert cfg.parsers["application/x-custom"] == "TXT"
    assert cfg.mimes["weird"] == "application/x-weird"
    assert cfg.stringlists[CLASS_ATTRIBUTES] == ("class",)
    assert cfg.undef_metas == "auto"
    assert cfg.cascade_meta_context is True
    assert cfg.follow_xinclude is False


def test_include_config_file_recursion():
    inner = "<swish><MetaNames><deep/></MetaNames></swish>"
    cfg = load_config_xml(
        "<swish><IncludeConfigFile>inner.xml</IncludeConfigFile></swish>",
        _resolver=lambda name: inner if name == "inner.xml" else None,
    )
    assert "deep" in cfg.metanames


def test_alias_integrity_validation():
    with pytest.raises(ValueError):
        load_config_xml(
            '<swish><MetaNames><foo alias_for="missing"/></MetaNames></swish>'
        )


def test_cascade_meta_context():
    """A3 (reference: parser.c:786-799): with the flag on, flushed text
    lands in every metaname on the stack, not just the head."""
    cfg = load_config_xml(
        "<swish><MetaNames><outer/><inner/></MetaNames>"
        "<CascadeMetaContext>1</CascadeMetaContext></swish>"
    )
    r = parse_document(
        "c.xml",
        [{"kind": "text", "text": "<doc><outer>a <inner>b</inner></outer></doc>",
          "media_ref": "", "offset": 0}],
        parser="XML",
        config=cfg,
    )
    # 'b' flushed under inner AND cascaded to outer + swishdefault
    assert "b" in r["metanames"]["inner"]
    assert "b" in r["metanames"]["outer"]
    assert "b" in r["metanames"]["swishdefault"]
    # without the flag, 'b' stays only under inner
    r2 = parse_document(
        "c.xml",
        [{"kind": "text", "text": "<doc><outer>a <inner>b</inner></outer></doc>",
          "media_ref": "", "offset": 0}],
        parser="XML",
        config=cfg.with_overrides(cascade_meta_context=False),
    )
    assert "b" in r2["metanames"]["inner"]
    assert "b" not in r2["metanames"].get("outer", "")


@needs_reference
def test_mime_table_matches_reference_exactly():
    """D1: every ext→MIME pair in the reference's SWISH_MIME_TABLE
    (reference: src/libswish3/mime_types.c:35-200) must be present with
    the identical value — parsed from the C source, not hand-copied."""
    import re

    src = open("/root/reference/src/libswish3/mime_types.c").read()
    body = src.split("SWISH_MIME_TABLE[] = {")[1].split("};")[0]
    body = re.sub(r"/\*.*?\*/", "", body, flags=re.S)  # strip C comments
    strings = re.findall(r'"([^"]+)"', body)
    # the reference's SWISH_MIME_TABLE_COUNT says 304, but the table
    # actually holds 308 strings / 154 unique pairs (the C loop bound
    # `i <= COUNT` even drops the last pair — a reference quirk we
    # don't reproduce: lookup semantics, not iteration, are the contract)
    assert len(strings) == 308
    ref_pairs = dict(zip(strings[::2], strings[1::2]))
    assert len(ref_pairs) == 154

    cfg = default_config()
    missing = {e: m for e, m in ref_pairs.items() if cfg.mimes.get(e) != m}
    assert missing == {}
    # fallback semantics (mime_types.c:236-251)
    assert cfg.mime_for_ext("no_such_ext") == "text/plain"
    assert cfg.mime_for_ext("SVG") == "image/svg+xml"  # case-folded lookup


def test_mime_drives_parser_dispatch():
    """D1→D2 chain: shtml-era extensions now route to real parsers
    instead of falling back to text/plain's TXT."""
    cfg = default_config()
    assert cfg.parser_for_mime(cfg.mime_for_ext("htm")) == "HTML"
    assert cfg.parser_for_mime(cfg.mime_for_ext("xsl")) == "XML"  # application/xml
    assert cfg.parser_for_mime(cfg.mime_for_ext("xml")) == "XML"
    assert cfg.parser_for_mime(cfg.mime_for_ext("asc")) == "TXT"
    # non-text types fall to the default parser (HTML), like the reference
    assert cfg.parser_for_mime(cfg.mime_for_ext("png")) == "HTML"


@needs_reference
def test_xmlns_metanames_round_trip():
    """002-header.t parity: swish:color and foo:name survive a config
    load AND a write→reload round trip (reference:
    test_configs/xmlns.xml; asserts at src/t/002-header.t:28-30)."""
    from libswish3_spark.config import config_to_xml

    text = open("/root/reference/src/test_configs/xmlns.xml").read()
    cfg = load_config_xml(text)
    assert "swish:color" in cfg.metanames
    assert "foo:name" in cfg.metanames
    assert cfg.metanames["foo:name"].id == 1
    assert cfg.metanames["foo:name"].bias == 5
    # text children are aliases
    assert cfg.tag_aliases["bar"] == "foo:name"
    assert cfg.tag_aliases["color"] == "swish:color"
    assert "foo:size" in cfg.properties
    assert cfg.ignore_xmlns is False

    cfg2 = load_config_xml(config_to_xml(cfg))
    assert "swish:color" in cfg2.metanames
    assert "foo:name" in cfg2.metanames
    assert cfg2.metanames["foo:name"].bias == 5
    assert cfg2.tag_aliases["bar"] == "foo:name"


@needs_reference
def test_swish_xml_reference_config_loads():
    """test_configs/swish.xml (the 002-header.t primary fixture)."""
    text = open("/root/reference/src/test_configs/swish.xml").read()
    cfg = load_config_xml(text)
    assert cfg.metanames["foo"].bias == 10
    assert cfg.metanames["bar"].bias == -5
    assert cfg.metanames["title"].alias_for == "swishtitle"
    assert cfg.tag_aliases["color"] == "other"
    assert cfg.properties["bar"].type == 3  # int
    assert cfg.properties["lastmod"].type == 2  # date
    assert cfg.properties["description"].max == 10000
    assert cfg.properties["description"].verbatim
    assert cfg.parsers["text/foo"] == "XML"
    assert cfg.parsers["default"] == "TXT"
    assert cfg.mimes["au"] == "foo/bar"
    assert cfg.cascade_meta_context is True


def test_unique_id_validation_croaks_on_duplicates():
    """C4 (reference: swish_config_test_unique_ids libswish3.h:628,
    duplicate-id croak header.c:503-510)."""
    with pytest.raises(ValueError, match="duplicate id"):
        load_config_xml(
            '<swish><MetaNames><a id="7"/><b id="7"/></MetaNames></swish>'
        )
    with pytest.raises(ValueError, match="duplicate id"):
        load_config_xml(
            '<swish><PropertyNames><a id="9"/><b id="9"/></PropertyNames></swish>'
        )
    from libswish3_spark.config import MetaName, validate_unique_ids

    with pytest.raises(ValueError, match="duplicate id"):
        validate_unique_ids(
            {"x": MetaName("x", id=3), "y": MetaName("y", id=3)}, {}
        )


def test_include_config_merges_flags_and_continues_ids():
    """IncludeConfigFile merges into the ACCUMULATED config state like
    the reference (header.c:689-716 merges into the same object):
    flag directives inside the include take effect, and auto-assigned
    ids continue from the parent's instead of colliding."""
    from libswish3_spark.config import load_config_xml

    inc = (
        "<swish><Tokenize>0</Tokenize>"
        "<UndefinedMetaTags>error</UndefinedMetaTags>"
        "<MetaNames><frominclude/></MetaNames></swish>"
    )
    cfg = load_config_xml(
        "<swish><MetaNames><fromparent/></MetaNames>"
        "<IncludeConfigFile>x.xml</IncludeConfigFile></swish>",
        _resolver=lambda name: inc if name == "x.xml" else None,
    )
    assert cfg.tokenize is False
    assert cfg.undef_metas == "error"
    ids = [m.id for m in cfg.metanames.values()]
    assert len(set(ids)) == len(ids)  # no silent id collision
    assert {"fromparent", "frominclude"} <= set(cfg.metanames)


def test_parser_guess_memo_survives_config_id_reuse():
    """The ext → parser memo must answer for the config it is asked
    about. Python workers are reused across tasks and each task
    unpickles a fresh config, so CPython can hand a new config the
    address of a freed one; a memo keyed on that id alone then serves
    the freed config's answer."""
    from libswish3_spark.pipeline import _guess_parser_cached

    xml_as_txt = {
        **default_config().parsers,
        "application/xml": "TXT",
        "text/xml": "TXT",
    }
    stale = 0
    for _ in range(200):
        alt = default_config(parsers=dict(xml_as_txt))
        assert _guess_parser_cached("doc.xml", alt) == "TXT"
        del alt
        cfg = default_config()
        stale += _guess_parser_cached("doc.xml", cfg) != "XML"
        del cfg
    assert stale == 0
