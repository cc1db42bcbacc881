"""Property-based round-trips for the round-4 parsers (hypothesis).

The fixture encoders emit exactly the subset the readers consume, so
encode→decode must be the identity for ARBITRARY content — not just
the hand-picked gate corpora. Text strategies exclude the code points
each container cannot represent (checked explicitly, not silently)."""

from hypothesis import given, settings
from hypothesis import strategies as st

from cmc_knowledge_graph_text2ttl_spark.operators import multimodal as mm
from cmc_knowledge_graph_text2ttl_spark.operators import odf as ODF
from cmc_knowledge_graph_text2ttl_spark.operators import office as OFFICE
from cmc_knowledge_graph_text2ttl_spark.operators import rtf as RTF
from cmc_knowledge_graph_text2ttl_spark.operators.doc_binary import doc_to_xhtml_text
from cmc_knowledge_graph_text2ttl_spark.sources.archives import _iter_members
import fixture_writers as FW
from fixture_writers import build_tar, build_zip, make_doc

# printable text without the markup-ambiguous or layout control chars
_plain = st.text(
    alphabet=st.characters(
        blacklist_categories=("Cs", "Cc"),
    ),
    min_size=1,
    max_size=60,
).map(lambda s: " ".join(s.split())).filter(lambda s: s.strip())


def _esc(s: str) -> str:
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


@settings(max_examples=60, deadline=None)
@given(st.lists(_plain, min_size=1, max_size=5))
def test_rtf_paragraph_roundtrip(paras):
    out = RTF.rtf_to_xhtml_text(FW.make_rtf(paras))
    expected = "".join(f"<p>{_esc(p)}</p>" for p in paras)
    assert out == f"<html><body>{expected}</body></html>"


@settings(max_examples=60, deadline=None)
@given(st.lists(_plain, min_size=1, max_size=4))
def test_odt_paragraph_roundtrip(paras):
    # the ODF writer encodes space runs as <text:s>; parser restores them
    text, kind = ODF.odf_to_xhtml_text(FW.make_odt(list(paras)))
    expected = "".join(f"<p>{_esc(p)}</p>" for p in paras)
    assert kind == "odt" and text == f"<html><body>{expected}</body></html>"


@settings(max_examples=60, deadline=None)
@given(st.lists(_plain, min_size=1, max_size=4))
def test_doc_paragraph_roundtrip(paras):
    # .doc text layer: CR is the paragraph mark, so embedded controls
    # are out of scope for the fixture; plain paragraphs round-trip
    out = doc_to_xhtml_text(make_doc(paras))
    expected = "".join(f"<p>{_esc(p)}</p>" for p in paras if p.strip())
    assert out == f"<html><body>{expected}</body></html>"


# paragraphs, one table, paragraphs: the block shape of make_docx/make_pptx
_ooxml_blocks = st.tuples(
    st.lists(_plain, max_size=3),
    st.lists(st.lists(_plain, min_size=1, max_size=3), min_size=1, max_size=3),
    st.lists(_plain, max_size=3),
)


def _ooxml_expected(before, rows, after) -> str:
    def paras(ps):
        return "".join(f"<p>{_esc(p)}</p>" for p in ps)

    trs = "".join(
        "<tr>" + "".join(f"<td>{_esc(c)}</td>" for c in row) + "</tr>" for row in rows
    )
    return f"{paras(before)}<table>{trs}</table>{paras(after)}"


@settings(max_examples=60, deadline=None)
@given(_ooxml_blocks)
def test_docx_blocks_roundtrip(blocks):
    before, rows, after = blocks
    out = OFFICE.docx_to_xhtml_text(FW.make_docx([*before, rows, *after]))
    assert out == f"<html><body>{_ooxml_expected(*blocks)}</body></html>"


@settings(max_examples=60, deadline=None)
@given(_ooxml_blocks)
def test_pptx_blocks_roundtrip(blocks):
    before, rows, after = blocks
    out = OFFICE.pptx_to_xhtml_text(FW.make_pptx([[*before, rows, *after]]))
    slide = f'<div class="slide">{_ooxml_expected(*blocks)}</div>'
    assert out == f"<html><body>{slide}</body></html>"


_member_name = st.text(
    alphabet=st.characters(
        whitelist_categories=("Ll", "Lu", "Nd"), whitelist_characters="._-"
    ),
    min_size=1,
    max_size=30,
)


@settings(max_examples=40, deadline=None)
@given(
    st.lists(
        st.tuples(_member_name, st.binary(max_size=500)),
        min_size=1,
        max_size=5,
        unique_by=lambda t: t[0],
    ),
    st.sampled_from(["tar", "tgz", "zip"]),
)
def test_archive_member_roundtrip(members, kind):
    if kind == "tar":
        blob = build_tar(members)
    elif kind == "tgz":
        blob = build_tar(members, gz=True)
    else:
        blob = build_zip(members)
    got = _iter_members(blob, 1 << 20)
    assert [(n, d) for n, d, e in got] == members
    assert all(e is None for _, _, e in got)


@settings(max_examples=40, deadline=None)
@given(
    st.integers(min_value=1, max_value=24),
    st.integers(min_value=1, max_value=24),
    st.sampled_from([1, 3, 4]),
    st.booleans(),
    st.randoms(use_true_random=False),
)
def test_png_roundtrip_any_dims(w, h, ch, interlace, rnd):
    px = bytes(rnd.randrange(256) for _ in range(w * h * ch))
    blob = FW.encode_png_ex(w, h, px, ch, interlace=interlace)
    assert mm.decode_png(blob) == (w, h, ch, px)


@settings(max_examples=40, deadline=None)
@given(
    st.integers(min_value=1, max_value=20),
    st.integers(min_value=1, max_value=20),
    st.randoms(use_true_random=False),
)
def test_bmp_tiff_agree_on_same_pixels(w, h, rnd):
    px = bytes(rnd.randrange(256) for _ in range(w * h * 3))
    assert (
        mm.decode_bmp(FW.encode_bmp(w, h, px, 3))
        == mm.decode_tiff(FW.encode_tiff(w, h, px, 3))
        == (w, h, 3, px)
    )
