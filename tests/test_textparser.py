"""End-to-end content-stream -> text goldens ported from
/root/reference/test/textparser.ts (mock Type1 font with MissingWidth 1000),
plus geometry goldens from test/graphics.ts and swapEndian from
test/encoding.ts."""
from pdfi_spark.core.assemble import render_layout
from pdfi_spark.core.doc import Resources
from pdfi_spark.core.encoding import swap_endian
from pdfi_spark.core.geometry import (
    contains_rectangle,
    distance_to_rectangle,
    format_rectangle,
    make_rectangle,
)


def create_mock_resources() -> Resources:
    font_object = {
        "Type": "Font",
        "Subtype": "Type1",
        "Encoding": {"Type": "Encoding", "Differences": []},
        "Widths": [],
        "FontDescriptor": {"MissingWidth": 1000},
    }
    return Resources(None, {"Font": {"F10": font_object}})


def render_string(content_stream: str) -> list[str]:
    outer_bounds = make_rectangle(0, 0, 800, 600)
    resources = create_mock_resources()
    paragraphs = render_layout(outer_bounds, content_stream.encode("latin-1"), resources)
    texts = []
    for paragraph in paragraphs:
        for line in paragraph["elements"]:
            for word_group in line["elements"]:
                for span in word_group["elements"]:
                    texts.append(span["text"])
    return texts


def test_simple_text_show_operation():
    assert render_string("/F10 11 Tf BT (Adjustments must) Tj ET") == ["Adjustments must"]


def test_nested_string():
    assert render_string("/F10 11 Tf BT (In case of \\(dire\\) emergency) Tj ET") == [
        "In case of (dire) emergency"
    ]


def test_tj_array_with_kerning():
    # TJ with a large negative shift inserts a word gap; spans stay separate
    texts = render_string("/F10 10 Tf BT [(Hello) -250 (world)] TJ ET")
    assert texts == ["Hello", "world"]


def test_multiline_td():
    texts = render_string("/F10 10 Tf BT 14 TL (first line) Tj 0 -14 Td (second line) Tj ET")
    assert texts == ["first line", "second line"]


# --- graphics.ts goldens ----------------------------------------------------

def test_distance_between_rectangles():
    unit = make_rectangle(0, 0, 1, 1)
    unit_at_22 = make_rectangle(2, 2, 3, 3)
    assert distance_to_rectangle(unit, unit_at_22) == (1, 1)
    assert distance_to_rectangle(unit_at_22, unit) == (1, 1)


def test_format_rectangle():
    assert format_rectangle(make_rectangle(0, 0, 1, 1)) == "[0, 0, 1, 1]"


def test_rectangle_containment():
    assert contains_rectangle(make_rectangle(0, 0, 10, 10), make_rectangle(0, 0, 1, 1))


# --- encoding.ts goldens ----------------------------------------------------

def test_swap_endian_even():
    assert swap_endian(bytes.fromhex("fffe680065006c006c006f00")).hex() == \
        "feff00680065006c006c006f"


def test_swap_endian_odd():
    assert swap_endian(bytes.fromhex("fffe680065006c006c006f")).hex() == \
        "feff00680065006c006c6f"


def test_normalize_js_whitespace_semantics():
    """JS \\s (V8) vs Python \\s divergences: \\x1c-\\x1f are NOT JS
    whitespace (they hit the C0 strip instead), \\ufeff IS JS whitespace
    (reference encoding/index.ts:103-110 uses /\\s+/)."""
    from pdfi_spark.core.encoding import normalize

    assert normalize("a\x1cb") == "ab"       # C0 separator: stripped, not spaced
    assert normalize("a﻿b") == "a b"    # BOM: JS whitespace -> flattened
    assert normalize("a b") == "a b"    # NBSP: whitespace in both
    assert normalize("a  \t\nb") == "a b"


def test_unwrap_lines_ascii_word_class():
    """JS \\w is ASCII-only: an accented hyphen-break must NOT be merged
    (reference util.ts:177 /(\\w+)-\\n(\\w+)/g under V8)."""
    from pdfi_spark.core.util import Multiset, unwrap_lines

    bag = Multiset()
    assert unwrap_lines(["café-", "bar"], bag) == "café- bar"
    assert unwrap_lines(["data-", "base"], bag) == "database"


def test_inline_image_data_consumed_and_ignored():
    """BI .. ID <raw bytes> EI must consume the raw payload as one
    endInlineImage op (reference parsers/states.ts:18-34, 167-181) and
    text around it must still render."""
    from pdfi_spark.core.content import parse_content_stream

    stream = b"BT (before) Tj ET BI /W 2 /H 2 ID \x00\xff\x10( EI BT (after) Tj ET"
    ops = parse_content_stream(stream)
    assert [op["operator"] for op in ops] == [
        "BT", "Tj", "ET", "BI", "EI", "BT", "Tj", "ET"
    ]
    ei = ops[4]
    # dict params were pushed as operands, raw image bytes captured last
    # raw payload verbatim incl. surrounding whitespace (the reference's
    # IMAGEDATA machine also keeps every byte between ID and EI)
    assert ei["operands"][-1] == b" \x00\xff\x10( "
    texts = [op["operands"][0] for op in ops if op["operator"] == "Tj"]
    assert texts == [b"before", b"after"]


def _atoms(content_stream: bytes) -> list[tuple]:
    from pdfi_spark.core.content import TextAtomDrawingContext

    atoms = []
    TextAtomDrawingContext(atoms, create_mock_resources()).apply_content_stream(
        content_stream
    )
    return [(a["x"], a["y"], a["width"], a["height"], a["text"]) for a in atoms]


def test_skipped_operators_leave_text_unchanged():
    """Path, paint, clip, color, shading, inline-image, marked-content,
    compatibility, Type 3 glyph, rendering-mode and general graphics-state
    operators (and unknown ones) consume their operands and change no
    text position (reference graphics/stream.ts:791-793)."""
    text_only = (
        b"BT /F10 11 Tf 1 0 0 1 72 700 Tm (first) Tj 14 TL T* (second) Tj"
        b" [(third) -250 (fourth)] TJ ET"
    )
    interleaved = (
        b"2 w 1 J 0 j 10 M [3 1] 0 d /Perceptual ri 1 i"
        b" 0 0 m 10 10 l 1 2 3 4 5 6 c 1 2 3 4 v 1 2 3 4 y h 0 0 50 50 re"
        b" S s f F f* B B* b b* n W n W* n"
        b" /DeviceRGB CS /DeviceRGB cs 0.1 0.2 0.3 SC 0.4 SCN 0.5 sc 0.6 scn"
        b" 0.5 G 0.5 g 1 0 0 RG 0 1 0 rg 0 0 0 1 K 0 0 0 1 k /Sh0 sh"
        b" BI /W 2 /H 2 /BPC 8 ID \x00\xff EI"
        b" /Tag MP /Tag <</MCID 0>> DP /Span BMC /Span <</MCID 1>> BDC"
        b" BX 1 2 3 zz EX 500 0 d0 500 0 0 0 500 500 d1"
        b" BT /F10 11 Tf 3 Tr 1 0 0 1 72 700 Tm 0 0 m EMC (first) Tj"
        b" 0.5 g 14 TL T* 7 Tr (second) Tj /X MP"
        b" [(third) -250 (fourth)] TJ 1 w ET EMC"
    )
    assert _atoms(interleaved) == _atoms(text_only)
    assert [a[-1] for a in _atoms(text_only)] == ["first", "second", "third", "fourth"]


def test_skipped_operator_with_wrong_operand_count_extracts():
    # a one-operand `m` is malformed, but a skipped operator never checks
    # arity (the reference calls handlers through JS apply), so the
    # document extracts instead of becoming an error row
    from pdfi_spark.core.api import extract_record
    from pdfi_spark.core.pdfgen import make_single_page

    pdf = make_single_page(b"10 m BT /F1 12 Tf (hi) Tj ET")
    record = extract_record("u", pdf)
    assert record["error"] is None
    assert record["text"] == "# \nhi"


def test_live_operator_with_wrong_operand_count_is_an_error_row():
    from pdfi_spark.core.api import extract_record
    from pdfi_spark.core.pdfgen import make_single_page

    pdf = make_single_page(b"BT /F1 12 Tf 10 Td (hi) Tj ET")
    assert extract_record("u", pdf)["error"].startswith("TypeError")


def test_form_xobject_font_shadowing_resolves_per_resources():
    # page /F1 and a Form XObject's own /F1 are DIFFERENT fonts; the
    # interpreter must resolve against the active (pushed) resources on
    # every show op — a name-only font memo decoded form text with the
    # page's font (regression for the round-3 memo)
    from pdfi_spark.core.content import TextAtomDrawingContext

    class FakeFont:
        def __init__(self, upper):
            self.upper = upper

        def measure(self, buffer):
            return len(buffer) * 500

        def decode_string(self, buffer, skip_missing=False):
            text = buffer.decode("latin-1")
            return text.upper() if self.upper else text

    class FakeResources:
        def __init__(self, fonts, xobjects=None):
            self._fonts = fonts
            self._xobjects = xobjects or {}

        def get_font(self, name):
            return self._fonts.get(name)

        def get_xobject(self, name):
            return self._xobjects.get(name)

        def get_ext_gstate(self, name):
            return None

    class FakeForm:
        subtype = "Form"

        def __init__(self, resources, buffer):
            self.resources = resources
            self.buffer = buffer
            self.dictionary = {}

    form = FakeForm(FakeResources({"F1": FakeFont(upper=True)}),
                    b"BT /F1 12 Tf (hi) Tj ET")
    page_res = FakeResources({"F1": FakeFont(upper=False)}, {"X1": form})
    atoms = []
    ctx = TextAtomDrawingContext(atoms, page_res)
    ctx.apply_content_stream(
        b"BT /F1 12 Tf (hi) Tj ET /X1 Do BT /F1 12 Tf (hi) Tj ET"
    )
    assert [a["text"] for a in atoms] == ["hi", "HI", "hi"]
