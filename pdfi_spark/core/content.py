"""Content-stream tokenizer and the text-positioning interpreter
(reference /root/reference/parsers/states.ts:18-221 CONTENT_STREAM/IMAGEDATA
and /root/reference/graphics/stream.ts).

The tokenizer produces {'operands': [...], 'operator': str} operations.
The interpreter executes only the 21 operators that move or show text:

  graphics state   q Q cm gs
  XObjects         Do
  text objects     BT ET
  text state       Tc Tw Tz TL Tf Ts
  text position    Td TD Tm T*
  text showing     Tj TJ ' "

Every other operator (path, paint, clip, color, shading, inline image,
marked content, BX/EX, d0/d1, Tr, w J j M d ri i) and every unknown one
is an operand-consuming no-op, exactly as the reference does.
"""
from __future__ import annotations

import re

from .geometry import MAT3_IDENT, mat3mul
from .lexing import Buf
from .util import utf16_length
from .objects import (
    _WS_BYTES,
    consume_string,
    parse_array,
    parse_dictionary,
    unescape_name,
)

_WS_RE = re.compile(rb"\s+")
_HEX_RE = re.compile(rb"<([A-Fa-f0-9 \r\n]*)>")
_BOOL_RE = re.compile(rb"(true|false)")
_NAME_RE = re.compile(rb"/([!-'*-.0-;=?-Z\\^-z|~]+)")
# one match for either numeric form (float alternative first: the
# reference tries FLOAT before INT)
_NUMBER_RE = re.compile(rb"-?(?:[0-9]*\.[0-9]+|[0-9]+)")
_COMMENT_RE = re.compile(rb"%.+?(\r\n|\n|\r)")
_OPERATOR_RE = re.compile(rb"[A-Za-z'\"]+[01*]?")
_NONSPACE_RE = re.compile(rb"\S+")


def _consume_image_data(buf: Buf) -> bytes:
    """Raw inline-image bytes until an `EI` token boundary
    (reference parsers/states.ts:18-34 IMAGEDATA)."""
    data = buf.data
    out = bytearray()
    while buf.pos < len(data):
        if data.startswith(b"EI", buf.pos):
            buf.pos += 2
            return bytes(out)
        m = _NONSPACE_RE.match(data, buf.pos)
        if m:
            out.extend(m.group(0))
            buf.pos = m.end()
        else:
            out.append(data[buf.pos])
            buf.pos += 1
    return bytes(out)


def parse_content_stream(buffer: bytes) -> list[dict]:
    """Tokenize a content stream into operations.

    First-byte dispatch over the same token grammar (and the same
    precedence: bool before name/number before operator) as the
    reference's CONTENT_STREAM machine (parsers/states.ts:134-221)."""
    buf = Buf(buffer)
    data = buffer
    end = len(data)
    operations: list[dict] = []
    stack: list = []
    while buf.pos < end:
        pos = buf.pos
        b = data[pos]
        if b in _WS_BYTES:
            buf.pos = _WS_RE.match(data, pos).end()
            continue
        if 0x30 <= b <= 0x39 or b == 0x2D or b == 0x2E:  # digit - .
            m = _NUMBER_RE.match(data, pos)
            if m:
                buf.pos = m.end()
                tok = m.group(0)
                stack.append(float(tok) if b"." in tok else int(tok))
                continue
        elif b == 0x28:  # (
            buf.pos = pos + 1
            stack.append(consume_string(buf))
            continue
        elif b == 0x2F:  # /
            m = _NAME_RE.match(data, pos)
            if m:
                buf.pos = m.end()
                stack.append(unescape_name(m.group(1)))
                continue
        elif b == 0x3C:  # <
            if data.startswith(b"<<", pos):
                buf.pos = pos + 2
                stack.append(parse_dictionary(buf))
                continue
            m = _HEX_RE.match(data, pos)
            if m:
                buf.pos = m.end()
                hexstring = _WS_RE.sub(b"", m.group(1))
                if len(hexstring) % 2 == 1:
                    hexstring = hexstring[:-1]  # JS Buffer.from(.., 'hex') drops odd tail
                stack.append(bytes.fromhex(hexstring.decode("ascii")))
                continue
        elif b == 0x5B:  # [
            buf.pos = pos + 1
            stack.append(parse_array(buf))
            continue
        elif b == 0x25:  # %
            m = _COMMENT_RE.match(data, pos)
            if m:
                buf.pos = m.end()
                continue
        else:
            if data.startswith(b"ID", pos):
                buf.pos = pos + 2
                image_data = _consume_image_data(buf)
                stack.append(image_data)
                operations.append({"operands": stack, "operator": "EI"})
                stack = []
                continue
            m = _BOOL_RE.match(data, pos)
            if m:
                buf.pos = m.end()
                stack.append(m.group(0) == b"true")
                continue
            m = _OPERATOR_RE.match(data, pos)
            if m:
                buf.pos = m.end()
                operations.append(
                    {"operands": stack, "operator": m.group(0).decode("latin-1")}
                )
                stack = []
                continue
        raise ValueError(
            f"Invalid content stream at {buf.pos}: {data[buf.pos:buf.pos + 64]!r}"
        )
    return operations


class TextState:
    """reference graphics/stream.ts:67-80."""

    __slots__ = (
        "char_spacing", "word_spacing", "horizontal_scaling", "leading",
        "font_name", "font_size", "rise",
    )

    def __init__(self):
        self.char_spacing = 0.0
        self.word_spacing = 0.0
        self.horizontal_scaling = 100.0
        self.leading = 0.0
        self.font_name = None
        self.font_size = None
        self.rise = 0.0

    def clone(self) -> "TextState":
        other = TextState.__new__(TextState)
        for slot in TextState.__slots__:
            setattr(other, slot, getattr(self, slot))
        return other


class GraphicsState:
    """The part of reference graphics/stream.ts:87-109 that text reads."""

    __slots__ = ("ct_matrix", "text_state")

    def __init__(self):
        self.ct_matrix = MAT3_IDENT
        self.text_state = TextState()

    def clone(self) -> "GraphicsState":
        other = GraphicsState.__new__(GraphicsState)
        other.ct_matrix = self.ct_matrix
        other.text_state = self.text_state.clone()
        return other


class TextAtomDrawingContext:
    """Stateful interpreter collecting positioned TextAtoms into
    ``text_atoms`` (reference graphics/stream.ts:122-894). The
    textMatrix/textLineMatrix do not persist across BT..ET blocks;
    textState does."""

    def __init__(self, text_atoms: list, resources):
        self.text_atoms = text_atoms
        self.resources_stack = [resources]
        self.graphics_state_stack = [GraphicsState()]
        self.text_matrix = None
        self.text_line_matrix = None
        # font memo for show_string, invalidated around resource swaps
        self._memo_font_key: tuple[int, str] | None = None
        self._memo_font = None

    @property
    def graphics_state(self) -> GraphicsState:
        return self.graphics_state_stack[-1]

    @property
    def resources(self):
        return self.resources_stack[-1]

    # -- geometry helpers (graphics/stream.ts:157-194) -----------------------

    def advance_text_matrix(self, width_units: float, chars: int, spaces: int) -> float:
        ts = self.graphics_state.text_state
        tx = (
            ((width_units / 1000.0) * ts.font_size)
            + (ts.char_spacing * chars)
            + (ts.word_spacing * spaces)
        ) * (ts.horizontal_scaling / 100.0)
        a, b, _, c, d, _, e, f, _ = self.text_matrix
        self.text_matrix = (a, b, 0.0, c, d, 0.0, tx * a + e, tx * b + f, 1.0)
        return tx

    def get_text_position(self) -> tuple[float, float]:
        ts = self.graphics_state.text_state
        composed = mat3mul(self.text_matrix, self.graphics_state.ct_matrix)
        return (
            (ts.rise * composed[3]) + composed[6],
            (ts.rise * composed[4]) + composed[7],
        )

    def get_text_size(self) -> float:
        tm, ct = self.text_matrix, self.graphics_state.ct_matrix
        d = (tm[3] * ct[1]) + (tm[4] * ct[4]) + (tm[5] * ct[7])
        return d * self.graphics_state.text_state.font_size

    # -- dispatch -------------------------------------------------------------

    def apply_content_stream(self, content_stream_buffer: bytes) -> None:
        operators = self.OPERATORS
        for op in parse_content_stream(content_stream_buffer):
            handler = operators.get(op["operator"])
            if handler is not None:
                handler(self, *op["operands"])
            # any other operator: consume its operands and continue
            # (reference graphics/stream.ts:791-793)

    # -- special graphics state (q, Q, cm, gs) ----------------------------------

    def push_graphics_state(self):
        self.graphics_state_stack.append(self.graphics_state.clone())

    def pop_graphics_state(self):
        self.graphics_state_stack.pop()

    def set_ctm(self, a, b, c, d, e, f):
        self.graphics_state.ct_matrix = mat3mul(
            (a, b, 0.0, c, d, 0.0, e, f, 1.0), self.graphics_state.ct_matrix
        )

    def set_graphics_state_parameters(self, dict_name):
        # ExtGState keys are looked up then ignored (reference :334-341)
        if self.resources is not None:
            self.resources.get_ext_gstate(dict_name)

    # -- XObjects (Do): reference graphics/stream.ts:803-846 ------------------

    def draw_object(self, name):
        xobject = self.resources.get_xobject(name)
        if xobject is None:
            raise ValueError(f"Cannot draw undefined XObject: {name}")
        if xobject.subtype != "Form":
            return  # Image/PS XObjects ignored
        if len(self.resources_stack) >= 5:
            return  # recursion cap (reference :815): page + 4 nested forms
        self.push_graphics_state()
        matrix = xobject.dictionary.get("Matrix")
        if matrix:
            self.set_ctm(*matrix)
        self.resources_stack.append(xobject.resources or self.resources)
        # the id()-keyed font memo could alias a recycled Resources
        # object across pushes: invalidate at both swap points
        self._memo_font_key = None
        self.apply_content_stream(xobject.buffer)
        self.resources_stack.pop()
        self._memo_font_key = None
        self.pop_graphics_state()

    # -- text objects and text state ---------------------------------------------

    def start_text_block(self):
        self.text_matrix = self.text_line_matrix = MAT3_IDENT

    def end_text_block(self):
        self.text_matrix = self.text_line_matrix = None

    def set_char_spacing(self, char_space):
        self.graphics_state.text_state.char_spacing = char_space

    def set_word_spacing(self, word_space):
        self.graphics_state.text_state.word_spacing = word_space

    def set_horizontal_scale(self, scale):
        self.graphics_state.text_state.horizontal_scaling = scale

    def set_leading(self, leading):
        self.graphics_state.text_state.leading = leading

    def set_font(self, font, size):
        self.graphics_state.text_state.font_name = font
        self.graphics_state.text_state.font_size = size

    def set_rise(self, rise):
        self.graphics_state.text_state.rise = rise

    # -- text positioning ----------------------------------------------------------

    def adjust_current_position(self, x, y):
        a, b, _, c, d, _, e, f, _ = self.text_line_matrix
        self.text_matrix = self.text_line_matrix = (
            a, b, 0.0, c, d, 0.0,
            (x * a) + (y * c) + e, (x * b) + (y * d) + f, 1.0,
        )

    def adjust_current_position_with_leading(self, x, y):
        self.set_leading(-y)
        self.adjust_current_position(x, y)

    def set_text_matrix(self, a, b, c, d, e, f):
        self.text_matrix = self.text_line_matrix = (a, b, 0.0, c, d, 0.0, e, f, 1.0)

    def new_line(self):
        self.adjust_current_position(0, -self.graphics_state.text_state.leading)

    # -- text showing (reference graphics/stream.ts:859-894) ---------------------------

    def show_string(self, buffer: bytes):
        font_name = self.graphics_state.text_state.font_name
        resources = self.resources
        key = (id(resources), font_name)
        if key == self._memo_font_key:
            font = self._memo_font
        else:
            font = resources.get_font(font_name)
            self._memo_font_key = key
            self._memo_font = font
        if font is None:
            raise ValueError(f'Cannot find font "{font_name}" in Resources')
        x, y = self.get_text_position()
        height = self.get_text_size()
        width_units = font.measure(buffer)
        text = font.decode_string(buffer, skip_missing=True)
        # UTF-16 code units, not code points: JS text.length counts astral
        # chars as 2, and charSpacing advances per code unit
        # (reference graphics/stream.ts:884-886)
        nchars = utf16_length(text)
        nspaces = text.count(" ")
        self.advance_text_matrix(width_units, nchars, nspaces)
        width = self.get_text_position()[0] - x
        self.text_atoms.append({
            "x": x, "y": y, "width": width, "height": height,
            "fontName": font_name, "font": font, "buffer": buffer, "text": text,
        })

    def show_strings(self, array: list):
        for item in array:
            if isinstance(item, bytes):
                self.show_string(item)
            else:
                # negative numbers move rightward (spaces); positive = kerning
                self.advance_text_matrix(-item, 0, 0)

    def new_line_and_show_string(self, buffer: bytes):
        self.new_line()
        self.show_string(buffer)

    def new_line_and_show_string_with_spacing(self, word_space, char_space,
                                              buffer: bytes):
        self.set_word_spacing(word_space)
        self.set_char_spacing(char_space)
        self.new_line_and_show_string(buffer)

    # operator -> handler, called as handler(self, *operands)
    OPERATORS = {
        "q": push_graphics_state, "Q": pop_graphics_state, "cm": set_ctm,
        "gs": set_graphics_state_parameters, "Do": draw_object,
        "BT": start_text_block, "ET": end_text_block,
        "Tc": set_char_spacing, "Tw": set_word_spacing,
        "Tz": set_horizontal_scale, "TL": set_leading, "Tf": set_font,
        "Ts": set_rise,
        "Td": adjust_current_position,
        "TD": adjust_current_position_with_leading,
        "Tm": set_text_matrix, "T*": new_line,
        "Tj": show_string, "TJ": show_strings,
        "'": new_line_and_show_string,
        '"': new_line_and_show_string_with_spacing,
    }
