"""Streaming pretty-printer: group/indent/align document events + a
width-aware layout engine, re-expressing the reference's ``text/render``
module (``DocEvent.scala:1-33``, ``StreamPrinter.scala:17-280``,
``Renderer.scala`` helpers) and its JSON/XML ``Renderable`` instances
(``json/tokens.scala:133-249``, ``xml/XmlEvent.scala:83-155``).

The reference prints with bounded lookahead over an unbounded event stream
(its group buffer is evicted once a group provably overflows the line).
Here each *row* is one document, so the layout runs per row inside an
Arrow-batched kernel: same two phases (annotate group end positions, then
render with a fit counter), same observable output — the boundedness comes
from rows being bounded, not from buffer eviction.

Layout semantics (Wadler/Oppen group model):

- ``Text`` renders as is; ``Line`` renders as a space inside a fitting
  group, else newline+indent; ``LineBreak`` renders as empty or newline;
- a group fits when its flattened end position stays within ``width`` of
  the last rendered line start (``StreamPrinter.renderGroupBegin``);
- ``Indent``/``Align`` adjust the prefix rendered after each newline.

Golden outputs are pinned from the reference's ``RenderSpec.scala`` and
``XmlRenderTest.scala`` in tests/test_render.py.
"""

from __future__ import annotations

import json as _json
import re
from collections.abc import Iterable

from pyspark.sql import DataFrame

# DocEvent encoding: plain tuples ("text", s) or 1-tuples for the markers.
TEXT = "text"
LINE = ("line",)
BREAK = ("break",)
GROUP_BEGIN = ("gbegin",)
GROUP_END = ("gend",)
INDENT_BEGIN = ("ibegin",)
INDENT_END = ("iend",)
ALIGN_BEGIN = ("abegin",)
ALIGN_END = ("aend",)


def text(s: str) -> tuple:
    return (TEXT, s)


# softline (Renderer.scala): a space if it fits, else a new line
SOFTLINE = (GROUP_BEGIN, LINE, GROUP_END)


def words(s: str, boundary: str = r"\s+") -> list[tuple]:
    """Reflowable text (``Renderer.words``): words separated by softlines,
    empty input lines preserved as hard line breaks."""
    out: list[tuple] = []
    lines = re.split(r"\r?\n", s.strip())
    for i, ln in enumerate(lines):
        if i:
            out.extend(SOFTLINE)
        if re.fullmatch(r"\s*", ln):
            out.append(BREAK)
        else:
            for j, w in enumerate(re.split(boundary, ln)):
                if j:
                    out.extend(SOFTLINE)
                out.append(text(w))
    return out


def layout(events: Iterable[tuple], width: int = 100,
           indent_size: int = 2) -> str:
    """Render document events to a string under a target line ``width``.

    Phase 1 walks the events computing each group's flattened end position
    (the position counter advances by ``len(text)`` per Text and 1 per Line,
    exactly ``StreamPrinter.process``).  Phase 2 renders: a group turns flat
    when its end position is within ``width`` of the last emitted line's
    position (``renderGroupBegin``'s ``pos <= hpl``); inside a flat group
    Line is a space and LineBreak is empty; indentation is the current
    prefix — IndentBegin/End grow/shrink it by ``indent_size`` spaces,
    AlignBegin pins a new prefix at the current column."""
    pos = 0
    ann: list[list] = []
    open_groups: list[int] = []
    for ev in events:
        k = ev[0]
        if k == TEXT:
            pos += len(ev[1])
            ann.append([k, ev[1]])
        elif k == "line":
            pos += 1
            ann.append([k, pos])
        elif k == "break":
            ann.append([k, pos])
        elif k == "gbegin":
            open_groups.append(len(ann))
            ann.append([k, None])
        elif k == "gend":
            if open_groups:
                ann[open_groups.pop()][1] = pos
            ann.append([k])
        else:
            ann.append([k])
    for i in open_groups:  # unclosed groups: decided at stream end
        ann[i][1] = pos

    out: list[str] = []
    fit = 0           # nesting depth inside a fitting group
    hpl = width       # horizontal position limit for the current line
    col = 0
    prefixes = [""]   # align stack; current indent prefix is prefixes[-1]
    for ev in ann:
        k = ev[0]
        if k == TEXT:
            out.append(ev[1])
            col += len(ev[1])
        elif k == "line":
            if fit == 0:
                hpl = ev[1] + width
                out.append("\n" + prefixes[-1])
                col = len(prefixes[-1])
            else:
                out.append(" ")
                col += 1
        elif k == "break":
            if fit == 0:
                hpl = ev[1] + width
                out.append("\n" + prefixes[-1])
                col = len(prefixes[-1])
        elif k == "gbegin":
            if fit > 0:
                fit += 1
            elif ev[1] <= hpl:
                fit = 1
        elif k == "gend":
            if fit > 0:
                fit -= 1
        elif k == "ibegin":
            prefixes[-1] = prefixes[-1] + " " * indent_size
        elif k == "iend":
            prefixes[-1] = prefixes[-1][indent_size:]
        elif k == "abegin":
            prefixes.append(" " * col)
        elif k == "aend":
            prefixes.pop()
            if not prefixes:
                prefixes = [""]
    return "".join(out)


# ---------------------------------------------------------------------------
# JSON Renderable (reference json/tokens.scala:133-249)
# ---------------------------------------------------------------------------

_FIRST_KEY, _KEY, _VALUE, _FIRST_ARR, _ARR = 1, 2, 3, 4, 5

_END_EMPTY_OBJ = (text("}"), GROUP_END)
_END_OBJ = (GROUP_END, INDENT_END, BREAK, *_END_EMPTY_OBJ)
_END_EMPTY_ARR = (text("]"), GROUP_END)
_END_ARR = (GROUP_END, INDENT_END, BREAK, *_END_EMPTY_ARR)


def json_doc_events(tokens: Iterable[tuple]) -> list[tuple]:
    """JSON token stream (``value_tokens`` kinds) -> document events, the
    state machine of the reference's ``Renderable[Token]``: object keys and
    array values are comma+line separated inside per-value groups, bodies
    are indented between LineBreaks so an overflowing container breaks one
    entry per line while fitting ones collapse."""
    out: list[tuple] = []
    states: list[int] = []

    def separator() -> None:
        if not states:
            return
        st = states[-1]
        if st == _FIRST_KEY:
            states[-1] = _VALUE
            out.extend((INDENT_BEGIN, BREAK))
        elif st == _KEY:
            states[-1] = _VALUE
            out.extend((text(","), GROUP_END, LINE))
        elif st == _VALUE:
            states[-1] = _KEY
            out.append(GROUP_BEGIN)
        elif st == _FIRST_ARR:
            states[-1] = _ARR
            out.extend((INDENT_BEGIN, BREAK, GROUP_BEGIN))
        else:  # _ARR
            out.extend((text(","), GROUP_END, LINE, GROUP_BEGIN))

    for kind, txt, _depth in tokens:
        if kind == "StartObject":
            separator()
            out.extend((GROUP_BEGIN, text("{")))
            states.append(_FIRST_KEY)
        elif kind == "EndObject":
            st = states.pop() if states else _FIRST_KEY
            out.extend(_END_OBJ if st == _KEY else _END_EMPTY_OBJ)
        elif kind == "StartArray":
            separator()
            out.extend((GROUP_BEGIN, text("[")))
            states.append(_FIRST_ARR)
        elif kind == "EndArray":
            st = states.pop() if states else _FIRST_ARR
            out.extend(_END_ARR if st == _ARR else _END_EMPTY_ARR)
        elif kind == "Key":
            separator()
            out.append(text(_json.dumps(txt) + ": "))
        else:
            separator()
            if kind == "NullValue":
                out.append(text("null"))
            elif kind == "TrueValue":
                out.append(text("true"))
            elif kind == "FalseValue":
                out.append(text("false"))
            elif kind == "NumberValue":
                out.append(text(txt))      # verbatim lexeme
            elif kind == "StringValue":
                out.append(text(_json.dumps(txt)))  # \uXXXX escapes like renderString
            else:
                raise ValueError(f"unknown token kind {kind!r}")
    return out


def pretty_json_text(s: str, width: int = 100, indent: int = 2) -> str:
    """Pretty-print one JSON text (``json.render.prettyPrint``)."""
    from fs2_data_spark.functions.jsonq import json_loads_tokens, value_tokens

    return layout(json_doc_events(value_tokens(json_loads_tokens(s))),
                  width=width, indent_size=indent)


# ---------------------------------------------------------------------------
# XML Renderable (reference xml/XmlEvent.scala:83-155)
# ---------------------------------------------------------------------------

_TOP, _TEXT_ST, _OTHER = 0, 1, 2


def _attr_escape(v: str) -> str:
    return (v.replace("&", "&amp;").replace("<", "&lt;")
            .replace('"', "&quot;"))


def _char_escape(v: str) -> str:
    return v.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def xml_doc_events(xml: str) -> list[tuple]:
    """Parse one XML document (expat, literal prefixed names) and emit the
    reference's pretty document events: start tags group their attributes
    under an alignment; childless elements collapse to ``<name />``; text
    reflows via ``words``; CDATA stays verbatim."""
    from xml.parsers import expat  # noqa: PLC0415

    out: list[tuple] = []
    state = [_TOP]
    # pending start tag: [name, attrs] — flushed lazily so a start
    # immediately followed by its end renders as the collapsed empty tag
    pending: list = []
    cdata = [False]
    cbuf: list[str] = []

    def prefix(st: int, close: bool = False) -> None:
        prev = state[0]
        state[0] = st
        if prev == _TOP:
            return
        if prev == _TEXT_ST and st == _TEXT_ST:
            out.extend(SOFTLINE)
        elif close:
            out.extend((GROUP_END, INDENT_END, BREAK))
        else:
            out.append(BREAK)

    def flush_start(is_empty: bool) -> None:
        if not pending:
            return
        name, attrs = pending.pop()
        prefix(_OTHER)
        if not attrs:
            if is_empty:
                out.append(text(f"<{name} />"))
            else:
                out.extend((GROUP_BEGIN, text(f"<{name}>"),
                            INDENT_BEGIN, GROUP_BEGIN))
            return
        if not is_empty:
            out.append(GROUP_BEGIN)
        out.extend((GROUP_BEGIN, text(f"<{name} "), ALIGN_BEGIN))
        for i in range(0, len(attrs), 2):
            if i:
                out.append(LINE)
            out.append(text(f'{attrs[i]}="{_attr_escape(attrs[i + 1])}"'))
        out.extend((ALIGN_END, text(" />" if is_empty else ">"), GROUP_END))
        if not is_empty:
            out.extend((INDENT_BEGIN, GROUP_BEGIN))

    def flush_text() -> None:
        if not cbuf:
            return
        s = "".join(cbuf)
        cbuf.clear()
        if cdata[0]:
            prefix(_TEXT_ST)
            out.append(text(f"<![CDATA[{s}]]>"))
        elif s.strip():
            prefix(_TEXT_ST)
            out.extend(words(_char_escape(s)))

    def on_decl(version, encoding, standalone):
        prefix(_OTHER)
        out.extend((GROUP_BEGIN, text("<?xml "), ALIGN_BEGIN,
                    text(f'version="{version}"')))
        if encoding:
            out.extend((LINE, text(f'encoding="{encoding}"')))
        if standalone in (0, 1):
            out.extend((LINE,
                        text(f'standalone="{"yes" if standalone else "no"}"')))
        out.extend((ALIGN_END, text("?>"), GROUP_END))

    def on_start(name, attrs):
        flush_start(False)
        flush_text()
        pending.append([name, attrs])

    def on_end(name):
        if pending:
            flush_start(True)   # <name ... /> — no separate end tag
            return
        flush_text()
        prefix(_OTHER, close=True)
        out.extend((text(f"</{name}>"), GROUP_END))

    def on_chars(data):
        flush_start(False)
        cbuf.append(data)

    def on_comment(data):
        flush_start(False)
        flush_text()
        prefix(_OTHER)
        out.extend((GROUP_BEGIN, text("<!--"), LINE))
        out.extend(words(data))
        out.extend((LINE, text("-->"), GROUP_END))

    def on_cdata_start():
        flush_start(False)
        flush_text()
        cdata[0] = True

    def on_cdata_end():
        flush_text()
        cdata[0] = False

    p = expat.ParserCreate()
    p.ordered_attributes = True
    p.buffer_text = True
    p.XmlDeclHandler = on_decl
    p.StartElementHandler = on_start
    p.EndElementHandler = on_end
    p.CharacterDataHandler = on_chars
    p.CommentHandler = on_comment
    p.StartCdataSectionHandler = on_cdata_start
    p.EndCdataSectionHandler = on_cdata_end
    p.Parse(xml, True)
    return out


def pretty_xml_text(s: str, width: int = 100, indent: int = 2) -> str:
    """Pretty-print one XML document (``xml.render.prettyPrint``)."""
    return layout(xml_doc_events(s), width=width, indent_size=indent)


# ---------------------------------------------------------------------------
# DataFrame operators
# ---------------------------------------------------------------------------

def _pretty_operator(df: DataFrame, col: str, fn, width: int, indent: int,
                     keep: list[str] | None, out_col: str,
                     mode: str) -> DataFrame:
    from fs2_data_spark.functions.arrow_kernel import run_rows  # noqa: PLC0415

    keep = list(keep) if keep is not None else [c for c in df.columns if c != col]

    def pretty(s):
        return [(fn(s, width, indent), True)]

    return run_rows(df, pretty, [col], f"`{out_col}` string, ok boolean",
                    keys=keep, errors=(Exception,), strict=mode == "strict",
                    per_doc=True)


def pretty_json(df: DataFrame, col: str, width: int = 100, indent: int = 2,
                keep: list[str] | None = None, out_col: str = "pretty",
                mode: str = "strict") -> DataFrame:
    """Width-aware pretty-printed rendering of a JSON string column — the
    DataFrame surface of the reference's ``json.render.prettyPrint``
    (``json/package.scala:279-293``)."""
    return _pretty_operator(df, col, pretty_json_text, width, indent,
                            keep, out_col, mode)


def pretty_xml(df: DataFrame, col: str, width: int = 100, indent: int = 2,
               keep: list[str] | None = None, out_col: str = "pretty",
               mode: str = "strict") -> DataFrame:
    """Width-aware pretty-printed rendering of an XML string column — the
    DataFrame surface of the reference's ``xml.render.prettyPrint``."""
    return _pretty_operator(df, col, pretty_xml_text, width, indent,
                            keep, out_col, mode)
