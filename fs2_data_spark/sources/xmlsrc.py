"""XML source: event extraction over XML string/file columns.

The reference ships a validating streaming XML event parser
(``xml/src/main/scala/fs2/data/xml/internals/EventParser.scala``, 1073 LoC).
Spark has no native XML scan in this environment, so the event surface is
re-expressed as a per-row Arrow kernel (``functions/arrow_kernel.run_rows``)
over Python's stdlib *expat* parser (the same engine ``xml.etree`` wraps) —
per-document streaming handlers (start/end/text/comment/pi in document
order), bounded memory (no tree is built), with fs2-data's strict-vs-attempt
error modes.  ``doc_key`` is the key column cast to ``string`` on the JVM
(NULL stays NULL); a NULL document yields no events (``xml_dom``: a NULL
``dom``).

Emitted event rows mirror the ``XmlEvent`` ADT subset that survives
normalization (reference ``xml/src/main/scala/fs2/data/xml/XmlEvent.scala``):
StartTag(name, attrs) / XmlString(text) / EndTag(name), tagged with
``(event_no, depth)`` — the Depth counter of the ESP tag algebra
(``finite-state/shared/src/main/scala/fs2/data/esp/Tag.scala:25-33``) — plus
structural context maintained by the open-element stack:

- ``parent``: name of the enclosing element (null at the root),
- ``path``: '/'-joined ancestor-or-self path for StartTag events / the
  enclosing element's path for text and EndTag events — the running
  "location" of fs2-data's XPath matcher
  (``xml/src/main/scala/fs2/data/xml/xpath/internals/LocationMatch.scala``),
- ``owner_no``: event_no of the enclosing StartTag (joins text back to its
  element without any window).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

EVENT_FIELDS = ("event_no int, depth int, event string, "
                "name string, attrs map<string,string>, text string, "
                "parent string, path string, owner_no int, ok boolean, "
                "error string")


def _doc_key(key_col: str, name: str = "doc_key"):
    """The document key as the documented ``string`` column (NULL stays
    NULL), cast on the JVM."""
    from pyspark.sql import functions as F  # noqa: PLC0415
    return F.col(key_col).cast("string").alias(name)


def _run_events(df: DataFrame, parse_one, xml_col: str, key_col: str,
                mode: str, raw: bool = False) -> DataFrame:
    """One row per event of each document (``raw`` adds ``is_cdata``).  A
    malformed document fails the job in strict mode; in attempt mode it
    yields one ``ok=false`` row carrying the parse error."""
    from xml.parsers import expat  # noqa: PLC0415

    from fs2_data_spark.functions.arrow_kernel import run_rows  # noqa: PLC0415

    tail = (False,) if raw else ()

    def error_row(e):
        return [(0, 0, "Error", None, None, None, None, None, None, False,
                 str(e), *tail)]

    return run_rows(df, parse_one, [xml_col],
                    EVENT_FIELDS + (", is_cdata boolean" if raw else ""),
                    keys=[_doc_key(key_col)], errors=(expat.ExpatError,),
                    strict=mode == "strict", on_error=error_row)


def resolve_entities(entities: dict[str, str]) -> dict[str, str]:
    """Fully expand a user entity map (entity values may reference other
    entities), rejecting reference cycles — the custom
    ``xml.referenceResolver`` surface (reference
    ``xml/src/main/scala/fs2/data/xml/package.scala:58-66``; stdlib expat
    only resolves the five XML built-ins)."""
    import re  # noqa: PLC0415

    ref = re.compile(r"&([A-Za-z_][\w.-]*);")
    resolved: dict[str, str] = {}
    visiting: set[str] = set()

    def expand(name: str) -> str:
        if name in resolved:
            return resolved[name]
        if name in visiting:
            raise ValueError(f"entity reference cycle through &{name};")
        visiting.add(name)
        out = ref.sub(
            lambda m: expand(m.group(1)) if m.group(1) in entities
            else m.group(0),
            entities[name])
        visiting.discard(name)
        resolved[name] = out
        return out

    return {n: expand(n) for n in entities}


_ENTITY_SKIP = None  # compiled lazily: CDATA / comment / PI spans


def substitute_entities(xml: str, resolved: dict[str, str]) -> str:
    """One-pass substitution of ``&name;`` references from a pre-resolved
    entity map (see :func:`resolve_entities`). Matches the reference
    resolver's semantics (``xml/package.scala:58-66``): the replacement is
    CHARACTER DATA — it is XML-escaped before insertion so markup-looking
    replacement text parses back as the literal characters, never as
    markup — and references inside CDATA sections, comments, and processing
    instructions are NOT references and are left untouched. Unknown
    references are left for the parser (built-ins parse; undefined ones
    error per mode)."""
    import re  # noqa: PLC0415
    from xml.sax.saxutils import escape  # noqa: PLC0415

    global _ENTITY_SKIP
    if _ENTITY_SKIP is None:
        # DOCTYPE span is bracket-aware: an internal subset [ ... ] may
        # contain ENTITY declarations whose names collide with user entities
        # — substituting inside them would corrupt the DTD (ADVICE r03).
        # The subset end is found by _doctype_end, not a regex: a ']' inside
        # a DTD comment or quoted literal must not close it (ADVICE r04)
        _ENTITY_SKIP = re.compile(
            r"<!\[CDATA\[.*?\]\]>|<!--.*?-->|<\?.*?\?>|<!DOCTYPE", re.S)
    ref = re.compile(r"&([A-Za-z_][\w.-]*);")

    def _doctype_end(i: int) -> int:
        """Index just past the '>' closing a DOCTYPE whose '<!DOCTYPE' ends
        at ``i`` — skipping DTD comments and quoted literals, tracking
        internal-subset bracket depth."""
        n = len(xml)
        depth = 0
        while i < n:
            c = xml[i]
            if xml.startswith("<!--", i):
                j = xml.find("-->", i + 4)
                i = n if j < 0 else j + 3
                continue
            if c in "'\"":
                j = xml.find(c, i + 1)
                i = n if j < 0 else j + 1
                continue
            if c == "[":
                depth += 1
            elif c == "]":
                depth -= 1
            elif c == ">" and depth <= 0:
                return i + 1
            i += 1
        return n

    def sub_text(seg: str) -> str:
        # both attribute delimiters escaped: a replacement apostrophe inside
        # a single-quoted attribute must not terminate it (ADVICE r03)
        return ref.sub(
            lambda m: escape(resolved[m.group(1)],
                             {'"': "&quot;", "'": "&apos;"})
            if m.group(1) in resolved else m.group(0),
            seg)

    out, last = [], 0
    pos = 0
    while True:
        m = _ENTITY_SKIP.search(xml, pos)
        if m is None:
            break
        end = _doctype_end(m.end()) if m.group(0) == "<!DOCTYPE" else m.end()
        out.append(sub_text(xml[last:m.start()]))
        out.append(xml[m.start():end])
        last = pos = end
    out.append(sub_text(xml[last:]))
    return "".join(out)


def xml_events(df: DataFrame, xml_col: str = "xml", key_col: str = "doc_key",
               mode: str = "strict", include_comments: bool = False,
               include_pis: bool = False,
               entities: dict[str, str] | None = None) -> DataFrame:
    """Parse an XML string column into an ordered event stream (one row per
    event). strict: malformed XML fails the job; attempt: emits a single
    ``ok=false`` row carrying the parse error for that document.

    ``include_comments``/``include_pis`` mirror the reference's
    ``xml.events(includeComments)`` option (``xml/package.scala:50-52``):
    Comment rows carry the comment text; XmlPI rows carry the target in
    ``name`` and the instruction data in ``text``. Both attach to the
    enclosing element like XmlString rows do. ``entities`` is a custom
    ``{name: replacement}`` reference-resolver map (``xml/package.scala:
    58-66``), pre-expanded with cycle detection."""
    from xml.parsers import expat  # noqa: PLC0415

    resolved = resolve_entities(entities) if entities else None

    def parse_one(xml):
        if resolved:
            xml = substitute_entities(xml, resolved)
        events: list = []
        # open-element stack: (name, start_event_no, path)
        stack: list[tuple[str, int, str]] = []
        buf: list[str] = []
        counter = [0]

        def clark(name: str) -> str:
            # expat with namespace_separator="}" emits "uri}local"; prepend
            # "{" for Clark notation (the same rewrite xml.etree applies)
            return "{" + name if "}" in name else name

        def flush_text():
            # text runs merge across entity refs and CDATA boundaries (no
            # cdata handlers registered -> expat keeps buffering), matching
            # the normalized single-XmlString-per-run view
            if buf:
                text = "".join(buf)
                buf.clear()
                if text.strip() and stack:
                    name, no, path = stack[-1]
                    events.append((counter[0], len(stack), "XmlString",
                                   None, None, text.strip(), name, path, no,
                                   True, None))
                    counter[0] += 1

        def on_start(name, attrs):
            flush_text()
            parent = stack[-1][0] if stack else None
            ppath = stack[-1][2] if stack else ""
            name = clark(name)
            path = f"{ppath}/{name}"
            no = counter[0]
            events.append((no, len(stack), "StartTag", name,
                           {clark(k): v for k, v in attrs.items()}, None,
                           parent, path, no, True, None))
            stack.append((name, no, path))
            counter[0] += 1

        def on_end(name):
            flush_text()
            _n, start_no, path = stack.pop()
            parent = stack[-1][0] if stack else None
            events.append((counter[0], len(stack), "EndTag", clark(name),
                           None, None, parent, path, start_no, True, None))
            counter[0] += 1

        def on_chars(data):
            buf.append(data)

        def attach(kind, name, text):
            flush_text()
            pname = stack[-1][0] if stack else None
            ppath = stack[-1][2] if stack else None
            owner = stack[-1][1] if stack else None
            events.append((counter[0], len(stack), kind, name, None,
                           text, pname, ppath, owner, True, None))
            counter[0] += 1

        p = expat.ParserCreate(namespace_separator="}")
        p.buffer_text = True
        p.StartElementHandler = on_start
        p.EndElementHandler = on_end
        p.CharacterDataHandler = on_chars
        if include_comments:
            p.CommentHandler = lambda data: attach("Comment", None, data)
        if include_pis:
            p.ProcessingInstructionHandler = (
                lambda target, data: attach("XmlPI", target, data))
        p.Parse(xml, True)
        return events

    return _run_events(df, parse_one, xml_col, key_col, mode)


def xml_events_raw(df: DataFrame, xml_col: str = "xml",
                   key_col: str = "doc_key", mode: str = "strict",
                   entities: dict[str, str] | None = None) -> DataFrame:
    """The FULL ``XmlEvent`` ADT (reference ``xml/src/main/scala/fs2/data/
    xml/XmlEvent.scala:35-67``) as an event stream: ``XmlDecl`` (version/
    encoding/standalone in ``attrs``), ``XmlDoctype`` (doctype name +
    system id), ``StartTag``/``EndTag``, ``XmlString`` with the reference's
    ``isCDATA`` flag (CDATA runs are kept verbatim, uncollapsed), ``Comment``
    and ``XmlPI`` — built on stdlib expat handlers, which (unlike
    ``xml.etree``) expose CDATA boundaries, the XML declaration, the doctype,
    and internal-subset entity declarations.

    Names are as-written (``prefix:local``), matching the reference's raw
    event stream BEFORE its namespaceResolver pipe; :func:`xml_events` is the
    namespace-resolved (Clark notation) view. ``entities`` as in
    :func:`xml_events` (expat additionally expands internal-subset DTD
    entities natively)."""
    from xml.parsers import expat  # noqa: PLC0415

    resolved = resolve_entities(entities) if entities else None

    def parse_one(xml):
        if resolved:
            xml = substitute_entities(xml, resolved)
        events: list = []
        stack: list[tuple[str, int, str]] = []
        # buffered character data: (is_cdata, [chunks])
        buf: list[str] = []
        in_cdata = [False]
        counter = [0]

        def emit(event, name=None, attrs=None, text=None, owner=None,
                 is_cdata=False, at_depth=None, path=None):
            # path: ancestor-or-self for StartTag (passed explicitly), the
            # enclosing element's path for everything else
            pname = stack[-1][0] if stack else None
            ppath = path if path is not None else (stack[-1][2] if stack else None)
            own = owner if owner is not None else (stack[-1][1] if stack else None)
            events.append((counter[0],
                           at_depth if at_depth is not None else len(stack),
                           event, name, attrs, text, pname, ppath, own, True,
                           None, is_cdata))
            counter[0] += 1

        def flush_text():
            if buf:
                text = "".join(buf)
                buf.clear()
                if in_cdata[0]:
                    emit("XmlString", text=text, is_cdata=True)
                elif text.strip():
                    emit("XmlString", text=text.strip())

        p = expat.ParserCreate()
        p.buffer_text = True

        def on_decl(version, encoding, standalone):
            attrs = {"version": version or ""}
            if encoding:
                attrs["encoding"] = encoding
            if standalone != -1:
                attrs["standalone"] = "yes" if standalone else "no"
            emit("XmlDecl", attrs=attrs)

        def on_doctype(name, system_id, public_id, has_subset):
            attrs = {}
            if system_id:
                attrs["system_id"] = system_id
            if public_id:
                attrs["public_id"] = public_id
            emit("XmlDoctype", name=name, attrs=attrs or None)

        def on_start(name, attrs):
            flush_text()
            ppath = stack[-1][2] if stack else ""
            path = f"{ppath}/{name}"
            emit("StartTag", name=name, attrs=dict(attrs), owner=counter[0],
                 path=path)
            stack.append((name, counter[0] - 1, path))

        def on_end(name):
            flush_text()
            _n, start_no, path = stack.pop()
            pname = stack[-1][0] if stack else None
            events.append((counter[0], len(stack), "EndTag", name, None,
                           None, pname, path, start_no, True, None, False))
            counter[0] += 1

        def on_chars(data):
            buf.append(data)

        def on_cdata_start():
            flush_text()
            in_cdata[0] = True

        def on_cdata_end():
            if buf:
                flush_text()
            else:
                # <![CDATA[]]> still carries XmlString("", isCDATA=true) in
                # the reference's raw ADT (ADVICE r03)
                emit("XmlString", text="", is_cdata=True)
            in_cdata[0] = False

        def on_comment(data):
            flush_text()
            emit("Comment", text=data)

        def on_pi(target, data):
            flush_text()
            emit("XmlPI", name=target, text=data)

        p.XmlDeclHandler = on_decl
        p.StartDoctypeDeclHandler = on_doctype
        p.StartElementHandler = on_start
        p.EndElementHandler = on_end
        p.CharacterDataHandler = on_chars
        p.StartCdataSectionHandler = on_cdata_start
        p.EndCdataSectionHandler = on_cdata_end
        p.CommentHandler = on_comment
        p.ProcessingInstructionHandler = on_pi
        p.Parse(xml, True)
        return events

    return _run_events(df, parse_one, xml_col, key_col, mode, raw=True)


def xml_dom(df: DataFrame, xml_col: str = "xml", key_col: str = "doc_key",
            mode: str = "strict") -> DataFrame:
    """``xml.dom.documents`` analogue (reference
    ``xml/src/main/scala/fs2/data/xml/dom/package.scala:25``): parse each
    document into a DOM tree rendered as one JSON value per row —
    ``{"tag": t, "attrs": {...}, "children": [node | text-string, ...]}`` —
    the nested-struct view of the event stream. strict/attempt error modes
    as in :func:`xml_events` (attempt: dom = null on malformed input)."""
    import json as _json  # noqa: PLC0415
    import xml.etree.ElementTree as ET  # noqa: PLC0415

    from fs2_data_spark.functions.arrow_kernel import run_rows  # noqa: PLC0415

    def to_node(elem) -> dict:
        children: list = []
        if elem.text and elem.text.strip():
            children.append(elem.text.strip())
        for c in elem:
            children.append(to_node(c))
            if c.tail and c.tail.strip():
                children.append(c.tail.strip())
        return {"tag": elem.tag, "attrs": dict(elem.attrib),
                "children": children}

    def dom(xml):
        parser = ET.XMLPullParser(events=("end",))
        parser.feed(xml)
        parser.close()
        root = None
        for _ev, elem in parser.read_events():
            root = elem  # last end event = the root
        return [(_json.dumps(to_node(root), separators=(",", ":"),
                             ensure_ascii=False),)]

    return run_rows(df, dom, [xml_col], "dom string",
                    keys=[_doc_key(key_col, key_col)],
                    errors=(ET.ParseError, AttributeError),
                    strict=mode == "strict", per_doc=True)


def xml_render(events: DataFrame, key_col: str = "doc_key") -> DataFrame:
    """Inverse of :func:`xml_events`: reassemble each document's XML string
    from its event rows — the ``xml.render`` surface (reference
    ``xml/src/main/scala/fs2/data/xml/package.scala`` render pipes; compact
    form, no pretty-printing). Pure column expressions: per-event fragments
    (escaped text, attribute-rendered start tags) concatenated in event order
    via one hash aggregation per document."""
    from pyspark.sql import functions as F

    def esc(c):  # XML text escaping
        return F.replace(F.replace(F.replace(c, F.lit("&"), F.lit("&amp;")),
                                   F.lit("<"), F.lit("&lt;")),
                         F.lit(">"), F.lit("&gt;"))

    attr_frag = F.aggregate(
        F.map_entries(F.coalesce(F.col("attrs"), F.map_from_arrays(
            F.array().cast("array<string>"), F.array().cast("array<string>")))),
        F.lit(""),
        lambda acc, e: F.concat(acc, F.lit(" "), e.getField("key"), F.lit('="'),
                                F.replace(esc(e.getField("value")),
                                          F.lit('"'), F.lit("&quot;")),
                                F.lit('"')))
    frag = (F.when(F.col("event") == "StartTag",
                   F.concat(F.lit("<"), F.col("name"), attr_frag, F.lit(">")))
            .when(F.col("event") == "EndTag",
                  F.concat(F.lit("</"), F.col("name"), F.lit(">")))
            .when(F.col("event") == "XmlString", esc(F.col("text")))
            .when(F.col("event") == "Comment",
                  F.concat(F.lit("<!--"), F.col("text"), F.lit("-->")))
            .when(F.col("event") == "XmlPI",
                  F.concat(F.lit("<?"), F.col("name"),
                           F.when(F.length(F.coalesce(F.col("text"), F.lit(""))) > 0,
                                  F.concat(F.lit(" "), F.col("text")))
                           .otherwise(F.lit("")), F.lit("?>")))
            .otherwise(F.lit("")))
    return (events.select(F.col(key_col), F.struct("event_no", frag.alias("frag")).alias("s"))
            .groupBy(key_col)
            .agg(F.array_join(
                F.transform(F.array_sort(F.collect_list("s")),
                            lambda s: s.getField("frag")), "").alias("xml")))


def xml_texts_at(df: DataFrame, xml_col: str, tag: str, key_col: str = "doc_key",
                 mode: str = "strict") -> DataFrame:
    """XPath-``//tag/text()`` analogue over the event stream: text content of
    every element named ``tag``, in document order (the ``filter.raw``
    pipeline of reference ``xml/src/main/scala/fs2/data/xml/xpath``).

    Ownership comes straight from the parser's open-element stack (``parent``
    column), so mixed content is attributed correctly: in
    ``<a><b>x</b>tail</a>`` the tail text belongs to ``a``, not ``b``.
    """
    from pyspark.sql import functions as F
    ev = xml_events(df, xml_col, key_col, mode)
    return (ev.filter((F.col("event") == "XmlString") & (F.col("parent") == tag))
            .select("doc_key", "event_no", F.col("text").alias("value")))
