"""Batch HTML/PDF-payload → blocks → extracted text (SPEC.md §0–3).

This is the hot Python path of the whole engine: it runs inside
``mapInArrow`` / scalar-iter ``pandas_udf`` workers over Arrow batches
(SURVEY.md §2 ops 11, 57, 60). Two layers:

- the parse, one document at a time. One fast tokenizer
  (:func:`_fast_tokens`) turns simple markup into the tags and text
  html.parser would see, or bails to html.parser. Its tag grammar is one
  attribute pattern, a strict subset of html.parser's, and a tag of any
  other shape bails. Its tokens keep each tag's raw attribute text and
  feed one of two consumers, chosen by the product:
  - the full product (blocks, outlinks, metadata, table cells) runs the
    ``_BlockParser`` handlers (:func:`_feed`, or html.parser on a bail),
    keeping ``(tag, depth, text, link_chars)`` per block (plus a bbox on
    PDF payloads); :func:`_feed` parses the attributes of the tags the
    handlers read them from (``a``, ``meta``, ``link``) and no others;
  - the text product runs the stackless text scan
    (:func:`_text_blocks`), keeping only ``(text, link_chars)`` per block
    and parsing no attribute (on a bail, those two fields of the
    handlers' blocks under html.parser);
- one batch kernel does the rest over the batch's flat block-text array:
  the SPEC.md §2 features (:func:`block_features`: Arrow string kernels,
  the stopword predicate once per distinct token, language recovery of
  untagged pages), classification and smoothing (:func:`label_mask`) and
  span offsets, assembly and the text hash (:func:`assemble_batch`), ops
  13-17 as numpy over whole columns.

``extract_text_batch`` (the text scan) and ``extract_batch`` (the
handlers, plus outlinks and metadata) chain both, so the flagship
extraction crosses into Python once and comes back with finished rows;
``parse_batch_columnar`` stops after the features. Every consumer of the
tail (both extractions, the staged ``label_blocks``/``assemble`` hops,
language recovery) runs these same functions.

It is one of TWO independent implementations of SPEC.md — the other is the
frozen single-threaded ``ocr_spark.goldenref`` used to produce golden
fixtures. The byte-identity pytest gate (tests/test_golden.py) holds the two
together. Do not import goldenref here (and vice versa).

Scale notes (100 TB design point): per-document parsing is inherently
sequential Python, but it is embarrassingly parallel across documents and
amortized per Arrow batch; parser instances are recycled via
``HTMLParser.reset()`` to avoid per-doc allocation churn. MAX_BLOCKS caps
pathological documents so a single page can never blow up a task.
"""

from __future__ import annotations

import hashlib
import json
import re
from html.parser import HTMLParser

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from ocr_spark import spec

# --- charset sniffing (SPEC.md §0 step 2, v2) --------------------------------
# Real crawls carry a long legacy-encoded tail; decoding everything as UTF-8
# silently turns GBK/Shift-JIS/windows-125x pages into mojibake. BOM →
# first-1KiB charset declaration → strict-UTF-8 probe → latin-1, all stdlib.

_BOMS: tuple[tuple[bytes, str], ...] = (
    (b"\xef\xbb\xbf", "utf-8"),
    (b"\xff\xfe\x00\x00", "utf-32-le"),  # before utf-16-le (prefix overlap)
    (b"\x00\x00\xfe\xff", "utf-32-be"),
    (b"\xff\xfe", "utf-16-le"),
    (b"\xfe\xff", "utf-16-be"),
)

_CHARSET_RX = re.compile(r"charset\s*=\s*[\"']?\s*([a-z0-9_.:\-]+)")

# frozen label table (SPEC.md §0): WHATWG-inspired subset of encoding labels
# that stdlib codecs cover; utf-16/32 labels deliberately absent (BOM-only)
_ENC_LABELS: dict[str, str] = {}
for _codec, _labels in (
    ("utf-8", "utf-8 utf8 unicode-1-1-utf-8"),
    ("gbk", "gbk gb2312 gb_2312 gb_2312-80 csgb2312 x-gbk chinese"
            " iso-ir-58 csiso58gb231280"),
    ("gb18030", "gb18030"),
    ("big5", "big5 big5-hkscs csbig5 cn-big5 x-x-big5"),
    ("shift_jis", "shift_jis shift-jis sjis s_jis x-sjis ms_kanji"
                  " csshiftjis windows-31j ms932"),
    ("euc-jp", "euc-jp x-euc-jp cseucpkdfmtjapanese"),
    ("euc-kr", "euc-kr korean csksc56011987 ks_c_5601-1987 windows-949"),
    ("koi8-r", "koi8-r koi8_r cskoi8r koi8"),
    ("windows-1252", "iso-8859-1 iso8859-1 latin1 latin-1 l1 ascii"
                     " us-ascii"),
    ("iso-8859-2", "iso-8859-2 iso8859-2 latin2"),
    ("iso-8859-5", "iso-8859-5 iso8859-5 cyrillic"),
    ("iso-8859-7", "iso-8859-7 iso8859-7 greek greek8"),
    ("iso-8859-15", "iso-8859-15 iso8859-15 latin9"),
):
    for _lb in _labels.split():
        _ENC_LABELS[_lb] = _codec
for _x in range(9):
    for _pat in ("windows-125{}", "cp125{}", "x-cp125{}"):
        _ENC_LABELS[_pat.format(_x)] = f"windows-125{_x}"
del _codec, _labels, _lb, _x, _pat


def sniff_decode(raw: bytes) -> str:
    """Decode a page payload per the frozen SPEC.md §0 charset algorithm."""
    for bom, codec in _BOMS:
        if raw.startswith(bom):
            return raw[len(bom):].decode(codec, errors="replace")
    m = _CHARSET_RX.search(raw[:1024].decode("latin-1").lower())
    if m:
        codec = _ENC_LABELS.get(m.group(1))
        if codec is not None:
            return raw.decode(codec, errors="replace")
    try:
        return raw.decode("utf-8")
    except UnicodeDecodeError:
        return raw.decode("latin-1")


# SPEC.md §5.4–5.5 href normalization. A scheme prefix per RFC 3986.
_SCHEME_RX = re.compile(r"([A-Za-z][A-Za-z0-9+.\-]*):")
_HREF_STRIP = " \t\n\r\f\v"  # ASCII whitespace (not full Unicode str.strip)
_HREF_DEL = {9: None, 10: None, 13: None}  # TAB/LF/CR removed anywhere


def _norm_href(value: str | None) -> str | None:
    """Normalize a raw href attribute value; None = not a web outlink.

    Hot path (runs per anchor): the strip/translate/scheme work is guarded
    by cheap membership checks so the overwhelmingly common clean relative
    href ('/path') costs two `in` scans and one index.
    """
    if value is None:
        return None
    v = value
    if v[:1] in _HREF_STRIP or v[-1:] in _HREF_STRIP:
        v = v.strip(_HREF_STRIP)
    if "\t" in v or "\n" in v or "\r" in v:
        v = v.translate(_HREF_DEL)
    if not v or v[0] == "#":
        return None
    if ":" in v:
        m = _SCHEME_RX.match(v)
        if m and m.group(1).lower() in spec.SKIP_SCHEMES:
            return None
    return v


def _norm_meta_href(value: str | None) -> str | None:
    """SPEC §6.5 canonical-href normalization: §5.4 only (strip + TAB/LF/CR
    removal) — no fragment/scheme discards. None = not a candidate."""
    if value is None:
        return None
    v = value
    if v[:1] in _HREF_STRIP or v[-1:] in _HREF_STRIP:
        v = v.strip(_HREF_STRIP)
    if "\t" in v or "\n" in v or "\r" in v:
        v = v.translate(_HREF_DEL)
    return v or None


class _BlockParser(HTMLParser):
    """HTMLParser subclass implementing the SPEC.md §1 event rules."""

    __slots__ = (
        "stack",
        "skip_depth",
        "anchor_depth",
        "buf",
        "link_chars",
        "ctx_tag",
        "ctx_depth",
        "blocks",
        "links",
        "link_href",
        "link_buf",
        "title_text",
        "title_open",
        "title_buf",
        "meta_desc",
        "meta_canon",
        "meta_og",
        "table_stack",
        "n_tables_opened",
        "tables",
    )

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self._reset_doc()

    def _reset_doc(self) -> None:
        self.stack: list[str] = []
        self.skip_depth = 0
        self.anchor_depth = 0
        self.buf: list[str] = []
        self.link_chars = 0
        self.ctx_tag: str | None = None
        self.ctx_depth = 0
        # (tag, depth, text, link_chars) per block; block_features and the
        # tail compute everything else per batch
        self.blocks: list[tuple[str, int, str, int]] = []
        self.links: list[dict] = []
        self.link_href: str | None = None
        self.link_buf: list[str] = []
        self.title_text: str | None = None  # None = title not yet claimed
        self.title_open = False
        self.title_buf: list[str] = []
        self.meta_desc: str | None = None
        self.meta_canon: str | None = None
        self.meta_og: str | None = None
        # SPEC §7: innermost-last stack of [table_id, row_counter, n_kept]
        self.table_stack: list[list[int]] = []
        self.n_tables_opened = 0
        self.tables: list[dict] = []

    # --- event handlers (SPEC.md §1, §5, §6, §7) -----------------------------
    def handle_starttag(self, tag: str, attrs) -> None:
        if tag in spec.BLOCK_TAGS:
            self._flush()
        if tag in spec.SKIP_TAGS and tag not in spec.VOID_TAGS:
            self.skip_depth += 1
        if tag == "a":
            self.anchor_depth += 1
            if self.skip_depth == 0:
                # SPEC §5.2: any <a> start implicitly closes the open link
                if self.link_href is not None:
                    self._finalize_link()
                href = None
                for k, v in attrs:
                    if k == "href":
                        href = v
                        break
                href = _norm_href(href)
                if href is not None:
                    self.link_href = href
        elif self.skip_depth == 0:
            if tag == "title":
                if self.title_text is None and not self.title_open:
                    self.title_open = True
            elif tag == "meta":
                self._meta_tag(attrs)
            elif tag == "link":
                self._link_tag(attrs)
        if self.skip_depth == 0:
            # SPEC §7.2/§7.3: table structure events
            if tag == "table":
                self.table_stack.append([self.n_tables_opened, -1, 0])
                self.n_tables_opened += 1
            elif tag == "tr" and self.table_stack:
                self.table_stack[-1][1] += 1
        if tag not in spec.VOID_TAGS:
            self.stack.append(tag)

    def handle_endtag(self, tag: str) -> None:
        if tag in spec.BLOCK_TAGS:
            self._flush()
        if tag in spec.SKIP_TAGS and self.skip_depth > 0:
            self.skip_depth -= 1
        if tag == "a":
            if self.anchor_depth > 0:
                self.anchor_depth -= 1
            if self.skip_depth == 0:
                self._finalize_link()
        elif tag == "title" and self.title_open and self.skip_depth == 0:
            self._close_title()
        if tag == "table" and self.skip_depth == 0 and self.table_stack:
            # SPEC §7.4: close the innermost open table
            self.table_stack.pop()
        stack = self.stack
        if stack and stack[-1] == tag:
            stack.pop()
        elif tag in stack:
            # pop up to and including the last occurrence (implicit closes)
            idx = len(stack) - 1 - stack[::-1].index(tag)
            del stack[idx:]

    def handle_startendtag(self, tag: str, attrs) -> None:
        if tag in spec.BLOCK_TAGS:
            self._flush()
        if tag == "a" and self.skip_depth == 0:
            # SPEC §5.6: <a href=x/> opens and finalizes immediately
            self._finalize_link()
            href = _norm_href(next(
                (v for k, v in attrs if k == "href"), None
            ))
            if href is not None:
                self.link_href = href
                self._finalize_link()
        elif self.skip_depth == 0:
            # SPEC §6: <meta .../> and <link .../> carry metadata; a
            # self-closing <title/> is ignored (§6.2)
            if tag == "meta":
                self._meta_tag(attrs)
            elif tag == "link":
                self._link_tag(attrs)

    def handle_data(self, data: str) -> None:
        if self.skip_depth > 0 or not data:
            return
        if self.link_href is not None:
            self.link_buf.append(data)
        if self.title_open:
            self.title_buf.append(data)
        if self.ctx_tag is None and not data.isspace():
            tag = "body"
            for t in reversed(self.stack):
                if t in spec.BLOCK_TAGS:
                    tag = t
                    break
            self.ctx_tag = tag
            self.ctx_depth = len(self.stack)
        self.buf.append(data)
        if self.anchor_depth > 0:
            self.link_chars += len(" ".join(data.split()))

    # --- link emission (SPEC.md §5) -----------------------------------------
    def _finalize_link(self) -> None:
        if self.link_href is None:
            return
        if len(self.links) < spec.MAX_LINKS:
            buf = self.link_buf
            anchor = " ".join("".join(buf).split()) if buf else ""
            self.links.append(
                {
                    "link_id": len(self.links),
                    "href": self.link_href,
                    "anchor": anchor,
                }
            )
        self.link_href = None
        if self.link_buf:
            self.link_buf = []

    # --- metadata capture (SPEC.md §6) ---------------------------------------
    def _close_title(self) -> None:
        self.title_text = " ".join("".join(self.title_buf).split())
        self.title_open = False
        self.title_buf = []

    def _meta_tag(self, attrs) -> None:
        if self.meta_desc is not None and self.meta_og is not None:
            return
        # first OCCURRENCE of each attr wins, even when value-less (None):
        # a later valued duplicate must not override (SPEC §6.3 "first")
        first: dict = {}
        for k, v in attrs:
            if k not in first:
                first[k] = v
        name = first.get("name")
        prop = first.get("property")
        content = first.get("content")
        if content is None:
            return
        if (
            self.meta_desc is None
            and name is not None
            and name.strip(_HREF_STRIP).lower() == "description"
        ):
            self.meta_desc = " ".join(content.split())
        if (
            self.meta_og is None
            and prop is not None
            and prop.strip(_HREF_STRIP).lower() == "og:title"
        ):
            self.meta_og = " ".join(content.split())

    def _link_tag(self, attrs) -> None:
        if self.meta_canon is not None:
            return
        first: dict = {}
        for k, v in attrs:
            if k not in first:
                first[k] = v
        rel = first.get("rel")
        href = first.get("href")
        if rel is None or "canonical" not in (
            t.lower() for t in rel.split()
        ):
            return
        norm = _norm_meta_href(href)
        if norm is not None:
            self.meta_canon = norm

    def _finalize_meta(self) -> None:
        """End of document: close an unterminated title (SPEC §6.2)."""
        if self.title_open:
            self._close_title()

    def meta_result(self) -> dict:
        return {
            "title": self.title_text or "",
            "description": self.meta_desc or "",
            "canonical": self.meta_canon or "",
            "og_title": self.meta_og or "",
        }

    # --- block emission ----------------------------------------------------
    def _flush(self) -> None:
        if self.buf:
            text = " ".join("".join(self.buf).split())
            if text and len(self.blocks) < spec.MAX_BLOCKS:
                self.blocks.append(
                    (self.ctx_tag or "body", self.ctx_depth, text,
                     self.link_chars)
                )
            if text and self.table_stack:
                # SPEC §7.5: nearest structural tag decides cell membership
                near = None
                for t in reversed(self.stack):
                    if t in spec.TABLE_SCAN_TAGS:
                        near = t
                        break
                if (
                    near in ("td", "th")
                    and len(self.tables) < spec.MAX_TABLE_CELLS
                ):
                    top = self.table_stack[-1]
                    self.tables.append(
                        {
                            "table_id": top[0],
                            "row_id": top[1] if top[1] > 0 else 0,
                            "cell_id": top[2],
                            "header": near == "th",
                            "text": text,
                        }
                    )
                    top[2] += 1
            self.buf = []
        self.link_chars = 0
        self.ctx_tag = None
        self.ctx_depth = 0


def _pdf_blocks(obj: dict) -> list[tuple]:
    """SPEC.md §3: column clustering + reading order for PDF-like payloads;
    one ``("pdfblock", 0, text, 0, (x0, y0, x1, y1))`` per block."""
    cleaned: list[tuple[float, float, float, float, str]] = []
    for b in obj.get("blocks") or []:
        if not isinstance(b, dict):
            continue
        try:
            x0 = float(b["x0"])
            y0 = float(b["y0"])
            x1 = float(b["x1"])
            y1 = float(b["y1"])
            text = " ".join(str(b["text"]).split())
        except (KeyError, TypeError, ValueError):
            continue
        if text:
            cleaned.append((x0, y0, x1, y1, text))
    if not cleaned:
        return []
    # single-linkage column clustering on x-interval overlap
    by_x = sorted(cleaned, key=lambda t: (t[0], t[1], t[2], t[4]))
    cols: dict[tuple, int] = {}
    col_id = -1
    cur_x1 = float("-inf")
    for t in by_x:
        if t[0] > cur_x1:
            col_id += 1
            cur_x1 = t[2]
        elif t[2] > cur_x1:
            cur_x1 = t[2]
        cols[t] = col_id
    reading = sorted(cleaned, key=lambda t: (cols[t], t[1], t[0], t[2], t[4]))
    return [
        ("pdfblock", 0, t[4], 0, t[:4]) for t in reading[: spec.MAX_BLOCKS]
    ]


# --- fast-path tokenizer ----------------------------------------------------
# A regex tokenizer for "simple" markup: no entities, no comments/doctype/PI,
# every `<` opening a plain tag. It turns a document into the tokens
# html.parser would produce, or answers None (bail to html.parser) on
# anything it cannot prove it tokenizes identically — the differential tests
# (fast vs forced-slow over the adversarial corpus and hypothesis-generated
# soup and tags) hold the two tokenizations together. Its tokens feed two
# consumers: the _BlockParser handlers (:func:`_feed`, the full product) and
# the stackless text scan (:func:`_text_blocks`, the text product).
#
# The tag grammar is one attribute pattern, _ATTR, a strict SUBSET of
# html.parser's attrfind_tolerant: a name starting with a letter, then
# optionally a single `=` and a value, quoted without a `<` or bare without
# whitespace, quotes, `=`, `<`, `>` or a backtick. The bare value is
# possessive, never shortened to free a `/` for a self-closing mark: in
# `<a href=x/>` the `/` stays in the value, as html.parser keeps it. Every
# start tag (_SIMPLE_TAG, _CDATA_OPEN) and every attribute parse
# (_FAST_ATTR) is built from it, so a tag of any other shape (`<p
# class=x"y>`, `<a x="1"y>`, `<p/ x>`) fails the tag match. No tag match
# holds a `<` but its first, so a segment whose `<` count exceeds its tag
# count has a `<` the fast path cannot tokenize, and bails.
#
# The tag name is NARROWER than html.parser's tagfind_tolerant
# (`[a-zA-Z][^\t\n\r\f />\x00]*`), so the lookahead is load-bearing: a name
# that continues with a char outside [a-zA-Z0-9-] (e.g. `<o:p>`, `<div.cls>`
# — namespaced tags are common in Word-exported HTML) must FAIL the match,
# not be split into name + attrs. An end tag matches only with nothing but
# whitespace before its `>`: `</p x>` and `</p/>` are bogus comments to
# html.parser.
_ATTR = (
    r"\s+([a-zA-Z][a-zA-Z0-9_:.\-]*)"
    r"(?:\s*=\s*(\"[^\"<]*\"|'[^'<]*'|[^\s\"'=<>`]++))?"
)
_FAST_ATTR = re.compile(_ATTR)
# the tag patterns' copy of _ATTR, its groups made non-capturing
_TAG_ATTRS = "(?:%s)*" % re.sub(r"\((?!\?)", "(?:", _ATTR)
_SIMPLE_TAG = re.compile(
    r"<(/)?([a-zA-Z][a-zA-Z0-9-]*)(?=[\t\n\r\f />])"
    r"((?(1)|" + _TAG_ATTRS + r"))\s*((?(1)|/?))>"
)

# tags whose attributes carry frozen-SPEC state (§5 href, §6 metadata): the
# only attributes :func:`_feed` parses
_FAST_ATTR_TAGS = frozenset(("a", "meta", "link"))

# html.parser gives only <script>/<style> CDATA treatment. A start tag of
# either, matched exactly as _SIMPLE_TAG matches it.
_CDATA_OPEN = re.compile(
    r"<((?i:script|style))(?=[\t\n\r\f />])" + _TAG_ATTRS + r"\s*(/?)>"
)
_CDATA_CLOSE = {
    name: (
        re.compile(rf"</\s*{name}\s*>", re.IGNORECASE),
        re.compile(rf"</\s*{name}", re.IGNORECASE),
    )
    for name in ("script", "style")
}

# _CDATA_CLOSE mirrors CPython 3.11's set_cdata_mode pattern (`</\s*name`-
# style closers). CPython 3.13+ tightened it to `</name(?=[\t\n\r\f />])`;
# probe the running interpreter at import and, if the pattern ever differs,
# disable the CDATA fast path entirely (always bail to html.parser) rather
# than risk a silent fast/slow divergence after a Python upgrade. The probe
# touches private html.parser API: a release that drops ``interesting`` or
# changes ``set_cdata_mode``'s signature raises AttributeError/TypeError,
# which also means "rules changed".
def _cdata_fast_ok() -> bool:
    probe = HTMLParser()
    try:
        probe.set_cdata_mode("script")
        return probe.interesting.pattern == r"</\s*script\s*>"
    except (AttributeError, TypeError):
        return False


_CDATA_FAST = _cdata_fast_ok()


def _split_tags(segment: str) -> list | None:
    """``segment`` as ``[data, (closing, name, attrs, selfclose, data)*]``,
    one ``split`` call; None if a `<` in it opens no simple tag.

    (``split`` rather than ``findall`` with a leading data group: a search
    for data-then-tag restarts at every character of a data run that ends
    in a bogus `<`, quadratic in the run.)"""
    parts = _SIMPLE_TAG.split(segment)
    return parts if len(parts) // 5 == segment.count("<") else None


def _fast_tokens(decoded: str) -> list | None:
    """Tokenize simple markup; None = use html.parser.

    The tokens are one flat list, ``[data, (closing, name, attrs,
    selfclose, data)*]``: the document's leading text, then per tag its
    end-tag mark (``"/"`` or None), lowercase name, raw attribute text
    (parsed only by :func:`_feed`) and self-closing mark (``"/"`` or
    ``""``) and the text that follows it up to the next tag. A
    ``<script>``/``<style>`` element's content is the data after its start
    tag, followed by its end tag. No handler event is emitted here, so a
    bail leaves nothing to undo.
    """
    if (
        "&" in decoded or "<!" in decoded or "<?" in decoded
        or "\x00" in decoded  # html.parser treats NUL-bearing tags as data
    ):
        return None
    tokens: list = []
    seg = pos = 0
    while True:
        m = _CDATA_OPEN.search(decoded, pos)
        if m is None:
            break
        pos = m.end()
        if m.group(2):
            continue  # `<script/>` opens no CDATA element in html.parser
        if not _CDATA_FAST:
            return None  # html.parser CDATA rules changed: bail
        name = m.group(1).lower()
        close_rx, prefix_rx = _CDATA_CLOSE[name]
        mc = close_rx.search(decoded, pos)
        mp = prefix_rx.search(decoded, pos)
        if mc is None or mp is None or mp.start() != mc.start():
            return None  # unterminated or gnarly (`</script x>`) content
        parts = _split_tags(decoded[seg:pos])
        if parts is None:
            return None
        tokens += parts
        # the segment ends at the start tag: its empty trailing data slot
        # takes the element's content, then the end tag follows
        tokens[-1] = decoded[pos:mc.start()]
        tokens += ("/", name, "", "")
        seg = pos = mc.end()
    parts = _split_tags(decoded[seg:])
    if parts is None:
        return None
    tokens += parts
    tokens[2::5] = [n.lower() for n in tokens[2::5]]
    return tokens


def _feed(tokens: list, h: _BlockParser) -> None:
    """Run the _BlockParser handlers over :func:`_fast_tokens` output.

    Only the attributes of _FAST_ATTR_TAGS are parsed (the handlers read no
    others) into html.parser's ``(name, value)`` pairs: _SIMPLE_TAG matched
    the raw text as _ATTR items, so one _FAST_ATTR ``findall`` reads all of
    it, and it holds no `&` (charrefs bail), so values need no unescaping.
    """
    h.handle_data(tokens[0])
    it = iter(tokens)
    next(it)
    for closing, name, attrs, selfclose, data in zip(it, it, it, it, it):
        if closing:
            h.handle_endtag(name)
        else:
            attrs = [
                (k.lower(), v[1:-1] if v[:1] in ('"', "'") else v or None)
                for k, v in _FAST_ATTR.findall(attrs)
            ] if name in _FAST_ATTR_TAGS else ()
            if selfclose:
                h.handle_startendtag(name, attrs)
            else:
                h.handle_starttag(name, attrs)
        if data:
            h.handle_data(data)


def _text_blocks(tokens: list) -> list[tuple[str, int]]:
    """The ``(text, link_chars)`` of every block of a document, from its
    :func:`_fast_tokens` — what the _BlockParser handlers would give for
    those two fields, without the element stack, block tags and depths,
    outlinks, title, meta or table cells.

    State: the open block's text, its linked characters, the skip-element
    depth (SPEC §1 SKIP_TAGS) and the anchor depth. A block tag's start or
    end flushes the open block; the scan stops once MAX_BLOCKS blocks are
    kept, since none after them can be.
    """
    block_tags = spec.BLOCK_TAGS
    skip_tags = spec.SKIP_TAGS
    blocks: list[tuple[str, int]] = []
    buf = [tokens[0]] if tokens[0] else []
    link_chars = skip = anchor = 0
    it = iter(tokens)
    next(it)
    for closing, name, _, selfclose, data in zip(it, it, it, it, it):
        if name in block_tags and buf:
            text = " ".join("".join(buf).split())
            if text:
                blocks.append((text, link_chars))
                if len(blocks) == spec.MAX_BLOCKS:
                    return blocks
            buf = []
            link_chars = 0
        if closing:
            if name in skip_tags:
                if skip:
                    skip -= 1
            elif name == "a" and anchor:
                anchor -= 1
        elif not selfclose:
            if name in skip_tags:
                skip += 1
            elif name == "a":
                anchor += 1
        if data and not skip:
            buf.append(data)
            if anchor:
                link_chars += len(" ".join(data.split()))
    if buf:
        text = " ".join("".join(buf).split())
        if text:
            blocks.append((text, link_chars))
    return blocks


_EMPTY_META = {
    "title": "", "description": "", "canonical": "", "og_title": "",
}


def _payload(html: bytes | None) -> tuple[str, object]:
    """SPEC.md §0 dispatch: ``("empty", None)``, ``("pdf", blocks)`` (see
    :func:`_pdf_blocks`) or ``("html", decoded text)``."""
    if not html:
        return "empty", None
    decoded = sniff_decode(html)
    stripped = decoded.lstrip()
    if stripped.startswith("{"):
        try:
            obj = json.loads(decoded)
        except (ValueError, RecursionError):
            obj = None
        if (
            isinstance(obj, dict)
            and obj.get("kind") == "pdf"
            and isinstance(obj.get("blocks"), list)
        ):
            return "pdf", _pdf_blocks(obj)
    return "html", decoded


def _run_handlers(
    parser: _BlockParser, decoded: str, tokens: list | None
) -> None:
    """Run ``parser``'s handlers over one decoded HTML document: over its
    :func:`_fast_tokens` output, or through html.parser where ``tokens``
    is None. The results are left in ``parser``."""
    parser.reset()  # HTMLParser internal state
    parser._reset_doc()
    if tokens is not None:
        _feed(tokens, parser)
    else:
        try:
            parser.feed(decoded)
            parser.close()
        except Exception:
            # html.parser is tolerant, but guard the 100 TB run anyway:
            # a pathological page yields whatever was flushed so far.
            pass
    parser._flush()
    parser._finalize_link()
    parser._finalize_meta()


def parse_payload(
    html: bytes | None,
    lang: str | None,
    parser: _BlockParser | None = None,
    force_slow: bool = False,
) -> tuple[str, list[tuple], list[dict], dict, list[dict]]:
    """Parse one page payload → (kind, blocks, links, meta, tables).
    SPEC.md §0 dispatch; meta per §6, tables per §7 (all-empty for
    pdf/empty payloads). A block is ``(tag, depth, text, link_chars)``, plus
    its ``(x0, y0, x1, y1)`` bbox on a PDF payload; its block_id is its
    position. The parse does not depend on ``lang``: the language-keyed
    features are computed per batch by :func:`block_features`.

    ``force_slow`` disables the fast-path tokenizer (used by the
    differential tests that prove the two tokenizers agree).
    """
    kind, doc = _payload(html)
    if kind == "empty":
        return "empty", [], [], _EMPTY_META, []
    if kind == "pdf":
        return "pdf", doc, [], _EMPTY_META, []
    if parser is None:
        parser = _BlockParser()
    _run_handlers(parser, doc, None if force_slow else _fast_tokens(doc))
    return (
        "html", parser.blocks, parser.links, parser.meta_result(),
        parser.tables,
    )


class _ParsedBatch:
    """A batch of payloads parsed into flat per-batch columns.

    ``offsets`` (len(htmls) + 1) delimit each document's blocks in the
    flat ``texts``/``link_chars``/``tags``/``depths`` columns; ``pdf``
    marks PDF documents and ``bboxes`` maps a PDF document's first block
    to its blocks' (x0, y0, x1, y1). Links and table cells are flat the
    same way (``link_offsets``, ``table_offsets``), ``meta_cols`` holds
    one value per document.
    """

    def __init__(self, htmls: list[bytes | None]) -> None:
        parser = _BlockParser()
        self.kinds: list[str] = []
        offsets = [0]
        self.tags: list[str] = []
        depths: list[int] = []
        link_chars: list[int] = []
        texts: list[str] = []
        self.bboxes: dict[int, tuple] = {}
        self.link_offsets = [0]
        self.hrefs: list[str] = []
        self.anchors: list[str] = []
        self.meta_cols: dict[str, list] = {f: [] for f in _EMPTY_META}
        self.table_offsets = [0]
        self.table_cols: dict[str, list] = {
            f: [] for f in ("table_id", "row_id", "cell_id", "header", "text")
        }
        for html in htmls:
            kind, blocks, links, meta, tabs = parse_payload(html, None, parser)
            self.kinds.append(kind)
            if blocks:
                # tag, depth, text, link_chars[, bbox] columns
                cols = tuple(zip(*blocks))
                self.tags += cols[0]
                depths += cols[1]
                texts += cols[2]
                link_chars += cols[3]
                if kind == "pdf":
                    self.bboxes[offsets[-1]] = cols[4]
            offsets.append(offsets[-1] + len(blocks))
            for lk in links:
                self.hrefs.append(lk["href"])
                self.anchors.append(lk["anchor"])
            self.link_offsets.append(len(self.hrefs))
            for f, vals in self.meta_cols.items():
                vals.append(meta[f])
            for tc in tabs:
                for f, vals in self.table_cols.items():
                    vals.append(tc[f])
            self.table_offsets.append(self.table_offsets[-1] + len(tabs))
        self.offsets = np.array(offsets, dtype=np.int64)
        self.pdf = np.array([k == "pdf" for k in self.kinds], dtype=bool)
        self.depths = np.array(depths, dtype=np.int32)
        self.texts = pa.array(texts, type=pa.string())
        self.link_chars = np.array(link_chars, dtype=np.int64)


def _block_counts(
    words: list[str], wordset: frozenset[str], token: np.ndarray,
    starts: np.ndarray,
) -> np.ndarray:
    """How many of each block's tokens are in ``wordset``: the membership
    of each distinct token (``words``, the token dictionary), gathered to
    the tokens (``token``, their dictionary indices) and summed over each
    block's tokens (``starts``, every block's first token; a block has at
    least one)."""
    if not len(starts):
        return np.zeros(0, dtype=np.int64)
    member = np.fromiter((w in wordset for w in words), bool, len(words))
    return np.add.reduceat(member[token], starts, dtype=np.int64)


def block_features(
    texts: pa.Array,
    link_chars: np.ndarray,
    offsets: np.ndarray,
    langs: list[str | None],
    langid: bool = False,
) -> tuple[list[str | None], dict[str, np.ndarray]]:
    """SPEC.md §2 features of every block of a batch, in one pass.

    ``texts`` is the batch's flat block-text array, ``link_chars`` the
    blocks' linked-character counts and ``offsets`` (len(langs) + 1) each
    document's block range. Returns the documents' langs and the numpy
    columns ``text_len``, ``n_words``, ``link_density``, ``char_density``
    and ``stopword_density``, one value per block.

    Arrow splits the texts on " " and dictionary-encodes the tokens; the
    stopword predicate stays Python's ``w.lower().strip(PUNCT) in
    stopset``, run once per distinct token and stopword list of the batch
    and gathered back to the tokens. ``langid=True`` gives every untagged
    (NULL-lang) document the ``spec.STOPWORDS`` list with the most tokens
    whose lowercase form it lists, across all the document's blocks (ties,
    no hits included, go to the first list), and scores its stopwords
    against that list.
    """
    langs = list(langs)
    tokens = pc.split_pattern(texts, " ")
    word_offsets = tokens.offsets.to_numpy()
    enc = pc.dictionary_encode(tokens.flatten())
    del tokens  # hold only the dictionary indices per token from here on
    token = enc.indices.to_numpy()
    starts = word_offsets[:-1]
    lower = [w.lower() for w in enc.dictionary.to_pylist()]
    if langid and None in langs:
        hits = []
        for ws in spec.STOPWORDS.values():
            run = np.zeros(len(texts) + 1, dtype=np.int64)
            np.cumsum(_block_counts(lower, ws, token, starts), out=run[1:])
            hits.append(run[offsets[1:]] - run[offsets[:-1]])
        names = list(spec.STOPWORDS)
        for i, best in enumerate(np.argmax(hits, axis=0)):
            if langs[i] is None:
                langs[i] = names[best]
    stopsets = [spec.stopword_set(lg) for lg in langs]
    distinct = list({id(s): s for s in stopsets}.values())
    block_set = np.repeat(
        np.array([distinct.index(s) for s in stopsets], dtype=np.intp),
        np.diff(offsets),
    )
    clean = [w.strip(spec.PUNCT) for w in lower]
    n_stop = np.zeros(len(texts), dtype=np.int64)
    for k, s in enumerate(distinct):
        mine = block_set == k
        n_stop[mine] = _block_counts(clean, s, token, starts)[mine]
    text_len = pc.utf8_length(texts).to_numpy()
    n_words = np.diff(word_offsets)
    return langs, {
        "text_len": text_len,
        "n_words": n_words,
        "link_density": np.minimum(link_chars / text_len, 1.0),
        "char_density": text_len / n_words,
        "stopword_density": n_stop / n_words,
    }


def label_mask(
    offsets: np.ndarray,
    pdf: np.ndarray,
    text_len: np.ndarray,
    link_density: np.ndarray,
    stopword_density: np.ndarray,
) -> np.ndarray:
    """Ops 13+14 over a batch: True where a block is content.

    Classification is jusText's context-free rule. Smoothing: an edge
    block ('good'/'bad') keeps its verdict; any other block is content iff
    its nearest preceding or following edge in the same document is
    'good', found by a forward and a backward running max/min of edge
    positions bounded by the document's start and end. Every block of a
    PDF document (``pdf``, one flag per document) is content.
    """
    counts = np.diff(offsets)
    start = np.repeat(offsets[:-1], counts)
    end = np.repeat(offsets[1:], counts)
    long = text_len >= spec.LEN_SHORT
    linked = link_density > spec.MAX_LINK_DENSITY
    good = ~linked & long & (stopword_density >= spec.STOP_GOOD)
    edge = good | linked | (long & (stopword_density < spec.STOP_NEAR))
    n = len(edge)
    pos = np.arange(n)
    prev = np.maximum.accumulate(np.where(edge, pos, -1))
    nxt = np.minimum.accumulate(np.where(edge, pos, n)[::-1])[::-1]
    keep = (prev >= start) & good[prev]
    keep |= ~edge & (nxt < end) & good[np.minimum(nxt, n - 1)]
    keep |= np.repeat(pdf, counts)
    return keep


def assemble_batch(
    texts: pa.Array, text_len: np.ndarray, keep: np.ndarray,
    offsets: np.ndarray,
) -> list[pa.Array]:
    """Ops 15+17 over a batch: the ``extracted_text``, ``spans``,
    ``text_sha256``, ``n_blocks`` and ``n_content_blocks`` arrays.

    A document's text is its content blocks joined by ``spec.SEP``; a
    span is ``(block_id, start, end, 'content')`` with start the
    exclusive running sum of ``text_len + len(SEP)`` over the document's
    content blocks; the hash is the hex SHA-256 of the text's UTF-8 bytes.
    """
    n_docs = len(offsets) - 1
    content = np.flatnonzero(keep)
    doc = np.repeat(np.arange(n_docs), np.diff(offsets))[content]
    n_content = np.bincount(doc, minlength=n_docs)
    content_offsets = np.zeros(n_docs + 1, dtype=np.int64)
    np.cumsum(n_content, out=content_offsets[1:])
    lens = text_len[content].astype(np.int64)
    run = np.zeros(len(content) + 1, dtype=np.int64)
    np.cumsum(lens + len(spec.SEP), out=run[1:])
    start = run[:-1] - run[content_offsets[:-1]][doc]
    spans = pa.StructArray.from_arrays(
        [
            pa.array(content - offsets[:-1][doc], type=pa.int32()),
            pa.array(start, type=pa.int64()),
            pa.array(start + lens, type=pa.int64()),
            pa.repeat(pa.scalar("content"), len(content)),
        ],
        names=["block_id", "start", "end", "label"],
    )
    list_offsets = pa.array(content_offsets, type=pa.int32())
    text = pc.binary_join(
        pa.ListArray.from_arrays(list_offsets, texts.take(content)), spec.SEP
    )
    return [
        text,
        pa.ListArray.from_arrays(list_offsets, spans),
        pa.array(
            [
                hashlib.sha256(b).hexdigest()
                for b in text.cast(pa.binary()).to_pylist()
            ],
            type=pa.string(),
        ),
        pa.array(np.diff(offsets), type=pa.int32()),
        pa.array(n_content, type=pa.int32()),
    ]


def parse_batch_columnar(
    htmls: list[bytes | None], langs: list[str | None]
) -> tuple:
    """Parse a batch into FLAT columns + list offsets for zero-inference
    Arrow construction.

    Returns (kinds, offsets, cols, bbox_null, link_offsets, hrefs,
    anchors, meta_cols, table_offsets, table_cols). ``offsets``,
    ``link_offsets`` and ``table_offsets`` have len(htmls)+1 entries and
    each flat column is the concatenation over all documents in order:
    ``cols`` one value per block for every ``schemas.block_pa_type`` field
    but ``bbox`` (the features from :func:`block_features`) plus the bbox
    coordinates ``x0``..``y1``, null where ``bbox_null``; links per
    SPEC.md §5 (link_id is the position within a document's slice);
    ``meta_cols`` per SPEC.md §6, one value per document; table cell
    fragments per SPEC.md §7.
    """
    p = _ParsedBatch(htmls)
    _, feats = block_features(p.texts, p.link_chars, p.offsets, langs)
    n = len(p.texts)
    doc_start = np.repeat(p.offsets[:-1], np.diff(p.offsets))
    coords = np.zeros((n, 4))
    bbox_null = np.ones(n, dtype=bool)
    for first, boxes in p.bboxes.items():
        coords[first:first + len(boxes)] = boxes
        bbox_null[first:first + len(boxes)] = False
    cols = {
        "block_id": np.arange(n) - doc_start,
        "tag": p.tags,
        "depth": p.depths,
        "text": p.texts,
        "n_link_chars": p.link_chars,
        **feats,
        **{f: coords[:, k] for k, f in enumerate(("x0", "y0", "x1", "y1"))},
    }
    return (
        p.kinds, p.offsets, cols, bbox_null, p.link_offsets, p.hrefs,
        p.anchors, p.meta_cols, p.table_offsets, p.table_cols,
    )


def _extract_tail(
    texts: pa.Array,
    link_chars: np.ndarray,
    offsets: np.ndarray,
    pdf: np.ndarray,
    langs: list[str | None],
    langid: bool,
) -> tuple[list[str | None], list[pa.Array]]:
    """:func:`block_features` → :func:`label_mask` → :func:`assemble_batch`
    over a batch's flat block columns."""
    langs, feats = block_features(texts, link_chars, offsets, langs, langid)
    keep = label_mask(
        offsets, pdf, feats["text_len"], feats["link_density"],
        feats["stopword_density"],
    )
    return langs, assemble_batch(texts, feats["text_len"], keep, offsets)


def extract_batch(
    htmls: list[bytes | None], langs: list[str | None], langid: bool = False
):
    """Parse AND finish a batch of payloads in one pass (SURVEY §3.2).

    Returns ``(langs, text_arrays, link_offsets, hrefs, anchors,
    meta_cols)``: the documents' output langs (see :func:`block_features`
    for ``langid``), :func:`assemble_batch`'s arrays, then outlinks and
    metadata as flat columns like :func:`parse_batch_columnar`'s.
    """
    p = _ParsedBatch(htmls)
    langs, text_arrays = _extract_tail(
        p.texts, p.link_chars, p.offsets, p.pdf, langs, langid
    )
    return (
        langs, text_arrays, p.link_offsets, p.hrefs, p.anchors, p.meta_cols,
    )


def extract_text_batch(
    htmls: list[bytes | None], langs: list[str | None], langid: bool = False
) -> tuple[list[str | None], list[pa.Array]]:
    """:func:`extract_batch`'s ``(langs, text_arrays)`` alone, from the
    text scan: an HTML page's blocks come from :func:`_text_blocks` over
    its :func:`_fast_tokens`, or from html.parser's run of the handlers
    (:func:`_run_handlers`) where the tokenizer bails; nothing else of the
    page is parsed, and nothing is decoded twice."""
    parser = None
    texts: list[str] = []
    link_chars: list[int] = []
    offsets = [0]
    pdf: list[bool] = []
    for html in htmls:
        kind, doc = _payload(html)
        blocks = ()
        if kind == "pdf":
            blocks = [(b[2], b[3]) for b in doc]
        elif kind == "html":
            tokens = _fast_tokens(doc)
            if tokens is not None:
                blocks = _text_blocks(tokens)
            else:
                parser = parser or _BlockParser()
                _run_handlers(parser, doc, None)
                blocks = [(b[2], b[3]) for b in parser.blocks]
        if blocks:
            cols = tuple(zip(*blocks))
            texts += cols[0]
            link_chars += cols[1]
        offsets.append(len(texts))
        pdf.append(kind == "pdf")
    return _extract_tail(
        pa.array(texts, type=pa.string()),
        np.array(link_chars, dtype=np.int64),
        np.array(offsets, dtype=np.int64),
        np.array(pdf, dtype=bool),
        langs, langid,
    )
