"""Frozen single-threaded golden reference extractor (SPEC.md, all sections).

This module stands in for the reference implementation's golden outputs:
`/root/reference` (dun933/ocr) was an empty checkout (SURVEY.md §0), so per
SURVEY.md §5.1 this frozen, pure-Python, one-document-at-a-time extractor IS
the byte-identity reference demanded by BASELINE.json:6 ("byte-identical
extracted text per url against the reference implementation's golden
outputs"). It mirrors the reference's per-document loop shape: decode →
detect blocks → classify → group → assemble, one doc at a time.

It is implemented INDEPENDENTLY of the distributed engine
(`ocr_spark.html_blocks` + the Spark SQL stages in
`ocr_spark.operators.extract`): no code is shared beyond the frozen
constants in `ocr_spark.spec`. Keep it that way — the golden pytest gate
compares the two implementations and any shared logic would weaken it.
"""

from __future__ import annotations

import hashlib
import json
from html.parser import HTMLParser

from ocr_spark.spec import (
    BLOCK_TAGS,
    LEN_SHORT,
    MAX_BLOCKS,
    MAX_LINK_DENSITY,
    MAX_LINKS,
    MAX_TABLE_CELLS,
    PUNCT,
    SEP,
    SKIP_SCHEMES,
    SKIP_TAGS,
    STOP_GOOD,
    STOP_NEAR,
    VOID_TAGS,
    stopword_set,
)


def _normalize(s: str) -> str:
    return " ".join(s.split())


# SPEC.md §0 step 2 frozen label table, written out flat (independent of the
# engine-side construction in html_blocks.py; the charset-* goldens hold the
# two decoders byte-identical).
_CHARSET_TABLE = {
    "utf-8": "utf-8", "utf8": "utf-8", "unicode-1-1-utf-8": "utf-8",
    "gbk": "gbk", "gb2312": "gbk", "gb_2312": "gbk", "gb_2312-80": "gbk",
    "csgb2312": "gbk", "x-gbk": "gbk", "chinese": "gbk",
    "iso-ir-58": "gbk", "csiso58gb231280": "gbk",
    "gb18030": "gb18030",
    "big5": "big5", "big5-hkscs": "big5", "csbig5": "big5",
    "cn-big5": "big5", "x-x-big5": "big5",
    "shift_jis": "shift_jis", "shift-jis": "shift_jis", "sjis": "shift_jis",
    "s_jis": "shift_jis", "x-sjis": "shift_jis", "ms_kanji": "shift_jis",
    "csshiftjis": "shift_jis", "windows-31j": "shift_jis",
    "ms932": "shift_jis",
    "euc-jp": "euc-jp", "x-euc-jp": "euc-jp",
    "cseucpkdfmtjapanese": "euc-jp",
    "euc-kr": "euc-kr", "korean": "euc-kr", "csksc56011987": "euc-kr",
    "ks_c_5601-1987": "euc-kr", "windows-949": "euc-kr",
    "koi8-r": "koi8-r", "koi8_r": "koi8-r", "cskoi8r": "koi8-r",
    "koi8": "koi8-r",
    "iso-8859-1": "windows-1252", "iso8859-1": "windows-1252",
    "latin1": "windows-1252", "latin-1": "windows-1252",
    "l1": "windows-1252", "ascii": "windows-1252",
    "us-ascii": "windows-1252",
    "iso-8859-2": "iso-8859-2", "iso8859-2": "iso-8859-2",
    "latin2": "iso-8859-2",
    "iso-8859-5": "iso-8859-5", "iso8859-5": "iso-8859-5",
    "cyrillic": "iso-8859-5",
    "iso-8859-7": "iso-8859-7", "iso8859-7": "iso-8859-7",
    "greek": "iso-8859-7", "greek8": "iso-8859-7",
    "iso-8859-15": "iso-8859-15", "iso8859-15": "iso-8859-15",
    "latin9": "iso-8859-15",
    "windows-1250": "windows-1250", "cp1250": "windows-1250",
    "x-cp1250": "windows-1250",
    "windows-1251": "windows-1251", "cp1251": "windows-1251",
    "x-cp1251": "windows-1251",
    "windows-1252": "windows-1252", "cp1252": "windows-1252",
    "x-cp1252": "windows-1252",
    "windows-1253": "windows-1253", "cp1253": "windows-1253",
    "x-cp1253": "windows-1253",
    "windows-1254": "windows-1254", "cp1254": "windows-1254",
    "x-cp1254": "windows-1254",
    "windows-1255": "windows-1255", "cp1255": "windows-1255",
    "x-cp1255": "windows-1255",
    "windows-1256": "windows-1256", "cp1256": "windows-1256",
    "x-cp1256": "windows-1256",
    "windows-1257": "windows-1257", "cp1257": "windows-1257",
    "x-cp1257": "windows-1257",
    "windows-1258": "windows-1258", "cp1258": "windows-1258",
    "x-cp1258": "windows-1258",
}

_LABEL_CHARS = frozenset("abcdefghijklmnopqrstuvwxyz0123456789_.:-")


def _sniff_decode(raw: bytes) -> str:
    """SPEC.md §0 step 2, implemented as a manual scan (no regex)."""
    # BOMs, longest prefixes first
    if raw[:3] == b"\xef\xbb\xbf":
        return raw[3:].decode("utf-8", "replace")
    if raw[:4] == b"\xff\xfe\x00\x00":
        return raw[4:].decode("utf-32-le", "replace")
    if raw[:4] == b"\x00\x00\xfe\xff":
        return raw[4:].decode("utf-32-be", "replace")
    if raw[:2] == b"\xff\xfe":
        return raw[2:].decode("utf-16-le", "replace")
    if raw[:2] == b"\xfe\xff":
        return raw[2:].decode("utf-16-be", "replace")
    head = raw[:1024].decode("latin-1").lower()
    pos = 0
    while True:
        hit = head.find("charset", pos)
        if hit < 0:
            break
        i = hit + len("charset")
        while i < len(head) and head[i] in " \t\n\r\f\v":
            i += 1
        if i < len(head) and head[i] == "=":
            i += 1
            while i < len(head) and head[i] in " \t\n\r\f\v":
                i += 1
            if i < len(head) and head[i] in "\"'":
                i += 1
            while i < len(head) and head[i] in " \t\n\r\f\v":
                i += 1
            j = i
            while j < len(head) and head[j] in _LABEL_CHARS:
                j += 1
            if j > i:
                codec = _CHARSET_TABLE.get(head[i:j])
                if codec is not None:
                    return raw.decode(codec, "replace")
                break  # first charset= with a label decides; unknown falls out
        pos = hit + 1
    try:
        return raw.decode("utf-8")
    except UnicodeDecodeError:
        return raw.decode("latin-1")


def _href_norm(value):
    """SPEC.md §5.3–5.5, reference impl: manual char scan (no regex)."""
    if value is None:
        return None
    kept = []
    for ch in value.strip(" \t\n\r\f\v"):
        if ch not in "\t\n\r":
            kept.append(ch)
    s = "".join(kept)
    if s == "" or s[0] == "#":
        return None
    if s[0].isascii() and s[0].isalpha():
        i = 1
        while i < len(s) and (
            (s[i].isascii() and s[i].isalnum()) or s[i] in "+.-"
        ):
            i += 1
        if i < len(s) and s[i] == ":" and s[:i].lower() in SKIP_SCHEMES:
            return None
    return s


def _meta_href_norm(value):
    """SPEC.md §6.5 canonical href: §5.4 normalization only, no discards."""
    if value is None:
        return None
    kept = []
    for ch in value.strip(" \t\n\r\f\v"):
        if ch not in "\t\n\r":
            kept.append(ch)
    s = "".join(kept)
    return s if s else None


class _GoldenHTML(HTMLParser):
    """Event recorder for the SPEC.md §1/§5/§6 tokenizer rules (reference
    impl)."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.open_tags: list[str] = []
        self.n_skip = 0
        self.n_anchor = 0
        self.fragments: list[str] = []
        self.frag_link_len = 0
        self.block_ctx: tuple[str, int] | None = None
        self.raw_blocks: list[tuple[str, int, str, int]] = []
        self.links: list[dict] = []
        self.open_href = None
        self.open_anchor: list[str] = []
        self.doc_title = None  # None until the first <title> closes (§6.2)
        self.in_title = False
        self.title_parts: list[str] = []
        self.doc_desc = None
        self.doc_canon = None
        self.doc_og = None
        # SPEC §7 table structure (innermost-last frames; own bookkeeping,
        # deliberately not shared with ocr_spark.html_blocks)
        self.table_frames: list[dict] = []
        self.tables_seen = 0
        self.cells_out: list[dict] = []

    # --- SPEC §6 metadata events ------------------------------------------
    def _meta_event(self, attrs) -> None:
        seen = {}
        for name, val in attrs:
            if name not in seen:
                seen[name] = val
        content = seen.get("content")
        if content is None:
            return
        name_attr = seen.get("name")
        if (
            self.doc_desc is None
            and name_attr is not None
            and name_attr.strip(" \t\n\r\f\v").lower() == "description"
        ):
            self.doc_desc = _normalize(content)
        prop_attr = seen.get("property")
        if (
            self.doc_og is None
            and prop_attr is not None
            and prop_attr.strip(" \t\n\r\f\v").lower() == "og:title"
        ):
            self.doc_og = _normalize(content)

    def _link_event(self, attrs) -> None:
        if self.doc_canon is not None:
            return
        seen = {}
        for name, val in attrs:
            if name not in seen:
                seen[name] = val
        rel = seen.get("rel")
        if rel is None:
            return
        if "canonical" not in [tok.lower() for tok in rel.split()]:
            return
        norm = _meta_href_norm(seen.get("href"))
        if norm is not None:
            self.doc_canon = norm

    def _end_title(self) -> None:
        self.doc_title = _normalize("".join(self.title_parts))
        self.in_title = False
        self.title_parts = []

    def _close_link(self) -> None:
        if self.open_href is None:
            return
        if len(self.links) < MAX_LINKS:
            self.links.append(
                {
                    "link_id": len(self.links),
                    "href": self.open_href,
                    "anchor": _normalize("".join(self.open_anchor)),
                }
            )
        self.open_href = None
        self.open_anchor = []

    def _emit(self) -> None:
        if self.fragments:
            joined = _normalize("".join(self.fragments))
            if joined:
                tag, depth = self.block_ctx if self.block_ctx else ("body", 0)
                self.raw_blocks.append((tag, depth, joined, self.frag_link_len))
                self._cell_emit(joined)
            self.fragments = []
        self.frag_link_len = 0
        self.block_ctx = None

    def _cell_emit(self, joined: str) -> None:
        """SPEC §7.5/§7.6: emit a table-cell fragment for a non-empty flush."""
        if not self.table_frames or len(self.cells_out) >= MAX_TABLE_CELLS:
            return
        nearest = next(
            (t for t in self.open_tags[::-1]
             if t in ("td", "th", "tr", "table")),
            None,
        )
        if nearest not in ("td", "th"):
            return
        frame = self.table_frames[-1]
        self.cells_out.append(
            {
                "table_id": frame["tid"],
                "row_id": max(frame["row"], 0),
                "cell_id": frame["kept"],
                "header": nearest == "th",
                "text": joined,
            }
        )
        frame["kept"] += 1

    def handle_starttag(self, tag, attrs):
        if tag in BLOCK_TAGS:
            self._emit()
        if tag in SKIP_TAGS and tag not in VOID_TAGS:
            self.n_skip += 1
        if tag == "a":
            self.n_anchor += 1
            if self.n_skip == 0:
                self._close_link()
                href = None
                for name, val in attrs:
                    if name == "href":
                        href = val
                        break
                norm = _href_norm(href)
                if norm is not None:
                    self.open_href = norm
        elif self.n_skip == 0:
            if tag == "title":
                if self.doc_title is None and not self.in_title:
                    self.in_title = True
            elif tag == "meta":
                self._meta_event(attrs)
            elif tag == "link":
                self._link_event(attrs)
        if self.n_skip == 0:
            # §7.2/§7.3
            if tag == "table":
                self.table_frames.append(
                    {"tid": self.tables_seen, "row": -1, "kept": 0}
                )
                self.tables_seen += 1
            elif tag == "tr" and self.table_frames:
                self.table_frames[-1]["row"] += 1
        if tag not in VOID_TAGS:
            self.open_tags.append(tag)

    def handle_endtag(self, tag):
        if tag in BLOCK_TAGS:
            self._emit()
        if tag in SKIP_TAGS and self.n_skip:
            self.n_skip -= 1
        if tag == "a":
            if self.n_anchor:
                self.n_anchor -= 1
            if self.n_skip == 0:
                self._close_link()
        elif tag == "title" and self.in_title and self.n_skip == 0:
            self._end_title()
        if tag == "table" and self.n_skip == 0 and self.table_frames:
            self.table_frames.pop()  # §7.4
        for i in range(len(self.open_tags) - 1, -1, -1):
            if self.open_tags[i] == tag:
                self.open_tags = self.open_tags[:i]
                break

    def handle_startendtag(self, tag, attrs):
        if tag in BLOCK_TAGS:
            self._emit()
        if tag == "a" and self.n_skip == 0:
            self._close_link()
            href = None
            for name, val in attrs:
                if name == "href":
                    href = val
                    break
            norm = _href_norm(href)
            if norm is not None:
                self.open_href = norm
                self._close_link()
        elif self.n_skip == 0:
            # §6: self-closing <meta/>/<link/> carry metadata; <title/> is
            # ignored (§6.2)
            if tag == "meta":
                self._meta_event(attrs)
            elif tag == "link":
                self._link_event(attrs)

    def handle_data(self, data):
        if self.n_skip or data == "":
            return
        if self.open_href is not None:
            self.open_anchor.append(data)
        if self.in_title:
            self.title_parts.append(data)
        if self.block_ctx is None and data.strip() != "":
            enclosing = "body"
            for t in self.open_tags[::-1]:
                if t in BLOCK_TAGS:
                    enclosing = t
                    break
            self.block_ctx = (enclosing, len(self.open_tags))
        self.fragments.append(data)
        if self.n_anchor:
            self.frag_link_len += len(_normalize(data))


def _features(block_id, tag, depth, text, link_len, bbox, stops):
    n_chars = len(text)
    tokens = text.split(" ")
    stop_hits = [t for t in tokens if t.lower().strip(PUNCT) in stops]
    link_density = min(1.0, link_len / n_chars)
    return {
        "block_id": block_id,
        "tag": tag,
        "depth": depth,
        "text": text,
        "text_len": n_chars,
        "n_words": len(tokens),
        "n_link_chars": link_len,
        "link_density": link_density,
        "char_density": n_chars / len(tokens),
        "stopword_density": len(stop_hits) / len(tokens),
        "bbox": bbox,
    }


def _classify(b: dict) -> str:
    if b["link_density"] > MAX_LINK_DENSITY:
        return "bad"
    if b["text_len"] < LEN_SHORT:
        return "short"
    if b["stopword_density"] >= STOP_GOOD:
        return "good"
    if b["stopword_density"] >= STOP_NEAR:
        return "near"
    return "bad"


def _smooth(labels: list[str]) -> list[str]:
    n = len(labels)
    out = []
    for i, lab in enumerate(labels):
        if lab == "good":
            out.append("content")
            continue
        if lab == "bad":
            out.append("boilerplate")
            continue
        prev_edge = next(
            (labels[j] for j in range(i - 1, -1, -1) if labels[j] in ("good", "bad")),
            None,
        )
        next_edge = next(
            (labels[j] for j in range(i + 1, n) if labels[j] in ("good", "bad")),
            None,
        )
        ok = prev_edge == "good" or next_edge == "good"
        out.append("content" if ok else "boilerplate")
    return out


def _pdf_reading_order(obj: dict) -> list[tuple]:
    kept = []
    for raw in obj.get("blocks") or []:
        if not isinstance(raw, dict):
            continue
        try:
            coords = tuple(float(raw[k]) for k in ("x0", "y0", "x1", "y1"))
            text = _normalize(str(raw["text"]))
        except (KeyError, TypeError, ValueError):
            continue
        if text:
            kept.append(coords + (text,))
    if not kept:
        return []
    column_of = {}
    current, right = -1, float("-inf")
    for blk in sorted(kept, key=lambda b: (b[0], b[1], b[2], b[4])):
        if blk[0] > right:
            current += 1
            right = blk[2]
        else:
            right = max(right, blk[2])
        column_of[blk] = current
    ordered = sorted(kept, key=lambda b: (column_of[b], b[1], b[0], b[2], b[4]))
    return ordered[:MAX_BLOCKS]


def _assemble(blocks: list[dict], finals: list[str]):
    content = [b for b, f in zip(blocks, finals) if f == "content"]
    extracted_text = SEP.join(b["text"] for b in content)
    spans = []
    pos = 0
    for b in content:
        spans.append(
            {
                "block_id": b["block_id"],
                "start": pos,
                "end": pos + b["text_len"],
                "label": "content",
            }
        )
        pos += b["text_len"] + len(SEP)
    return content, extracted_text, spans


def extract_document(url: str, html: bytes | None, lang: str | None) -> dict:
    """Extract one document per SPEC.md; returns the full `extracted` row."""
    stops = stopword_set(lang)
    kind = "empty"
    blocks: list[dict] = []
    links: list[dict] = []
    meta = {"title": "", "description": "", "canonical": "", "og_title": ""}
    tables: list[dict] = []
    if html:
        decoded = _sniff_decode(html)
        obj = None
        if decoded.lstrip().startswith("{"):
            try:
                obj = json.loads(decoded)
            except (ValueError, RecursionError):
                obj = None
        if (
            isinstance(obj, dict)
            and obj.get("kind") == "pdf"
            and isinstance(obj.get("blocks"), list)
        ):
            kind = "pdf"
            for i, blk in enumerate(_pdf_reading_order(obj)):
                x0, y0, x1, y1, text = blk
                blocks.append(
                    _features(
                        i, "pdfblock", 0, text, 0,
                        {"x0": x0, "y0": y0, "x1": x1, "y1": y1}, stops,
                    )
                )
        else:
            kind = "html"
            p = _GoldenHTML()
            try:
                p.feed(decoded)
                p.close()
            except Exception:
                pass
            p._emit()
            p._close_link()
            if p.in_title:  # §6.2: end of document closes an open title
                p._end_title()
            links = p.links
            tables = p.cells_out
            meta = {
                "title": p.doc_title if p.doc_title is not None else "",
                "description": p.doc_desc if p.doc_desc is not None else "",
                "canonical": p.doc_canon if p.doc_canon is not None else "",
                "og_title": p.doc_og if p.doc_og is not None else "",
            }
            for i, (tag, depth, text, link_len) in enumerate(
                p.raw_blocks[:MAX_BLOCKS]
            ):
                blocks.append(_features(i, tag, depth, text, link_len, None, stops))

    if kind == "pdf":
        finals = ["content"] * len(blocks)
    else:
        finals = _smooth([_classify(b) for b in blocks])

    content, extracted_text, spans = _assemble(blocks, finals)
    return {
        "url": url,
        "lang": lang,
        "kind": kind,
        "blocks": blocks,
        "labels": finals,
        "extracted_text": extracted_text,
        "spans": spans,
        "text_sha256": hashlib.sha256(extracted_text.encode("utf-8")).hexdigest(),
        "n_blocks": len(blocks),
        "n_content_blocks": len(content),
        "links": links,
        "meta": meta,
        "tables": tables,
    }
