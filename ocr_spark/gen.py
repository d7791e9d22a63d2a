"""Deterministic synthetic page generation (FIXTURES.md §1, SURVEY.md §2 op 3).

Two generators:

- :func:`fixture_pages` — small hand-designed fixture corpus (edge cases
  included) built in plain Python with a seeded RNG; used with
  ``ocr_spark.goldenref`` to produce the golden byte-identity set.
- :func:`bench_pages` — Spark-side generation of arbitrarily many pages with
  **pure column expressions** (no Python per row, scales to any size and any
  cluster): Zipf-ish skewed hosts, variable-size HTML, ~2% PDF payloads,
  ~1% NULL html, ~1% invalid-UTF-8 prefixes. Deterministic: every value is a
  hash of the row id (no rand()).
"""

from __future__ import annotations

import datetime as dt
import json
import random

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_spark.schemas import PAGES_SCHEMA
from ocr_spark.spec import STOPWORDS

_CONTENT_VOCAB = {
    "en": "data spark engine table scan shuffle partition column vector batch".split(),
    "de": "daten tabelle spalte motor verteilung anfrage zeile speicher wert plan".split(),
    "es": "datos tabla columna motor consulta fila memoria valor plan nodo".split(),
    "fr": "données table colonne moteur requête ligne mémoire valeur plan nœud".split(),
    "zh": "数据 表 列 引擎 查询 行 内存 值 计划 节点".split(),
}

_BASE_TS = dt.datetime(2024, 1, 1, 0, 0, 0)


def _salad(rng: random.Random, lang: str, n_words: int, stop_frac: float) -> str:
    """Seeded word salad with a controlled stopword fraction."""
    stops = sorted(STOPWORDS[lang])
    vocab = _CONTENT_VOCAB[lang]
    words = []
    for _ in range(n_words):
        if rng.random() < stop_frac:
            words.append(rng.choice(stops))
        else:
            words.append(rng.choice(vocab))
    return " ".join(words)


def _nav(rng: random.Random, n_links: int = 6) -> str:
    links = "".join(
        f'<a href="/s{i}">menu item {i}</a> ' for i in range(n_links)
    )
    return f"<nav>{links}</nav>"


def _article(rng: random.Random, lang: str, n_paras: int) -> str:
    paras = []
    for _ in range(n_paras):
        paras.append(f"<p>{_salad(rng, lang, rng.randint(25, 90), 0.45)}</p>")
    return "<article>" + "".join(paras) + "</article>"


def _template_page(rng: random.Random, lang: str) -> str:
    n_paras = rng.randint(3, 10)
    side = "".join(f'<li><a href="/c{i}">cat {i}</a></li>' for i in range(5))
    return (
        "<html><head><title>t</title><style>p{color:red}</style></head><body>"
        + _nav(rng)
        + '<header><h1>Site header</h1></header>'
        + f'<div class="menu"><ul>{side}</ul></div>'
        + _article(rng, lang, n_paras)
        + '<footer><a href="/tos">terms</a> © 2024 example</footer>'
        + "</body></html>"
    )


def _pdf_payload(rng: random.Random, lang: str, two_cols: bool) -> bytes:
    blocks = []
    cols = [(50.0, 280.0), (320.0, 550.0)] if two_cols else [(50.0, 550.0)]
    for cx0, cx1 in cols:
        y = 60.0
        for _ in range(rng.randint(2, 5)):
            h = rng.uniform(20, 60)
            blocks.append(
                {
                    "text": _salad(rng, lang, rng.randint(8, 30), 0.4),
                    "x0": round(cx0 + rng.uniform(-3, 3), 2),
                    "y0": round(y, 2),
                    "x1": round(cx1 + rng.uniform(-3, 3), 2),
                    "y1": round(y + h, 2),
                }
            )
            y += h + rng.uniform(5, 15)
    rng.shuffle(blocks)  # storage order ≠ reading order: grouping must fix it
    return json.dumps({"kind": "pdf", "blocks": blocks}).encode("utf-8")


def _edge_cases(rng: random.Random) -> list[tuple[str, bytes | None, str]]:
    """(name, html, lang) triples for the hand-designed edge fixtures."""
    long_para = _salad(rng, "en", 1200, 0.4)
    cases: list[tuple[str, bytes | None, str]] = [
        ("empty-body", b"<html><body></body></html>", "en"),
        ("zero-byte", b"", "en"),
        ("null-html", None, "en"),
        ("script-style-only",
         b"<html><body><script>var x=1;</script><style>p{}</style></body></html>",
         "en"),
        ("comments-only", b"<html><body><!-- hidden --></body></html>", "en"),
        ("whitespace-only", b"<html><body>   \n\t  </body></html>", "en"),
        ("malformed-unclosed",
         ("<html><body><p>" + _salad(rng, "en", 40, 0.5)
          + "<div><p>" + _salad(rng, "en", 30, 0.5) + "</body>").encode(),
         "en"),
        ("bare-text-no-tags", _salad(rng, "en", 50, 0.5).encode(), "en"),
        ("entities",
         ("<p>the data &amp; the engine &lt;is&gt; " + _salad(rng, "en", 30, 0.5)
          + " &#169; done</p>").encode(),
         "en"),
        ("nested-lists",
         ("<ul><li>" + _salad(rng, "en", 25, 0.5) + "<ul><li>"
          + _salad(rng, "en", 25, 0.5) + "</li></ul></li></ul>").encode(),
         "en"),
        ("table",
         ("<table><tr><td>" + _salad(rng, "en", 25, 0.5) + "</td><td>"
          + _salad(rng, "en", 25, 0.5) + "</td></tr></table>").encode(),
         "en"),
        ("link-farm",
         ("<body>" + "".join(f'<p><a href="/{i}">click here now {i}</a></p>'
                             for i in range(12)) + "</body>").encode(),
         "en"),
        ("content-only",
         ("<body><p>" + _salad(rng, "en", 60, 0.5) + "</p><p>"
          + _salad(rng, "en", 60, 0.5) + "</p></body>").encode(),
         "en"),
        ("very-long-paragraph", f"<body><p>{long_para}</p></body>".encode(), "en"),
        ("br-splits",
         ("<p>" + _salad(rng, "en", 30, 0.5) + "<br>"
          + _salad(rng, "en", 30, 0.5) + "<br/></p>").encode(),
         "en"),
        ("short-between-good",
         ("<p>" + _salad(rng, "en", 50, 0.5) + "</p><p>tiny bit</p><p>"
          + _salad(rng, "en", 50, 0.5) + "</p>").encode(),
         "en"),
        ("short-between-bad",
         ('<p><a href="/x">all link text here</a></p><p>tiny bit</p>'
          '<p><a href="/y">another link block</a></p>').encode(),
         "en"),
        ("non-utf8-bytes",
         b"\xff\xfe<body><p>" + _salad(rng, "en", 40, 0.5).encode()
         + b" \xf0\x28\x8c\x28 tail</p></body>",
         "en"),
        ("json-but-not-pdf", b'{"kind":"other","x":1}', "en"),
        ("pdf-malformed-blocks",
         json.dumps({"kind": "pdf",
                     "blocks": [{"text": "ok block one", "x0": 0, "y0": 0,
                                 "x1": 10, "y1": 5},
                                {"text": "missing coords"},
                                {"x0": 0, "y0": 9, "x1": 4, "y1": 12},
                                "junk",
                                {"text": "", "x0": 0, "y0": 20, "x1": 4,
                                 "y1": 22}]}).encode(),
         "en"),
        ("pdf-empty", json.dumps({"kind": "pdf", "blocks": []}).encode(), "en"),
        ("pdf-single-col", _pdf_payload(rng, "en", two_cols=False), "en"),
        ("pdf-two-col", _pdf_payload(rng, "en", two_cols=True), "en"),
        ("pdf-two-col-de", _pdf_payload(rng, "de", two_cols=True), "de"),
        ("unknown-lang",
         ("<p>" + _salad(rng, "en", 40, 0.5) + "</p>").encode(), "xx"),
        ("null-lang", ("<p>" + _salad(rng, "en", 40, 0.5) + "</p>").encode(), None),
        # Word-export HTML: namespaced tag names (o:p, w:sdt, a:b) are
        # outside [a-zA-Z0-9-], where html.parser takes the full run as the
        # tag name — the fast tokenizer must bail identically (round-2 fix,
        # now pinned as goldens, not just unit tests)
        ("word-export-namespaced",
         ("<html><body><p class=MsoNormal>" + _salad(rng, "en", 40, 0.5)
          + "<o:p></o:p></p><w:sdt><w:sdtcontent><p>"
          + _salad(rng, "en", 35, 0.5) + "</p></w:sdtcontent></w:sdt>"
          "<o:p>the word run of it</o:p></body></html>").encode(),
         "en"),
        ("word-export-namespaced-links",
         ("<body><a:b href='x'>ns pseudo link</a:b><p>"
          + _salad(rng, "en", 40, 0.5)
          + '</p><a href="/real">a real link</a>'
          "<div.cls>dot class soup</div></body>").encode(),
         "en"),
        # CDATA closer variants: markup inside script bodies plus closers
        # with trailing attrs/whitespace/slash (`</script x>`, `</style\t>`,
        # `</script/>`) — the html.parser set_cdata_mode shapes the fast
        # path must reproduce exactly (round-2 fix, same promotion)
        # valid closer variants first (trailing space, tab-before->, space
        # after </): all close per html.parser's endtagfind; the LAST one
        # (</script x> — attrs in the closer) does NOT close in CPython
        # 3.11, so everything after it is swallowed as unterminated CDATA —
        # "never reached" must not appear in the extracted text
        ("cdata-closer-variants",
         (b"<body><script>var s = '</p>' + '</scr';</script ><p>"
          + _salad(rng, "en", 40, 0.5).encode()
          + b"</p><style>p{color:red}</style\t><p>"
          + _salad(rng, "en", 30, 0.5).encode()
          + b"</p><script>q()</ script><p>"
          + _salad(rng, "en", 25, 0.5).encode()
          + b"</p><script>swallowed()</script x>"
          b"<p>never reached content tail</p></body>"),
         "en"),
        # --- round-3 frontier families (append-only: earlier rng draws and
        # therefore all existing goldens stay byte-identical) ---
        # foreign content: html.parser treats <svg>/<math> as ordinary
        # tags, so their text participates in blocks — both implementations
        # must agree on that (no special foreign-content mode)
        ("svg-math-foreign",
         ("<body><svg viewBox='0 0 10 10'><g><text>svg label text</text>"
          "</g></svg><p>" + _salad(rng, "en", 45, 0.5)
          + "</p><math><mi>x</mi><mo>+</mo><mn>1</mn></math><p>"
          + _salad(rng, "en", 35, 0.5) + "</p></body>").encode(),
         "en"),
        # <template>: inert in browsers, a plain container to html.parser —
        # the frozen spec follows the parser (content flows through)
        ("template-element",
         ("<body><template><p>inert template markup</p></template><p>"
          + _salad(rng, "en", 40, 0.5) + "</p></body>").encode(),
         "en"),
        # entity torture: bare '&', unterminated '&amp', prefix-matched
        # named refs without semicolons ('&notit;' -> '¬it;' under
        # html.unescape's longest-prefix rule), numeric, out-of-range
        # numeric (&#xD800; -> U+FFFD), and NUL (&#0; -> U+FFFD)
        ("entities-edge",
         ("<p>a &amp b &amp; c &notit; d &#x41;&#65; e &#xD800; f &#0; g "
          + _salad(rng, "en", 30, 0.5) + "</p>").encode(),
         "en"),
        # bidi + zero-width characters inside words: must be preserved in
        # the extracted bytes and must not split tokens for the densities
        ("bidi-zero-width",
         ("<p>שלום עולם ‏ ltr‍tail ​sep "
          + _salad(rng, "en", 35, 0.5) + "</p>").encode("utf-8"),
         "en"),
        # overlapping inline tags: html.parser reports the end tags as they
        # come (no adoption agency); depth bookkeeping must not corrupt
        # downstream block boundaries
        ("misnested-inline",
         ("<p><b>bold <i>both</b> italic-left</i> plain "
          + _salad(rng, "en", 35, 0.5) + "</p><p>"
          + _salad(rng, "en", 30, 0.5) + "</p>").encode(),
         "en"),
        # '>' inside quoted attribute values (locatestarttagend territory)
        # plus unquoted attributes — the tag must not end early
        ("attr-gt-in-quotes",
         ("<body><a href=\"/x?a>b\" title='q>r'>quoted gt link</a><div "
          "id=plain data-x=1><p>" + _salad(rng, "en", 40, 0.5)
          + "</p></div></body>").encode(),
         "en"),
        # processing instruction, exotic doctype, and a CDATA section in
        # html (bogus-comment path: '<![CDATA[...]]>' is markup, dropped)
        ("pi-doctype-cdata",
         ("<!DOCTYPE html SYSTEM 'about:legacy-compat'><body><?php echo"
          " 'x'; ?><p>" + _salad(rng, "en", 40, 0.5)
          + "</p><![CDATA[ not content ]]><p>"
          + _salad(rng, "en", 25, 0.5) + "</p></body>").encode(),
         "en"),
        # --- round-4 charset-sniffing family (SPEC.md §0 step 2 v2;
        # append-only so all earlier rng draws and goldens stay stable).
        # Legacy-encoded pages whose bytes are NOT valid UTF-8 — without the
        # sniffer these extract mojibake; with it the goldens carry the real
        # characters. Gate both decoders (html_blocks vs goldenref)
        # byte-identical across the BOM / declaration / probe / fallback arms.
        ("charset-gbk-meta",
         ("<html><head><meta charset=gbk></head><body><p>"
          "数据引擎在表上运行这一批的扫描计划包含所有这些行 "
          + _salad(rng, "zh", 45, 0.6) + "</p><p>第二段内容继续说明"
          "引擎如何分区和执行</p></body></html>").encode("gbk"),
         "zh"),
        ("charset-gb2312-httpequiv",
         ("<html><head><meta http-equiv=\"Content-Type\" content=\"text/html;"
          " charset=GB2312\"></head><body><p>中文网页的主要内容部分 "
          + _salad(rng, "zh", 45, 0.6) + "</p></body></html>").encode("gbk"),
         "zh"),
        ("charset-shiftjis",
         ("<html><head><meta http-equiv='content-type' content='text/html; "
          "charset=Shift_JIS'></head><body><p>データエンジンはテーブル上で"
          "スキャンを実行します " + _salad(rng, "en", 22, 0.5)
          + "</p></body></html>").encode("shift_jis"),
         "en"),
        ("charset-win1251",
         ("<html><head><meta charset=\"windows-1251\"></head><body><p>"
          "Движок данных выполняет сканирование таблицы "
          + _salad(rng, "en", 45, 0.6) + "</p></body></html>").encode(
             "windows-1251"),
         "en"),
        ("charset-big5",
         # traditional-only, big5-encodable filler (the shared zh salad
         # vocab is simplified, which big5 cannot encode); tokens cycle a
         # 50% zh-stopword mix so the block classifies as content
         ("<html><head><meta charset=big5></head><body><p>資料引擎在表格上"
          "執行掃描計畫 "
          + " ".join(["的", "資料", "是", "引擎", "在", "表格", "有", "掃描",
                      "了", "計畫"] * 5)
          + "</p></body></html>").encode("big5"),
         "zh"),
        ("charset-eucjp",
         ("<html><head><meta charset='euc-jp'></head><body><p>"
          "エンジンのしくみと実行計画 " + _salad(rng, "en", 20, 0.5)
          + "</p></body></html>").encode("euc-jp"),
         "en"),
        ("charset-koi8r-alias",
         # the bare "koi8" alias exercises the label table, not just the
         # canonical name
         ("<html><head><meta charset=koi8></head><body><p>"
          "Сканирование таблицы данных " + _salad(rng, "en", 20, 0.5)
          + "</p></body></html>").encode("koi8-r"),
         "en"),
        ("charset-latin1-as-1252",
         # iso-8859-1 label maps to windows-1252 (WHATWG identification):
         # byte 0x97 is an em dash in 1252, a control char in true latin-1
         ("<html><head><meta charset=iso-8859-1></head><body><p>"
          "caf\xe9 r\xe9sum\xe9 — d\xe9j\xe0 vu "
          + _salad(rng, "fr", 45, 0.6) + "</p></body></html>").encode(
             "windows-1252"),
         "fr"),
        ("charset-bom-utf16le",
         # utf-16-le emits no BOM itself; the sniffer is BOM-gated for
         # utf-16/32 (labels deliberately absent from the table)
         b"\xff\xfe" + ("<html><body><p>utf sixteen little endian content "
                        "body " + _salad(rng, "en", 45, 0.6)
                        + "</p></body></html>").encode("utf-16-le"),
         "en"),
        ("charset-bom-utf8",
         b"\xef\xbb\xbf" + ("<html><body><p>bom prefixed utf8 page "
                            + _salad(rng, "en", 25, 0.5)
                            + "</p></body></html>").encode("utf-8"),
         "en"),
        ("charset-unknown-label",
         # unknown label falls through to the strict-UTF-8 probe
         ("<html><head><meta charset=x-mystery-enc></head><body><p>"
          "unknown charset label page " + _salad(rng, "en", 25, 0.5)
          + "</p></body></html>").encode("utf-8"),
         "en"),
        ("charset-undeclared-fallback",
         # no BOM, no declaration, invalid UTF-8 → latin-1 fallback arm
         b"<html><body><p>undeclared legacy bytes caf\xe9 cr\xe8me "
         # ("œ" has no latin-1 byte: "?" stands in and the page stays
         # invalid UTF-8)
         b"br\xfbl\xe9e "
         + _salad(rng, "fr", 45, 0.6).encode("latin-1", errors="replace")
         + b"</p></body></html>",
         "fr"),
        ("charset-mislabeled-truncated",
         # declares gbk but the payload is cut mid-multibyte-sequence:
         # errors="replace" must keep both decoders identical
         ("<html><head><meta charset=gbk></head><body><p>中文截断内容 "
          + _salad(rng, "zh", 45, 0.6)
          + " 尾部中文</p></body></html>").encode("gbk")[:-5] + b">",
         "zh"),
        ("charset-decl-past-1k",
         # declaration outside the first 1024 bytes is ignored → UTF-8
         # probe fails on the GBK tail → latin-1 fallback (mojibake is the
         # CONTRACT here; pins the 1 KiB window in both decoders)
         # ASCII salad survives the latin-1 fallback readably, so the
         # extracted text pins BOTH that extraction still works and that
         # the GBK declaration was NOT honored (the zh prefix stays
         # mojibake, exactly as the 1 KiB-window contract says)
         (b"<html><head><!--" + b"x" * 1100
          + ("--><meta charset=gbk></head><body><p>窗口外的声明 "
             + _salad(rng, "en", 45, 0.6)
             + "</p></body></html>").encode("gbk")),
         "en"),
        # --- round-4 adversarial PDF/bbox family (SPEC.md §3; append-only).
        # The original pdf fixtures cover clean 1/2-column layouts; these
        # pin the grouping rules where layouts fight back.
        ("pdf-overlap-bbox",
         # partially overlapping x-intervals chain into ONE column via
         # single-linkage (each next block starts before the running x1)
         json.dumps({"kind": "pdf", "blocks": [
             {"text": "alpha top", "x0": 0, "y0": 50, "x1": 100, "y1": 70},
             {"text": "beta overlapped", "x0": 80, "y0": 10,
              "x1": 180, "y1": 30},
             {"text": "gamma chained", "x0": 160, "y0": 90,
              "x1": 260, "y1": 110},
         ]}).encode(),
         "en"),
        ("pdf-interleaved-columns",
         # storage order alternates L,R,L,R with descending y: reading
         # order must come out column-major, y-sorted within column
         json.dumps({"kind": "pdf", "blocks": [
             {"text": "left three", "x0": 10, "y0": 300, "x1": 200,
              "y1": 330},
             {"text": "right two", "x0": 300, "y0": 150, "x1": 500,
              "y1": 180},
             {"text": "left one", "x0": 12, "y0": 40, "x1": 198, "y1": 70},
             {"text": "right one", "x0": 305, "y0": 45, "x1": 495,
              "y1": 75},
             {"text": "left two", "x0": 11, "y0": 160, "x1": 199,
              "y1": 190},
             {"text": "right three", "x0": 302, "y0": 280, "x1": 498,
              "y1": 310},
         ]}).encode(),
         "en"),
        ("pdf-col-bridge-header",
         # a full-width header whose x-interval overlaps BOTH columns:
         # single-linkage merges everything into one column (the documented
         # trade of interval-overlap clustering — pinned, not hidden)
         json.dumps({"kind": "pdf", "blocks": [
             {"text": "wide banner header", "x0": 10, "y0": 5, "x1": 500,
              "y1": 25},
             {"text": "left body", "x0": 10, "y0": 50, "x1": 200,
              "y1": 80},
             {"text": "right body", "x0": 300, "y0": 52, "x1": 500,
              "y1": 82},
         ]}).encode(),
         "en"),
        ("pdf-x-touching",
         # x0 == running x1 exactly: SPEC's strict '>' means touching
         # blocks JOIN the column (boundary pinned)
         json.dumps({"kind": "pdf", "blocks": [
             {"text": "first cell", "x0": 0, "y0": 0, "x1": 100, "y1": 20},
             {"text": "touching cell", "x0": 100, "y0": 0, "x1": 200,
              "y1": 20},
             {"text": "separate cell", "x0": 200.5, "y0": 0, "x1": 300,
              "y1": 20},
         ]}).encode(),
         "en"),
        ("pdf-identical-bbox",
         # identical coords, distinct text: the (…, text) tie-break is the
         # only thing giving a total order
         json.dumps({"kind": "pdf", "blocks": [
             {"text": "zeta same box", "x0": 5, "y0": 5, "x1": 50,
              "y1": 15},
             {"text": "alpha same box", "x0": 5, "y0": 5, "x1": 50,
              "y1": 15},
             {"text": "mid same box", "x0": 5, "y0": 5, "x1": 50,
              "y1": 15},
         ]}).encode(),
         "en"),
        ("pdf-negative-and-huge-coords",
         # negative origins (cropped scans) and a giant outlier coordinate
         json.dumps({"kind": "pdf", "blocks": [
             {"text": "negative origin", "x0": -120.5, "y0": -40,
              "x1": -20, "y1": -10},
             {"text": "normal block", "x0": 0, "y0": 0, "x1": 90,
              "y1": 30},
             {"text": "far right outlier", "x0": 1e9, "y0": 2,
              "x1": 1.0000001e9, "y1": 22},
         ]}).encode(),
         "en"),
        ("pdf-rotated-storage",
         # a 2-col layout stored bottom-up right-to-left (rotated-scan
         # storage order): grouping + reading order must reconstruct it
         json.dumps({"kind": "pdf", "blocks": list(reversed([
             {"text": "col one para one", "x0": 20, "y0": 30, "x1": 280,
              "y1": 60},
             {"text": "col one para two", "x0": 22, "y0": 90, "x1": 278,
              "y1": 120},
             {"text": "col two para one", "x0": 320, "y0": 32, "x1": 560,
              "y1": 62},
             {"text": "col two para two", "x0": 322, "y0": 95, "x1": 558,
              "y1": 125},
         ]))}).encode(),
         "en"),
        ("pdf-whitespace-normalize",
         # §1-flush normalization inside pdf text: tabs/newlines/multi-space
         # collapse; a block that normalizes to "" is dropped entirely
         json.dumps({"kind": "pdf", "blocks": [
             {"text": "  spaced\t\tout\n\nlines  ", "x0": 0, "y0": 0,
              "x1": 100, "y1": 20},
             {"text": " \t \n ", "x0": 0, "y0": 30, "x1": 100, "y1": 50},
             {"text": "tail block", "x0": 0, "y0": 60, "x1": 100,
              "y1": 80},
         ]}).encode(),
         "en"),
        # --- late-round-4 charset edge family (append-only; pins the
        # precedence and label-table contracts the first charset family
        # left implicit).
        ("charset-bom-beats-meta",
         # BOM has absolute precedence: a contradicting meta declaration
         # inside the document must be ignored
         b"\xef\xbb\xbf" + ("<html><head><meta charset=gbk></head><body>"
                            "<p>bom wins over the lying meta label "
                            + _salad(rng, "en", 25, 0.5)
                            + "</p></body></html>").encode("utf-8"),
         "en"),
        ("charset-bom-utf32le",
         # \xff\xfe\x00\x00 must hit the UTF-32 arm, NOT the UTF-16 arm
         # whose BOM is its 2-byte prefix (the _BOMS ordering contract)
         b"\xff\xfe\x00\x00" + (
             "<html><body><p>utf thirty two little endian page "
             + _salad(rng, "en", 25, 0.5) + "</p></body></html>"
         ).encode("utf-32-le"),
         "en"),
        ("charset-in-comment",
         # the frozen algorithm scans the RAW first KiB: a declaration
         # inside an HTML comment still matches (documented, pinned —
         # browsers' prescan behaves the same way)
         ("<html><head><!-- <meta charset=windows-1251> --></head><body>"
          "<p>Комментарий всё равно объявляет кодировку "
          + _salad(rng, "en", 25, 0.5) + "</p></body></html>").encode(
             "windows-1251"),
         "en"),
        ("charset-utf16-label-ignored",
         # utf-16 labels are deliberately ABSENT from the label table
         # (BOM-gated only): the bytes are valid UTF-8, so the probe arm
         # decodes them correctly despite the bogus declaration
         ("<html><head><meta charset=utf-16></head><body><p>"
          "label says utf sixteen but the bytes are plain utf8 "
          + _salad(rng, "en", 25, 0.5) + "</p></body></html>").encode(
             "utf-8"),
         "en"),
        ("charset-spaced-quoted",
         # regex tolerance: whitespace around '=' and a quoted UPPERCASE
         # label (the 1 KiB window is lowercased before matching)
         ("<html><head><meta http-equiv='Content-Type' content='text/html;"
          " charset = \"GBK\"'></head><body><p>宽容解析引号与空格 "
          + _salad(rng, "zh", 30, 0.6) + "</p></body></html>").encode(
             "gbk"),
         "zh"),
        ("charset-first-decl-wins",
         # two contradicting declarations in the window: the FIRST match
         # is taken (regex search order), the second is dead text
         ("<html><head><meta charset=windows-1251><meta charset=gbk>"
          "</head><body><p>Первое объявление побеждает "
          + _salad(rng, "en", 25, 0.5) + "</p></body></html>").encode(
             "windows-1251"),
         "en"),
        # --- SPEC §5 outlink torture (appended round 4; earlier goldens
        # unchanged) -----------------------------------------------------
        ("links-basic",
         ("<html><body><p>the of a " + _salad(rng, "en", 30, 0.5)
          + ' see <a href="https://partner.example/x?y=1">the partner page'
            '</a> and <a href="/relative/path">a local one</a>.</p>'
            "</body></html>").encode(),
         "en"),
        ("links-discards",
         (b'<p><a href="javascript:alert(1)">js</a>'
          b'<a href="#top">frag</a><a href="mailto:a@b.c">mail</a>'
          b'<a href="tel:+15551234">tel</a><a href="DATA:text/plain,x">d</a>'
          b'<a href="">empty</a><a href>bare</a><a>none</a>'
          b'<a href="https://kept.example/only">the only kept one</a></p>'),
         "en"),
        ("links-nested-implicit-close",
         (b'<p><a href="https://outer.example/1">outer text '
          b'<a href="https://inner.example/2">inner</a> tail after</a></p>'),
         "en"),
        ("links-whitespace-href",
         ("<p><a href=\" \thttps://sp.example/a\n \">tab newline soup"
          "</a><a href='/ke\tpt\npath'>inner ws removed</a></p>").encode(),
         "en"),
        ("links-unquoted-and-case",
         b'<p><a HREF=/UNQUOTED-caps id=z>the unquoted one</a>'
         b'<a href = "/spaced/eq" >spaced equals</a></p>',
         "en"),
        ("links-selfclose-and-unterminated",
         b'<p><a href="/void"/>after the void '
         b'<a href="/runs-to-eof">to the end of the document',
         "en"),
        ("links-in-skip-regions",
         b'<script><a href="/in-script">x</a></script>'
         b'<template><a href="/in-template">y</a></template>'
         b'<p><a href="/visible">the visible one</a></p>',
         "en"),
        ("links-entity-href",
         # &#47; decodes to '/' in the attribute value; &amp; to '&';
         # entity-decoded scheme (ma&#105;lto:) must still be discarded
         b'<p><a href="/a&#47;b?x=1&amp;y=2">entity href</a>'
         b'<a href="ma&#105;lto:no@no">hidden mailto</a></p>',
         "en"),
        ("links-anchor-across-blocks",
         # anchor text spans a block boundary: blocks flush at <p>, the
         # anchor keeps accumulating until </a>
         b'<div><a href="/span">first part<p>second part</p>third</a></div>',
         "en"),
        ("links-nav-farm",
         _nav(rng, n_links=40).encode(),
         "en"),
        ("links-unicode-href",
         # IRIs: non-ASCII hrefs and anchors are recorded as written
         # (SPEC §5.8 — no percent-encoding, no IDNA; that is downstream)
         ("<p><a href=\"https://例え.example/путь/ページ?q=café\">"
          "ユニコード链接 текст</a>"
          "<a href=\"/percent%20kept/%E2%9C%93\">pct</a></p>").encode(),
         "ja"),
        ("links-gbk-page",
         # charset sniffing (§0) happens BEFORE link parsing: a GBK page's
         # hrefs and anchors must decode through the declared codec
         ("<html><head><meta charset=gbk></head><body><p>"
          "<a href=\"/分类/新闻\">中文锚文本 的 链接</a> 其余正文 "
          + _salad(rng, "zh", 20, 0.5) + "</p></body></html>").encode("gbk"),
         "zh"),
        # --- SPEC §6 page metadata (appended family: earlier rng draws and
        # therefore all earlier fixture bytes are unchanged) ---------------
        ("meta-basic-head",
         (b'<html><head><title>The Basic Page</title>'
          b'<meta name="description" content="a plain description">'
          b'<link rel="canonical" href="https://h0.example.com/canon/1">'
          b'<meta property="og:title" content="OG Basic"></head>'
          b'<body><p>the data of it body</p></body></html>'),
         "en"),
        ("meta-title-entities-nested",
         # entities decode in title data; nested markup contributes its data
         # events but not its tags; internal whitespace collapses
         (b'<title>A &amp; B \n\t the <b>bold</b>  tail</title>'
          b'<p>the body of it</p>'),
         "en"),
        ("meta-first-title-claims",
         # empty-capture first title still claims; later titles ignored
         (b'<title>   </title><title>Second Title</title>'
          b'<p>the body of it</p>'),
         "en"),
        ("meta-in-skip-regions",
         # metadata inside svg/template is NOT document metadata
         (b'<svg><title>svg label</title>'
          b'<meta name="description" content="svg desc"></svg>'
          b'<template><link rel="canonical" href="/hidden"></template>'
          b'<title>Visible Title</title>'
          b'<meta name="description" content="visible desc">'
          b'<link rel="canonical" href="/visible"><p>the body of it</p>'),
         "en"),
        ("meta-canonical-rel-tokens",
         # token-list rel, case-insensitive; §5.4 href normalization
         # (strip + TAB/LF/CR removal); first VALID canonical wins, an
         # empty-normalizing href does not claim the slot
         (b'<link rel="nofollow" href="/not-canon">'
          b'<link rel="ALTERNATE Canonical" href=" \t/first#frag\n ">'
          b'<link rel="canonical" href="/second-ignored">'
          b'<p>the body of it</p>'),
         "en"),
        ("meta-content-missing",
         # value-less / absent content never claims the description slot
         (b'<meta name="description">'
          b'<meta name="description" content>'
          b'<meta name="description" content="the real one">'
          b'<p>the body of it</p>'),
         "en"),
        ("meta-one-tag-both-fields",
         # one <meta> may satisfy description AND og:title (§6.4)
         (b'<meta name=" Description " property="OG:TITLE" '
          b'content=" shared  value ">'
          b'<p>the body of it</p>'),
         "en"),
        ("meta-unterminated-title",
         b'<title>runs to the end of the document',
         "en"),
        ("meta-gbk-title",
         # charset sniffing (§0) happens before metadata capture
         ("<html><head><meta charset=gbk><title>中文标题 页面</title>"
          "<meta name=\"description\" content=\"中文描述 内容\"></head>"
          "<body><p>正文 的 内容</p></body></html>").encode("gbk"),
         "zh"),
        ("meta-unquoted-case-attrs",
         # attr NAMES lowercase via the tokenizer, values verbatim;
         # unquoted values; duplicate attrs: first occurrence wins
         (b'<META NAME=Description CONTENT=unquoted-desc>'
          b'<meta name=description content=first content=second>'
          b'<LINK REL=canonical REL=nofollow HREF=/first-rel>'
          b'<p>the body of it</p>'),
         "en"),
        # --- SPEC §7 table family (appended round 4 late; earlier goldens
        # unchanged). Pins the cell-fragment rules where markup fights back.
        ("table-basic-grid",
         # th header row + two td rows; row_id counts <tr> starts
         (b'<table><tr><th>name</th><th>score</th></tr>'
          b'<tr><td>alpha</td><td>10</td></tr>'
          b'<tr><td>beta</td><td>20</td></tr></table>'
          b'<p>the prose of it after the table</p>'),
         "en"),
        ("table-nested-inner",
         # a table inside a cell: inner fragments belong to table_id 1,
         # text after the inner table but still in the outer cell returns
         # to table_id 0 (innermost-open rule)
         (b'<table><tr><td>outer before'
          b'<table><tr><td>inner cell</td></tr></table>'
          b'outer after</td><td>sibling</td></tr></table>'),
         "en"),
        ("table-implicit-closes",
         # unclosed <td>/<tr>: the next <tr>/<td> start flushes the prior
         # cell (BLOCK_TAGS flush) while the old td is still on the stack
         (b'<table><tr><td>first cell<td>second cell'
          b'<tr><td>third cell</table>'),
         "en"),
        ("table-stray-text",
         # text directly under <table>/<tr> (nearest structural tag is not
         # td/th) emits NO fragment but still becomes a §1 block; text
         # after </table> is plain prose
         (b'<table>loose in table<tr>loose in row'
          b'<td>real cell</td></tr></table>trailing prose of it'),
         "en"),
        ("table-in-skip-region",
         # a <table> inside <svg> is not table structure (§7.1): the only
         # fragment comes from the real table after it
         (b'<svg><table><tr><td>ghost</td></tr></table></svg>'
          b'<table><tr><td>visible cell</td></tr></table>'),
         "en"),
        ("table-self-closing",
         # <table/> opens nothing; <tr/> increments nothing; the stray
         # </table> after them pops nothing (no table open)
         (b'<table/><tr/><td>orphan cell</td></table>'
          b'<table><td>rowless cell</td></table>'),
         "en"),
        ("table-multifragment-cell",
         # nested block markup inside one td: one fragment per flush,
         # cell_id keeps counting per table
         (b'<table><tr><td>lead <p>para one</p><p>para two</p>'
          b'tail</td></tr></table>'),
         "en"),
        ("table-th-td-mixed-links",
         # links inside cells: anchors join the cell text; link capture
         # (§5) and cell capture (§7) are independent
         (b'<table><tr><th>head <a href="/h">linked</a></th>'
          b'<td><a href="/c">only anchor</a></td></tr></table>'),
         "en"),
        ("table-unclosed-at-eof",
         # document ends inside a cell: the end-of-document flush emits
         # the dangling fragment (end closes all open tables after)
         b'<table><tr><td>dangling cell text',
         "en"),
        ("table-cell-cap",
         # 120 rows x 5 cells = 600 > MAX_TABLE_CELLS=500: emission past
         # the cap is dropped; blocks are capped independently (§7.5)
         b"<table>" + b"".join(
             b"<tr>" + b"".join(
                 b"<td>cell %d %d</td>" % (r, c) for c in range(5)
             ) + b"</tr>" for r in range(120)
         ) + b"</table>",
         "en"),
        ("table-skip-endtag-inside-svg",
         # </table> inside a skip region is ignored (§7.4): the table
         # stays open, so the post-svg cell still lands in table 0
         (b'<table><tr><td>before svg</td>'
          b'<svg></table></svg>'
          b'<td>after svg still table zero</td></tr></table>'),
         "en"),
        ("table-two-siblings",
         # sibling tables share the document-order id counter
         (b'<table><tr><td>first table</td></tr></table>'
          b'<p>between the tables</p>'
          b'<table><tr><td>second table</td></tr></table>'),
         "en"),
        # --- round-5 §7/§6 torture family (r04 VERDICT item 7; appended —
        # static bytes, no rng draws, earlier goldens untouched).
        ("table-colspan-rowspan",
         # span ATTRIBUTES are not structure: each <td> start is one cell
         # event regardless of colspan/rowspan (quoted, unquoted, zero-
         # padded, SHOUTED) — row_id counts <tr> starts only
         (b'<table><tr><td colspan=2>wide cell</td>'
          b"<td rowspan=\"3\">tall cell</td></tr>"
          b"<tr><td COLSPAN='02' ROWSPAN=2>spanning next row</td></tr>"
          b'</table>'),
         "en"),
        ("table-colspan-gt-in-attr",
         # '>' inside a QUOTED attribute value must not end the tag: the
         # cell text and the following cell survive intact
         (b'<table><tr><td title="a>b" colspan="2>">angled attr cell</td>'
          b'<td>plain neighbor</td></tr></table>'),
         "en"),
        ("table-thead-tbody-tfoot",
         # section tags are BLOCK_TAGS (flush) but not table structure:
         # the three <tr>s number 0,1,2 straight through the sections
         (b'<table><thead><tr><th>head cell</th></tr></thead>'
          b'<tbody><tr><td>body cell</td></tr></tbody>'
          b'<tfoot><tr><td>foot cell</td></tr></tfoot></table>'),
         "en"),
        ("table-th-in-tbody",
         # header=true comes from the th TAG, not from thead placement
         (b'<table><tbody><tr><th>header in body</th>'
          b'<td>data beside it</td></tr></tbody></table>'),
         "en"),
        ("table-td-in-thead",
         # inverse: a td inside thead stays header=false
         (b'<table><thead><tr><td>data in head</td>'
          b'<th>real header</th></tr></thead></table>'),
         "en"),
        ("table-form-in-cell",
         # form is a BLOCK_TAG: it splits the cell into three fragments,
         # all attributed to the same td (stack scan passes over form)
         (b'<table><tr><td>before form'
          b'<form>inside form text</form>'
          b'after form</td></tr></table>'),
         "en"),
        ("table-in-form-in-cell",
         # a table nested inside a form inside an outer cell: the inner
         # cell belongs to table 1; the trailing form text's nearest
         # structural tag is the OUTER td -> back to table 0
         (b'<table><tr><td>outer lead'
          b'<form><table><tr><td>form table cell</td></tr></table>'
          b'trailing in form</form></td></tr></table>'
          b'<form>formed prose, no table open</form>'),
         "en"),
        ("table-caption-text",
         # caption flushes but its nearest structural tag is table, not
         # td/th: a block, never a fragment
         (b'<table><caption>the caption text</caption>'
          b'<tr><td>real cell</td></tr></table>'),
         "en"),
        ("table-empty-cells-no-advance",
         # empty / whitespace-only cells emit nothing and do NOT advance
         # cell_id: the kept fragment is cell 0
         (b'<table><tr><td></td><td>   </td>'
          b'<td>only kept cell</td></tr></table>'),
         "en"),
        ("table-entity-cells",
         # convert_charrefs folds entities into data BEFORE flush: the
         # fragment text carries the decoded characters
         (b'<table><tr><th>a &amp; b</th>'
          b'<td>&#65;&#x42; then &lt;tag&gt;</td></tr></table>'),
         "en"),
        ("table-rowspan-implicit-close-mix",
         # unclosed tr/td with span attrs across a tbody boundary: the
         # next <tr> start flushes and increments; counters stay per-table
         (b'<table><tbody><tr><td rowspan=2>first dangling'
          b'<tr><td>second row cell</tbody></table>'),
         "en"),
        ("table-deep-three-levels",
         # ids 0,1,2 in OPEN order; each close returns attribution to the
         # next outer open table (innermost-open rule, twice)
         (b'<table><tr><td>level zero'
          b'<table><tr><td>level one'
          b'<table><tr><td>level two</td></tr></table>'
          b'back to one</td></tr></table>'
          b'back to zero</td></tr></table>'),
         "en"),
        ("meta-og-and-desc-one-tag",
         # SPEC §6.4: ONE meta tag may claim description AND og_title
         # simultaneously; later candidates never overwrite
         (b'<meta name=description property="og:title"'
          b' content="both slots at once">'
          b'<meta name=description content="too late desc">'
          b'<meta property="og:title" content="too late og">'
          b'<p>the body prose of it</p>'),
         "en"),
        ("meta-canonical-rel-token-list",
         # rel is whitespace-SPLIT and token-matched: "alternate
         # canonical" qualifies; the first qualifying link wins and an
         # empty-normalizing href is not a candidate
         (b'<link rel="alternate  canonical" href="  /canon/path  ">'
          b'<link rel=canonical href="/second-ignored">'
          b'<p>canonical body of it</p>'),
         "en"),
        ("meta-title-selfclose-then-real",
         # a self-closing <title/> is ignored ENTIRELY (does not claim);
         # the real title captures data through nested markup; the third
         # title is too late
         (b'<title/><title>real <span>nested</span>  title</title>'
          b'<title>ignored later title</title>'
          b'<p>titled body of it</p>'),
         "en"),
    ]
    return cases


def web_pages(spark: SparkSession, n: int, n_hosts: int = 40) -> DataFrame:
    """Deterministic multi-host crawl with CROSS-HOST anchors — the input
    shape for the link-graph job (scripts/linkgraph_job.py). Pure column
    expressions, seeded; no external data.

    Each page lives on a host (host 0 is hot: ~20% of pages — link-graph
    aggregation sees the same skew extraction does) and carries four
    anchors: two absolute links to hash-derived partner hosts, one
    relative link (resolves to the page's own host downstream) and one
    javascript: candidate that SPEC §5 discards. ~1% NULL html exercises
    the empty-payload path.
    """
    df = spark.range(n).withColumnRenamed("id", "i")
    h = F.abs(F.xxhash64(F.col("i").cast("string"), F.lit(9)))
    host = F.when(h % 10 < 2, F.lit(0)).otherwise(1 + (h % (n_hosts - 1)))
    t1 = F.pmod(F.xxhash64(F.col("i"), F.lit(7)), F.lit(n_hosts))
    t2 = F.pmod(F.xxhash64(F.col("i"), F.lit(13)), F.lit(n_hosts))
    para = F.concat(
        F.expr(
            "repeat('the data of a page is in the table and the link of it "
            "was for the crawl ', 1 + pmod(abs(xxhash64(i, 21)), 4))"
        ),
        F.lit("tail "),
        F.col("i").cast("string"),
    )
    istr = F.col("i").cast("string")
    html_str = F.concat(
        F.lit("<html><body><p>"), para,
        F.lit(' see <a href="https://w'), t1.cast("string"),
        F.lit('.web.example/p/'), istr, F.lit('">partner '), istr,
        F.lit('</a> and <a href="https://w'), t2.cast("string"),
        F.lit('.web.example/q?d='), istr, F.lit('">next '), istr,
        F.lit('</a> plus <a href="/local/'), istr,
        F.lit('">a local page</a>'
              ' <a href="javascript:void(0)">noise</a>.</p></body></html>'),
    )
    return df.select(
        F.concat(F.lit("https://w"), host.cast("string"),
                 F.lit(".web.example/p/"), istr).alias("url"),
        (F.lit(_BASE_TS) + F.make_interval(secs=(h % 86400).cast("double"))
         ).alias("warc_ts"),
        F.when(h % 100 == 17, F.lit(None).cast("binary"))
        .otherwise(F.encode(html_str, "UTF-8")).alias("html"),
        F.lit(None).cast("string").alias("text"),
        F.lit("en").alias("lang"),
    )


def fixture_pages(seed: int = 42, n_template: int = 60) -> list[dict]:
    """The golden fixture corpus: list of pages rows (dicts)."""
    rng = random.Random(seed)
    rows: list[dict] = []
    langs = ["en", "en", "en", "de", "es", "fr", "zh"]
    for i in range(n_template):
        lang = langs[i % len(langs)]
        html = _template_page(rng, lang).encode("utf-8")
        rows.append(
            {
                "url": f"https://h{i % 7}.example.com/page/{i}",
                "warc_ts": _BASE_TS + dt.timedelta(minutes=i * 7),
                "html": html,
                "text": None,
                "lang": lang,
            }
        )
    for j, (name, html, lang) in enumerate(_edge_cases(rng)):
        rows.append(
            {
                "url": f"https://edge.example.com/{name}",
                "warc_ts": _BASE_TS + dt.timedelta(hours=5, minutes=j),
                "html": html,
                "text": None,
                "lang": lang,
            }
        )
    # recrawls: same url, later warc_ts (exercises dedup/as-of ops)
    for k in range(5):
        base = rows[k]
        rows.append({**base, "warc_ts": base["warc_ts"] + dt.timedelta(days=1)})
    return rows


def fixture_pages_df(spark: SparkSession, seed: int = 42) -> DataFrame:
    return spark.createDataFrame(fixture_pages(seed), schema=PAGES_SCHEMA)


def bench_pages(spark: SparkSession, n: int, n_hosts: int = 200) -> DataFrame:
    """Deterministic Spark-generated pages table, pure column expressions.

    Skew: ~30% of pages land on host 0 (hot host), the rest spread uniformly
    over ``n_hosts - 1`` hosts — exercises the salting path (SURVEY §2 op 21).
    Page size varies ~6×; ~2% PDF payloads, ~1% NULL html, ~1% bad UTF-8.
    """
    df = spark.range(n).withColumnRenamed("id", "i")
    h = F.abs(F.xxhash64(F.col("i").cast("string")))
    host = F.when(h % 10 < 3, F.lit(0)).otherwise(1 + (h % (n_hosts - 1)))
    # seeded paragraph: stopword-rich sentence repeated a hash-dependent
    # number of times + a unique tail so every page differs
    para = F.concat(
        F.expr(
            "repeat('the data engine is on a table and the scan of it was in "
            "the plan for this batch with all of those rows ', "
            "1 + pmod(abs(xxhash64(i, 42)), 6))"
        ),
        F.lit("tail "),
        F.col("i").cast("string"),
    )
    nav = F.lit(
        '<nav><a href="/a">one link</a> <a href="/b">two link</a> '
        '<a href="/c">three link</a></nav>'
    )
    html_str = F.concat(
        F.lit("<html><head><title>t</title></head><body>"),
        nav,
        F.lit("<p>"), para, F.lit("</p><p>"), para, F.lit("</p>"),
        F.lit('<footer><a href="/tos">terms</a></footer></body></html>'),
    )
    pdf_str = F.concat(
        F.lit('{"kind":"pdf","blocks":[{"text":"left col '),
        F.col("i").cast("string"),
        F.lit('","x0":50,"y0":60,"x1":280,"y1":90},'
              '{"text":"right col","x0":320,"y0":60,"x1":550,"y1":90},'
              '{"text":"left lower","x0":50,"y0":120,"x1":280,"y1":150}]}'),
    )
    mod = h % 100
    html_bin = (
        F.when(mod == 0, F.lit(None).cast("binary"))
        .when(mod == 1, F.concat(F.unhex(F.lit("FFFE")), F.encode(html_str, "UTF-8")))
        .when(mod <= 3, F.encode(pdf_str, "UTF-8"))
        .otherwise(F.encode(html_str, "UTF-8"))
    )
    lang = F.element_at(
        F.array(F.lit("en"), F.lit("en"), F.lit("en"), F.lit("de"),
                F.lit("es"), F.lit("fr"), F.lit("zh")),
        (h % 7 + 1).cast("int"),
    )
    return df.select(
        F.concat(F.lit("https://h"), host.cast("string"),
                 F.lit(".example.com/p/"), F.col("i").cast("string")).alias("url"),
        (F.lit(_BASE_TS) + F.make_interval(secs=(h % 86400).cast("double"))
         ).alias("warc_ts"),
        html_bin.alias("html"),
        F.lit(None).cast("string").alias("text"),
        lang.alias("lang"),
    )


# A fixed stopword-rich benchmark sentence: every eval-split page carries it,
# so train pages that also carry it are deterministically contaminated.
CORPUS_QUOTE = (
    "which of the following is the best answer to this exam question here"
)


def corpus_pages(spark: SparkSession, n: int, n_hosts: int = 50) -> DataFrame:
    """Diversity-controlled synthetic crawl for the corpus-preparation
    funnel (scripts/corpus_job.py) — pure column expressions, seeded.

    Unlike ``bench_pages`` (whose repeated boilerplate sentence makes the
    whole table one giant near-dup cluster — correct input for a throughput
    bench, degenerate for a dedup demo), each page's body is a unique
    hash-derived word sequence with every second word a stopword OF THE
    PAGE'S OWN LANGUAGE (SPEC §2 scores stopword density against the
    page's ``lang`` list, so de/es/fr pages need de/es/fr stopwords to
    classify "good"; density 1/2 keeps quote-carrying non-English pages
    above the 0.30 threshold). Both the language and the body derive from
    the SOURCE doc id ``s``, so a dup pair always shares its language and
    survives extraction together. Cross-page 3-gram overlap is ~zero
    (every 3-gram contains a (s,k)-unique hex word) except for the
    structures injected deliberately:

    - ~3% exact duplicates: page i renders page i-1's base words verbatim
      (caught by the funnel's exact-dedup stage);
    - ~3% near duplicates: page i-1's words with ~every 16th word replaced
      (3-gram Jaccard ~0.7 — above the 64-perm/16-band LSH knee, caught by
      the MinHash stage);
    - ~3% repetitive pages (stopwords alternating with ONE repeated word —
      still extract as content, then trip FLAG_REPETITIVE) and ~3%
      too-short pages (caught by the quality stage);
    - the CORPUS_QUOTE sentence on EVERY eval-split page (the job's
      doc_id % 50 == 0 split, precomputed here with the same
      xxhash64(url, warc_ts) the job derives) and on ~4% of train pages —
      the train carriers are deterministically caught by the
      contamination screen.

    Literal-array lookups inside the word lambda re-materialize per element
    (the known expr trap) — acceptable here: this is a fixture/demo
    generator, not a bench hot path.
    """
    df = spark.range(n).withColumnRenamed("id", "i")
    a = F.abs(F.xxhash64(F.col("i"), F.lit(7)))
    kind = a % 33  # 0 exact-dup, 1 near-dup, 2 repetitive, 3 short
    src = F.when(
        ((kind == 0) | (kind == 1)) & (F.col("i") > 0), F.col("i") - 1
    ).otherwise(F.col("i"))
    df = (
        df.withColumn("kind", kind)
        .withColumn("s", src)
        # language index 0-7 (0-4 en, 5 de, 6 es, 7 fr), derived from the
        # SOURCE doc so dup pairs share it
        .withColumn(
            "li", F.pmod(F.abs(F.xxhash64(F.col("s"), F.lit(13))), F.lit(8))
        )
    )

    # 16 stopwords per language, all members of the frozen SPEC lists
    # (ocr_spark/spec.py STOPWORDS) so the classifier counts them
    _stop16 = {
        "en": "the of and to in is that with for on as this was it by from",
        "de": "der die das und ist in zu den von mit sich des auf für"
              " nicht ein",
        "es": "de la que el en y a los del se las por un para con no",
        "fr": "de la le et les des en un du une que est pour qui dans a",
    }
    _arr = {
        k: "array(" + ",".join(f"'{w}'" for w in v.split()) + ")"
        for k, v in _stop16.items()
    }
    stops = (
        f"CASE WHEN li = 5 THEN {_arr['de']}"
        f" WHEN li = 6 THEN {_arr['es']}"
        f" WHEN li = 7 THEN {_arr['fr']}"
        f" ELSE {_arr['en']} END"
    )
    # word k of source doc s: lang-matched stopword on every 2nd slot, else
    # a unique 5-or-7 char hex word derived from (s, k)
    word = (
        f"IF(pmod(k, 2) = 0,"
        f" element_at({stops},"
        f" CAST(pmod(abs(xxhash64(s, k, 3)), 16) + 1 AS INT)),"
        f" substr(md5(concat(CAST(s AS STRING), '_', CAST(k AS STRING))),"
        f" 1, 4 + CAST(pmod(k, 4) AS INT)))"
    )
    n_words = "60 + pmod(abs(xxhash64(s, CAST(11 AS BIGINT))), 140)"
    base_words = (
        f"transform(sequence(1, {n_words}), k -> {word})"
    )
    # near-dup: same sequence with ~every 16th slot (k%16==9 — odd, so
    # always a content-word slot) replaced by a word unique to THIS page
    perturbed = (
        f"transform(sequence(1, {n_words}), k ->"
        f" IF(pmod(k, 16) = 9,"
        f" substr(md5(concat(CAST(i AS STRING), '_p_',"
        f" CAST(k AS STRING))), 1, 5), {word}))"
    )
    # repetitive: stopwords alternating with ONE page-unique word — dense
    # enough to extract as content, top-word fraction ~1/2 > the 1/3 gate
    repetitive = (
        f"transform(sequence(1, 44), k -> IF(pmod(k, 2) = 0,"
        f" element_at({stops},"
        f" CAST(pmod(abs(xxhash64(s, k, 3)), 16) + 1 AS INT)),"
        f" substr(md5(CAST(i AS STRING)), 1, 5)))"
    )
    body = (
        F.when(F.col("kind") == 2, F.expr(
            f"concat_ws(' ', {repetitive})"))
        .when(F.col("kind") == 3, F.expr(
            f"concat_ws(' ', slice({base_words}, 1, 8))"))
        .when(F.col("kind") == 1, F.expr(f"concat_ws(' ', {perturbed})"))
        .otherwise(F.expr(f"concat_ws(' ', {base_words})"))
    )

    host = a % n_hosts
    url = F.concat(
        F.lit("https://c"), host.cast("string"),
        F.lit(".example.com/d/"), F.col("i").cast("string"),
    )
    warc_ts = F.lit(_BASE_TS) + F.make_interval(
        secs=(a % 86400).cast("double")
    )
    # the job keys docs by xxhash64(url, warc_ts); precompute its eval
    # split so every eval page carries the quote
    is_eval = F.pmod(F.xxhash64(url, warc_ts), F.lit(50)) == 0
    carrier = is_eval | (a % 25 == 3)
    text = F.when(
        carrier, F.concat(body, F.lit(" " + CORPUS_QUOTE))
    ).otherwise(body)

    lang = F.element_at(
        F.array(F.lit("en"), F.lit("en"), F.lit("en"), F.lit("en"),
                F.lit("en"), F.lit("de"), F.lit("es"), F.lit("fr")),
        (F.col("li") + 1).cast("int"),
    )
    html_str = F.concat(
        F.lit("<html><head><title>t</title></head><body>"
              '<nav><a href="/a">one link</a> <a href="/b">two link</a>'
              "</nav><p>"),
        text,
        F.lit('</p><footer><a href="/tos">terms</a></footer>'
              "</body></html>"),
    )
    return df.select(
        url.alias("url"),
        warc_ts.alias("warc_ts"),
        F.encode(html_str, "UTF-8").alias("html"),
        F.lit(None).cast("string").alias("text"),
        lang.alias("lang"),
    )


def bench_docs(spark: SparkSession, n: int, n_words: int = 24) -> DataFrame:
    """Deterministic documents-shaped table for the SHUFFLE-path scaling
    bench (scripts/shuffle_scaling.py) — pure column expressions, seeded,
    no Python rows.

    Dup structure mirrors corpus_pages: ~3% exact duplicates (doc i
    renders doc i-1's words verbatim) and ~3% near duplicates (i-1's words
    with every 8th word replaced by an i-derived word — well above the
    64/16 banding knee), everything else pairwise-unique hex-word salad.
    Docs are SHORT on purpose: the near-dup keeper pass is then
    exchange-dominated rather than signature-map-dominated, which is what
    the shuffle scaling evidence needs to measure."""
    df = spark.range(n).withColumnRenamed("id", "i")
    kind = F.abs(F.xxhash64(F.col("i"), F.lit(7))) % 33
    src = F.when(
        ((kind == 0) | (kind == 1)) & (F.col("i") > 0), F.col("i") - 1
    ).otherwise(F.col("i"))
    df = df.withColumn("kind", kind).withColumn("s", src)
    word = (
        "CASE WHEN kind = 1 AND s != i AND k % 8 = 0"
        " THEN hex(xxhash64(i, CAST(k AS BIGINT), 99))"
        " ELSE hex(xxhash64(s, CAST(k AS BIGINT), 17)) END"
    )
    return df.select(
        F.col("i").alias("doc_id"),
        F.expr(
            f"array_join(transform(sequence(0, {n_words - 1}),"
            f" k -> {word}), ' ')"
        ).alias("text"),
    )
