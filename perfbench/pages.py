"""Seeded inputs for the benchmark workloads, and the golden reference
their outputs are checked against.

Every table here is a pure function of the seed: the same seed gives the
same rows. The program under test only ever sees the generated tables.
"""

from __future__ import annotations

import datetime as dt
import random

from pyspark.sql import functions as F

# The order-insensitive output digest of an extraction. bit_xor cannot
# overflow under ANSI mode, where a sum of hashes would.
DIGEST_SQL = "bit_xor(xxhash64(url, warc_ts, text_sha256, spans, n_blocks))"

# One link-farm unit of bench.py's extract_maxblocks_256 page: a short
# block and a stopword-rich block, so a page of ~1000 units reaches the
# MAX_BLOCKS cap and stresses the JVM label/assemble tail.
MAXBLOCKS_UNIT = (
    "<p>xx</p><p>the of it is and to in that for on as with at by"
    " from up about</p>"
)

_BASE_TS = dt.datetime(2024, 1, 1)

_VOCAB = {
    "en": "data spark engine table scan shuffle partition column vector"
          " batch".split(),
    "de": "daten tabelle spalte motor verteilung anfrage zeile speicher"
          " wert plan".split(),
    "es": "datos tabla columna motor consulta fila memoria valor plan"
          " nodo".split(),
    "fr": "données table colonne moteur requête ligne mémoire valeur plan"
          " nœud".split(),
    "zh": "数据 表 列 引擎 查询 行 内存 值 计划 节点".split(),
}


class IdWindow:
    """Stands in for a SparkSession whose ``range(n)`` starts at a
    seed-derived id.

    ``ocr_spark.gen``'s Spark generators (``bench_pages``,
    ``corpus_pages``) derive every value of a row (host, size, words,
    duplicates, timestamp) from its id and call nothing on the session but
    ``range``. Moving the id window mixes the seed into every hash they
    take, so each seed gives a different table of the same shape.
    """

    def __init__(self, spark, seed: int) -> None:
        self._spark = spark
        self._base = (seed % (1 << 31)) << 24

    def range(self, n: int):
        return self._spark.range(self._base, self._base + n)


def _salad(rng: random.Random, lang: str, n_words: int) -> str:
    from ocr_spark.spec import STOPWORDS

    stops = sorted(STOPWORDS[lang])
    vocab = _VOCAB[lang]
    return " ".join(
        rng.choice(stops) if rng.random() < 0.45 else rng.choice(vocab)
        for _ in range(n_words)
    )


def _template_page(rng: random.Random, lang: str) -> str:
    """A templated article page: nav, header, menu, 3-10 paragraphs,
    footer (the shape of ``gen.fixture_pages``' template pages)."""
    nav = "".join(f'<a href="/s{i}">menu item {i}</a> ' for i in range(6))
    side = "".join(
        f'<li><a href="/c{i}">cat {i}</a></li>' for i in range(5)
    )
    paras = "".join(
        f"<p>{_salad(rng, lang, rng.randint(25, 90))}</p>"
        for _ in range(rng.randint(3, 10))
    )
    return (
        "<html><head><title>t</title><style>p{color:red}</style></head>"
        f"<body><nav>{nav}</nav><header><h1>Site header</h1></header>"
        f'<div class="menu"><ul>{side}</ul></div><article>{paras}</article>'
        '<footer><a href="/tos">terms</a> © 2024 example</footer>'
        "</body></html>"
    )


def mixed_pages(
    seed: int, copies: int, n_template: int, n_maxblocks: int, n_parts: int
) -> list[list[dict]]:
    """Every page shape the fixtures know, dealt into ``n_parts`` equal
    partitions.

    - ``copies`` copies of each hand-designed fixture family (charset,
      PDF-layout, table, link, meta, malformed, ...) with seeded urls and
      timestamps. The payloads come from ``gen.fixture_pages()`` at its
      default seed: seeding that function raises for most seeds (see
      README.md), so the seed varies everything but those payload bytes;
    - ``n_template`` template pages in five languages, generated from the
      seed;
    - ``n_maxblocks`` link-farm pages of 900-1100 units, at and past the
      MAX_BLOCKS cap.

    The composition is fixed and every partition gets the same share of
    each kind, so the work per job does not vary with the seed; the seed
    picks urls, timestamps, template text, which link farm is how long,
    and the order within each partition.
    """
    from ocr_spark.gen import fixture_pages

    rng = random.Random(seed)
    families = [
        r for r in fixture_pages() if r["url"].startswith("https://edge.")
    ]
    langs = ["en", "en", "de", "es", "fr", "zh"]

    def ts(span_s: int) -> dt.datetime:
        return _BASE_TS + dt.timedelta(seconds=rng.randrange(span_s))

    rows: list[dict] = []
    for c in range(copies):
        for fam in families:
            name = fam["url"].rsplit("/", 1)[1]
            rows.append({
                **fam,
                "url": f"https://edge{c % 7}.example.com/{name}/{seed}/{c}",
                "warc_ts": ts(86400 * 30),
            })
    for k in range(n_template):
        lang = langs[k % len(langs)]
        rows.append({
            "url": f"https://t{rng.randrange(50)}.example.com/{seed}/{k}",
            "warc_ts": ts(86400 * 30),
            "html": _template_page(rng, lang).encode("utf-8"),
            "text": None,
            "lang": lang,
        })
    units = [900 + 200 * k // max(1, n_maxblocks - 1)
             for k in range(n_maxblocks)]
    rng.shuffle(units)
    for k, n_units in enumerate(units):
        rows.append({
            "url": f"https://big.example.com/{seed}/{k}",
            "warc_ts": ts(86400),
            "html": (MAXBLOCKS_UNIT * n_units).encode(),
            "text": None,
            "lang": "en",
        })
    parts: list[list[dict]] = [rows[i::n_parts] for i in range(n_parts)]
    for part in parts:
        rng.shuffle(part)
    return parts


def uniform_pages(spark, n: int, seed: int):
    """``gen.bench_pages``: one HTML template, ~2% PDF, ~1% NULL html, ~1%
    bad UTF-8, 30% of pages on one hot host; seeded by id window."""
    from ocr_spark.gen import bench_pages

    return bench_pages(IdWindow(spark, seed), n)


def corpus_pages(spark, n: int, seed: int):
    """``gen.corpus_pages``: diversity-controlled crawl with injected exact
    and near duplicates, quality rejects and eval contamination; seeded by
    id window."""
    from ocr_spark.gen import corpus_pages as gen_corpus_pages

    return gen_corpus_pages(IdWindow(spark, seed), n)


# --- golden reference ------------------------------------------------------

_REF_DDL = (
    "url string, warc_ts timestamp, text_sha256 string,"
    " spans array<struct<block_id: int, start: bigint, `end`: bigint,"
    " label: string>>, n_blocks int"
)


def _golden_rows(pages: list[tuple]) -> list[tuple]:
    """``goldenref.extract_document`` over (url, warc_ts, html, lang)
    tuples: one digest-input row plus the outlink count per page."""
    from ocr_spark.goldenref import extract_document

    out = []
    for url, ts, html, lang in pages:
        d = extract_document(url, html, lang)
        spans = [
            (s["block_id"], s["start"], s["end"], s["label"])
            for s in d["spans"]
        ]
        out.append(
            ((url, ts, d["text_sha256"], spans, d["n_blocks"]),
             len(d["links"]))
        )
    return out


def digest(df) -> tuple[int, int]:
    """(rows, order-insensitive digest) of an extracted table."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.expr(DIGEST_SQL), F.lit(0)).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


def golden_main() -> None:
    """Child-process entry: pickled pages on stdin, pickled
    ``_golden_rows`` on stdout."""
    import pickle
    import sys

    rows = _golden_rows(pickle.load(sys.stdin.buffer))
    pickle.dump(rows, sys.stdout.buffer)


def reference(spark, pages: list[tuple], procs: int) -> dict:
    """The golden reference of (url, warc_ts, html, lang) pages, computed by
    the frozen single-document extractor (``ocr_spark.goldenref``) in
    ``procs`` child processes: the extraction digest (taken by Spark, as
    for the program's output) and the total outlink count.

    The children run outside Spark's Python workers, so the memory those
    workers hold reflects the program's jobs alone.
    """
    import pickle
    import subprocess
    import sys

    cmd = [
        sys.executable, "-c",
        "from perfbench.pages import golden_main; golden_main()",
    ]
    children = [
        subprocess.Popen(cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE)
        for _ in range(procs)
    ]
    try:
        for i, child in enumerate(children):
            child.stdin.write(pickle.dumps(pages[i::procs]))
            child.stdin.close()
        done = [r for c in children for r in pickle.loads(c.stdout.read())]
    except BaseException:
        for child in children:
            child.kill()
        raise
    finally:
        for child in children:
            child.stdin.close()
            child.stdout.close()
            child.wait()
    if any(child.returncode for child in children):
        raise RuntimeError("a golden reference child failed")
    ref = spark.createDataFrame([row for row, _ in done], _REF_DDL)
    return {
        "digest": digest(ref),
        "links": sum(n for _, n in done),
    }
