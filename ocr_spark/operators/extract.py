"""The fused extraction pipeline (SURVEY.md §3.2 entry point, SPEC.md).

Pipeline shape (design point: 100 TB / 10^12 docs on 1000 executors):

    pages ──mapInArrow(parse + tail)──► extracted rows ──Project──► product

The single JVM→Python Arrow hop does the whole job: the per-document parse
(SURVEY §2 op 11 / op 60), then one batch kernel over the batch's flat
block columns for the block features, classification (op 13), jusText
smoothing (op 14), span offsets (op 15), assembly and the text hash
(op 17). The product the caller asks for picks one of two hops:

- the text hop (:func:`extract_text_rows`, ``EXTRACT_TEXT_DDL``,
  ``html_blocks.extract_text_batch``) parses only what the text product
  reads, each block's text and linked characters, and returns the
  finished rows alone. ``extract_pages`` (unless ``keep_meta``),
  ``extract_pages_langid`` and the runner's text-only batches run it;
- the full hop (:func:`extract_rows`, ``EXTRACT_DDL``,
  ``html_blocks.extract_batch``) runs the parse handlers and also returns
  the outlinks and metadata, so every text, link and meta sink can be fed
  from one pass. ``keep_meta`` and the runner's links/meta sinks run it.

Both give the same text rows, byte for byte. The plan needs NO shuffle
and makes the whole extraction embarrassingly parallel: scaling
efficiency N→4N executors is bounded only by input-split balance, not by
shuffle or skew.

The kernel is O(tokens) Arrow and numpy work per batch (the stopword
predicate runs once per distinct token), so a MAX_BLOCKS link farm costs
no more per block than a short page. ``parse_pages`` takes its block
features from the same kernel, and ``label_blocks``/``assemble`` run its
tail over the Arrow ``blocks`` column of a parsed frame.
"""

from __future__ import annotations

import functools
from collections.abc import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ocr_spark.html_blocks import (
    assemble_batch,
    extract_batch,
    extract_text_batch,
    label_mask,
    parse_batch_columnar,
)
from ocr_spark.schemas import block_pa_type

_LINKS_DDL = "array<struct<href: string, anchor: string>>"
_META_DDL = (
    "struct<title: string, description: string, canonical: string,"
    " og_title: string>"
)
_META_FIELDS = ("title", "description", "canonical", "og_title")

PARSED_DDL = (
    "url string, warc_ts timestamp, lang string, part_id int,"
    " bytes_in bigint, kind string,"
    " blocks array<struct<block_id: int, tag: string, depth: int,"
    " text: string, text_len: int, n_words: int, n_link_chars: int,"
    " link_density: double, char_density: double, stopword_density: double,"
    " bbox: struct<x0: double, y0: double, x1: double, y1: double>>>,"
    # SPEC.md §5 outlinks; link_id is the array position (posexplode emits it)
    f" links {_LINKS_DDL},"
    # SPEC.md §6 page metadata (WAT-record head fields; empty string = unset)
    f" meta {_META_DDL},"
    # SPEC.md §7 table-cell fragments, document order within each page
    " tables array<struct<table_id: int, row_id: int, cell_id: int,"
    " header: boolean, text: string>>"
)

SPANS_DDL = (
    "array<struct<block_id: int, start: bigint, `end`: bigint, label: string>>"
)

# the text hop's output: the EXTRACTED_SCHEMA columns plus the per-row
# input size (lineage); no blocks array
EXTRACT_TEXT_DDL = (
    "url string, warc_ts timestamp, lang string, part_id int,"
    " bytes_in bigint, extracted_text string,"
    f" spans {SPANS_DDL}, text_sha256 string, n_blocks int,"
    " n_content_blocks int"
)
# the full hop's output: the text hop's plus the §5/§6 side products
EXTRACT_DDL = EXTRACT_TEXT_DDL + f", links {_LINKS_DDL}, meta {_META_DDL}"
_EXTRACT_COLS = [
    "url", "warc_ts", "lang", "part_id", "bytes_in", "extracted_text",
    "spans", "text_sha256", "n_blocks", "n_content_blocks", "links", "meta",
]

DEFAULT_NUM_PARTS = 64  # resume/lineage granularity (part_id space)
DEFAULT_SALT_N = 16  # salt fan-out for hot hosts when repartitioning
# Page bytes per call of the batch function. The batch kernel holds a whole
# call's block texts, tokens and parse output at once, about in proportion
# to its html bytes: a 1024-page Arrow batch of MAX_BLOCKS link farms holds
# ~70k blocks and ~700k tokens. Calls of ~1 MiB kept a Python worker's peak
# RSS at or below the per-document tail's on extract_mixed, and leave a
# batch of ordinary pages (~1 KB each) whole, so the kernel's per-call cost
# stays amortized over the batch.
SLICE_BYTES = 1 << 20


def _slices(batch: pa.RecordBatch) -> Iterator[pa.RecordBatch]:
    """``batch`` in consecutive row slices, cut where the running html
    byte count passes each multiple of ``SLICE_BYTES``; a slice exceeds
    it by less than one page."""
    ends = np.cumsum(_bytes_in(batch).to_numpy())
    marks = np.arange(SLICE_BYTES, ends[-1] if len(ends) else 0, SLICE_BYTES)
    cuts = np.unique(np.concatenate(
        ([0], np.searchsorted(ends, marks, side="right"), [batch.num_rows])
    ))
    for lo, hi in zip(cuts[:-1], cuts[1:]):
        yield batch.slice(lo, hi - lo)


def _arrow_task(one_batch, input_counter=None):
    """Build a mapInArrow worker fn applying ``one_batch`` to every batch,
    one :func:`_slices` piece at a time.

    ``input_counter`` (optional) is a dict-valued Spark accumulator
    incremented at the parse boundary with
    ``{(stage_id, partition_id, attempt): {part_id: n_docs}}`` — an
    input-side document count that is independent of the output read-back,
    so lineage can record input_rows separately from output_rows.
    Contributions are keyed by task attempt so the driver can keep exactly
    ONE attempt per (stage, partition): a retried or speculative duplicate
    task re-scans the same deterministic split, so dropping all but one
    attempt makes the count exact on a real cluster (the round-2 version
    summed raw contributions and could over-count under retries)."""

    def _run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        task_key = None
        if input_counter is not None:
            from pyspark import TaskContext

            tc = TaskContext.get()
            task_key = (
                (tc.stageId(), tc.partitionId(), tc.attemptNumber())
                if tc is not None
                else (0, 0, 0)
            )
        for batch in batches:
            if input_counter is not None:
                vc = pc.value_counts(batch.column("part_id"))
                input_counter.add(
                    {
                        task_key: {
                            item["values"].as_py(): item["counts"].as_py()
                            for item in vc
                        }
                    }
                )
            for piece in _slices(batch):
                yield one_batch(piece)

    return _run


def _bytes_in(batch: pa.RecordBatch) -> pa.Array:
    return pc.coalesce(
        pc.cast(pc.binary_length(batch.column("html")), pa.int64()),
        pa.scalar(0, type=pa.int64()),
    )


def _links_meta_arrays(link_offsets, hrefs, anchors, meta_cols) -> list:
    """Flat §5/§6 columns → the ``links`` and ``meta`` Arrow arrays."""
    links_struct = pa.StructArray.from_arrays(
        [
            pa.array(hrefs, type=pa.string()),
            pa.array(anchors, type=pa.string()),
        ],
        names=["href", "anchor"],
    )
    return [
        pa.ListArray.from_arrays(
            pa.array(link_offsets, type=pa.int32()), links_struct
        ),
        pa.StructArray.from_arrays(
            [pa.array(meta_cols[f], type=pa.string()) for f in _META_FIELDS],
            names=list(_META_FIELDS),
        ),
    ]


def _extract_one_batch(
    batch: pa.RecordBatch, langid: bool, text_only: bool = False
) -> pa.RecordBatch:
    """html bytes → finished extraction rows for one Arrow batch: the
    ``EXTRACT_DDL`` columns, or the ``EXTRACT_TEXT_DDL`` ones from the
    text scan when ``text_only``.

    Output arrays are built columnar (flat primitive columns → StructArray →
    ListArray) — pa.array over list-of-dicts walks Python objects per value
    and measured ~2x slower for the whole stage.
    """
    htmls = batch.column("html").to_pylist()
    langs = batch.column("lang").to_pylist()
    if text_only:
        langs, text_arrays = extract_text_batch(htmls, langs, langid)
        side = []
    else:
        langs, text_arrays, *links_meta = extract_batch(htmls, langs, langid)
        side = _links_meta_arrays(*links_meta)
    arrays = [
        batch.column("url"),
        batch.column("warc_ts"),
        pa.array(langs, type=pa.string()),
        batch.column("part_id"),
        _bytes_in(batch),
        *text_arrays,
        *side,
    ]
    return pa.RecordBatch.from_arrays(
        arrays, names=_EXTRACT_COLS[:len(arrays)]
    )


def _parse_one_batch(batch: pa.RecordBatch) -> pa.RecordBatch:
    """html bytes → block structs (plus links, meta, tables) for one Arrow
    batch, built columnar like :func:`_extract_one_batch`."""
    block_type = block_pa_type()
    bbox_type = block_type.field("bbox").type
    (
        kinds, offsets, cols, bbox_null, link_offsets, hrefs, anchors,
        meta_cols, table_offsets, table_cols,
    ) = parse_batch_columnar(
        batch.column("html").to_pylist(), batch.column("lang").to_pylist()
    )
    bbox_arr = pa.StructArray.from_arrays(
        [
            pa.array(cols[f], type=pa.float64())
            for f in ("x0", "y0", "x1", "y1")
        ],
        fields=list(bbox_type),
        mask=pa.array(bbox_null, type=pa.bool_()),
    )
    field_arrays = [
        pa.array(cols[f.name], type=f.type)
        for f in block_type
        if f.name != "bbox"
    ] + [bbox_arr]
    struct_arr = pa.StructArray.from_arrays(
        field_arrays, fields=list(block_type)
    )
    blocks_arr = pa.ListArray.from_arrays(
        pa.array(offsets, type=pa.int32()), struct_arr
    )
    cells_struct = pa.StructArray.from_arrays(
        [
            pa.array(table_cols["table_id"], type=pa.int32()),
            pa.array(table_cols["row_id"], type=pa.int32()),
            pa.array(table_cols["cell_id"], type=pa.int32()),
            pa.array(table_cols["header"], type=pa.bool_()),
            pa.array(table_cols["text"], type=pa.string()),
        ],
        names=["table_id", "row_id", "cell_id", "header", "text"],
    )
    tables_arr = pa.ListArray.from_arrays(
        pa.array(table_offsets, type=pa.int32()), cells_struct
    )
    return pa.RecordBatch.from_arrays(
        [
            batch.column("url"),
            batch.column("warc_ts"),
            batch.column("lang"),
            batch.column("part_id"),
            _bytes_in(batch),
            pa.array(kinds, type=pa.string()),
            blocks_arr,
            *_links_meta_arrays(link_offsets, hrefs, anchors, meta_cols),
            tables_arr,
        ],
        names=[
            "url", "warc_ts", "lang", "part_id", "bytes_in", "kind",
            "blocks", "links", "meta", "tables",
        ],
    )


def with_part_id(df: DataFrame, num_parts: int = DEFAULT_NUM_PARTS) -> DataFrame:
    """Deterministic partition-lineage key: pmod(xxhash64(url), num_parts).

    Independent of cluster size / task layout → resume manifests written at
    N executors stay valid at 4N (SURVEY §2 op 22).
    """
    return df.withColumn(
        "part_id", F.pmod(F.xxhash64("url"), F.lit(num_parts)).cast("int")
    )


def salted(df: DataFrame, partitions: int, salt_n: int = DEFAULT_SALT_N) -> DataFrame:
    """Explicit salted repartition for skewed hosts (SURVEY §2 op 21).

    hash(url) alone already spreads a hot host's pages, but the salt term
    keeps the guarantee even for a single viral url recrawled millions of
    times: (url, warc_ts) salting splits identical urls across tasks.
    """
    return (
        df.withColumn(
            "_salt", F.pmod(F.xxhash64("url", "warc_ts"), F.lit(salt_n)).cast("int")
        )
        .repartition(partitions, "part_id", "_salt")
        .drop("_salt")
    )


def _parse_input(df: DataFrame, num_parts: int) -> DataFrame:
    """The columns the Python hop reads, with part_id derived if absent."""
    if "part_id" not in df.columns:
        df = with_part_id(df, num_parts)
    return df.select("url", "warc_ts", "lang", "part_id", "html")


def parse_pages(df: DataFrame, num_parts: int = DEFAULT_NUM_PARTS) -> DataFrame:
    """SURVEY §2 op 11 (+60): pages → (url, warc_ts, lang, part_id,
    bytes_in, kind, blocks, links, meta, tables) — the block-level product
    for consumers that need blocks, cells or links rather than text."""
    return _parse_input(df, num_parts).mapInArrow(
        _arrow_task(_parse_one_batch), PARSED_DDL
    )


def extract_rows(
    df: DataFrame,
    num_parts: int = DEFAULT_NUM_PARTS,
    input_counter=None,
    langid: bool = False,
) -> DataFrame:
    """pages → finished rows (``EXTRACT_DDL``) in ONE mapInArrow hop: the
    parse, the extraction tail, the outlinks and the metadata of each page.
    ``langid=True`` recovers the language of untagged pages in the same
    pass (see :func:`extract_pages_langid`)."""
    task = functools.partial(_extract_one_batch, langid=langid)
    return _parse_input(df, num_parts).mapInArrow(
        _arrow_task(task, input_counter), EXTRACT_DDL
    )


def extract_text_rows(
    df: DataFrame,
    num_parts: int = DEFAULT_NUM_PARTS,
    input_counter=None,
    langid: bool = False,
) -> DataFrame:
    """:func:`extract_rows` without ``links`` and ``meta``
    (``EXTRACT_TEXT_DDL``): the text hop, whose Python pass runs the text
    scan (``html_blocks.extract_text_batch``) and so never computes them."""
    task = functools.partial(_extract_one_batch, langid=langid, text_only=True)
    return _parse_input(df, num_parts).mapInArrow(
        _arrow_task(task, input_counter), EXTRACT_TEXT_DDL
    )


def select_extracted(
    rows: DataFrame, stats: bool = False, keep_meta: bool = False
) -> DataFrame:
    """The extracted product (EXTRACTED_SCHEMA column order) from
    :func:`extract_text_rows` or :func:`extract_rows` output; ``stats``
    keeps ``bytes_in`` and ``keep_meta`` keeps the §6 ``meta`` struct
    (full hop only)."""
    return rows.select(
        "url",
        "warc_ts",
        "lang",
        *(["bytes_in"] if stats else []),
        *(["meta"] if keep_meta else []),
        "extracted_text",
        "spans",
        "text_sha256",
        "n_blocks",
        "n_content_blocks",
        "part_id",
    )


def _flat(lists: pa.ListArray) -> tuple[pa.Array, np.ndarray]:
    """A list column's values and zero-based per-row offsets."""
    offsets = lists.offsets.to_numpy()
    values = lists.values.slice(offsets[0], offsets[-1] - offsets[0])
    return values, offsets - offsets[0]


def _label_batches(
    batches: Iterator[pa.RecordBatch],
) -> Iterator[pa.RecordBatch]:
    for batch in batches:
        flat, offsets = _flat(batch.column("blocks"))
        keep = label_mask(
            offsets,
            pc.equal(batch.column("kind"), "pdf").to_numpy(
                zero_copy_only=False
            ),
            *(
                flat.field(f).to_numpy()
                for f in ("text_len", "link_density", "stopword_density")
            ),
        )
        labels = pa.ListArray.from_arrays(
            pa.array(offsets, type=pa.int32()),
            pa.array(np.where(keep, "content", "boilerplate")),
        )
        yield pa.RecordBatch.from_arrays(
            [*batch.columns, labels],
            names=[*batch.schema.names, "labels"],
        )


def label_blocks(parsed: DataFrame) -> DataFrame:
    """Ops 13+14 alone over a :func:`parse_pages` frame: adds
    ``labels: array<string>`` aligned with ``blocks``. The same batch
    kernel as the fused extraction, which runs it inside the parse pass;
    this separate hop exists to time and inspect the step by itself."""
    return parsed.mapInArrow(
        _label_batches, PARSED_DDL + ", labels array<string>"
    )


def _assemble_batches(
    batches: Iterator[pa.RecordBatch],
) -> Iterator[pa.RecordBatch]:
    for batch in batches:
        flat, offsets = _flat(batch.column("blocks"))
        labels, _ = _flat(batch.column("labels"))
        keep = pc.equal(labels, "content").to_numpy(zero_copy_only=False)
        yield pa.RecordBatch.from_arrays(
            [
                *(batch.column(c) for c in _EXTRACT_COLS[:5]),
                *assemble_batch(
                    flat.field("text"), flat.field("text_len").to_numpy(),
                    keep, offsets,
                ),
                batch.column("links"),
                batch.column("meta"),
            ],
            names=_EXTRACT_COLS,
        )


def assemble(labeled: DataFrame) -> DataFrame:
    """Ops 15+17 alone over a :func:`label_blocks` frame: span offsets,
    byte-identical assembly and the text hash, by the same batch kernel
    as the fused extraction (see :func:`label_blocks`)."""
    return select_extracted(labeled.mapInArrow(_assemble_batches, EXTRACT_DDL))


def outlink_rows(frame: DataFrame) -> DataFrame:
    """SPEC.md §5 rows (url, warc_ts, part_id, link_id, href, anchor) from
    any frame carrying a ``links`` array (parse or fused extraction)."""
    return frame.select(
        "url",
        "warc_ts",
        "part_id",
        F.posexplode("links").alias("link_id", "_l"),
    ).select(
        "url",
        "warc_ts",
        "part_id",
        "link_id",
        F.col("_l.href").alias("href"),
        F.col("_l.anchor").alias("anchor"),
    )


def metadata_rows(frame: DataFrame) -> DataFrame:
    """SPEC.md §6 rows (url, warc_ts, part_id + the four meta fields) from
    any frame carrying the ``meta`` struct."""
    return frame.select(
        "url",
        "warc_ts",
        "part_id",
        *(F.col(f"meta.{f}").alias(f) for f in _META_FIELDS),
    )


def extract_outlinks(
    df: DataFrame,
    num_parts: int = DEFAULT_NUM_PARTS,
) -> DataFrame:
    """SPEC.md §5 outlink product: one row per (page, link), document order.

    The classic Common-Crawl side product (the WAT link graph): hrefs are as
    written (normalized per §5.4) — host attribution/resolution is the
    relational stage ``queries_webgraph.link_host_expr``. Same plan shape as
    extraction: one mapInArrow hop, then a JVM-side posexplode — narrow
    end-to-end, no shuffle.
    """
    return outlink_rows(parse_pages(df, num_parts))


def extract_tables(
    df: DataFrame,
    num_parts: int = DEFAULT_NUM_PARTS,
) -> DataFrame:
    """SPEC.md §7 table product: one row per (page, cell fragment), document
    order within a page via ``cell_id`` (per-table) plus ``table_id``.

    Structured-data mining over a crawl (price grids, standings, infobox
    rows) without a second parse design: the SAME single mapInArrow hop
    that yields blocks/links/meta also yields the cell fragments, then a
    JVM-side explode — narrow end-to-end, no shuffle.
    """
    parsed = parse_pages(df, num_parts)
    return parsed.select(
        "url",
        "warc_ts",
        "part_id",
        F.explode("tables").alias("_c"),
    ).select(
        "url",
        "warc_ts",
        "part_id",
        F.col("_c.table_id").alias("table_id"),
        F.col("_c.row_id").alias("row_id"),
        F.col("_c.cell_id").alias("cell_id"),
        F.col("_c.header").alias("header"),
        F.col("_c.text").alias("cell_text"),
    )


def extract_metadata(
    df: DataFrame,
    num_parts: int = DEFAULT_NUM_PARTS,
) -> DataFrame:
    """SPEC.md §6 page-metadata product: one row per page with the
    WAT-record head fields (title, meta description, canonical link,
    og:title — empty string = unset). Same plan shape as extraction: one
    mapInArrow hop then a JVM projection — narrow end-to-end, no shuffle.
    """
    return metadata_rows(parse_pages(df, num_parts))


def extract_pages_langid(
    df: DataFrame, num_parts: int = DEFAULT_NUM_PARTS
) -> DataFrame:
    """Extraction for untagged crawls (WARC archives carry no language tag).

    SPEC §2's stopword features are language-keyed, so a NULL-lang page
    parsed against the DEFAULT_LANG list would classify a German page's
    good paragraphs as boilerplate and extract it empty. The production
    answer (the same move CCNet makes before its stoplist-dependent stages)
    runs inside the one Python pass: predict the language from the FULL
    block text (``html_blocks.block_features`` with ``langid=True``, over
    the batch's token dictionary), score each block's stopword density
    against the recovered list, then classify, smooth and assemble as
    usual. Rows that arrived with a lang keep their densities
    and tag. The output ``lang`` column is the recovered one. One
    mapInArrow hop, shuffle-free.
    """
    return select_extracted(extract_text_rows(df, num_parts, langid=True))


def extract_pages(
    df: DataFrame,
    num_parts: int = DEFAULT_NUM_PARTS,
    keep_meta: bool = False,
) -> DataFrame:
    """Full fused extraction: pages → extracted (SURVEY §3.2), one
    shuffle-free mapInArrow hop; a caller with unbalanced input salts it
    first (:func:`salted`). ``keep_meta=True`` carries the SPEC §6 ``meta``
    struct through to the output rows (the one-product consumers — e.g. the
    streaming flagship — get metadata without a second parse or a second
    sink).
    """
    rows = (extract_rows if keep_meta else extract_text_rows)(df, num_parts)
    return select_extracted(rows, keep_meta=keep_meta)
