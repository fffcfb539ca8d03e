"""Dialect-parameterized CSV source (reference: metadata.rb:1196-1203
csv_options, :786-795 each_row, :726-779 embedded_metadata).

Design: the data path is Spark-native. ``spark.read.text`` splits the file
into lines, and the JVM numbers them: ``monotonically_increasing_id`` on the
scan's splits (split order = byte-offset order) plus, for a multi-split
file, each split's line count from one JVM-only aggregate, gives stable
1-based source line numbers without a pickled pass. The steps that depend
on file order (BOM strip, skipRows/header cut, comment rows, logical row
numbering) run on those file-ordered splits. The numbered lines are then
spread over the task slots and one Arrow-batched ``mapInPandas`` stage
applies the dialect (delimiter/quote/doubleQuote/trim/skipColumns) per line
batch; ``pipeline.table_to_triples`` fuses that parse with the triple
kernel. The header region (skipRows + headerRowCount lines, O(KB)) is read
driver-side for embedded-metadata extraction, mirroring the reference's
streaming header consumption.

Quoted fields spanning physical lines break the line-per-row fast path; a
cheap driver-side quote-parity scan detects them and falls back to a
whole-file streaming parse (reference each_row semantics, metadata.rb:786-795
— Ruby CSV handles embedded newlines natively). The fallback is driver-bound
by design: multiline CSV is not line-splittable, and at web scale inputs
arrive as pages (html binary) where rows are page-local and never split.
"""

from __future__ import annotations

import csv as _csv
import io
from itertools import accumulate
from typing import Callable, Iterator, Optional

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (ArrayType, LongType, StringType, StructField,
                               StructType)

from ..csvw.model import Dialect
from ..session import shipped

ROWS_SCHEMA = StructType([
    StructField("values", ArrayType(StringType()), False),
    StructField("row_num", LongType(), False),
    StructField("source_num", LongType(), False),
])


def open_encoding(dialect: Dialect) -> str:
    """Codec for driver-side file opens. UTF-8 maps to ``utf-8-sig`` so a
    leading byte-order mark is consumed by the decoder instead of becoming
    part of the first header title / first cell (tabular-data-model parsing
    step: skip an initial BOM; Ruby's CSV open does the same via bom-aware
    IO). For any other declared ``dialect.encoding`` the codec is passed
    through to Python's codec registry (reference: metadata.rb:744
    'Set encoding on input', :1201 csv_options[:encoding])."""
    enc = (dialect.encoding or "utf-8").lower().replace("_", "-")
    return "utf-8-sig" if enc in ("utf-8", "utf8", "utf-8-sig") else enc


def _is_utf8(dialect: Dialect) -> bool:
    return open_encoding(dialect) == "utf-8-sig"


def _csv_kwargs(dialect: Dialect) -> dict:
    """csv.reader options for a CSVW dialect. An explicit ``quoteChar:
    null`` disables quote processing entirely (reference: metadata.rb
    csv_options quote_char nil — quotes become ordinary characters)."""
    if not dialect.quoteChar:
        return dict(delimiter=dialect.delimiter, quoting=_csv.QUOTE_NONE,
                    quotechar=None, escapechar=None, strict=False)
    return dict(delimiter=dialect.delimiter, quotechar=dialect.quoteChar,
                doublequote=bool(dialect.doubleQuote),
                escapechar=None if dialect.doubleQuote else "\\",
                strict=False)


def _parse_lines(lines: list[str], dialect: Dialect) -> list[list[Optional[str]]]:
    rdr = _csv.reader(lines, **_csv_kwargs(dialect))
    return [row for row in rdr]


def _is_custom_terminator(dialect: Dialect) -> bool:
    """True for an explicit lineTerminator the standard newline machinery
    (``readline`` / Hadoop LineRecordReader) cannot split on."""
    return dialect.lineTerminator not in (None, "auto", "\n", "\r\n")


def _split_terminator(text: str, dialect: Dialect) -> list[str]:
    """Split ``text`` into logical lines on a custom ``lineTerminator``,
    quote-aware: a terminator inside a quoted field does not end the row
    (Ruby CSV's ``row_sep`` semantics — reference metadata.rb:1199
    ``row_sep: dialect.lineTerminator``). Doubled quotes toggle the state
    twice (net no-op); backslash-escaped quotes (doubleQuote=false
    dialects) do not toggle."""
    term = dialect.lineTerminator
    q = dialect.quoteChar
    if not q or q not in text:
        segs = text.split(term)
        if segs and segs[-1] == "":
            segs.pop()  # trailing terminator, not an empty final row
        return segs
    dq = bool(dialect.doubleQuote)
    out: list[str] = []
    in_q = False
    start = i = 0
    n, tl = len(text), len(term)
    while i < n:
        c = text[i]
        if c == q and (dq or i == 0 or text[i - 1] != "\\"):
            in_q = not in_q
            i += 1
        elif not in_q and text.startswith(term, i):
            out.append(text[start:i])
            i += tl
            start = i
        else:
            i += 1
    if start < n:
        out.append(text[start:])
    return out


def _read_head_segments(path: str, dialect: Dialect, n: int) -> list[str]:
    """First ``n`` logical lines of a custom-terminator file (driver-side,
    bounded by the sniff budget — header rows live at the front)."""
    with open(path, "r", encoding=open_encoding(dialect), newline="") as f:
        text = f.read(_SNIFF_BYTES)
    return _split_terminator(text, dialect)[:n]


def read_header(path: str, dialect: Dialect) -> tuple[list[str], list[str]]:
    """Driver-side: → (header titles, skipped-row notes).
    Mirrors reference embedded_metadata (metadata.rb:726-779)."""
    notes: list[str] = []
    titles: list[str] = []
    n_head = int(dialect.skipRows) + int(dialect.headerRowCount)
    if n_head == 0:
        return titles, notes
    if _is_custom_terminator(dialect):
        head_lines = _read_head_segments(path, dialect, n_head)
    else:
        with open(path, "r", encoding=open_encoding(dialect), newline="") as f:
            head_lines = []
            for _ in range(n_head):
                line = f.readline()
                if not line:
                    break
                head_lines.append(line.rstrip("\r\n"))
    rows = _parse_lines(head_lines, dialect)
    trim = dialect.effective_trim
    skipc = int(dialect.skipColumns) + int(dialect.headerColumnCount)
    for i, row in enumerate(rows):
        if i < int(dialect.skipRows):
            value = dialect.delimiter.join(v if v is not None else "" for v in row)
            if trim in ("true", "start"):
                value = value.lstrip()
            if trim in ("true", "end"):
                value = value.rstrip()
            if dialect.commentPrefix and value.startswith(dialect.commentPrefix):
                value = value[len(dialect.commentPrefix):]
            if value:
                notes.append(value)
        else:
            for j, value in enumerate(row):
                if j < skipc:
                    continue
                if trim in ("true", "start"):
                    value = value.lstrip()
                if trim in ("true", "end"):
                    value = value.rstrip()
                idx = j - int(dialect.skipColumns)
                while len(titles) <= idx:
                    titles.append("")
                titles[idx] = value if not titles[idx] else titles[idx]
    return titles, notes


_SNIFF_BYTES = 64 * 1024 * 1024  # bounded: never full-scan a huge file


def _quote_sniff(path: str, dialect: Dialect) -> tuple[bool, bool]:
    """(has_quoted_newline, sniff_complete) over at most the first 64 MB.

    A physical line ending inside an open quoted field means some row spans
    lines. Conservative (escaped quotes in non-doubleQuote dialects may
    false-positive) — a false positive only selects the slower,
    still-correct whole-file path. Bounded so the driver never pays a
    full-file read on the hot path; when the bound truncates the scan,
    ``sniff_complete`` is False and ``read_rows`` runs one distributed
    odd-quote-parity pass to decide the path (auto-fallback, never a
    mid-job error)."""
    q = dialect.quoteChar
    if not q:
        return False, True
    in_quote = False
    seen = 0
    with open(path, "r", encoding=open_encoding(dialect), newline="") as f:
        for line in f:
            seen += len(line)
            if line.count(q) % 2:
                in_quote = not in_quote
            if in_quote and line.endswith(("\n", "\r")):
                return True, True
            if seen > _SNIFF_BYTES:
                return False, False
    return False, True


def _has_quoted_newline(path: str, dialect: Dialect) -> bool:
    return _quote_sniff(path, dialect)[0]


def _read_rows_whole_file(spark: SparkSession, path: str,
                          dialect: Dialect) -> DataFrame:
    """Fallback for quoted embedded newlines: stream the file through one
    csv.reader (driver-side), then distribute the parsed rows. source_num is
    the row's FIRST physical line; skipped/header rows are counted in parsed
    rows (equal to physical lines for the fixtures that need this path)."""
    skipped = dialect.skipped_rows
    skipc = int(dialect.skipColumns) + int(dialect.headerColumnCount)
    skip_blank = bool(dialect.skipBlankRows)
    data: list[tuple[list, int, int]] = []
    comment = dialect.commentPrefix

    def _consume(rows_iter):
        row_num = 0
        for row, row_idx, start_line, raw in rows_iter:
            if row_idx <= skipped:
                continue
            if comment and raw.startswith(comment):
                # data comment row (tabular-data-model §8): the raw source
                # line is tested, as on the line path — a quoted first cell
                # ('"#x",y') is data, not a comment
                continue
            vals = row[skipc:] if skipc else row
            if skip_blank and not any((c or "").strip() for c in vals):
                continue
            row_num += 1
            data.append((vals, row_num, start_line))

    if _is_custom_terminator(dialect):
        # Custom lineTerminator: logical rows are terminator-delimited
        # segments (quote-aware split), each parsed as one CSV record.
        # source_num counts terminator-delimited segments, mirroring Ruby
        # CSV's row_sep accounting (reference metadata.rb:1199).
        with open(path, "r", encoding=open_encoding(dialect), newline="") as f:
            segs = _split_terminator(f.read(), dialect)
        _consume((row, i + 1, i + 1, seg) for i, (row, seg) in
                 enumerate(zip(_parse_lines(segs, dialect), segs)))
    else:
        with open(path, "r", encoding=open_encoding(dialect), newline="") as f:
            def _stream():
                consumed: list[str] = []  # physical lines of the record

                def _lines():
                    for line in f:
                        consumed.append(line)
                        yield line
                rdr = _csv.reader(_lines(), **_csv_kwargs(dialect))
                prev_line = 0
                idx = 0
                for row in rdr:
                    idx += 1
                    yield row, idx, prev_line + 1, consumed[0]
                    consumed.clear()
                    prev_line = rdr.line_num
            _consume(_stream())
    return spark.createDataFrame(data, ROWS_SCHEMA)


def _line_path_applies(spark: SparkSession, path: str,
                       dialect: Dialect) -> bool:
    """False when the file must take the whole-file path: a non-UTF-8
    encoding, a custom terminator with quotes in the file, or a quoted
    field that spans physical lines."""
    if not _is_utf8(dialect):
        # spark.read.text decodes UTF-8 only; a declared non-UTF-8
        # dialect.encoding takes the driver-side codec path (correct,
        # slower — the reference is wholly driver-side for every file).
        # At scale, non-UTF-8 tabular sources should be transcoded on
        # ingest; the distributed fast path is UTF-8 by contract.
        return False
    if _is_custom_terminator(dialect):
        # Distributed lineSep splitting is blind to quoting — a terminator
        # inside a quoted field would split the row. Quote-free files (or
        # quote-free prefixes of bounded sniff) stay distributed; any
        # quote character routes to the quote-aware driver path.
        if dialect.quoteChar:
            with open(path, "r", encoding=open_encoding(dialect),
                      newline="") as f:
                head = f.read(_SNIFF_BYTES)
                sniff_done = f.read(1) == ""
            if dialect.quoteChar in head or not sniff_done:
                return False
        return True
    has_spanning, sniff_complete = _quote_sniff(path, dialect)
    if has_spanning:
        return False
    if not sniff_complete and dialect.quoteChar and bool(dialect.doubleQuote):
        # File larger than the sniff bound, doubleQuote dialect (where a
        # closed quoted field ALWAYS has an even per-line quote count): one
        # distributed parity pass — any odd-count line means a possibly
        # split quoted field beyond the prefix, so auto-fall back to the
        # whole-file path instead of risking a mis-parse or mid-job error.
        # Backslash-escape dialects legitimately carry odd counts (\") and
        # keep the distributed lenient path unconditionally.
        q = dialect.quoteChar
        probe = spark.read.text(path)
        odd = probe.where(
            (F.length("value") - F.length(F.translate("value", q, ""))) % 2
            == 1)
        if odd.head(1):
            return False
    return True


# low bits of monotonically_increasing_id: the row's index in its partition
_ROW_MASK = (1 << 33) - 1


def _file_order(offsets: list[int]) -> Column:
    """1-based position in file order of each row of a DataFrame still on
    the file-ordered splits: its index in the split (from
    ``monotonically_increasing_id``) plus ``offsets[split]``, the rows in
    earlier splits."""
    n = F.monotonically_increasing_id().bitwiseAND(_ROW_MASK) + 1
    if any(offsets):
        n = n + F.element_at(F.array(*map(F.lit, offsets)),
                             F.spark_partition_id() + 1)
    return n


def _offsets(counts: list[int]) -> list[int]:
    """Per split, the rows in earlier splits."""
    return list(accumulate(counts, initial=0))[:-1]


def _bom_free(is_line_1: Column) -> Column:
    """A UTF-8 BOM survives spark.read.text as U+FEFF on line 1; when that
    line is data (headerless dialects — the header path strips it via the
    utf-8-sig driver read) it must not leak into the first cell."""
    return F.when(is_line_1 & F.col("line").startswith("\ufeff"),
                  F.expr("substring(line, 2)")).otherwise(F.col("line"))


def _split_offsets(text: DataFrame, kept, skipped: int,
                   n_splits: int) -> tuple[list[int], list[int]]:
    """One JVM-only aggregate over the file-ordered splits → the offsets
    (:func:`_file_order`) of the lines and of the data lines (past the
    header region, not comments)."""
    lines = text.select(F.col("value").alias("line"),
                        F.spark_partition_id().alias("split"),
                        F.monotonically_increasing_id().bitwiseAND(_ROW_MASK)
                        .alias("local"))
    keep = kept(_bom_free((F.col("split") == 0) & (F.col("local") == 0)))
    stats = {r["split"]: r for r in lines.groupBy("split").agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(keep, 1)).alias("kept"),
        # kept lines that may lie in the header region: at most `skipped`
        # per split, placed once the earlier splits' sizes are known
        F.collect_list(F.when(keep & (F.col("local") < skipped),
                              F.col("local"))).alias("head"),
    ).collect()}
    splits = [stats.get(i) for i in range(n_splits)]
    src_off = _offsets([r["n"] if r else 0 for r in splits])
    data = [r["kept"] - sum(o + i + 1 <= skipped for i in r["head"])
            if r else 0 for r, o in zip(splits, src_off)]
    return src_off, _offsets(data)


def _numbered_lines(spark: SparkSession, path: str,
                    dialect: Dialect) -> tuple[DataFrame, int]:
    """→ (data lines ``line, row_num, source_num`` still on the scan's
    file-ordered splits, number of splits). Header and comment lines are
    dropped in the JVM; row_num counts the surviving lines."""
    skipped = dialect.skipped_rows
    comment = dialect.commentPrefix
    reader = spark.read
    if dialect.lineTerminator and dialect.lineTerminator != "auto":
        reader = reader.option("lineSep", dialect.lineTerminator)
    text = reader.text(path)
    n_splits = text.rdd.getNumPartitions()

    # tabular-data-model §8: a data row whose source line begins with the
    # comment prefix is a comment, not a row (the reference never
    # implements this — metadata.rb only strips the prefix from skipRows
    # notes at :752; the W3C behavior is kept here, like the FK/length-facet
    # fixes). A raw-line test, so it runs before the parse.
    def kept(line: Column) -> Column:
        return ~line.startswith(comment) if comment else F.lit(True)

    src_off = data_off = [0]
    if n_splits > 1:
        src_off, data_off = _split_offsets(text, kept, skipped, n_splits)
    lines = text.select(F.col("value").alias("line"),
                        _file_order(src_off).alias("source_num"))
    line = _bom_free(F.col("source_num") == 1)
    data = lines.where((F.col("source_num") > skipped) & kept(line))
    return data.select(line.alias("line"), _file_order(data_off)
                       .alias("row_num"), "source_num"), n_splits


def _renumber(rows: DataFrame, n_splits: int) -> DataFrame:
    """skipBlankRows: blank rows must not consume logical row numbers
    ({_row} templates), so the parsed survivors, still on the file-ordered
    splits, are renumbered consecutively. A multi-split file counts its
    survivors per split first, which runs the parse once more."""
    offsets = [0]
    if n_splits > 1:
        counts = dict(rows.groupBy(F.spark_partition_id()).count().collect())
        offsets = _offsets([counts.get(i, 0) for i in range(n_splits)])
    return rows.select("values", _file_order(offsets).alias("row_num"),
                       "source_num")


def _spread(df: DataFrame, n_splits: int) -> DataFrame:
    """Spread rows over the session's task slots when the scan yielded fewer
    splits than that: a small file is one split (openCostInBytes sets the
    minimum split size) and would run its Python kernel on one core. Hash
    on source_num: deterministic, so no pre-sort as round-robin needs."""
    slots = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(slots, "source_num") if n_splits < slots else df


def line_parser(dialect: Dialect
                ) -> Callable[[Iterator[pd.DataFrame]], Iterator[pd.DataFrame]]:
    """The line path's Arrow-batch parse: numbered data lines (``line,
    row_num, source_num``) → ROWS_SCHEMA rows. A skipBlankRows dialect drops
    blank rows here; :func:`read_lines` renumbers the survivors."""
    skipc = int(dialect.skipColumns) + int(dialect.headerColumnCount)
    csv_kwargs = _csv_kwargs(dialect)
    skip_blank = bool(dialect.skipBlankRows)

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                # dtype=object: an empty default-dtype (float64) ndarray
                # cannot convert to Arrow list<string>
                yield pd.DataFrame({"values": pd.Series([], dtype="object"),
                                    "row_num": pd.Series([], dtype="int64"),
                                    "source_num": pd.Series([], dtype="int64")})
                continue
            vals = []
            for line in pdf["line"]:
                # Odd-quote-count lines cannot reach this kernel: the driver
                # sniff (complete files) or the distributed parity probe
                # (files beyond the sniff bound) routes them to the
                # whole-file path first. Any residual stray quote parses
                # leniently, matching csv.reader's non-strict behavior.
                row = next(_csv.reader(io.StringIO(line), **csv_kwargs), [])
                vals.append(row[skipc:] if skipc else row)
            out = pd.DataFrame({
                "values": vals,
                "row_num": pdf["row_num"].astype("int64"),
                "source_num": pdf["source_num"].astype("int64"),
            })
            if skip_blank:
                mask = out["values"].map(lambda r: any((c or "").strip() for c in r))
                out = out[mask]
            yield out

    return parse


def read_lines(spark: SparkSession, path: str,
               dialect: Dialect) -> tuple[DataFrame, bool]:
    """CSV file → ``(df, parsed)``.

    On the line path ``df`` holds the numbered data lines (``line, row_num,
    source_num``), spread over the task slots and not yet parsed
    (``parsed`` False): the caller runs :func:`line_parser` on them, alone
    (:func:`read_rows`) or fused with its own per-row kernel. The
    whole-file path, and skipBlankRows, whose renumbering needs the parse,
    return ROWS_SCHEMA rows (``parsed`` True).
    """
    if not _line_path_applies(spark, path, dialect):
        return _read_rows_whole_file(spark, path, dialect), True
    lines, n_splits = _numbered_lines(spark, path, dialect)
    if not dialect.skipBlankRows:
        return _spread(lines, n_splits), False
    rows = shipped(lines).mapInPandas(line_parser(dialect), schema=ROWS_SCHEMA)
    return _spread(_renumber(rows, n_splits), n_splits), True


def read_rows(spark: SparkSession, path: str, dialect: Dialect) -> DataFrame:
    """CSV file → DataFrame(values: array<string>, row_num, source_num).

    row_num is 1-based after skipped/header rows AND after comment- and
    blank-row removal (neither consumes a logical ``_row`` number);
    source_num is the 1-based physical line number (reference: each_row,
    metadata.rb:786-795). Both are assigned in the JVM on the file-ordered
    splits (monotonically_increasing_id plus per-split offsets) before the
    rows are spread over the task slots, so row order in the result is not
    file order.
    """
    df, parsed = read_lines(spark, path, dialect)
    if parsed:
        return df
    return shipped(df).mapInPandas(line_parser(dialect), schema=ROWS_SCHEMA)
