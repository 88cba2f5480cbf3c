"""Custom Python Data Source: HTML-table reader (SURVEY §2.1 S5, in-engine).

The reference's Wikipedia scraper
(/root/reference/scripts/vacancy_and_strips_scraper/extract_vacancies.py:30-174)
is an OUT-of-engine pre-step: parse championship-history HTML tables, emit a
notes CSV, load that CSV like any other source. This module brings the
capability IN-engine as a Spark 4 Python Data Source — ``spark.read
.format("htmltable")`` over local HTML files — so the scraper's parse step
becomes a first-class, distributable scan instead of a driver-side script:

- one :class:`InputPartition` per HTML file → files parse in parallel
  across executors (the reference loops files serially in one process);
- header normalization matches the CSV ingest path (snake_case), so the
  downstream staging contract is identical whichever source produced the
  table;
- stdlib ``html.parser`` only — no external dependency, fully picklable.

Scale honesty: HTML sources are KB–MB metadata feeds (champion lists, not
fight facts); the win is uniformity (one read API, one permission model,
partition-parallel parse), not throughput.
"""

from __future__ import annotations

import glob as _glob
from html.parser import HTMLParser

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
)
from pyspark.sql.types import StringType, StructField, StructType

from .ingest import normalize_identifier


class _TableParser(HTMLParser):
    """Collect every <tr> of the FIRST <table> as a list of cell strings;
    <th> cells in the first row become the header."""

    def __init__(self) -> None:
        super().__init__()
        self.rows: list[list[str]] = []
        self._row: list[str] | None = None
        self._cell: list[str] | None = None
        self._table_depth = 0
        self._done = False

    def handle_starttag(self, tag: str, attrs) -> None:
        if self._done:
            return
        if tag == "table":
            self._table_depth += 1
        elif self._table_depth == 1 and tag == "tr":
            self._row = []
        elif self._table_depth == 1 and tag in ("td", "th"):
            self._cell = []

    def handle_endtag(self, tag: str) -> None:
        if self._done:
            return
        if tag == "table" and self._table_depth > 0:
            self._table_depth -= 1
            if self._table_depth == 0:
                self._done = True
        elif self._table_depth == 1 and tag in ("td", "th") and self._cell is not None:
            assert self._row is not None
            self._row.append(" ".join("".join(self._cell).split()))
            self._cell = None
        elif self._table_depth == 1 and tag == "tr" and self._row is not None:
            if self._row:
                self.rows.append(self._row)
            self._row = None

    def handle_data(self, data: str) -> None:
        if self._cell is not None:
            self._cell.append(data)


def parse_html_table(text: str) -> tuple[list[str], list[list[str]]]:
    """(header, rows) of the first <table>; header cells snake_cased."""
    p = _TableParser()
    p.feed(text)
    if not p.rows:
        return [], []
    header = [normalize_identifier(h) for h in p.rows[0]]
    return header, p.rows[1:]


class _FilePartition(InputPartition):
    def __init__(self, path: str) -> None:
        self.path = path


class HtmlTableReader(DataSourceReader):
    def __init__(self, schema: StructType, options: dict) -> None:
        self._schema = schema
        self._options = options

    def partitions(self):  # one parse task per file
        paths = sorted(_glob.glob(self._options["path"]))
        return [_FilePartition(p) for p in paths]

    def read(self, partition: _FilePartition):
        with open(partition.path, encoding="utf-8") as f:
            header, rows = parse_html_table(f.read())
        cols = [f.name for f in self._schema.fields]
        idx = {h: i for i, h in enumerate(header)}
        for row in rows:
            yield tuple(
                row[idx[c]] if c in idx and idx[c] < len(row) else None
                for c in cols
            )


class HtmlTableDataSource(DataSource):
    """``spark.read.format("htmltable").schema(...).option("path", glob)``.

    Without an explicit schema, the first file's header defines an
    all-string schema (same stringly-typed contract as the CSV raw layer —
    typing belongs to staging)."""

    @classmethod
    def name(cls) -> str:
        return "htmltable"

    def schema(self) -> StructType:
        paths = sorted(_glob.glob(self.options["path"]))
        if not paths:
            return StructType([])
        with open(paths[0], encoding="utf-8") as f:
            header, _ = parse_html_table(f.read())
        return StructType([StructField(h, StringType()) for h in header])

    def reader(self, schema: StructType) -> HtmlTableReader:
        return HtmlTableReader(schema, dict(self.options))


def register(spark) -> None:
    spark.dataSource.register(HtmlTableDataSource)
