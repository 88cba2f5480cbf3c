"""Custom Python Data Source WRITER: a JSON-lines sink with staged
atomic commit (`df.write.format("jsonlsink")`).

Completes the custom-source API surface (SURVEY §2.1): `htmltable.py`
covers the batch reader and the streaming reader; this module covers the
write path — the Spark 4 Python Data Source writer protocol, in its
Arrow form (`DataSourceArrowWriter`: executors hand the writer
`pyarrow.RecordBatch`es, no per-row Python objects until JSON encoding).

The part worth copying is the COMMIT PROTOCOL, the same two-phase shape
every exactly-once Spark sink uses (FileCommitProtocol, Iceberg/Delta
commits):

- each task writes to a uniquely-named file under ``<path>/_staging``
  and returns a :class:`WriterCommitMessage` naming it — task retries
  and speculative duplicates each produce their OWN staged file;
- only the driver's ``commit()`` — called once, with the messages of
  the one WINNING attempt per task — moves staged files into place and
  drops a ``_SUCCESS`` manifest; losers stay in staging;
- ``abort()`` removes the staging directory, so a failed job leaves no
  partial output visible.

Readers that list only committed files (or gate on ``_SUCCESS``) see an
all-or-nothing result. Scale honesty: one file per task; coalesce the
input first if tasks are many and small.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    WriterCommitMessage,
)


class JsonlCommit(WriterCommitMessage):
    def __init__(self, staged_path: str, rows: int) -> None:
        self.staged_path = staged_path
        self.rows = rows


class JsonlArrowWriter(DataSourceArrowWriter):
    def __init__(self, options: dict, overwrite: bool) -> None:
        self.path = options["path"]
        self.overwrite = overwrite
        self.staging = os.path.join(self.path, "_staging")

    # executor-side: one staged shard per task attempt
    def write(self, iterator):
        os.makedirs(self.staging, exist_ok=True)
        staged = os.path.join(self.staging, f"attempt-{uuid.uuid4().hex}.jsonl")
        rows = 0
        with open(staged, "w", encoding="utf-8") as f:
            for batch in iterator:
                for rec in batch.to_pylist():
                    f.write(json.dumps(rec, default=str, sort_keys=True))
                    f.write("\n")
                    rows += 1
        return JsonlCommit(staged, rows)

    # driver-side, exactly once, winning attempts only
    def commit(self, messages):
        total = 0
        for i, m in enumerate(messages):
            os.replace(m.staged_path, os.path.join(self.path, f"part-{i:05d}.jsonl"))
            total += m.rows
        shutil.rmtree(self.staging, ignore_errors=True)
        with open(os.path.join(self.path, "_SUCCESS"), "w") as f:
            json.dump({"rows": total, "parts": len(messages)}, f)

    def abort(self, messages):
        shutil.rmtree(self.staging, ignore_errors=True)


class JsonlSinkDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "jsonlsink"

    def writer(self, schema, overwrite: bool) -> JsonlArrowWriter:
        if overwrite:
            path = self.options["path"]
            if os.path.isdir(path):
                for f in os.listdir(path):
                    if f.endswith(".jsonl") or f == "_SUCCESS":
                        os.remove(os.path.join(path, f))
        return JsonlArrowWriter(dict(self.options), overwrite)


def register(spark) -> None:
    spark.dataSource.register(JsonlSinkDataSource)
