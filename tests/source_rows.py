"""Row view of ``BinlogStreamReader.read``: the reader yields Arrow
record batches; tests that assert on individual row-changes read
them back as one tuple per row, in ``SCHEMA`` / ``DDL_SCHEMA``
field order."""

from __future__ import annotations


def read_rows(reader, partition) -> list[tuple]:
    return [row for batch in reader.read(partition)
            for row in zip(*(col.to_pylist() for col in batch.columns))]
