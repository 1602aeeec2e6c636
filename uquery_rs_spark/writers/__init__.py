"""Streaming result writers: Arrow batches → response bytes.

Four formats, mirroring the reference's consumers (src/web/consumers.rs,
src/web/routers.rs:137-148): JSON array, JSON Lines, CSV-with-header-once,
Arrow IPC stream. Each implements RecordBatchConsumer: it encodes the
Arrow batches it is handed on the driver, a bounded slice at a time, into
any `write(bytes)` sink — a socket, a gzip wrapper, a buffer — so server
memory stays flat regardless of result size (reference
docs/docs/response-formats.md:97-104). JSON and JSON Lines encode a
slice column by column in Arrow compute kernels, like the reference's
arrow-json writers; CSV goes through the slice's Python objects.
"""

from .consumers import (  # noqa: F401
    ArrowIpcWriter,
    CsvWriter,
    JsonArrayWriter,
    JsonLinesWriter,
    writer_for_format,
)
