"""Elasticsearch bulk-index sink (reference K7 — built but commented
out at the call site, DataStreamJob.java:165-183; K8's JSON
serialization util JsonUtil.java:10-16 ≡ to_json(struct("*"))).

Parity decision: the reference ships this DISABLED, so it is off by
default here too; it exists so a user flipping it on gets the same
behavior (index per transaction, doc id = transactionId).

Design: rows are serialized JVM-side with to_json, the bulk NDJSON
payload is assembled per partition, and each executor POSTs its own
partitions to _bulk — the driver never sees the data. No ES server
exists in this container; tests cover payload assembly and use a
capture transport.
"""

from __future__ import annotations

import json
from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_INDEX = "transactions"  # DataStreamJob.java:176


def bulk_payload(docs: Iterable[tuple[str, str]], index: str = DEFAULT_INDEX) -> str:
    """NDJSON bulk body: action line + source line per doc.
    ``docs`` yields (doc_id, json_source)."""
    lines = []
    for doc_id, source in docs:
        lines.append(json.dumps({"index": {"_index": index, "_id": doc_id}}))
        lines.append(source)
    return "\n".join(lines) + "\n" if lines else ""


def http_post_transport(es_url: str) -> Callable[[str], None]:
    """POST a bulk body to {es_url}/_bulk (urllib — no extra deps)."""

    def post(body: str) -> None:
        import urllib.request

        req = urllib.request.Request(
            f"{es_url}/_bulk",
            data=body.encode("utf-8"),
            headers={"Content-Type": "application/x-ndjson"},
            method="POST",
        )
        urllib.request.urlopen(req).read()

    return post


class EsBulkSink:
    """foreachBatch sink: index every row into ``DEFAULT_INDEX``, doc
    id = ``id_col``.
    ``transport(body)`` performs the actual POST — injectable so tests
    (and airgapped runs) can capture instead of send."""

    def __init__(
        self,
        transport: Callable[[str], None],
        id_col: str = "transactionId",
        batch_docs: int = 1000,
    ):
        self.transport = transport
        self.id_col = id_col
        self.batch_docs = batch_docs

    def write_batch(self, batch_df: DataFrame, epoch_id: int | None = None) -> None:
        transport, batch_docs = self.transport, self.batch_docs
        serialized = batch_df.select(
            F.col(self.id_col).cast("string").alias("__id"),
            F.to_json(F.struct(*batch_df.columns)).alias("__doc"),
        )

        def send_partition(rows) -> None:
            buf: list[tuple[str, str]] = []
            for row in rows:
                buf.append((row["__id"], row["__doc"]))
                if len(buf) >= batch_docs:
                    transport(bulk_payload(buf))
                    buf.clear()
            if buf:
                transport(bulk_payload(buf))

        serialized.foreachPartition(send_partition)

    def foreach_batch(self) -> Callable[[DataFrame, int], None]:
        return self.write_batch
