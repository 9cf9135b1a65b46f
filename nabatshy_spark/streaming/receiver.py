"""Live OTLP push-ingest endpoint (SURVEY §2.1 S1): the reference's
only write path, ``POST /v1/traces`` on :4318
(collector/controller.go:28-95, 225-227, 319-323), re-expressed for
Spark's execution model.

The reference couples receive and insert: each POST synchronously
becomes ClickHouse batch inserts. A Spark cluster can't (and shouldn't)
run a socket server inside executors, so the faithful decomposition is

    HTTP receiver (this module, driver/edge-side, stdlib-only)
      → durable spool directory (atomic rename per request)
      → Structured Streaming file source (streaming/ingest.py)
      → partitioned span table

which preserves the reference's semantics — at-least-once, no dedup,
one POST body = one ingest unit — while making the receive path durable
(a POST is ack'd only after its payload is on disk, which is *stronger*
than the reference's ack-after-insert-started).

Content negotiation matches collector/controller.go:43-78 exactly:
``application/x-protobuf`` (S2 wire decode), ``application/json``
(including the legacy ``instrumentationLibrarySpans`` rewrite, which
parse_otlp_json handles in its decoder), 405 for non-POST, 415 for other
content types, 400 for undecodable JSON or a malformed
``Content-Length``. Success returns 200 with an
empty ``ExportTraceServiceResponse`` (zero bytes on the wire, as
proto.Marshal of the empty message produces).
"""

from __future__ import annotations

import itertools
import json
import os
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQuery

JSON_SUBDIR = "json"
PB_SUBDIR = "pb"


class OTLPReceiver:
    """Threaded HTTP server spooling OTLP export requests for the
    streaming ingest. ``port=0`` binds an ephemeral port (tests)."""

    def __init__(self, spool_dir: str, host: str = "0.0.0.0", port: int = 4318):
        self.spool_json = os.path.join(spool_dir, JSON_SUBDIR)
        self.spool_pb = os.path.join(spool_dir, PB_SUBDIR)
        os.makedirs(self.spool_json, exist_ok=True)
        os.makedirs(self.spool_pb, exist_ok=True)
        self._seq = itertools.count()
        receiver = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *a):  # quiet
                pass

            def do_POST(self) -> None:
                if self.path != "/v1/traces":
                    self.send_error(404)
                    return
                # Digits only, as Go's net/http requires: int() would
                # raise on "abc" (dropped connection, no reply) and
                # read(-1) would block until the client hangs up.
                length = self.headers.get("Content-Length") or "0"
                if not (length.isascii() and length.isdigit()):
                    self.send_error(400, "bad Content-Length")
                    return
                body = self.rfile.read(int(length))
                ctype = self.headers.get("Content-Type", "")
                if ctype == "application/x-protobuf":
                    receiver._spool(receiver.spool_pb, ".pb", body)
                elif ctype == "application/json":
                    try:
                        doc = json.loads(body)
                    except ValueError:
                        self.send_error(400, "invalid json")
                        return
                    # one request = one line; the text file source is
                    # line-oriented, and OTLP JSON may be pretty-printed
                    line = json.dumps(doc, separators=(",", ":")) + "\n"
                    receiver._spool(receiver.spool_json, ".jsonl", line.encode())
                else:
                    self.send_error(415, "unsupported content type")
                    return
                # empty ExportTraceServiceResponse = zero bytes
                self.send_response(200)
                self.send_header("Content-Type", "application/x-protobuf")
                self.send_header("Content-Length", "0")
                self.end_headers()

            def do_GET(self) -> None:
                self.send_error(405, "only POST allowed")

        self._server = ThreadingHTTPServer((host, port), Handler)
        self.port = self._server.server_address[1]
        self._thread = threading.Thread(
            target=self._server.serve_forever, name="otlp-receiver", daemon=True
        )

    def _spool(self, d: str, ext: str, payload: bytes) -> None:
        """Ack only after the payload is durably in the watched dir.
        The payload is written under a leading-dot name, which Spark's
        file source skips as hidden, then renamed to its final name, so
        a listing between write and rename sees neither a partial file
        nor a second copy of the request."""
        name = f"req-{os.getpid()}-{threading.get_ident()}-{next(self._seq)}"
        tmp = os.path.join(d, f".{name}.tmp")
        with open(tmp, "wb") as fh:
            fh.write(payload)
            fh.flush()
            os.fsync(fh.fileno())
        os.rename(tmp, os.path.join(d, name + ext))

    def start(self) -> "OTLPReceiver":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._server.shutdown()
        self._server.server_close()


def start_collector(
    spark: SparkSession,
    spool_dir: str,
    output_path: str,
    checkpoint_root: str,
    port: int = 4318,
    trigger_interval: str = "2 seconds",
) -> tuple[OTLPReceiver, list[StreamingQuery]]:
    """The full collector swap-in (reference collector.Run,
    controller.go:307-323): receiver + both ingest streams (JSON and
    protobuf) into one span table. Returns (receiver, queries); caller
    owns shutdown. Tests use availableNow triggers via the underlying
    ``start_*_ingest`` functions directly."""
    from nabatshy_spark.streaming.ingest import (
        start_file_ingest,
        start_protobuf_file_ingest,
    )

    rcv = OTLPReceiver(spool_dir, port=port).start()
    queries = [
        start_file_ingest(
            spark, rcv.spool_json, output_path,
            os.path.join(checkpoint_root, "json"),
            trigger_interval=trigger_interval,
        ),
        start_protobuf_file_ingest(
            spark, rcv.spool_pb, output_path,
            os.path.join(checkpoint_root, "pb"),
            trigger_interval=trigger_interval,
        ),
    ]
    return rcv, queries
