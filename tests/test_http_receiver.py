"""S1 live push-ingest: HTTP receiver → durable spool → streaming
ingest → span table (reference collector/controller.go:28-95, POST
/v1/traces content negotiation + empty-protobuf 200 response)."""

from __future__ import annotations

import urllib.error
import urllib.request

from nabatshy_spark.sources.sink import read_spans
from nabatshy_spark.streaming.ingest import (
    ingest_batch,
    start_file_ingest,
    start_protobuf_file_ingest,
)
from nabatshy_spark.streaming.receiver import OTLPReceiver
from tests import pb_wire
from tests.test_otlp_ingest import _legacy_payload, _payload
from tests.test_otlp_protobuf import _request_dict


def _post(port: int, body: bytes, ctype: str) -> tuple[int, bytes, str]:
    req = urllib.request.Request(
        f"http://127.0.0.1:{port}/v1/traces",
        data=body,
        headers={"Content-Type": ctype},
        method="POST",
    )
    with urllib.request.urlopen(req) as resp:
        return resp.status, resp.read(), resp.headers.get("Content-Type", "")


def test_receiver_end_to_end(spark, tmp_path):
    rcv = OTLPReceiver(str(tmp_path / "spool"), host="127.0.0.1", port=0).start()
    try:
        # JSON POSTs: current + legacy format, both accepted with the
        # reference's empty-protobuf 200 ack
        for payload in (_payload(), _legacy_payload()):
            status, body, ctype = _post(
                rcv.port, payload.encode(), "application/json"
            )
            assert (status, body, ctype) == (200, b"", "application/x-protobuf")
        # protobuf POST (S2 wire format)
        status, body, _ = _post(
            rcv.port, pb_wire.request(_request_dict()), "application/x-protobuf"
        )
        assert (status, body) == (200, b"")
    finally:
        rcv.stop()

    out, ck = str(tmp_path / "out"), tmp_path / "ck"
    start_file_ingest(
        spark, rcv.spool_json, out, str(ck / "json")
    ).awaitTermination()
    start_protobuf_file_ingest(
        spark, rcv.spool_pb, out, str(ck / "pb")
    ).awaitTermination()

    got = {r.span_id for r in read_spans(spark, out).collect()}
    want = {
        r.span_id
        for r in ingest_batch(spark, [_payload(), _legacy_payload()]).collect()
    }
    want |= {sp["spanId"] for rs in _request_dict()["resourceSpans"]
             for ss in rs["scopeSpans"] for sp in ss["spans"]}
    assert got == want and len(got) >= 5


def test_spool_staging_file_is_never_ingested(spark, tmp_path, monkeypatch):
    """A request stopped between write and rename leaves only its
    staging file in the watched dir; the JSON ingest stream must not
    read it (it would ingest the request twice once the rename lands,
    or a partial body if the write were still running)."""
    import json
    import os

    import pytest

    from nabatshy_spark.streaming import receiver as receiver_mod

    rcv = OTLPReceiver(str(tmp_path / "spool"), host="127.0.0.1", port=0).start()
    try:
        line = json.dumps(json.loads(_payload()), separators=(",", ":")) + "\n"

        def stopped(src, dst):
            raise OSError("stopped between write and rename")

        monkeypatch.setattr(receiver_mod.os, "rename", stopped)
        with pytest.raises(OSError, match="stopped"):
            rcv._spool(rcv.spool_json, ".jsonl", line.encode())
        monkeypatch.undo()
    finally:
        rcv.stop()
    assert len(os.listdir(rcv.spool_json)) == 1  # the staging file

    out = tmp_path / "out"
    start_file_ingest(
        spark, rcv.spool_json, str(out), str(tmp_path / "ck")
    ).awaitTermination()
    assert not out.exists() or read_spans(spark, str(out)).count() == 0


def test_receiver_rejects_bad_requests(tmp_path):
    import pytest

    rcv = OTLPReceiver(str(tmp_path / "spool"), host="127.0.0.1", port=0).start()
    try:
        for body, ctype, code in [
            (b"not json{", "application/json", 400),
            (b"x", "text/plain", 415),
        ]:
            with pytest.raises(urllib.error.HTTPError) as e:
                _post(rcv.port, body, ctype)
            assert e.value.code == code
        # GET → 405 (only POST allowed), wrong path → 404
        with pytest.raises(urllib.error.HTTPError) as e:
            urllib.request.urlopen(f"http://127.0.0.1:{rcv.port}/v1/traces")
        assert e.value.code == 405
        with pytest.raises(urllib.error.HTTPError) as e:
            req = urllib.request.Request(
                f"http://127.0.0.1:{rcv.port}/v1/metrics",
                data=b"{}", headers={"Content-Type": "application/json"},
                method="POST",
            )
            urllib.request.urlopen(req)
        assert e.value.code == 404
        # A malformed Content-Length gets a 400, not a dropped
        # connection ("abc") or a handler blocked reading to EOF ("-1").
        # Raw sockets: urllib always sends a well-formed length.
        import socket

        for length in (b"abc", b"-1"):
            with socket.create_connection(("127.0.0.1", rcv.port), timeout=5) as s:
                s.sendall(
                    b"POST /v1/traces HTTP/1.1\r\nHost: 127.0.0.1\r\n"
                    b"Content-Type: application/json\r\n"
                    b"Content-Length: " + length + b"\r\n\r\n{}"
                )
                status_line = s.makefile("rb").readline()
            assert status_line.split()[1:2] == [b"400"], (length, status_line)
        # nothing reached the spool from any rejected request
        import os

        assert len(os.listdir(rcv.spool_pb)) == 0
        assert len(os.listdir(rcv.spool_json)) == 0
    finally:
        rcv.stop()
