"""Observability (df.observe counters) and the HTTP delivery sink, driven
against an in-process HTTP receiver."""

import base64
import gzip
import http.server
import json
import os
import re
import shutil
import threading
import time

import pytest
from pyspark.sql import functions as F

from snapshot_sender_spark.plans import delivery, http_sink, job, metrics
from snapshot_sender_spark.sources import fixtures as fx


def test_observe_counts(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/orders.parquet")
    instrumented, obs = metrics.observe_counts(
        df,
        "order_metrics",
        total=None,
        finished=F.col("o_orderstatus") == "F",
        big=F.col("o_totalprice") > 200000,
    )
    n = instrumented.count()
    got = obs.get
    assert got["total"] == n
    exp_f = df.filter(F.col("o_orderstatus") == "F").count()
    assert got["finished"] == exp_f
    assert got["big"] == df.filter(F.col("o_totalprice") > 200000).count()


def test_observe_delivery_counters(spark, tmp_path):
    """The job report's counter family, aggregated from the sink's receipts."""
    f = fx.generate(str(tmp_path), n_files=4, records_per_file=10, seed=3)
    cfg = delivery.RunConfig(correlation_id="m1", topic_name=f.topic)
    got = job.run_delivery_job(
        spark, f.input_dir, f.status_dir, f.output_dir, str(tmp_path / "st"), cfg
    ).counters
    payload_bytes = sum(
        os.path.getsize(os.path.join(f.output_dir, n))
        for n in os.listdir(f.output_dir)
        if n.endswith(".json.gz")
    )
    assert got["snapshot_sender_files_sent_success"] == 4
    assert got["snapshot_sender_bytes_sent"] > 0
    assert got["snapshot_sender_bytes_sent"] == payload_bytes
    assert got["snapshot_sender_topics_seen"] == 1


def test_push_gateway_gated():
    # prometheus_client is absent in this container → graceful False
    ok = metrics.push_to_gateway({"c": 1.0}, job="t", grouping={"a": "b"})
    assert ok is False


class _Receiver(http.server.BaseHTTPRequestHandler):
    store = []
    fail_first_n = 0
    respond_202_first_n = 0

    def do_POST(self):
        cls = type(self)
        if cls.fail_first_n > 0:
            cls.fail_first_n -= 1
            self.send_response(503)
            self.end_headers()
            return
        if cls.respond_202_first_n > 0:
            cls.respond_202_first_n -= 1
            self.rfile.read(int(self.headers["Content-Length"]))
            self.send_response(202)
            self.end_headers()
            return
        body = self.rfile.read(int(self.headers["Content-Length"]))
        cls.store.append({"headers": dict(self.headers), "body": body})
        self.send_response(200)
        self.end_headers()

    def log_message(self, *a):
        pass


@pytest.fixture()
def receiver():
    _Receiver.store = []
    _Receiver.fail_first_n = 0
    _Receiver.respond_202_first_n = 0
    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), _Receiver)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield srv, f"http://127.0.0.1:{srv.server_address[1]}/"
    srv.shutdown()


def test_http_sink_delivers_with_headers(spark, tmp_path, receiver):
    srv, url = receiver
    f = fx.generate(str(tmp_path), n_files=3, records_per_file=5, seed=9)
    cfg = delivery.RunConfig(correlation_id="c-42", topic_name=f.topic)
    result = delivery.build_decrypted(spark, f.input_dir, f.status_dir, cfg)
    receipts = http_sink.http_deliver(
        result.delivered,
        url,
        correlation_id="c-42",
        export_date="2026-08-13",
        snapshot_type="drift_testing_incremental",
        status_dir=f.status_dir,
    ).to_pylist()
    assert len(_Receiver.store) == 3
    assert all(r["status_code"] == 200 and r["attempts"] == 1 for r in receipts)
    sample = _Receiver.store[0]
    h = {k.lower(): v for k, v in sample["headers"].items()}
    assert h["database"] == "core"
    assert h["collection"] == "claimant"
    assert h["topic"] == "db.core.claimant"
    assert h["correlation_id"] == "c-42"
    assert h["snapshot_type"] == "incremental"  # drift_testing_incremental normalized
    assert h["filename"].endswith(".json.gz")
    # body is the still-gzipped JSON-L payload, forwarded unparsed
    lines = gzip.decompress(sample["body"]).decode().strip().split("\n")
    assert len(lines) == 5
    json.loads(lines[0])
    # one marker per posted file, renamed into place (no tmp left behind)
    assert sorted(os.listdir(f.status_dir)) == sorted(n + ".finished" for n in f.files)


def _add_files(dst, src):
    """Copy fixture ``src``'s encrypted files and sidecar rows into ``dst``."""
    for name in src.files:
        shutil.copy(os.path.join(src.input_dir, name), dst.input_dir)
    sidecar = "metadata.sidecar.jsonl"
    with open(os.path.join(src.input_dir, sidecar)) as fh:
        rows = fh.read()
    with open(os.path.join(dst.input_dir, sidecar), "a") as fh:
        fh.write(rows)
    return [json.loads(line) for line in rows.splitlines()]


def test_http_sink_refuses_wrong_key_file_unposted(spark, tmp_path, receiver):
    """A file whose data key resolves to the wrong key decrypts to non-gzip:
    the sink fails naming it, and the receiver never gets its body and no
    marker says it finished."""
    srv, url = receiver
    f = fx.generate(str(tmp_path / "a"), n_files=2, records_per_file=3, seed=41)
    other = fx.generate(
        str(tmp_path / "b"), topic="db.core.other", n_files=1, records_per_file=3, seed=42
    )
    [bad_meta] = _add_files(f, other)
    victim = bad_meta["fileName"]
    wrong = base64.b64encode(b"\x01" * 32).decode()

    def key_lookup(pairs):
        return [
            (kid, ct, wrong if ct == bad_meta["cipherText"] else fx.decrypt_data_key(ct))
            for kid, ct in pairs
        ]

    cfg = delivery.RunConfig(correlation_id="wk", topic_name=f.topic)
    result = delivery.build_decrypted(
        spark, f.input_dir, f.status_dir, cfg, key_lookup=key_lookup
    )
    with pytest.raises(Exception, match="ValueError: " + re.escape(victim)):
        http_sink.http_deliver(
            result.delivered, url, correlation_id="wk", export_date="d",
            status_dir=f.status_dir,
        )
    posted = [{k.lower(): v for k, v in r["headers"].items()} for r in _Receiver.store]
    assert victim.replace(".txt.gz.enc", ".json.gz") not in [h["filename"] for h in posted]
    assert victim + ".finished" not in os.listdir(f.status_dir)


def test_http_sink_unresolved_key_raises_naming_file(spark, tmp_path, receiver):
    """A key lookup that resolves nothing fails the sink with a ValueError
    naming the file, before any POST."""
    srv, url = receiver
    f = fx.generate(str(tmp_path), n_files=1, records_per_file=3, seed=43)
    cfg = delivery.RunConfig(correlation_id="nk", topic_name=f.topic)
    result = delivery.build_decrypted(
        spark, f.input_dir, f.status_dir, cfg, key_lookup=lambda pairs: []
    )
    with pytest.raises(Exception, match="ValueError: " + re.escape(f.files[0])):
        http_sink.http_deliver(
            result.delivered, url, correlation_id="nk", export_date="d",
            status_dir=f.status_dir,
        )
    assert _Receiver.store == []
    assert os.listdir(f.status_dir) == []


def test_http_sink_retries_then_succeeds(spark, tmp_path, receiver):
    srv, url = receiver
    _Receiver.fail_first_n = 2  # two 503s, then healthy
    f = fx.generate(str(tmp_path), n_files=1, records_per_file=3, seed=11)
    cfg = delivery.RunConfig(correlation_id="r", topic_name=f.topic)
    result = delivery.build_decrypted(spark, f.input_dir, f.status_dir, cfg)
    receipts = http_sink.http_deliver(
        result.delivered, url, correlation_id="r", export_date="d", backoff_s=0.01
    ).to_pylist()
    assert len(_Receiver.store) == 1
    assert receipts[0]["attempts"] == 3  # two 503s, success on third


def test_http_sink_materializes_once(spark, tmp_path, receiver):
    # Reading the receipts again must not re-POST: http_deliver returns them
    # as a driver-side Table, so count+collect+count = 1 send/file.
    srv, url = receiver
    f = fx.generate(str(tmp_path), n_files=2, records_per_file=4, seed=21)
    cfg = delivery.RunConfig(correlation_id="once", topic_name=f.topic)
    result = delivery.build_decrypted(spark, f.input_dir, f.status_dir, cfg)
    receipts = http_sink.http_deliver(
        result.delivered, url, correlation_id="once", export_date="d"
    )
    assert receipts.num_rows == 2
    assert len(receipts.to_pylist()) == 2
    assert receipts.num_rows == 2
    assert len(_Receiver.store) == 2  # not 6


def test_http_sink_202_is_not_success(spark, tmp_path, receiver):
    # HttpWriter.kt:82-115: only 200 counts as delivered; other 2xx retried.
    srv, url = receiver
    _Receiver.respond_202_first_n = 1
    f = fx.generate(str(tmp_path), n_files=1, records_per_file=3, seed=22)
    cfg = delivery.RunConfig(correlation_id="s202", topic_name=f.topic)
    result = delivery.build_decrypted(spark, f.input_dir, f.status_dir, cfg)
    receipts = http_sink.http_deliver(
        result.delivered, url, correlation_id="s202", export_date="d", backoff_s=0.01
    ).to_pylist()
    assert receipts[0]["attempts"] == 2  # 202 retried, 200 accepted
    assert receipts[0]["status_code"] == 200


def test_http_sink_exhausts_retries(spark, tmp_path, receiver):
    srv, url = receiver
    _Receiver.fail_first_n = 10**6
    f = fx.generate(str(tmp_path), n_files=1, records_per_file=3, seed=12)
    cfg = delivery.RunConfig(correlation_id="x", topic_name=f.topic)
    result = delivery.build_decrypted(spark, f.input_dir, f.status_dir, cfg)
    with pytest.raises(Exception):  # DeliveryError surfaces as a Spark task failure
        http_sink.http_deliver(
            result.delivered, url, correlation_id="x", export_date="d",
            max_retries=2, backoff_s=0.01,
        )


def _make_self_signed(tmp_path):
    """Self-signed localhost cert via the cryptography lib (already a crypto
    dependency of the decrypt UDF)."""
    import datetime
    import ipaddress

    from cryptography import x509
    from cryptography.hazmat.primitives import hashes, serialization
    from cryptography.hazmat.primitives.asymmetric import rsa
    from cryptography.x509.oid import NameOID

    key = rsa.generate_private_key(public_exponent=65537, key_size=2048)
    name = x509.Name([x509.NameAttribute(NameOID.COMMON_NAME, "localhost")])
    now = datetime.datetime(2026, 1, 1)
    cert = (
        x509.CertificateBuilder()
        .subject_name(name)
        .issuer_name(name)
        .public_key(key.public_key())
        .serial_number(x509.random_serial_number())
        .not_valid_before(now)
        .not_valid_after(now + datetime.timedelta(days=3650))
        .add_extension(
            x509.SubjectAlternativeName(
                [x509.DNSName("localhost"), x509.IPAddress(ipaddress.ip_address("127.0.0.1"))]
            ),
            critical=False,
        )
        .sign(key, hashes.SHA256())
    )
    certfile = str(tmp_path / "srv.crt")
    keyfile = str(tmp_path / "srv.key")
    with open(certfile, "wb") as fh:
        fh.write(cert.public_bytes(serialization.Encoding.PEM))
    with open(keyfile, "wb") as fh:
        fh.write(
            key.private_bytes(
                serialization.Encoding.PEM,
                serialization.PrivateFormat.TraditionalOpenSSL,
                serialization.NoEncryption(),
            )
        )
    return certfile, keyfile


def test_http_sink_tls(spark, tmp_path):
    """Delivery over HTTPS with a private CA: the sink builds its SSLContext
    from file paths inside the task (contexts don't pickle) and trusts the
    receiver's self-signed cert via tls={'cafile': ...} — the reference's
    trust.keystore config (SecureHttpClientProvider.kt:36-60)."""
    import ssl

    certfile, keyfile = _make_self_signed(tmp_path)
    _Receiver.store = []
    _Receiver.fail_first_n = 0
    _Receiver.respond_202_first_n = 0
    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), _Receiver)
    ctx = ssl.SSLContext(ssl.PROTOCOL_TLS_SERVER)
    ctx.load_cert_chain(certfile, keyfile)
    srv.socket = ctx.wrap_socket(srv.socket, server_side=True)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        url = f"https://127.0.0.1:{srv.server_address[1]}/"
        f = fx.generate(str(tmp_path), n_files=2, records_per_file=3, seed=31)
        cfg = delivery.RunConfig(correlation_id="tls", topic_name=f.topic)
        result = delivery.build_decrypted(spark, f.input_dir, f.status_dir, cfg)
        receipts = http_sink.http_deliver(
            result.delivered,
            url,
            correlation_id="tls",
            export_date="d",
            tls={"cafile": certfile, "check_hostname": False},
        ).to_pylist()
        assert len(receipts) == 2 and all(r["status_code"] == 200 for r in receipts)
        assert len(_Receiver.store) == 2
    finally:
        srv.shutdown()


class _StubGateway:
    """Records the push/delete call sequence the way a real pushgateway would
    see it (prometheus_client isn't in this container)."""

    def __init__(self):
        self.events = []

    def push(self, job, grouping, counters):
        self.events.append(("push", job, dict(grouping), dict(counters)))

    def delete(self, job, grouping):
        self.events.append(("delete", job, dict(grouping)))


def test_pushgateway_lifecycle_scheduled_then_final_then_delete():
    """PushGatewayServiceImpl.kt:22-44 parity: periodic pushes at the
    configured rate after the initial delay; push_final cancels the schedule,
    pushes one last snapshot, waits one scrape interval, then deletes the
    grouping key. Sequence and grouping-key fidelity pinned via a stub."""
    from snapshot_sender_spark.plans.metrics import PushGatewayLifecycle

    gw = _StubGateway()
    counts = {"snapshot_sender_files_sent_success": 0}
    grouping = {"topic_name": "db.a.b", "correlation_id": "c1"}
    lc = PushGatewayLifecycle(
        gw,
        lambda: counts,
        grouping=grouping,
        push_rate=0.05,
        initial_delay=0.02,
        scrape_interval=0.05,
    ).start()
    deadline = time.time() + 5
    while len(gw.events) < 3 and time.time() < deadline:
        time.sleep(0.01)
    counts["snapshot_sender_files_sent_success"] = 7  # progress mid-run
    lc.push_final()
    kinds = [e[0] for e in gw.events]
    # ≥3 scheduled pushes happened, then exactly one final push, then delete
    assert kinds.count("push") >= 4 and kinds[-1] == "delete" and kinds[-2] == "push"
    assert all(k == "push" for k in kinds[:-1])
    # the final push carries the final counter values and the grouping key
    final_push = gw.events[-2]
    assert final_push[3]["snapshot_sender_files_sent_success"] == 7
    assert final_push[2] == grouping and gw.events[-1][2] == grouping
    # schedule is genuinely cancelled: no pushes after the delete
    n = len(gw.events)
    time.sleep(0.2)
    assert len(gw.events) == n


class _GatewayStub(http.server.BaseHTTPRequestHandler):
    """Records requests the way a real pushgateway would see them: method,
    full path, content-type, raw body."""

    requests: list = []

    def _handle(self):
        n = int(self.headers.get("Content-Length") or 0)
        type(self).requests.append(
            {
                "method": self.command,
                "path": self.path,
                "content_type": self.headers.get("Content-Type"),
                "body": self.rfile.read(n) if n else b"",
            }
        )
        self.send_response(200)
        self.end_headers()

    do_PUT = do_POST = do_DELETE = _handle

    def log_message(self, *a):
        pass


def test_pushgateway_wire_protocol():
    """HTTP-level parity (verdict #8): the dependency-free HttpPushGateway
    speaks the public pushgateway wire protocol — PUT/DELETE against
    /metrics/job/<job>/<label>/<value> with sorted grouping keys, base64url
    escape for values containing '/', a bare '=' for empty values,
    percent-encoding otherwise, and a version-0.0.4 text-exposition body.
    PushGatewayServiceImpl.kt:49-53 parity at the wire, not via a stub class."""
    from snapshot_sender_spark.plans.metrics import HttpPushGateway

    _GatewayStub.requests = []
    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), _GatewayStub)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        gw = HttpPushGateway(f"127.0.0.1:{srv.server_address[1]}")
        grouping = {
            "topic_name": "db/core/addressDeclaration",  # '/' → base64 escape
            "correlation_id": "run 7",  # space → percent-encoding
            "export_date": "",  # empty → '='
        }
        gw.push(
            "snapshot_sender",
            grouping,
            {"snapshot_sender_files_sent_success": 7, "snapshot_sender_bytes_sent": 1024.5},
        )
        gw.delete("snapshot_sender", grouping)
        assert [r["method"] for r in _GatewayStub.requests] == ["PUT", "DELETE"]
        put, dele = _GatewayStub.requests
        import base64

        b64_topic = base64.urlsafe_b64encode(b"db/core/addressDeclaration").decode()
        want_path = (
            "/metrics/job/snapshot_sender"
            "/correlation_id/run%207"
            "/export_date@base64/="
            f"/topic_name@base64/{b64_topic}"
        )
        assert put["path"] == want_path and dele["path"] == want_path
        assert put["content_type"] == "text/plain; version=0.0.4; charset=utf-8"
        assert put["body"] == (
            b"# TYPE snapshot_sender_files_sent_success gauge\n"
            b"snapshot_sender_files_sent_success 7.0\n"
            b"# TYPE snapshot_sender_bytes_sent gauge\n"
            b"snapshot_sender_bytes_sent 1024.5\n"
        )
        assert dele["body"] == b""
    finally:
        srv.shutdown()


def test_pushgateway_lifecycle_over_http():
    """The full lifecycle (scheduled pushes → final push → delete-after-scrape)
    driven end-to-end over real HTTP against the stub gateway — the wire-level
    variant of the _StubGateway sequence test above."""
    from snapshot_sender_spark.plans.metrics import HttpPushGateway, PushGatewayLifecycle

    _GatewayStub.requests = []
    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), _GatewayStub)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        counts = {"snapshot_sender_files_sent_success": 0}
        lc = PushGatewayLifecycle(
            HttpPushGateway(f"127.0.0.1:{srv.server_address[1]}"),
            lambda: counts,
            grouping={"correlation_id": "c1"},
            push_rate=0.05,
            initial_delay=0.02,
            scrape_interval=0.05,
        ).start()
        deadline = time.time() + 5
        while len(_GatewayStub.requests) < 2 and time.time() < deadline:
            time.sleep(0.01)
        counts["snapshot_sender_files_sent_success"] = 9
        lc.push_final()
        methods = [r["method"] for r in _GatewayStub.requests]
        assert methods[-1] == "DELETE" and all(m == "PUT" for m in methods[:-1])
        assert len(methods) >= 4  # ≥2 scheduled + 1 final + delete
        assert b"snapshot_sender_files_sent_success 9.0\n" in _GatewayStub.requests[-2]["body"]
    finally:
        srv.shutdown()


def test_pushgateway_lifecycle_delete_disabled():
    """delete.metrics=false parity: the final push happens, the series stays."""
    from snapshot_sender_spark.plans.metrics import PushGatewayLifecycle

    gw = _StubGateway()
    lc = PushGatewayLifecycle(
        gw, lambda: {"c": 1}, push_rate=0.05, initial_delay=0.01,
        scrape_interval=0.01, delete_metrics=False,
    ).start()
    time.sleep(0.1)
    lc.push_final()
    assert gw.events and all(e[0] == "push" for e in gw.events)
