"""Plain-HTTP source parity (VERDICT r3 missing #2): the reference
reads parquet over HTTP Range requests
(/root/reference/src/Parquet/Reader.hs:222-248); the fast source does
the same through HttpRangeFile. Served by a local stdlib HTTP server
that honors Range — and a Range-ignoring one to prove the guard."""

import os
import socketserver
import sys
import threading
from http.server import BaseHTTPRequestHandler

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tokencodec.spark.httpio import HttpRangeFile


class _RangeHandler(BaseHTTPRequestHandler):
    """Minimal static file server with Range support (stdlib
    http.server does not implement Range)."""
    root = "/tmp"

    def log_message(self, *a):
        pass

    def _path(self):
        return os.path.join(self.root, self.path.lstrip("/"))

    def do_HEAD(self):
        p = self._path()
        if not os.path.isfile(p):
            self.send_error(404)
            return
        self.send_response(200)
        self.send_header("Content-Length", str(os.path.getsize(p)))
        self.send_header("Accept-Ranges", "bytes")
        self.end_headers()

    def do_GET(self):
        p = self._path()
        if not os.path.isfile(p):
            self.send_error(404)
            return
        size = os.path.getsize(p)
        rng = self.headers.get("Range")
        with open(p, "rb") as f:
            if rng and rng.startswith("bytes="):
                a, b = rng[len("bytes="):].split("-")
                a, b = int(a), min(int(b), size - 1)
                f.seek(a)
                body = f.read(b - a + 1)
                self.send_response(206)
                self.send_header("Content-Range", f"bytes {a}-{b}/{size}")
            else:
                body = f.read()
                self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)


class _NoRangeHandler(_RangeHandler):
    """Ignores Range: always 200 + full body (the failure mode the
    client must refuse instead of silently re-downloading per read)."""

    def do_GET(self):
        p = self._path()
        size = os.path.getsize(p)
        with open(p, "rb") as f:
            body = f.read()
        self.send_response(200)
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)


def _serve(handler_cls, root):
    handler = type("H", (handler_cls,), {"root": root})
    srv = socketserver.ThreadingTCPServer(("127.0.0.1", 0), handler)
    srv.daemon_threads = True
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    return srv, f"http://127.0.0.1:{srv.server_address[1]}"


def test_http_range_file_semantics(tmp_path):
    p = tmp_path / "blob.bin"
    p.write_bytes(bytes(range(256)) * 4)
    srv, base = _serve(_RangeHandler, str(tmp_path))
    try:
        f = HttpRangeFile(f"{base}/blob.bin")
        assert f.size() == 1024
        assert f.read(4) == bytes([0, 1, 2, 3])
        assert f.tell() == 4
        f.seek(-2, 2)
        assert f.read() == bytes([254, 255])
        f.seek(256)
        assert f.read(3) == bytes([0, 1, 2])
        assert f.read(0) == b""
        f.seek(2000)
        assert f.read(10) == b""
    finally:
        srv.shutdown()


def test_http_refuses_range_ignoring_server(tmp_path):
    p = tmp_path / "blob.bin"
    p.write_bytes(b"x" * 4096)
    srv, base = _serve(_NoRangeHandler, str(tmp_path))
    try:
        f = HttpRangeFile(f"{base}/blob.bin")
        with pytest.raises(OSError, match="ignored Range"):
            f.read(16)
    finally:
        srv.shutdown()


def test_encode_from_http_source_byte_identical(spark, tmp_path):
    """Encoding the SAME data via http:// URLs must produce
    byte-identical chunks to the plain local path (the file:// parity
    test's protocol, over ranged HTTP)."""
    from pyspark.sql import functions as F

    from tokencodec.spark import encode_job, synth

    src = str(tmp_path / "src")
    synth.token_table(spark, 400, seed=9).write.parquet(src)
    srv, base = _serve(_RangeHandler, src)
    try:
        names = sorted(n for n in os.listdir(src) if n.endswith(".parquet"))
        # a LIST of URLs (the API boundary that survives presigned URLs
        # with commas in their query strings); the string form uses
        # whitespace separators — see test below
        urls = [f"{base}/{n}" for n in names]

        def fingerprint(root_suffix, src_addr):
            root = str(tmp_path / root_suffix)
            encode_job.encode_from_parquet(spark, src_addr, root,
                                           commit_groups=1)
            pages = encode_job.read_pages(spark, root)
            return sorted(
                (r.chunk_uid, r.enc_bytes, r.h) for r in
                pages.select("chunk_uid", "enc_bytes",
                             F.md5(F.col("page_tokens")).alias("h")).collect())

        local = fingerprint("enc_local", src)
        http = fingerprint("enc_http", urls)
        assert local == http and len(local) > 0
    finally:
        srv.shutdown()


def test_http_source_rejects_non_parquet_url():
    from tokencodec.spark import encode_job

    with pytest.raises(ValueError, match="direct .parquet URLs"):
        encode_job._list_parquet("http://example.invalid/dir/")


def test_http_source_url_forms():
    """URL lists pass through verbatim; the string form splits on
    whitespace (never commas — presigned URLs legally carry commas in
    query parameters like X-Amz-SignedHeaders=host;a,b)."""
    from tokencodec.spark import encode_job

    presigned = ("https://b.example/x.parquet"
                 "?X-Amz-SignedHeaders=host%3Bx-amz-date,x-amz-meta"
                 "&X-Amz-Signature=abc")
    assert encode_job._list_parquet([presigned]) == [presigned]
    two = f"{presigned}\nhttp://b.example/y.parquet"
    assert encode_job._list_parquet(two) == [
        presigned, "http://b.example/y.parquet"]
    with pytest.raises(ValueError, match="http\\(s\\) URLs only"):
        encode_job._list_parquet(["/local/path.parquet"])
