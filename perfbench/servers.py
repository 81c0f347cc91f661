"""Loopback HTTP servers for the ``a911_ingest`` workload.

``InterfaceServer`` speaks the Active911 interface protocol the engine's
``transport=http`` source uses (login with session cookie + JWT, then one
archived-alerts fetch per agency) and serves pre-encoded JSONP payloads.
``CollectorServer`` is the ETL API that ``streaming.http_sink`` posts
FeatureCollections to; it keeps every posted feature for the correctness
check. Both handle requests on a pool of at most ``threads`` worker
threads, count what crosses the wire, and answer ``GET /stats`` with
those counts as JSON. They run in the launcher, so their memory and CPU
are not the program's.
"""

from __future__ import annotations

import base64
import csv
import io
import json
import re
import threading
from concurrent.futures import ThreadPoolExecutor
from http.server import BaseHTTPRequestHandler, HTTPServer

JWT = "perfbench-jwt"
COOKIE = "A911SESS=perfbench"
USERNAME, PASSWORD = "bench", "bench-pass"
#: every pull asks for its own [from, to) window of this width; the
#: server maps ``from_date`` back to the pull index
WINDOW_MS = 6 * 3600 * 1000


def encode_jsonp(columns: list[str], rows: list[tuple]) -> bytes:
    """Alert rows → the wire format: JSONP around base64 of a headed CSV."""
    buf = io.StringIO()
    writer = csv.writer(buf)
    writer.writerow(columns)
    writer.writerows(rows)
    message = base64.b64encode(buf.getvalue().encode("utf-8")).decode("ascii")
    return f"jQuery1({json.dumps({'result': 'success', 'message': message})})".encode()


class _PooledServer(HTTPServer):
    """HTTPServer whose requests run on a bounded thread pool."""

    def __init__(self, handler, threads: int):
        super().__init__(("127.0.0.1", 0), handler)
        self._pool = ThreadPoolExecutor(max_workers=threads)
        self.lock = threading.Lock()
        self._thread = threading.Thread(target=self.serve_forever, daemon=True)

    def process_request(self, request, client_address):
        self._pool.submit(self._handle, request, client_address)

    def _handle(self, request, client_address):
        try:
            self.finish_request(request, client_address)
        except Exception:  # noqa: BLE001 — a broken client must not kill the pool
            self.handle_error(request, client_address)
        finally:
            self.shutdown_request(request)

    @property
    def url(self) -> str:
        return f"http://127.0.0.1:{self.server_address[1]}"

    def start(self):
        self._thread.start()
        return self

    def stop(self) -> None:
        self.shutdown()
        self._thread.join()
        self._pool.shutdown(wait=True)
        self.server_close()


class _Quiet(BaseHTTPRequestHandler):
    protocol_version = "HTTP/1.0"

    def log_message(self, *args):
        pass

    def _reply(self, data: bytes, cookie: str | None = None) -> None:
        self.send_response(200)
        self.send_header("Content-Type", "text/javascript")
        self.send_header("Content-Length", str(len(data)))
        if cookie:
            self.send_header("Set-Cookie", cookie)
        self.end_headers()
        self.wfile.write(data)

    def do_GET(self):  # noqa: N802 — stdlib naming
        with self.server.lock:
            data = json.dumps(self.server.stats()).encode()
        self._reply(data)


def _field(body: str, name: str) -> str:
    m = re.search(rf'name="{name}"\r\n\r\n(.*?)\r\n--', body, re.S)
    return m.group(1) if m else ""


class _InterfaceHandler(_Quiet):
    def do_POST(self):  # noqa: N802 — stdlib naming
        srv = self.server
        body = self.rfile.read(int(self.headers.get("Content-Length", 0))).decode()
        post_data = json.loads(_field(body, "post_data") or "{}")
        if _field(body, "operation") == "login":
            ok = post_data.get("username") == USERNAME and post_data.get("password") == PASSWORD
            msg = {"jwt": JWT, "agencies": [{"id": a} for a in srv.agencies]} if ok else "bad creds"
            data = ("(" + json.dumps({"result": "success", "message": msg}) + ")").encode()
            with srv.lock:
                srv.logins += 1
                srv.bytes_out += len(data)
            self._reply(data, COOKIE if ok else None)
            return
        if COOKIE.split("=")[0] not in (self.headers.get("Cookie") or "") or _field(body, "auth") != JWT:
            data = f"jQuery1({json.dumps({'result': 'error', 'message': 'unauthorized'})})".encode()
        else:
            pull = int(post_data["from_date"]) // WINDOW_MS
            data = srv.payloads[pull][int(post_data["agency_id"])]
        with srv.lock:
            srv.fetches += 1
            srv.bytes_out += len(data)
        self._reply(data)


class InterfaceServer(_PooledServer):
    """``payloads[pull][agency]`` = the JSONP bytes one fetch returns."""

    def __init__(self, payloads: list[dict[int, bytes]], agencies: list[int], threads: int):
        super().__init__(_InterfaceHandler, threads)
        self.payloads = payloads
        self.agencies = agencies
        self.logins = self.fetches = self.bytes_out = 0

    def stats(self) -> dict:
        return {"logins": self.logins, "fetches": self.fetches, "bytes": self.bytes_out}


class _CollectorHandler(_Quiet):
    def do_POST(self):  # noqa: N802
        srv = self.server
        body = self.rfile.read(int(self.headers.get("Content-Length", 0)))
        features = json.loads(body)["features"]
        with srv.lock:
            srv.posts += 1
            srv.bytes_in += len(body)
            srv.features.extend(features)
        self._reply(b"ok")


class CollectorServer(_PooledServer):
    def __init__(self, threads: int):
        super().__init__(_CollectorHandler, threads)
        self.posts = self.bytes_in = 0
        self.features: list[dict] = []

    def stats(self) -> dict:
        return {"posts": self.posts, "bytes": self.bytes_in}

    def take(self) -> list[dict]:
        """Hand over (and forget) everything posted so far."""
        with self.lock:
            got, self.features = self.features, []
        return got
