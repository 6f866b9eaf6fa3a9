"""A Qdrant stand-in served by the load process.

It answers the three calls the engine's Qdrant sink makes — the collection
info GET, batched point upserts and point deletes — from a fixed pool of
worker threads, counts requests and bytes, and keeps the final state of
every point id it was sent (upserted or deleted), so the load process can
compare what reached the sink with its own reference. Point ids are
read from the upsert bodies with one regular expression; vectors are not
parsed, so the mock spends little CPU beside the engine.
"""

from __future__ import annotations

import json
import re
import threading
from concurrent.futures import ThreadPoolExecutor
from http.server import BaseHTTPRequestHandler, HTTPServer

_POINT_ID = re.compile(rb'\{"id":(\d+),"vector":')


class MockQdrant:
    """Mock Qdrant HTTP endpoint on 127.0.0.1. ``threads`` bounds both the
    handler threads and the connections served at once."""

    def __init__(self, dim: int, threads: int = 4):
        self.dim = dim
        self.lock = threading.Lock()
        self.requests = 0
        self.bytes = 0
        self.errors = 0
        self.points: dict[int, bool] = {}  # fnv id -> live after last request
        mock = self

        class Handler(BaseHTTPRequestHandler):
            def _body(self) -> bytes:
                n = int(self.headers.get("Content-Length") or 0)
                return self.rfile.read(n) if n else b""

            def _reply(self, doc: dict) -> None:
                out = json.dumps(doc).encode()
                self.send_response(200)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(out)))
                self.end_headers()
                self.wfile.write(out)

            def do_GET(self):  # collection info: exists, with our dimension
                self._reply({"result": {"config": {"params": {"vectors": {
                    "size": mock.dim, "distance": "Cosine"}}}}, "status": "ok"})

            def do_PUT(self):  # batched upserts
                body = self._body()
                if self.path.split("?")[0].endswith("/points"):
                    ids = [int(x) for x in _POINT_ID.findall(body)]
                    mock._record(ids, True, len(body))
                self._reply({"result": {"status": "completed"}, "status": "ok"})

            def do_POST(self):  # point deletes
                body = self._body()
                try:
                    ids = [int(x) for x in json.loads(body)["points"]]
                except (ValueError, KeyError, TypeError):
                    ids = []
                mock._record(ids, False, len(body))
                self._reply({"result": {"status": "completed"}, "status": "ok"})

            def log_message(self, *args):
                pass

        class Server(HTTPServer):
            request_queue_size = 64

            def process_request(self, request, client_address):
                mock._pool.submit(self.process_request_thread, request, client_address)

            def process_request_thread(self, request, client_address):
                try:
                    self.finish_request(request, client_address)
                except OSError:
                    self.handle_error(request, client_address)
                finally:
                    self.shutdown_request(request)

        self._pool = ThreadPoolExecutor(max_workers=threads, thread_name_prefix="mock")
        self._server = Server(("127.0.0.1", 0), Handler)
        self._thread = threading.Thread(target=self._server.serve_forever, daemon=True)
        self.url = f"http://127.0.0.1:{self._server.server_address[1]}"

    def _record(self, ids: list[int], live: bool, n_bytes: int) -> None:
        """One request: a body without point ids counts as an error."""
        with self.lock:
            self.requests += 1
            self.bytes += n_bytes
            self.errors += int(not ids)
            for i in ids:
                self.points[i] = live

    def counters(self) -> tuple[int, int, int]:
        with self.lock:
            return self.requests, self.bytes, self.errors

    def live_ids(self) -> set[int]:
        with self.lock:
            return {i for i, live in self.points.items() if live}

    def __enter__(self) -> "MockQdrant":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._server.shutdown()
        self._server.server_close()
        self._thread.join(timeout=10)
        self._pool.shutdown(wait=True)
