"""In-process webhook receiver: records every POST with its arrival time.

One ``ThreadingHTTPServer`` on localhost serves both destinations under
``/discord`` and ``/slack``.  It speaks HTTP/1.1 keep-alive, so each
Spark partition's ``http_transport`` connection stays open for its rows.
"""

from __future__ import annotations

import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer


class WebhookReceiver:
    """Context manager: ``urls`` maps destination -> URL; ``posts`` holds
    ``(destination, arrival_ns, body)`` in arrival order."""

    def __init__(self) -> None:
        self.posts: list[tuple[str, int, bytes]] = []
        self.errors = 0
        self._lock = threading.Lock()
        receiver = self

        class Handler(BaseHTTPRequestHandler):
            protocol_version = "HTTP/1.1"

            def do_POST(self) -> None:  # noqa: N802 (stdlib hook name)
                body = self.rfile.read(int(self.headers.get("Content-Length", 0)))
                arrival = time.time_ns()
                dest = self.path.strip("/")
                with receiver._lock:
                    if dest in ("discord", "slack"):
                        receiver.posts.append((dest, arrival, body))
                    else:
                        receiver.errors += 1
                self.send_response(204)
                self.send_header("Content-Length", "0")
                self.end_headers()

            def log_message(self, *args) -> None:
                pass

        self._server = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self._server.daemon_threads = True
        port = self._server.server_address[1]
        self.urls = {d: f"http://127.0.0.1:{port}/{d}" for d in ("discord", "slack")}
        self._thread = threading.Thread(target=self._server.serve_forever, daemon=True)

    def __enter__(self) -> "WebhookReceiver":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._server.shutdown()
        self._server.server_close()
        self._thread.join(timeout=10)

    def snapshot(self) -> list[tuple[str, int, bytes]]:
        with self._lock:
            return list(self.posts)
