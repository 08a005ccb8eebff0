"""Stdlib HTTP endpoint standing in for the REST completion service.

`RestNotifier` POSTs `{url}/{logid}/{logdate}`; the endpoint answers
204 and records (arrival time on the `time.time()` clock, logdate).
It serves on one thread on localhost until `close()`.
"""

from __future__ import annotations

import threading
import time
from http.server import BaseHTTPRequestHandler, HTTPServer


class NotifyEndpoint:
    def __init__(self) -> None:
        self.arrivals: list[tuple[float, str]] = []
        self.non2xx = 0
        lock = threading.Lock()
        outer = self

        class Handler(BaseHTTPRequestHandler):
            def do_POST(self) -> None:  # noqa: N802 (http.server API)
                now = time.time()
                parts = self.path.strip("/").split("/")
                if len(parts) != 2:
                    with lock:
                        outer.non2xx += 1
                    self.send_response(404)
                    self.end_headers()
                    return
                with lock:
                    outer.arrivals.append((now, parts[1]))
                self.send_response(204)
                self.end_headers()

            def log_message(self, *args) -> None:
                pass

        self._server = HTTPServer(("127.0.0.1", 0), Handler)
        self._thread = threading.Thread(
            target=self._server.serve_forever, name="notify-endpoint"
        )
        self._thread.start()
        self.url = f"http://127.0.0.1:{self._server.server_address[1]}"

    def take(self) -> list[tuple[float, str]]:
        """Arrivals since the last call."""
        out, self.arrivals = self.arrivals, []
        return out

    def close(self) -> None:
        self._server.shutdown()
        self._server.server_close()
        self._thread.join(timeout=10)
