"""Delivery receiver: a stdlib HTTP server that records what it is sent.

Run as its own process (``python3 receiver.py <port-file>``).  It binds
an ephemeral port on 127.0.0.1, writes the port to ``<port-file>``, and
answers every ``POST`` with 200 after recording the ids in the body: the
``id`` of a one-row result, or the ``id`` of each row of an N-row
``{"results": [...]}`` result.  ``GET /ids`` returns the list of recorded
ids, one entry per POSTed row, so duplicates stay visible.  The engine
does not mock ``127.0.0.1`` destinations, so delivery is real.
"""

from __future__ import annotations

import json
import os
import sys
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer


def _ids(body: object) -> list[str]:
    if isinstance(body, dict) and isinstance(body.get("results"), list):
        return [str(r.get("id")) for r in body["results"] if isinstance(r, dict)]
    if isinstance(body, dict) and "id" in body:
        return [str(body["id"])]
    return ["<unrecognised>"]


def main(port_file: str) -> None:
    received: list[str] = []
    lock = threading.Lock()

    class Handler(BaseHTTPRequestHandler):
        protocol_version = "HTTP/1.1"

        def log_message(self, fmt, *args):
            pass

        def _reply(self, obj: object) -> None:
            data = json.dumps(obj).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(data)))
            self.end_headers()
            self.wfile.write(data)

        def do_POST(self):
            n = int(self.headers.get("Content-Length") or 0)
            try:
                ids = _ids(json.loads(self.rfile.read(n) or b"null"))
            except ValueError:
                ids = ["<invalid-json>"]
            with lock:
                received.extend(ids)
            self._reply({"status": "received"})

        def do_GET(self):
            with lock:
                snapshot = list(received)
            self._reply({"ids": snapshot})

    class Server(ThreadingHTTPServer):
        daemon_threads = True
        request_queue_size = 128

    httpd = Server(("127.0.0.1", 0), Handler)
    tmp = port_file + ".tmp"
    with open(tmp, "w") as fh:
        fh.write(str(httpd.server_address[1]))
    os.rename(tmp, port_file)
    try:
        httpd.serve_forever()
    finally:
        httpd.server_close()


if __name__ == "__main__":
    main(sys.argv[1])
