"""The live workload's loopback site, served from its own process.

Serves ``suckit_spark.sources.loopback.site_paths`` plus a ``robots.txt`` on
127.0.0.1 and acts as the measuring end of the load: it counts requests,
TCP connections, bytes served and requests for disallowed paths, and times
each request's service (from the parsed request to the last body byte).

Protocol over stdin/stdout, one line each: the server prints
``ready <port>``; a ``stats`` line gets one JSON line of cumulative
counters back; ``quit`` or end of input stops the server.

    python3 crawlbench/site.py --pages 307 --fanout 8 --seed 4 --disallow /p1
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from suckit_spark.sources.loopback import site_paths  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", type=int, required=True)
    ap.add_argument("--fanout", type=int, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--disallow", required=True)
    args = ap.parse_args()

    site = site_paths(args.pages, args.fanout, args.seed)
    site["/robots.txt"] = (
        f"User-agent: *\nDisallow: {args.disallow}\n".encode())
    lock = threading.Lock()
    stats = {"requests": 0, "connections": 0, "bytes": 0,
             "disallowed_requests": 0, "service_ms": []}

    class Handler(BaseHTTPRequestHandler):
        protocol_version = "HTTP/1.1"
        disable_nagle_algorithm = True

        def setup(self):
            with lock:
                stats["connections"] += 1
            super().setup()

        def do_GET(self):
            t0 = time.perf_counter()
            body = site.get(self.path)
            if body is None:
                body = b"<html>404</html>"
                self.send_response(404)
            else:
                self.send_response(200)
            self.send_header("Content-Type", "text/html")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)
            ms = (time.perf_counter() - t0) * 1000
            with lock:
                stats["requests"] += 1
                stats["bytes"] += len(body) if self.path != "/robots.txt" else 0
                stats["service_ms"].append(ms)
                if self.path.startswith(args.disallow):
                    stats["disallowed_requests"] += 1

        def log_message(self, *a):
            pass

    srv = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    srv.daemon_threads = True
    thread = threading.Thread(target=srv.serve_forever, daemon=True)
    thread.start()
    print(f"ready {srv.server_address[1]}", flush=True)
    for line in sys.stdin:
        cmd = line.strip()
        if cmd == "stats":
            with lock:
                print(json.dumps(stats), flush=True)
        elif cmd == "quit":
            break
    srv.shutdown()
    srv.server_close()


if __name__ == "__main__":
    main()
