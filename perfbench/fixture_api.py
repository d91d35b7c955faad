"""Seeded fixture REST API for the ingest workloads.

Serves an OpenSea-shaped collection over loopback HTTP/1.1 keep-alive:

- ``GET /c/<pass>/page/<p>`` — ``{"items": [...], "next": <url>|null}``,
  ``PER_PAGE`` items a page, cursor pagination;
- ``GET /c/<pass>/meta/<key>`` — ``{"attributes": [{"trait_type", "value"}]}``.

Every request waits ``SERVICE_DELAY_MS`` before answering, like a
remote API would. Each benchmark pass reads its own collection
(``<pass>`` is part of every URL), so no URL repeats across passes;
pass 0, the warm-up, is a short one.
Within a pass, ``pool == 0`` gives every item its own metadata URL;
``pool > 0`` draws each item's metadata key from a seeded pool of that
size, so most enrichment requests repeat an earlier URL.

The collection is a pure function of ``(seed, pass)``: the benchmark
imports ``metadata_key`` and ``attributes`` to derive the expected
output without asking the server.

Run: ``python3 perfbench/fixture_api.py --seed 1 --items 2000 --pool 0 --threads 4``.
It prints ``port <n>`` on stdout, then serves until stdin closes or it
receives SIGTERM. At most ``--threads`` requests are handled at once;
each connection holds a handler thread while it is open.
"""

from __future__ import annotations

import argparse
import json
import random
import signal
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

TRAITS = {
    "background": ["ivory", "slate", "teal", "sand", "plum", "moss"],
    "eyes": ["round", "sleepy", "laser", "wide"],
    "hat": ["none", "cap", "crown", "beanie", "halo"],
    "color": ["red", "green", "blue", "gold"],
    "tier": ["0", "1", "2", "3", "4"],
}
TRAIT_TYPES = sorted(TRAITS)
WARMUP_ITEMS = 200  # pass 0 is the client's untimed warm-up
PER_PAGE = 200
# At 1 ms the collect step was bound by the client's CPU and its
# run-to-run spread followed the host's speed; at 5 ms it waits on the API.
SERVICE_DELAY_MS = 5.0


def pass_items(pass_no: int, items: int) -> int:
    """Collection size of one pass."""
    return min(items, WARMUP_ITEMS) if pass_no == 0 else items


def metadata_key(seed: int, pass_no: int, item: int, pool: int) -> int:
    """Metadata key of ``item``: its own (pool 0) or one drawn from a pool."""
    if pool <= 0:
        return item
    return random.Random(f"{seed}:{pass_no}:key:{item}").randrange(pool)


def attributes(seed: int, pass_no: int, key: int) -> list[dict]:
    """Trait list served for one metadata key: 2 to 4 distinct traits."""
    rng = random.Random(f"{seed}:{pass_no}:meta:{key}")
    kinds = rng.sample(TRAIT_TYPES, 2 + key % 3)
    return [{"trait_type": k, "value": rng.choice(TRAITS[k])} for k in sorted(kinds)]


def page_items(seed: int, pass_no: int, page: int, items: int, pool: int,
               base: str) -> list[dict]:
    lo, hi = page * PER_PAGE, min(pass_items(pass_no, items), (page + 1) * PER_PAGE)
    return [
        {
            "identifier": str(i),
            "collection": f"bench-{pass_no}",
            "contract": f"0x{seed:08x}{pass_no:08x}",
            "token_standard": "erc721",
            "name": f"Bench #{i}",
            "metadata_url": f"{base}/c/{pass_no}/meta/{metadata_key(seed, pass_no, i, pool)}",
        }
        for i in range(lo, hi)
    ]


class BoundedHTTPServer(ThreadingHTTPServer):
    """ThreadingHTTPServer whose handler threads come from a fixed pool."""

    def __init__(self, addr, handler, threads: int):
        super().__init__(addr, handler)
        self.pool = ThreadPoolExecutor(max_workers=threads)

    def process_request(self, request, client_address):
        self.pool.submit(self.process_request_thread, request, client_address)

    def server_close(self):
        super().server_close()
        self.pool.shutdown(wait=False, cancel_futures=True)


def make_handler(args: argparse.Namespace, base: list[str]):
    class Handler(BaseHTTPRequestHandler):
        protocol_version = "HTTP/1.1"  # keep-alive, so the client pool is used
        disable_nagle_algorithm = True  # one response must not wait for an ACK
        timeout = 30

        def do_GET(self):  # noqa: N802 (http.server API)
            time.sleep(SERVICE_DELAY_MS / 1000.0)
            parts = self.path.strip("/").split("/")
            try:
                _, pass_no, kind, num = parts
                pass_no, num = int(pass_no), int(num)
            except ValueError:
                return self._send(404, {"error": self.path})
            if kind == "page":
                nxt = None
                if (num + 1) * PER_PAGE < pass_items(pass_no, args.items):
                    nxt = f"{base[0]}/c/{pass_no}/page/{num + 1}"
                items = page_items(args.seed, pass_no, num, args.items, args.pool, base[0])
                return self._send(200, {"items": items, "next": nxt})
            if kind == "meta":
                return self._send(200, {"attributes": attributes(args.seed, pass_no, num)})
            return self._send(404, {"error": self.path})

        def _send(self, status: int, payload: dict) -> None:
            body = json.dumps(payload).encode()
            self.send_response(status)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *args):
            pass

    return Handler


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--items", type=int, required=True)
    p.add_argument("--pool", type=int, default=0)
    p.add_argument("--threads", type=int, required=True)
    args = p.parse_args(argv)

    base: list[str] = []
    server = BoundedHTTPServer(("127.0.0.1", 0), make_handler(args, base), args.threads)
    base.append(f"http://127.0.0.1:{server.server_address[1]}")

    def stop(*_):
        threading.Thread(target=server.shutdown, daemon=True).start()

    signal.signal(signal.SIGTERM, stop)

    def watch_stdin():  # the parent closes stdin (or dies) to stop us
        sys.stdin.read()
        stop()

    threading.Thread(target=watch_stdin, daemon=True).start()
    print(f"port {server.server_address[1]}", flush=True)
    try:
        server.serve_forever(poll_interval=0.1)
    finally:
        server.server_close()


if __name__ == "__main__":
    main()
