"""Fake Map Warper API for the ``etl_crawl`` workload.

Run as its own process::

    python3 perfbench/fake_api.py --seed 3 --maps 1000 --layers 95

It prints ``PORT <n>`` on its first stdout line, serves on 127.0.0.1
until its standard input closes, and handles at most ``--max-conns``
connections at a time (default: the CPUs this process may use); more
connections wait in the listen backlog.

Endpoints, shaped like the reference's crawl (SURVEY §1):

- ``/maps.json?page=&per_page=``: count-first pages, ``total_entries``
  plus ``items``;
- ``/layers.json?page=&per_page=``: pages until a short one;
- ``/maps/<id>/mask.json``: the pixel-space mask ring and GCP rows
  ``[px, py, lat, lon]`` of one map;
- ``/_stats``: request counters as JSON; ``/_reset``: zero the counters
  and re-arm the transient failures, so every pass sees the same faults.

``Catalog`` is the single source of the content. The benchmark builds
the same ``Catalog`` from the same seed to check the pipeline's output
against what was served, without reading the program's code.
"""

from __future__ import annotations

import argparse
import http.server
import json
import os
import sys
import threading
import time
from dataclasses import dataclass, field
from urllib.parse import parse_qs, urlparse

import numpy as np

# What happens to a map downstream; drawn per map from the seed.
#   ok         passes every validation rule -> one object
#   guard      no bbox: fails the transform guard -> neither output
#   no_uuid    missing UUID -> log
#   unmasked   warped but unmasked, never fetched -> log
#   unwarped   masked but not warped -> log
#   mask_error mask endpoint fails permanently -> log
#   few_gcps   two GCPs, too few for an affine fit -> log
FATES = ("ok", "guard", "no_uuid", "unmasked", "unwarped", "mask_error", "few_gcps")
FATE_P = (0.70, 0.04, 0.05, 0.08, 0.05, 0.03, 0.05)
TRANSIENT_SHARE = 0.03  # URLs whose first request after a reset fails
MAX_MAP_ID = 40_000  # keeps the affine family inside valid lon/lat


def affine_params(k: int) -> tuple[float, ...]:
    """The exact-affine GCP family of the pipeline's oracle fixtures:
    world lon = a * px + c, lat = e * py + f0, over a w x h pixel mask."""
    a = (k % 3 + 1) * 0.0001
    e = (k % 2 + 2) * 0.00005
    c = -74.0 + k * 0.001
    f0 = 40.7 + k * 0.0005
    w = float(k % 50 + 100)
    h = float(k % 40 + 80)
    return a, e, c, f0, w, h


def mask_ring(k: int) -> list[list[float]]:
    *_, w, h = affine_params(k)
    return [[0.0, 0.0], [w, 0.0], [w, h], [0.0, h], [0.0, 0.0]]


def expected_polygon(k: int) -> list[list[float]]:
    """World-space ring an exact affine fit must produce for map ``k``."""
    a, e, c, f0, _, _ = affine_params(k)
    return [[a * px + c, e * py + f0] for px, py in mask_ring(k)]


@dataclass
class Catalog:
    """Seeded API content: maps, layers, masks and injected faults."""

    seed: int
    n_maps: int
    n_layers: int
    maps_per_page: int = 50
    layers_per_page: int = 10
    maps: list = field(init=False)
    layers: list = field(init=False)
    fate: dict = field(init=False)
    failed_map_pages: set = field(init=False)
    transient: set = field(init=False)

    def __post_init__(self):
        rng = np.random.default_rng([self.seed, 0x6D6170])
        ids = np.sort(rng.choice(np.arange(1, MAX_MAP_ID), self.n_maps, replace=False))
        layer_ids = np.sort(
            rng.choice(np.arange(1, 10 * self.n_layers + 1), self.n_layers, replace=False)
        )
        fates = rng.choice(len(FATES), size=self.n_maps, p=FATE_P)
        self.fate = {}
        self.maps = []
        for k, f in zip(ids.tolist(), fates.tolist()):
            fate = FATES[f]
            self.fate[k] = fate
            self.maps.append(self._map_item(rng, k, fate, layer_ids))
        self.layers = [
            {
                "id": int(n),
                "name": f"Layer {n}",
                "depicts_year": str(1850 + n % 60) if n % 5 else None,
                "issue_year": str(1900 + n % 40) if n % 7 else None,
                "maps_count": int(n % 13),
                "bbox": "-74.1,40.6,-73.8,40.9" if n % 6 else None,
            }
            for n in layer_ids.tolist()
        ]
        n_pages = self.map_pages
        # Page 1 also answers the Spark driver's count request, which has no
        # error path of its own, so it never fails permanently.
        self.failed_map_pages = (
            {int(rng.integers(2, n_pages + 1))} if n_pages > 1 else set()
        )
        urls = [
            ("maps", p) for p in range(2, n_pages + 1) if p not in self.failed_map_pages
        ]
        urls += [("layers", p) for p in range(1, self.n_layers // self.layers_per_page + 2)]
        urls += [("masks", k) for k in ids.tolist() if self.fate[k] != "mask_error"]
        pick = rng.random(len(urls)) < TRANSIENT_SHARE
        self.transient = {u for u, hit in zip(urls, pick) if hit}

    @staticmethod
    def _map_item(rng, k: int, fate: str, layer_ids) -> dict:
        status = "unwarped" if fate == "unwarped" else str(rng.choice(["warped", "published"]))
        if fate == "unmasked":
            status, mask_status = "warped", "unmasked"
        else:
            mask_status = str(rng.choice(["masked", "masking"]))
        n_layers = int(rng.integers(0, 4))
        year = int(rng.integers(1850, 1950))
        return {
            "id": k,
            "title": f"Map {k}",
            "description": f"Survey sheet {k}" if k % 9 else None,
            "nypl_digital_id": f"img-{k}",
            "uuid": None if fate == "no_uuid" else f"uuid-{k}",
            "parent_uuid": f"uuid-parent-{k}" if k % 11 == 0 else None,
            "bbox": None if fate == "guard" else "-74.0,40.7,-73.9,40.8",
            "map_type": "is_map",
            "status": status,
            "mask_status": mask_status,
            "transform_options": "affine",
            "depicts_year": str(year) if k % 4 else None,
            "issue_year": str(year + 5) if k % 8 < 6 else None,
            "maskError": None,
            "maskGeometry": None,
            "gcps": None,
            "layerIds": sorted(
                int(x) for x in rng.choice(layer_ids, n_layers, replace=False)
            ),
        }

    @property
    def map_pages(self) -> int:
        return -(-self.n_maps // self.maps_per_page)

    def page_of(self, index: int) -> int:
        return index // self.maps_per_page + 1

    def mask_body(self, k: int) -> dict:
        a, e, c, f0, _, _ = affine_params(k)

        def gcp(px: float, py: float) -> list[float]:
            return [px, py, e * py + f0, a * px + c]

        corners = [(0.0, 0.0), (200.0, 0.0), (0.0, 200.0), (200.0, 200.0)]
        if self.fate[k] == "few_gcps":
            corners = corners[:2]
        return {"mask": mask_ring(k), "gcps": [gcp(x, y) for x, y in corners]}

    # Expectations the benchmark checks the pipeline's outputs against.
    def landed_maps(self) -> list[dict]:
        """Maps whose page was served (not permanently failed)."""
        return [
            m for i, m in enumerate(self.maps)
            if self.page_of(i) not in self.failed_map_pages
        ]

    def fetched_mask_keys(self) -> set[int]:
        return {
            m["id"] for m in self.landed_maps()
            if m["mask_status"] in ("masked", "masking")
        }


class _Counters:
    """Request counters, shared by the handler threads."""

    def __init__(self):
        self.lock = threading.Lock()
        self.reset()

    def reset(self):
        self.requests: dict = {}  # (endpoint, page or key) -> requests
        self.ok: dict = {}  # (endpoint, page or key) -> 2xx responses
        self.failed_transient = 0
        self.failed_permanent = 0
        self.armed: set = set()  # transient URLs that already failed
        self.inflight = 0
        self.max_inflight = 0
        self.busy_s = 0.0
        self._busy_since = 0.0

    def enter(self, key) -> None:
        with self.lock:
            self.requests[key] = self.requests.get(key, 0) + 1
            if self.inflight == 0:
                self._busy_since = time.perf_counter()
            self.inflight += 1
            self.max_inflight = max(self.max_inflight, self.inflight)

    def leave(self) -> None:
        with self.lock:
            self.inflight -= 1
            if self.inflight == 0:
                self.busy_s += time.perf_counter() - self._busy_since

    def snapshot(self) -> dict:
        with self.lock:
            by_endpoint: dict = {}
            for (ep, part), n in self.requests.items():
                d = by_endpoint.setdefault(
                    ep, {"requests": 0, "ok": 0, "ok_urls": 0, "per_url": {}}
                )
                d["requests"] += n
                d["per_url"][str(part)] = n
            for (ep, _), n in self.ok.items():
                d = by_endpoint[ep]
                d["ok"] += n
                d["ok_urls"] += 1
            return {
                "endpoints": by_endpoint,
                "failed_transient": self.failed_transient,
                "failed_permanent": self.failed_permanent,
                "max_inflight": self.max_inflight,
                "busy_s": self.busy_s,
            }


def _route(path: str, query: dict):
    """(endpoint, page or key) for an API path, or None."""
    if path == "/maps.json":
        return "maps", int(query["page"][0])
    if path == "/layers.json":
        return "layers", int(query["page"][0])
    parts = path.strip("/").split("/")
    if len(parts) == 3 and parts[0] == "maps" and parts[2] == "mask.json":
        return "masks", int(parts[1])
    return None


def make_handler(catalog: Catalog, counters: _Counters):
    by_id = {m["id"]: m for m in catalog.maps}

    class Handler(http.server.BaseHTTPRequestHandler):
        def log_message(self, *args):  # keep stderr quiet
            pass

        def _send(self, status: int, payload) -> None:
            body = json.dumps(payload).encode()
            self.send_response(status)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def do_GET(self):
            url = urlparse(self.path)
            if url.path == "/_stats":
                return self._send(200, counters.snapshot())
            if url.path == "/_reset":
                with counters.lock:
                    counters.reset()
                return self._send(200, {"reset": True})
            try:
                key = _route(url.path, parse_qs(url.query))
            except (KeyError, ValueError):
                key = None
            if key is None:
                return self._send(404, {"error": "not found"})
            counters.enter(key)
            try:
                self._serve(key, parse_qs(url.query))
            finally:
                counters.leave()

        def _serve(self, key, query) -> None:
            endpoint, part = key
            permanent = (endpoint == "maps" and part in catalog.failed_map_pages) or (
                endpoint == "masks" and catalog.fate.get(part) == "mask_error"
            )
            with counters.lock:
                if permanent:
                    counters.failed_permanent += 1
                    status = 500
                elif key in catalog.transient and key not in counters.armed:
                    counters.armed.add(key)
                    counters.failed_transient += 1
                    status = 503
                else:
                    counters.ok[key] = counters.ok.get(key, 0) + 1
                    status = 200
            if status != 200:
                return self._send(status, {"error": "injected failure"})
            if endpoint == "masks":
                if part not in by_id:
                    return self._send(404, {"error": "no such map"})
                return self._send(200, catalog.mask_body(part))
            per_page = int(query["per_page"][0])
            items = catalog.maps if endpoint == "maps" else catalog.layers
            start = (part - 1) * per_page
            body = {"items": items[start : start + per_page]}
            if endpoint == "maps":
                body["total_entries"] = len(items)
            self._send(200, body)

    return Handler


class BoundedServer(http.server.HTTPServer):
    """One thread per connection, at most ``max_conns`` at a time: the
    accept loop blocks on a free slot, so later clients queue in the
    listen backlog instead of being served concurrently."""

    request_queue_size = 256
    daemon_threads = True

    def __init__(self, addr, handler, max_conns: int):
        super().__init__(addr, handler)
        self._slots = threading.BoundedSemaphore(max_conns)

    def process_request(self, request, client_address):
        self._slots.acquire()
        threading.Thread(
            target=self._handle, args=(request, client_address), daemon=True
        ).start()

    def _handle(self, request, client_address):
        try:
            self.finish_request(request, client_address)
        except Exception:
            self.handle_error(request, client_address)
        finally:
            self.shutdown_request(request)
            self._slots.release()


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--maps", type=int, required=True)
    ap.add_argument("--layers", type=int, required=True)
    ap.add_argument("--maps-per-page", type=int, default=50)
    ap.add_argument("--max-conns", type=int, default=len(os.sched_getaffinity(0)))
    args = ap.parse_args(argv)
    catalog = Catalog(args.seed, args.maps, args.layers, args.maps_per_page)
    counters = _Counters()
    server = BoundedServer(
        ("127.0.0.1", 0), make_handler(catalog, counters), args.max_conns
    )
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    print(f"PORT {server.server_address[1]}", flush=True)
    sys.stdin.read()  # serve until the parent closes our stdin
    server.shutdown()
    server.server_close()
    thread.join(timeout=10)


if __name__ == "__main__":
    main()
