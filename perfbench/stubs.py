"""The benchmark's HTTP services: an NLP MedCAT stub and an instrumented
wrapper around the repository's Elasticsearch stub (``tests/es_stub.py``).

Both run as threads of the benchmark process and keep their own logs, which
the benchmark reads for its stub-side counters and clears between passes.
"""

from __future__ import annotations

import json
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import Any

from annotations_ingester_spark.annotator.fake import medcat_envelope
from tests.es_stub import EsStubState, _Handler

from perfbench.inputs import faulted


def _serve(handler: type) -> ThreadingHTTPServer:
    server = ThreadingHTTPServer(("127.0.0.1", 0), handler)
    server.daemon_threads = True
    threading.Thread(target=server.serve_forever, daemon=True).start()
    return server


def _url(server: ThreadingHTTPServer) -> str:
    return f"http://127.0.0.1:{server.server_address[1]}"


# -- NLP ------------------------------------------------------------------


class NlpStub:
    """MedCAT-envelope service: every POST sleeps ``latency_s``, then answers
    with ``annotator.fake.medcat_envelope`` for the document whose text was
    sent. A doc id in the seeded fault schedule gets a 503 on its first
    attempt of a pass. Each request is logged as (doc_id, status, service
    seconds); each accepted connection is counted."""

    def __init__(self, texts: dict[str, int], latency_s: float, fault_seed: int, fault_rate: float) -> None:
        self.texts = texts
        self.latency_s = latency_s
        self.fault_seed = fault_seed
        self.fault_rate = fault_rate
        self.lock = threading.Lock()
        self.reset()
        self.server = _serve(type("NlpHandler", (_NlpHandler,), {"stub": self}))
        self.url = _url(self.server)

    def reset(self) -> None:
        with self.lock:
            self.seen: set[int] = set()
            self.log: list[tuple[int, int, float]] = []
            self.connections = 0

    def status_for(self, doc_id: int) -> int:
        with self.lock:
            first = doc_id not in self.seen
            self.seen.add(doc_id)
        return 503 if first and faulted(self.fault_seed, doc_id, self.fault_rate) else 200

    def close(self) -> None:
        self.server.shutdown()
        self.server.server_close()


class _NlpHandler(BaseHTTPRequestHandler):
    stub: NlpStub

    def log_message(self, *a) -> None:
        pass

    def setup(self) -> None:
        with self.stub.lock:
            self.stub.connections += 1
        super().setup()

    def _reply(self, status: int, obj: dict[str, Any]) -> None:
        body = json.dumps(obj).encode()
        self.send_response(status)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def do_GET(self) -> None:  # the CLI's endpoint liveness pre-flight
        self._reply(200, {"status": "ok"})

    def do_POST(self) -> None:
        t0 = time.perf_counter()
        length = int(self.headers.get("Content-Length") or 0)
        req = json.loads(self.rfile.read(length) or b"{}")
        text = req.get("content", {}).get("text")
        doc_id = self.stub.texts.get(text)
        if doc_id is None:
            self._reply(400, {"error": "unknown document"})
            return
        time.sleep(self.stub.latency_s)
        status = self.stub.status_for(doc_id)
        if status == 200:
            self._reply(200, medcat_envelope(doc_id, text))
        else:
            self._reply(status, {"error": "service unavailable"})
        with self.stub.lock:
            self.stub.log.append((doc_id, status, time.perf_counter() - t0))


# -- Elasticsearch ----------------------------------------------------------


class _AliasedIndices(dict):
    """Index map in which a read of a name in ``aliases`` sees the union of
    the indices ``<name>-*``, as an Elasticsearch alias over split sink
    indices does. Writes still go to concrete index names."""

    def __init__(self) -> None:
        super().__init__()
        self.aliases: set[str] = set()

    def get(self, name, default=None):
        if name in self.aliases and not dict.__contains__(self, name):
            merged: dict[str, Any] = {}
            for index, docs in self.items():
                if index.startswith(name + "-"):
                    merged.update(docs)
            return merged
        return super().get(name, default)


class BenchEsState(EsStubState):
    def __init__(self) -> None:
        super().__init__(mode="8")
        self.indices = _AliasedIndices()
        self.clear_logs()

    def clear_logs(self) -> None:
        with self.lock:
            self.requests.clear()
            self.scrolls.clear()
            self.busy_s = 0.0
            self.bulk_bytes = 0
            self.items_failed = 0

    def snapshot(self, names: list[str]) -> dict[str, dict[str, Any]]:
        """Shallow copy of the named indices (bulk ``index`` replaces a
        stored doc, it never mutates one, so sharing the docs is safe)."""
        with self.lock:
            return {n: dict(self.indices[n]) for n in names if n in self.indices}

    def restore(self, keep: list[str], snap: dict[str, dict[str, Any]]) -> None:
        """Drop every index but ``keep``, then load ``snap``."""
        with self.lock:
            for name in [n for n in self.indices if n not in keep]:
                del self.indices[name]
            for name, docs in snap.items():
                self.indices[name] = dict(docs)

    def row_ids(self, prefix: str) -> dict[str, set[str]]:
        with self.lock:
            return {
                n: set(docs)
                for n, docs in self.indices.items()
                if n == prefix or n.startswith(prefix + "-")
            }


class _BenchEsHandler(_Handler):
    state: BenchEsState

    def handle_one_request(self) -> None:
        t0 = time.perf_counter()
        super().handle_one_request()
        with self.state.lock:
            self.state.busy_s += time.perf_counter() - t0

    def do_POST(self) -> None:
        if self.path.startswith("/_bulk"):
            with self.state.lock:
                self.state.bulk_bytes += int(self.headers.get("Content-Length") or 0)
        super().do_POST()

    def _reply(self, obj: dict[str, Any], status: int = 200) -> None:
        if "items" in obj:
            bad = sum(1 for it in obj["items"] if next(iter(it.values()))["status"] >= 300)
            with self.state.lock:
                self.state.items_failed += bad
        super()._reply(obj, status)


class EsStub:
    def __init__(self) -> None:
        self.state = BenchEsState()
        self.server = _serve(type("EsHandler", (_BenchEsHandler,), {"state": self.state}))
        self.url = _url(self.server)

    def counters(self) -> dict[str, float]:
        """Counters from the request log since the last ``clear_logs``."""
        with self.state.lock:
            reqs = list(self.state.requests)
            busy, nbytes, bad = self.state.busy_s, self.state.bulk_bytes, self.state.items_failed
        bulks = _bulk_actions(reqs)
        scrolls = sum(1 for r in reqs if "scroll" in r["path"])
        return {
            "sources.scroll_requests": scrolls,
            "sinks.bulk_requests": len(bulks),
            "sinks.rows_per_bulk": sum(bulks) / len(bulks) if bulks else 0.0,
            "sinks.bulk_bytes": nbytes,
            "sinks.items_failed": bad,
            "es.stub_busy_s": busy,
        }

    def bulk_actions(self) -> int:
        """Bulk actions received since the last ``clear_logs``."""
        with self.state.lock:
            return sum(_bulk_actions(self.state.requests))

    def close(self) -> None:
        self.server.shutdown()
        self.server.server_close()


def _bulk_actions(requests: list[dict[str, Any]]) -> list[int]:
    """Actions per bulk request in an ES stub request log."""
    return [r["n_actions"] for r in requests if r["path"].startswith("/_bulk")]
