"""HTTP ingest daemon (S2): ``POST /v1/post/{dataSource}`` → Tranquilizer.

Reference: ``server/src/main/scala/com/metamx/tranquility/server/http/
TranquilityServlet.scala`` (~250 LoC, Scalatra) — accepts a JSON array (or
newline-delimited objects) body, routes to the dataSource's Tranquilizer,
responds ``{"result": {"received": N, "sent": M}}`` where ``sent`` excludes
window-period drops; unknown dataSource → 404; ``async=true`` responds before
delivery resolves. Round 9: ``Content-Type: application/x-jackson-smile``
bodies are accepted too — the reference's OTHER wire format — decoded with
the pure-stdlib Smile codec (SURVEY §2 P2, now implemented): a Smile array
or back-to-back record values map to the same event list as the JSON
shapes.

This daemon is driver-side plumbing (events arrive over HTTP, not from a
distributed source), so a stdlib ThreadingHTTPServer is the right weight; all
per-event work stays vectorized inside ``Tranquilizer.flush`` on the cluster.
"""

from __future__ import annotations

import json
import threading
import traceback
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import Mapping

from tranquility_spark.streaming.tranquilizer import Tranquilizer


def _parse_body(raw: bytes, content_type: str = "application/json") -> list[dict]:
    """JSON array, single object, or newline-delimited objects → list of
    events; a Smile body (``application/x-jackson-smile``) may carry one
    array value or back-to-back record values (the Jackson stream shape),
    mirroring the JSON array/NDJSON duality. Every event must be an
    object: anything else is a ``ValueError`` (a 400 before any event of
    the body is sent), not a failed flush dropping the whole POST."""
    if "smile" in (content_type or "").lower():
        from tranquility_spark.operators.smile_codec import decode_stream

        events: list = []
        for v in decode_stream(raw):
            if isinstance(v, list):
                events.extend(v)
            else:
                events.append(v)
        kind = "Smile"
    else:
        text = raw.decode("utf-8").strip()
        if not text:
            return []
        if text[0] == "[":
            events = json.loads(text)
            if not isinstance(events, list):
                raise ValueError("expected JSON array")
        else:
            events = [json.loads(line) for line in text.splitlines() if line.strip()]
        kind = "JSON"
    for e in events:
        if not isinstance(e, dict):
            raise ValueError(f"{kind} body must contain objects, got {type(e).__name__}")
    return events


class IngestServer:
    """Serve ``POST /v1/post/{dataSource}`` backed by per-dataSource Tranquilizers."""

    def __init__(self, tranquilizers: Mapping[str, Tranquilizer], host: str = "127.0.0.1", port: int = 0):
        self.tranquilizers = dict(tranquilizers)
        # handler threads are concurrent; Tranquilizer buffers are not
        self._locks = {ds: threading.Lock() for ds in self.tranquilizers}
        outer = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *args):  # quiet test output
                pass

            def _respond(self, code: int, payload: dict) -> None:
                body = json.dumps(payload).encode()
                self.send_response(code)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def do_POST(self) -> None:
                parts = self.path.split("?")[0].strip("/").split("/")
                if len(parts) != 3 or parts[:2] != ["v1", "post"]:
                    self._respond(404, {"error": "use POST /v1/post/{dataSource}"})
                    return
                datasource = parts[2]
                t = outer.tranquilizers.get(datasource)
                if t is None:
                    self._respond(404, {"error": f"unknown dataSource {datasource!r}"})
                    return
                try:
                    events = _parse_body(
                        self.rfile.read(int(self.headers.get("Content-Length", 0))),
                        self.headers.get("Content-Type", "application/json"),
                    )
                except (ValueError, json.JSONDecodeError) as e:
                    self._respond(400, {"error": str(e)})
                    return

                try:
                    with outer._locks[datasource]:
                        futures = [t.send(e) for e in events]
                        t.flush()
                except Exception as e:  # a failed flush (Spark error, MessageDroppedException)
                    traceback.print_exc()
                    self._respond(500, {"error": str(e)})
                    return
                sent = 0
                for f in futures:
                    try:
                        if f.result().sent:
                            sent += 1
                    except Exception:
                        pass  # MessageDroppedException → counted as received, not sent
                self._respond(200, {"result": {"received": len(events), "sent": sent}})

        self._server = ThreadingHTTPServer((host, port), Handler)
        self._thread: threading.Thread | None = None

    @property
    def port(self) -> int:
        return self._server.server_address[1]

    def start(self) -> "IngestServer":
        self._thread = threading.Thread(target=self._server.serve_forever, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        self._server.shutdown()
        self._server.server_close()
        if self._thread:
            self._thread.join(timeout=5)
        for t in self.tranquilizers.values():
            t.close()
