"""HTTP read-serving facade: the reference's Avatica server + REST proxy
re-expressed over a TenantSession.

Reference surface being re-expressed (SURVEY.md §3 E1/E2):
- `readerator/server/.../FineoServer.java:49-70` — one org per server
  instance; connection api key must match (`TenantValidator.java:25-35`).
- `readerator/proxy/.../JdbcHandler.java:34-50` — stateless REST: takes an
  `x-api-key` header + SQL string, returns rows as a list of maps.
- `FineoJdbcMeta.java:143-176` — statement `maxRowCount` limit; writes
  rejected (read-only).

Design: the HTTP layer is a thin stdlib `http.server` front; ALL semantics
(tenant views, read-only guard, limits) live in `api.TenantSession`, so the
server adds no query logic of its own.  On a real deployment the Spark
driver hosts this endpoint while executors do the work.

Result paging mirrors Avatica's statement/frame protocol
(`FineoJdbcMeta.java:143-159` — fetch(handle, offset, fetchMaxRowCount) →
Frame{offset, done, rows}): ``POST /query`` executes and returns the FIRST
frame plus a ``statement_id`` while more rows remain; ``POST /fetch`` pages
forward; ``POST /close`` (or draining to ``done``) releases the cursor.
As in Avatica, a statement executes once and its frames page out of that
one result: ``/query`` runs one ``collect()`` of the plan capped at
``max_rows`` (a plan-level LIMIT) and ``/fetch`` slices it.  Driver memory
is bounded by ``max_rows`` rows per open statement times
``max_statements``.  A ``toLocalIterator`` cursor would bound nothing
tighter: over a LIMIT it shuffles the whole capped result into one
partition, which the driver then holds, at the cost of one more stage per
statement.  The cursor is forward-only: re-execute to rewind.
"""

from __future__ import annotations

import itertools
import json
import math
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import Optional

from fineo_readerator_spark.api import ReadOnlyViolation, TenantSession

API_KEY_HEADER = "x-api-key"
DEFAULT_MAX_ROWS = 10_000
DEFAULT_FRAME_SIZE = 1_000


class TenantValidationError(Exception):
    """Presented api key does not match the tenant this server hosts
    (`TenantValidator.validateConnection`)."""


def _json_value(v):
    """JSON-safe cell: binary -> latin-1 string, nested rows via asDict,
    non-finite doubles -> ``"NaN"``/``"Infinity"``/``"-Infinity"`` (strict
    JSON has no literal for them)."""
    if isinstance(v, (bytes, bytearray)):
        return v.decode("latin-1")
    if hasattr(v, "asDict"):
        return {k: _json_value(x) for k, x in v.asDict().items()}
    if isinstance(v, dict):
        return {k: _json_value(x) for k, x in v.items()}
    if isinstance(v, list):
        return [_json_value(x) for x in v]
    if isinstance(v, float) and not math.isfinite(v):
        return "NaN" if math.isnan(v) else ("Infinity" if v > 0 else "-Infinity")
    return v if (v is None or isinstance(v, (bool, int, float, str))) else str(v)


def _duplicate_columns_error(columns: list[str]) -> Optional[str]:
    """The client error for output columns that repeat a name, or None.
    Rows go out as maps keyed by column name, so a repeated name would
    silently drop all but one of its columns."""
    dups = sorted({c for c in columns if columns.count(c) > 1})
    if not dups:
        return None
    return (
        f"duplicate output column names {dups}: rows are maps keyed by "
        "column name; alias the columns apart"
    )


class _Cursor:
    """One open statement's forward-only result cursor (an Avatica
    StatementHandle + its ResultSet): the statement's collected rows, at
    most ``max_rows`` of them, paged out frame by frame.  A server keeps at
    most ``max_statements`` open, so the driver holds at most ``max_rows``
    times ``max_statements`` rows for open statements."""

    def __init__(self, columns: list[str], rows: list) -> None:
        self.columns = columns
        self._rows = rows
        self.offset = 0  # rows served so far == the next frame's offset
        self.lock = threading.Lock()

    def next_frame(self, frame_size: int) -> tuple[list[dict], bool]:
        batch = self._rows[self.offset : self.offset + frame_size]
        out = [{c: _json_value(r[c]) for c in self.columns} for r in batch]
        self.offset += len(batch)
        return out, self.offset >= len(self._rows)


class ReadServer:
    """One-org read server (the reference's deployment unit).

    ``api_key`` plays COMPANY_KEY_PROPERTY: every request must present it in
    the ``x-api-key`` header.

    - ``POST /query``: ``{"sql": ..., "max_rows": n?, "frame_size": n?}`` →
      ``{"columns", "rows", "offset": 0, "done"}`` + ``"statement_id"``
      when more frames remain.
    - ``POST /fetch``: ``{"statement_id", "offset"}`` → next frame
      ``{"rows", "offset", "done"}``; ``offset`` must equal rows already
      served (forward-only, exactly Avatica's fetch contract).
    - ``POST /close``: ``{"statement_id"}`` → releases the cursor (also
      automatic when a frame returns ``done``).
    """

    def __init__(
        self,
        tenant: TenantSession,
        api_key: str,
        max_rows: int = DEFAULT_MAX_ROWS,
        frame_size: int = DEFAULT_FRAME_SIZE,
        max_statements: int = 64,
    ):
        self.tenant = tenant
        self.api_key = api_key
        self.max_rows = max_rows
        self.frame_size = frame_size
        # abandoned cursors (client paged partway and left) would otherwise
        # pin their rows forever; bound them and evict oldest-first,
        # the way an Avatica server bounds open statements per connection
        self.max_statements = max_statements
        self._httpd: Optional[ThreadingHTTPServer] = None
        self._thread: Optional[threading.Thread] = None
        self._statements: dict[str, _Cursor] = {}  # insertion-ordered
        self._stmt_seq = itertools.count(1)
        self._stmt_lock = threading.Lock()

    # -- request handling (transport-independent, testable directly) ------
    def handle(self, api_key: Optional[str], body: dict, path: str = "/query") -> tuple[int, dict]:
        """(status, payload) for one read request."""
        if api_key != self.api_key:
            return 403, {"error": "tenant validation failed: bad api key"}
        if path == "/fetch":
            return self._handle_fetch(body)
        if path == "/close":
            return self._handle_close(body)
        sql = body.get("sql")
        if not isinstance(sql, str) or not sql.strip():
            return 400, {"error": "missing 'sql'"}
        try:
            limit = min(self._int_param(body, "max_rows", self.max_rows), self.max_rows)
            frame_size = min(
                self._int_param(body, "frame_size", self.frame_size), self.max_rows
            )
        except ValueError as e:
            return 400, {"error": str(e)}
        try:
            df = self.tenant.sql(sql, max_rows=limit)
            dup_error = _duplicate_columns_error(df.columns)
            if dup_error:
                return 400, {"error": dup_error}
            cursor = _Cursor(df.columns, df.collect())
            rows, done = cursor.next_frame(frame_size)
        except ReadOnlyViolation as e:
            return 400, {"error": str(e)}
        except Exception as e:  # analysis/execution errors -> client problem, not 500
            return 400, {"error": f"{type(e).__name__}: {e}"}
        payload = {"columns": cursor.columns, "rows": rows, "offset": 0, "done": done}
        if not done:
            with self._stmt_lock:
                while len(self._statements) >= self.max_statements:
                    # evict the longest-open cursor (dict preserves insertion)
                    self._statements.pop(next(iter(self._statements)))
                stmt_id = f"s{next(self._stmt_seq)}"
                self._statements[stmt_id] = cursor
            payload["statement_id"] = stmt_id
        return 200, payload

    @staticmethod
    def _int_param(body: dict, key: str, default: int) -> int:
        """Positive-int body param or ValueError with a client-facing message."""
        raw = body.get(key, default)
        try:
            # int() would take a JSON true as 1 and truncate 2.9 to 2
            if isinstance(raw, bool) or (isinstance(raw, float) and not raw.is_integer()):
                raise ValueError
            val = int(raw)
        except (TypeError, ValueError):
            raise ValueError(f"invalid {key!r}: {raw!r} is not an integer") from None
        if val < 1:
            raise ValueError(f"invalid {key!r}: must be >= 1, got {val}")
        return val

    def _handle_fetch(self, body: dict) -> tuple[int, dict]:
        stmt_id = body.get("statement_id")
        with self._stmt_lock:
            cursor = self._statements.get(stmt_id)
        if cursor is None:
            return 404, {"error": f"unknown statement {stmt_id!r} (closed or never opened)"}
        try:
            frame_size = min(
                self._int_param(body, "frame_size", self.frame_size), self.max_rows
            )
        except ValueError as e:
            return 400, {"error": str(e)}
        with cursor.lock:
            offset = body.get("offset", cursor.offset)
            if offset != cursor.offset:
                # forward-only, like Avatica: rewinding means re-executing
                return 400, {
                    "error": f"offset {offset} not at cursor position {cursor.offset}; "
                    "cursors are forward-only — re-execute to rewind"
                }
            frame_offset = cursor.offset
            rows, done = cursor.next_frame(frame_size)
        with self._stmt_lock:
            if done:
                self._statements.pop(stmt_id, None)
            elif stmt_id in self._statements:
                # refresh recency so eviction approximates LRU: an actively
                # paging cursor must outlive newer abandoned ones
                self._statements[stmt_id] = self._statements.pop(stmt_id)
        return 200, {"rows": rows, "offset": frame_offset, "done": done}

    def _handle_close(self, body: dict) -> tuple[int, dict]:
        stmt_id = body.get("statement_id")
        with self._stmt_lock:
            closed = self._statements.pop(stmt_id, None) is not None
        return 200, {"closed": closed}

    # -- http transport ----------------------------------------------------
    def start(self, host: str = "127.0.0.1", port: int = 0) -> int:
        """Serve on a background thread; returns the bound port."""
        server = self

        class Handler(BaseHTTPRequestHandler):
            def do_POST(self) -> None:  # noqa: N802 (stdlib naming)
                if self.path not in ("/query", "/fetch", "/close"):
                    self._reply(404, {"error": "not found"})
                    return
                try:
                    n = int(self.headers.get("content-length", 0))
                    body = json.loads(self.rfile.read(n) or b"{}")
                except (ValueError, json.JSONDecodeError):
                    self._reply(400, {"error": "invalid JSON body"})
                    return
                try:
                    status, payload = server.handle(
                        self.headers.get(API_KEY_HEADER), body, self.path
                    )
                except Exception as e:  # last-resort: always answer with JSON
                    status, payload = 500, {"error": f"{type(e).__name__}: {e}"}
                self._reply(status, payload)

            def _reply(self, status: int, payload: dict) -> None:
                data = json.dumps(payload, allow_nan=False).encode()
                self.send_response(status)
                self.send_header("content-type", "application/json")
                self.send_header("content-length", str(len(data)))
                self.end_headers()
                self.wfile.write(data)

            def log_message(self, *a) -> None:  # quiet test output
                pass

        self._httpd = ThreadingHTTPServer((host, port), Handler)
        self._thread = threading.Thread(target=self._httpd.serve_forever, daemon=True)
        self._thread.start()
        return self._httpd.server_address[1]

    def stop(self) -> None:
        if self._httpd is not None:
            self._httpd.shutdown()
            self._httpd.server_close()
            self._httpd = None
