"""HTTP GraphQL transport (the reference's ``GQLAPI`` seam).

The reference's only I/O contract is ``gql_api.post(query,
operation_name, variables, current_account_id, account_ids)``
returning the parsed GraphQL envelope (ETL:169–175, 195–201,
229–240), with ``httpx.ReadTimeout`` tolerated on delete so a
possibly-completed server-side operation isn't retried into a
double-delete (ETL:224–246).

This module implements that observable contract on the Python
standard library (``urllib.request`` — no third-party HTTP dependency)
and adapts it to the engine's two pluggable seams:

- :class:`HttpConnectionClient` → ``sources.graphql.ConnectionClient``
  (``fetch_page``), so ``fetch_connection`` walks a real paginated
  endpoint on the driver (the stream reads pages landed on disk).
- :class:`HttpMutationClient` → ``sinks.mutations`` ``post_batch``
  contract, so :class:`~graphql_api_etl_spark.sinks.mutations.MutationSink`
  posts over the wire (one client per write via
  :class:`HttpClientFactory`).

Scale note: the sink opens one client per *write* and batches
``batch_size`` records per POST, so the request count is
``ceil(rows / batch_size)`` — the reference's one-request-per-row loop
is the thing this replaces. The client keeps ONE persistent HTTP/1.1
connection alive across those POSTs (stale connections transparently
reopen), matching how real GraphQL endpoints throttle: per-connection,
not per-request.
"""

from __future__ import annotations

import http.client
import json
import socket
import threading
from typing import Any
from urllib.parse import urlsplit


class GraphQLTransportError(Exception):
    """HTTP-level or GraphQL-envelope-level failure (non-2xx, malformed
    body, or a non-empty ``errors`` array)."""


class GraphQLReadTimeout(GraphQLTransportError):
    """Read timed out after the request may have reached the server —
    the engine-portable stand-in for ``httpx.ReadTimeout`` (ETL:224)."""


class HttpGQLApi:
    """POSTs GraphQL documents as standard ``{"query", "operationName",
    "variables"}`` JSON. Account scoping (the reference passes
    ``current_account_id``/``account_ids`` on every call) travels as
    headers so the document and variables stay account-agnostic.

    One persistent HTTP/1.1 connection is reused across ``post`` calls
    (keep-alive): the mutation sink's contract is one client per
    write posting ``batch_size`` records per request, so reuse bounds
    the connection count at one per write instead of one per batch. A stale keep-alive socket (server closed between
    batches) reopens transparently — exactly once per request, so a
    genuinely dead endpoint still raises. The reopen re-sends the
    request, which can double-send if the server died mid-response;
    that matches the sink's existing retry semantics (adds are
    idempotent, deletes are guarded by timeout-tolerance, K4). After a
    timeout the connection is discarded, not reused: the response to
    the timed-out request could otherwise be read as the answer to the
    next one.

    One client may be shared by threads (the sync fetches connections
    on two driver threads through one client): a keep-alive connection
    carries one request at a time, so ``post`` holds a lock from
    sending the request until its response is read.
    """

    def __init__(self, url: str, timeout: float = 30.0, headers: dict[str, str] | None = None):
        self.url = url
        self.timeout = timeout
        self.headers = dict(headers or {})
        self._conn: http.client.HTTPConnection | None = None
        self._lock = threading.RLock()

    def close(self) -> None:
        with self._lock:
            if self._conn is not None:
                try:
                    self._conn.close()
                finally:
                    self._conn = None

    def _request_once(self, path: str, data: bytes, headers: dict[str, str]):
        if self._conn is None:
            u = urlsplit(self.url)
            cls = (
                http.client.HTTPSConnection
                if u.scheme == "https"
                else http.client.HTTPConnection
            )
            self._conn = cls(u.hostname, u.port, timeout=self.timeout)
        self._conn.request("POST", path, body=data, headers=headers)
        resp = self._conn.getresponse()
        body = resp.read()  # drain fully so the connection is reusable
        return resp.status, body

    def post(
        self,
        query: str,
        operation_name: str | None = None,
        variables: dict[str, Any] | None = None,
        current_account_id: str | None = None,
        account_ids: list[str] | None = None,
    ) -> dict[str, Any]:
        body = {"query": query, "operationName": operation_name, "variables": variables or {}}
        headers = {"Content-Type": "application/json", **self.headers}
        if current_account_id is not None:
            headers["X-Current-Account"] = str(current_account_id)
        if account_ids:
            headers["X-Account-Ids"] = ",".join(str(a) for a in account_ids)
        u = urlsplit(self.url)
        path = (u.path or "/") + (f"?{u.query}" if u.query else "")
        data = json.dumps(body, default=str).encode()
        status = None
        raw = b""
        with self._lock:
            for attempt in (0, 1):
                try:
                    status, raw = self._request_once(path, data, headers)
                    break
                except (TimeoutError, socket.timeout) as exc:
                    self.close()
                    raise GraphQLReadTimeout(f"read timed out after {self.timeout}s: {exc}") from exc
                except (http.client.HTTPException, ConnectionError, OSError) as exc:
                    # a stale keep-alive socket surfaces as BadStatusLine /
                    # ConnectionReset on the NEXT request — reconnect once;
                    # failing again means the endpoint is actually down
                    self.close()
                    if attempt == 1:
                        raise GraphQLTransportError(str(exc)) from exc
        try:
            payload = json.loads(raw.decode())
        except ValueError as exc:
            raise GraphQLTransportError(
                f"non-JSON response (HTTP {status}): {raw[:200]!r}"
            ) from exc
        if status is None or not 200 <= status < 300:
            raise GraphQLTransportError(f"HTTP {status}: {raw[:200]!r}")
        if payload.get("errors"):
            raise GraphQLTransportError(json.dumps(payload["errors"]))
        return payload


class HttpConnectionClient:
    """Relay-connection pager over :class:`HttpGQLApi` — the HTTP
    implementation of ``ConnectionClient``. Reproduces the reference's
    cursor-variable protocol exactly: first call sends the extra
    variables only; subsequent calls send ``{"after": endCursor}``
    merged with the extras (ETL:194–210)."""

    def __init__(
        self,
        api: HttpGQLApi,
        query: str,
        operation_name: str,
        conn_type: str,
        extra_variables: dict[str, Any] | None = None,
        current_account_id: str | None = None,
        account_ids: list[str] | None = None,
    ):
        self.api = api
        self.query = query
        self.operation_name = operation_name
        self.conn_type = conn_type
        self.extra_variables = dict(extra_variables or {})
        self.current_account_id = current_account_id
        self.account_ids = account_ids

    def fetch_page(self, after_cursor: str | None) -> dict[str, Any]:
        variables: dict[str, Any] = dict(self.extra_variables)
        if after_cursor is not None:
            variables["after"] = after_cursor
        payload = self.api.post(
            query=self.query,
            operation_name=self.operation_name,
            variables=variables,
            current_account_id=self.current_account_id,
            account_ids=self.account_ids,
        )
        return payload["data"][self.conn_type]


class HttpMutationClient:
    """Batched mutation poster with the sink's ``post_batch`` contract.

    One POST per batch, ``variables={"input": {input_key: records}}``.
    Per-record outcomes come from the response's
    ``data.<operation>.results`` array when the server provides one
    (``{"success": bool, "error": str|null}`` per record, positional);
    otherwise a 2xx envelope means the whole batch succeeded. A
    ``results`` array of another length than the batch fails every
    record of the batch, naming both lengths; it is not raised into the
    sink's retry, since the server may have applied part of the batch.

    ``tolerate_timeout=True`` is the K4 semantics (ETL:224–246): a read
    timeout after the request was sent marks the records as completed
    with a note instead of raising — the server may well have finished,
    and re-posting a delete is worse than under-reporting it. Transport
    errors other than timeout still raise, so the sink's retry loop
    (which covers idempotent adds) stays in charge of those.
    """

    def __init__(
        self,
        api: HttpGQLApi,
        query: str,
        input_key: str = "records",
        tolerate_timeout: bool = False,
        current_account_id: str | None = None,
        account_ids: list[str] | None = None,
    ):
        self.api = api
        self.query = query
        self.input_key = input_key
        self.tolerate_timeout = tolerate_timeout
        self.current_account_id = current_account_id
        self.account_ids = account_ids

    def post_batch(self, operation: str, records: list[dict]) -> list[tuple[dict, bool, str | None]]:
        try:
            payload = self.api.post(
                query=self.query,
                operation_name=operation,
                variables={"input": {self.input_key: records}},
                current_account_id=self.current_account_id,
                account_ids=self.account_ids,
            )
        except GraphQLReadTimeout as exc:
            if self.tolerate_timeout:
                note = f"timeout tolerated, operation may have completed: {exc}"
                return [(r, True, note) for r in records]
            raise
        results = (payload.get("data") or {}).get(operation, {})
        per_record = results.get("results") if isinstance(results, dict) else None
        if not isinstance(per_record, list):
            return [(r, True, None) for r in records]
        if len(per_record) != len(records):
            error = f"server returned {len(per_record)} results for a batch of {len(records)} records"
            return [(r, False, error) for r in records]
        return [
            (r, bool(s.get("success", False)), s.get("error"))
            for r, s in zip(records, per_record)
        ]

    def close(self) -> None:
        """Close the API's connection (the sink calls it after a write)."""
        self.api.close()


class HttpClientFactory:
    """Client factory for :class:`MutationSink` — carries only plain
    strings/numbers; each call opens a fresh client, so every write
    gets its own connection and closes it when it returns."""

    def __init__(
        self,
        url: str,
        query: str,
        timeout: float = 30.0,
        input_key: str = "records",
        tolerate_timeout: bool = False,
        current_account_id: str | None = None,
        account_ids: list[str] | None = None,
        headers: dict[str, str] | None = None,
    ):
        self.url = url
        self.query = query
        self.timeout = timeout
        self.input_key = input_key
        self.tolerate_timeout = tolerate_timeout
        self.current_account_id = current_account_id
        self.account_ids = account_ids
        self.headers = headers

    def __call__(self) -> HttpMutationClient:
        return HttpMutationClient(
            HttpGQLApi(self.url, timeout=self.timeout, headers=self.headers),
            query=self.query,
            input_key=self.input_key,
            tolerate_timeout=self.tolerate_timeout,
            current_account_id=self.current_account_id,
            account_ids=self.account_ids,
        )
