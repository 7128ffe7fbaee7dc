"""Remote client backend — a thin Flight client for a strake-spark
server, no local SparkSession required.

Reference surface: ``StrakeConnection`` picks its backend by URL prefix
— ``grpc://``/``grpcs://`` selects the remote Flight SQL client, any
other string the embedded engine (python/src/connection.rs:303-330);
the remote backend executes get_flight_info -> do_get per endpoint and
returns fully-materialized Arrow (python/src/backend/remote.rs:27-45,
51-66), with an optional bearer token on the channel. ``connect()``
here mirrors that dispatch; this class is the remote half.

The server side is strake_spark.server.make_server: execution flows
through the GOVERNED engine path on the server (gate, limits, cost,
timeout, cache, RLS/masking under the authenticated principal), so a
remote client gets exactly the embedded engine's policy behavior — the
parity tests in tests/test_remote_client.py assert it.

Control-plane verbs (list_sources/describe/explain_tree/trace/ping) ride
Flight actions; results are JSON. Query results are Arrow tables
(``.to_pandas()`` for dataframes), matching the embedded
``execute()`` boundary.
"""

from __future__ import annotations

import json
import re
from typing import Any

from strake_spark.errors import (
    BudgetExceeded,
    EngineError,
    ErrorCode,
    QueryRejected,
    QueryTimeout,
    StrakeError,
)

# server-side exception class name -> client-side class; Flight carries
# errors as strings, so the governed failure modes are re-raised as the
# same types the embedded engine raises (API parity for callers that
# catch QueryRejected etc.)
_ERROR_TYPES = {
    "QueryRejected": QueryRejected,
    "BudgetExceeded": BudgetExceeded,
    "QueryTimeout": QueryTimeout,
    "CircuitOpen": QueryRejected,
    "EngineError": EngineError,
}


def _translate(exc: Exception):
    """Map a Flight error back to the engine's governed type.

    Matches ONLY the server's structured ``STRAKE_ERR:<Type>:`` marker
    (server.py emits it for every governed failure) — matching bare
    class names as substrings re-classified any server error whose
    message merely CONTAINED e.g. 'QueryRejected' (including SQL text
    echoed back) and produced a garbled detail (r8 advice). A legacy
    bare-name fallback is kept for pre-marker servers, but only when
    the name appears in the error's own framing prefix, not in echoed
    SQL."""
    msg = str(exc)
    m = re.search(r"STRAKE_ERR:([A-Za-z]+):(?:(STRAKE-\d{4}):)?", msg)
    if m:
        cls = _ERROR_TYPES.get(m.group(1))
        if cls is not None:
            detail = msg[m.end():].split("'. ")[0].rstrip("'\") .")
            err = cls(f"{m.group(1)}: {detail}" if detail else msg)
            if m.group(2):
                # preserve the server's exact classification (the
                # STRAKE-NNNN contract survives the wire, not just the
                # client class default)
                try:
                    err.code = ErrorCode.parse(m.group(2))
                except ValueError:
                    pass  # newer server, unknown code: keep class default
            return err
        return None
    # legacy servers (no marker): only trust a name in the first line's
    # framing, before any quoted payload
    head = msg.split("'", 1)[0]
    for name, cls in _ERROR_TYPES.items():
        if name in head:
            detail = msg.split(name, 1)[-1].lstrip(":( '\"").split("')")[0]
            return cls(f"{name}: {detail}" if detail else msg)
    return None


class RemoteEngine:
    """Thin client for a strake-spark Flight server.

    Mirrors the embedded ``StrakeEngine`` read surface — ``sql`` /
    ``execute`` / ``describe`` / ``list_sources`` / ``explain_tree`` —
    but every verb is proxied over Flight; nothing runs locally.
    ``sql`` returns a pyarrow.Table (the reference's
    ``StrakeConnection.sql`` contract), not a lazy DataFrame: laziness
    is meaningless across a network boundary.
    """

    def __init__(
        self,
        url: str,
        api_key: str | None = None,
        connect_timeout: float | None = 5.0,
        tls_root_certs: str | None = None,
        disable_server_verification: bool = False,
    ):
        import pyarrow.flight as fl

        self._fl = fl
        self._url = url
        # grpcs:// is the reference's encrypted-DSN spelling
        # (connection.rs:312); pyarrow spells it grpc+tls://
        if url.startswith("grpcs://"):
            url = "grpc+tls://" + url[len("grpcs://"):]
        kwargs = {}
        if tls_root_certs is not None:
            with open(tls_root_certs, "rb") as f:
                kwargs["tls_root_certs"] = f.read()
        if disable_server_verification:
            kwargs["disable_server_verification"] = True
        self._client = fl.FlightClient(url, **kwargs)
        self._headers: list[tuple[bytes, bytes]] = []
        if api_key is not None:
            self._headers.append((b"authorization", f"Bearer {api_key}".encode()))
        if connect_timeout:
            try:  # fail fast on a dead address, like the reference's
                # 5 s connect_timeout (remote.rs:35); auth errors mean
                # the server IS there, so they pass the liveness check
                self._client.wait_for_available(timeout=int(connect_timeout))
            except fl.FlightUnauthenticatedError:
                pass

    # ------------------------------------------------------------- queries
    def _options(self):
        return self._fl.FlightCallOptions(headers=list(self._headers))

    @staticmethod
    def _command(query: str, user: str | None = None, params: dict[str, Any] | None = None) -> bytes:
        """Flight command for a statement: raw SQL, or the JSON envelope
        when a principal or bound parameters ride along."""
        if user is not None or params is not None:
            return json.dumps({"sql": query, "user": user, "params": params}).encode()
        return query.encode()

    def _read(self, query, user, params, whole: bool):
        """get_flight_info, then do_get per endpoint: yields each
        endpoint's whole table (``whole``) or its record batches as
        they arrive. Per-query warnings arrive as schema metadata on
        each endpoint's stream and are unioned into last_warnings() in
        arrival order, first-seen wins."""
        fl = self._fl
        try:
            info = self._client.get_flight_info(
                fl.FlightDescriptor.for_command(self._command(query, user, params)),
                self._options(),
            )
            warnings: list[str] = []
            self._last_warnings = warnings  # filled as endpoints stream
            for ep in info.endpoints:
                reader = self._client.do_get(ep.ticket, self._options())
                raw = (reader.schema.metadata or {}).get(b"strake.warnings")
                for w in json.loads(raw.decode()) if raw else []:
                    if w not in warnings:
                        warnings.append(w)
                if whole:
                    yield reader.read_all()
                else:
                    for chunk in reader:
                        yield chunk.data
        except fl.FlightError as e:
            raise _translate(e) or e from None

    def execute(
        self,
        query: str,
        user: str | None = None,
        params: dict[str, Any] | None = None,
    ):
        """Governed remote execution -> pyarrow.Table.

        ``user`` is advisory when the server runs OIDC auth (the
        validated token subject overrides it server-side); with static
        token auth it selects the RLS/masking principal, same as the
        embedded engine's ``execute(user=...)``.
        """
        import pyarrow as pa

        out = list(self._read(query, user, params, whole=True))
        return pa.concat_tables(out) if len(out) != 1 else out[0]

    def last_warnings(self) -> list[str]:
        """Non-fatal warnings of the most recent execute() — cache
        hits ("x-strake-cache: hit") and schema-drift lines, same
        contract as the embedded engine's ``last_warnings()``."""
        return list(getattr(self, "_last_warnings", []))

    def sql(
        self, query: str, user: str | None = None, params: dict[str, Any] | None = None
    ):
        """Alias of ``execute`` (reference ``StrakeConnection.sql``)."""
        return self.execute(query, user=user, params=params)

    def execute_batches(
        self,
        query: str,
        user: str | None = None,
        params: dict[str, Any] | None = None,
    ):
        """Streaming variant of ``execute``: yields pyarrow
        RecordBatches as they arrive off the wire instead of
        materializing the whole result (the reference documents
        iter_batches as the large-result path, backend/remote.rs:54
        note). Governed identically — the server streams from the same
        do_get path."""
        return self._read(query, user, params, whole=False)

    def schema(self, query: str):
        """Plan-only: the result schema of ``query`` without executing
        it (get_flight_info on the server gates + plans, never runs)."""
        fl = self._fl
        try:
            info = self._client.get_flight_info(
                fl.FlightDescriptor.for_command(self._command(query)), self._options()
            )
            return info.schema
        except fl.FlightError as e:
            raise _translate(e) or e from None

    # ------------------------------------------------------- control plane
    def _action(self, name: str, body: bytes = b""):
        fl = self._fl
        try:
            results = list(
                self._client.do_action(fl.Action(name, body), self._options())
            )
        except fl.FlightError as e:
            raise _translate(e) or e from None
        if not results:  # pragma: no cover - server always returns one
            raise StrakeError(f"action '{name}' returned no result")
        return json.loads(results[0].body.to_pybytes())

    def list_sources(self) -> dict[str, list[str]]:
        return self._action("list_sources")

    def describe(self, view: str | None = None):
        return self._action("describe", view.encode() if view else b"")

    def explain_tree(self, query: str) -> str:
        return self._action("explain_tree", query.encode())["tree"]

    def trace(self, query: str) -> dict[str, Any]:
        """Plan + stats report, proxied (the reference RemoteBackend
        implements trace over the wire too, backend/remote.rs:70-84)."""
        return self._action("trace", query.encode())

    def drift_report(self) -> list[dict]:
        """Server-side schema-drift audit records (engine.drift_report
        shape: STRAKE-2009..2011-coded diffs, newest last)."""
        return self._action("drift_report")["drift"]

    def ping(self) -> dict[str, Any]:
        return self._action("ping")

    def list_tables(self):
        """Catalog ticket surface (same wire shape the server exposes
        to generic Flight clients): (source, table) rows."""
        fl = self._fl
        return self._client.do_get(
            fl.Ticket(b"catalog:tables"), self._options()
        ).read_all()

    # ------------------------------------------------------------ lifecycle
    def close(self) -> None:
        self._client.close()

    def __enter__(self) -> "RemoteEngine":
        return self

    def __exit__(self, *exc) -> None:
        self.close()

    def __repr__(self) -> str:  # pragma: no cover - cosmetic
        return f"RemoteEngine({self._url!r})"
