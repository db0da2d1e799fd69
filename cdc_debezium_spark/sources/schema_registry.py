"""Minimal Confluent Schema Registry protocol: in-process REST server
stub + thin HTTP client.

The reference deploys a Schema Registry next to Kafka
(helm-charts/cdc-system/values.yaml:63-69); its data-plane contract is
a tiny REST subset (public Confluent Schema Registry API):

  POST /subjects/{subject}/versions   {"schema": "<avro json>"}
       -> {"id": N}          (same schema text re-registered anywhere
                              returns the SAME global id — schema
                              identity is content-addressed)
  GET  /schemas/ids/{id}              -> {"schema": "<avro json>"}
  GET  /subjects                      -> ["subject", ...]
  GET  /subjects/{subject}/versions   -> [1, 2, ...]
  GET  /subjects/{subject}/versions/latest
       -> {"subject", "version", "id", "schema"}
  POST /compatibility/subjects/{subject}/versions/latest
       -> {"is_compatible": bool}     (BACKWARD mode, the default)

The server is a stdlib HTTP server on an ephemeral localhost port
(local_server.py) — a conformance double for tests and local runs, NOT a durability
store. The client keeps an id->schema cache (ids are immutable, so the
cache never invalidates — same pattern as Confluent's client) and
exposes the duck-typed surface `from_avro_wire` needs (fields_by_id),
so a registry-backed decode is a drop-in for the in-memory one.

Wire framing stays in avro_wire (magic 0x00 + big-endian id); this
module only moves schema TEXT over HTTP, exactly like the real
registry.
"""

from __future__ import annotations

import json
import re
import threading
import urllib.request

from ..local_server import LocalHandler, LocalServer
from .avro_wire import avro_schema_json, check_compatibility


def parse_avro_schema_json(schema_json: str) -> list:
    """Avro record-schema JSON -> this package's field-spec list
    (inverse of avro_wire.avro_schema_json / _schema_type)."""

    def typ(t):
        if isinstance(t, list):
            return [typ(x) for x in t]
        if isinstance(t, dict):
            if t.get("type") == "record":
                return {
                    "name": t["name"],
                    "record": [(f["name"], typ(f["type"])) for f in t["fields"]],
                }
            return typ(t["type"])
        return t

    top = json.loads(schema_json)
    if not (isinstance(top, dict) and top.get("type") == "record"):
        raise ValueError("only record schemas are supported")
    return [(f["name"], typ(f["type"])) for f in top["fields"]]


def _canonical(schema_json: str) -> str:
    # content identity: parsed + re-serialized with sorted keys, so
    # whitespace/key-order variants of one schema share an id
    return json.dumps(json.loads(schema_json), sort_keys=True)


class _RegistryState:
    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.by_canonical: dict[str, int] = {}
        self.by_id: dict[int, str] = {}
        self.subjects: dict[str, list[int]] = {}
        self.next_id = 1

    def register(self, subject: str, schema_json: str) -> int:
        canon = _canonical(schema_json)
        with self.lock:
            sid = self.by_canonical.get(canon)
            if sid is None:
                sid = self.next_id
                self.next_id += 1
                self.by_canonical[canon] = sid
                self.by_id[sid] = schema_json
            versions = self.subjects.setdefault(subject, [])
            if sid not in versions:
                versions.append(sid)
            return sid


def _handler(state: _RegistryState):
    class Handler(LocalHandler):
        protocol_version = "HTTP/1.1"

        def _json(self, code: int, obj) -> None:
            self.reply(code, obj, "application/vnd.schemaregistry.v1+json")

        def _404(self, code: int, msg: str) -> None:
            self._json(404, {"error_code": code, "message": msg})

        def _body(self) -> dict:
            return json.loads(self.read_body() or b"{}")

        def do_GET(self) -> None:  # noqa: N802 - http.server API
            m = re.fullmatch(r"/schemas/ids/(\d+)", self.path)
            if m:
                sid = int(m.group(1))
                if sid not in state.by_id:
                    return self._404(40403, f"Schema {sid} not found")
                return self._json(200, {"schema": state.by_id[sid]})
            if self.path == "/subjects":
                return self._json(200, sorted(state.subjects))
            m = re.fullmatch(r"/subjects/([^/]+)/versions", self.path)
            if m:
                subj = m.group(1)
                if subj not in state.subjects:
                    return self._404(40401, f"Subject '{subj}' not found")
                return self._json(
                    200, list(range(1, len(state.subjects[subj]) + 1))
                )
            m = re.fullmatch(r"/subjects/([^/]+)/versions/(latest|\d+)", self.path)
            if m:
                subj, ver = m.group(1), m.group(2)
                if subj not in state.subjects:
                    return self._404(40401, f"Subject '{subj}' not found")
                versions = state.subjects[subj]
                v = len(versions) if ver == "latest" else int(ver)
                if not 1 <= v <= len(versions):
                    return self._404(40402, f"Version {ver} not found")
                sid = versions[v - 1]
                return self._json(
                    200,
                    {
                        "subject": subj,
                        "version": v,
                        "id": sid,
                        "schema": state.by_id[sid],
                    },
                )
            self._404(40401, "not found")

        def do_POST(self) -> None:  # noqa: N802 - http.server API
            m = re.fullmatch(r"/subjects/([^/]+)/versions", self.path)
            if m:
                schema = self._body()["schema"]
                return self._json(200, {"id": state.register(m.group(1), schema)})
            m = re.fullmatch(
                r"/compatibility/subjects/([^/]+)/versions/(latest|\d+)",
                self.path,
            )
            if m:
                subj = m.group(1)
                if subj not in state.subjects:
                    return self._404(40401, f"Subject '{subj}' not found")
                old = parse_avro_schema_json(
                    state.by_id[state.subjects[subj][-1]]
                )
                new = parse_avro_schema_json(self._body()["schema"])
                verdict = check_compatibility(old, new)
                # default registry mode is BACKWARD
                return self._json(200, {"is_compatible": verdict["backward"]})
            self._404(40401, "not found")

    return Handler


class SchemaRegistryServer(LocalServer):
    """In-process registry speaking the REST subset above.

    >>> with SchemaRegistryServer() as srv:
    ...     client = SchemaRegistryClient(srv.url)
    """

    def __init__(self) -> None:
        super().__init__(_handler(_RegistryState()))


class SchemaRegistryClient:
    """Thin HTTP client over the REST subset; drop-in for
    InMemorySchemaRegistry in from_avro_wire (register +
    fields_by_id), with the standard immutable id->schema cache so a
    decode loop hits the network once per schema id, not per record.

    IMPORTANT for executors: construct with a URL (picklable); the
    cache is lazy per process.
    """

    def __init__(self, base_url: str) -> None:
        self.base_url = base_url.rstrip("/")
        self._fields_cache: dict[int, tuple] = {}

    def _request(self, method: str, path: str, payload: dict | None = None):
        data = json.dumps(payload).encode() if payload is not None else None
        req = urllib.request.Request(
            self.base_url + path,
            data=data,
            method=method,
            headers={"Content-Type": "application/vnd.schemaregistry.v1+json"},
        )
        with urllib.request.urlopen(req, timeout=10) as resp:
            return json.loads(resp.read())

    # -- protocol surface ---------------------------------------------------

    def register(self, subject: str, fields, name: str = "Value") -> int:
        # the record NAME lives in the schema, not the subject (a
        # Debezium schema is "db.table.Value" however it is routed) —
        # keeping it subject-independent preserves the registry's
        # content-addressed id contract across subjects
        sid = self._request(
            "POST",
            f"/subjects/{subject}/versions",
            {"schema": avro_schema_json(name, fields), "schemaType": "AVRO"},
        )["id"]
        self._fields_cache[sid] = tuple(fields)
        return sid

    def schema_json_by_id(self, sid: int) -> str:
        return self._request("GET", f"/schemas/ids/{sid}")["schema"]

    def fields_by_id(self, sid: int):
        if sid not in self._fields_cache:
            self._fields_cache[sid] = tuple(
                parse_avro_schema_json(self.schema_json_by_id(sid))
            )
        return self._fields_cache[sid]

    def subjects(self) -> list[str]:
        return self._request("GET", "/subjects")

    def latest(self, subject: str) -> dict:
        return self._request("GET", f"/subjects/{subject}/versions/latest")

    def is_compatible(self, subject: str, fields) -> bool:
        return self._request(
            "POST",
            f"/compatibility/subjects/{subject}/versions/latest",
            {"schema": avro_schema_json(subject, fields)},
        )["is_compatible"]

    def __reduce__(self):
        # pickle as (url,) so a client captured in a mapInPandas
        # closure re-opens executor-side with an empty cache
        return (SchemaRegistryClient, (self.base_url,))
