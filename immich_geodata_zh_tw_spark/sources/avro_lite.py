"""From-scratch Avro 1.x object-container reader/writer (pure Python).

Exists for ONE reason: Iceberg table metadata (manifest lists + manifests)
is stored as Avro, and this environment ships neither Iceberg runtime jars
nor any Avro library — so without this module the engine cannot read the
``BASELINE.json input_hint``'s production table format at all
(sources/iceberg_lite.py builds on it).  Implemented straight from the
public Apache Avro 1.11 specification ("Object Container Files" +
"Binary Encoding"); tests anchor the decoder against HAND-DERIVED spec
bytes (not this module's own encoder) so a symmetric misreading of the
spec cannot self-validate.

Scope (everything Iceberg metadata needs, nothing speculative):

* container format: magic ``Obj\\x01``, file-metadata map
  (``avro.schema`` JSON + ``avro.codec``), 16-byte sync marker, data
  blocks (count, byte-size, payload, sync);
* codecs: ``null`` and ``deflate`` (raw zlib, no header — per spec);
* binary encoding for the full type set: null, boolean, int, long
  (zigzag varints), float, double, bytes, string, record, enum, array,
  map, union, fixed — with named-type definitions and by-name references;
* the DECODER is writer-schema-driven (the schema embedded in the file),
  which is exactly the Avro contract for reading a file you did not
  write; schema resolution against a differing reader schema is out of
  scope (Iceberg readers project by field NAME on the decoded dicts).

Logical types (timestamps etc.) are surfaced as their underlying
primitive — Iceberg consumers here only touch paths/longs/ints.
"""

from __future__ import annotations

import json
import os
import struct
import zlib

MAGIC = b"Obj\x01"
#: the 16-byte sync marker every written container carries
_SYNC = b"\x00" * 15 + b"\x01"
_PRIMITIVES = {"null", "boolean", "int", "long", "float", "double",
               "bytes", "string"}


# ---------------------------------------------------------------------------
# varint / zigzag (spec: "int and long values are written using
# variable-length zig-zag coding")
# ---------------------------------------------------------------------------

def zigzag_encode(n: int) -> bytes:
    u = (n << 1) ^ (n >> 63) if n < 0 else n << 1
    u &= (1 << 64) - 1
    out = bytearray()
    while True:
        b = u & 0x7F
        u >>= 7
        if u:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def zigzag_decode(buf, pos: int) -> tuple[int, int]:
    shift, u = 0, 0
    while True:
        b = buf[pos]
        pos += 1
        u |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
    return (u >> 1) ^ -(u & 1), pos


# ---------------------------------------------------------------------------
# schema handling: parse JSON, register named types, resolve references
# ---------------------------------------------------------------------------

def _fullname(name: str, namespace: str | None) -> str:
    return name if "." in name or not namespace else f"{namespace}.{name}"


def _normalize(schema, names: dict, namespace: str | None = None):
    """JSON schema → normalized dict form with named types registered in
    ``names`` and references left as {'type': 'ref', 'name': fullname}."""
    if isinstance(schema, str):
        if schema in _PRIMITIVES:
            return {"type": schema}
        full = _fullname(schema, namespace)
        key = full if full in names else schema
        if key not in names:
            raise ValueError(f"unresolved Avro type reference {schema!r}")
        return {"type": "ref", "name": key}
    if isinstance(schema, list):  # union
        return {"type": "union",
                "branches": [_normalize(b, names, namespace) for b in schema]}
    t = schema["type"]
    if isinstance(t, (dict, list)):  # {"type": {...nested...}}
        return _normalize(t, names, namespace)
    if t in _PRIMITIVES:
        return {"type": t}
    if t == "array":
        return {"type": "array",
                "items": _normalize(schema["items"], names, namespace)}
    if t == "map":
        return {"type": "map",
                "values": _normalize(schema["values"], names, namespace)}
    if t in ("record", "error"):
        ns = schema.get("namespace", namespace)
        full = _fullname(schema["name"], ns)
        node = {"type": "record", "name": full, "fields": []}
        names[full] = node  # register BEFORE fields: recursive types
        node["fields"] = [
            {"name": f["name"], "schema": _normalize(f["type"], names, ns)}
            for f in schema["fields"]]
        return node
    if t == "enum":
        full = _fullname(schema["name"], schema.get("namespace", namespace))
        node = {"type": "enum", "name": full, "symbols": schema["symbols"]}
        names[full] = node
        return node
    if t == "fixed":
        full = _fullname(schema["name"], schema.get("namespace", namespace))
        node = {"type": "fixed", "name": full, "size": int(schema["size"])}
        names[full] = node
        return node
    if isinstance(t, str):
        # dict-form named-type reference {"type": "<defined-name>"}: a name
        # is a legal `type` value per the Avro spec — other writers emit
        # this form; route it through the string branch's ref resolution
        return _normalize(t, names, namespace)
    raise ValueError(f"unsupported Avro type {t!r}")


class Schema:
    def __init__(self, json_schema):
        if isinstance(json_schema, (bytes, str)):
            json_schema = json.loads(json_schema)
        self.json = json_schema
        self.names: dict = {}
        self.root = _normalize(json_schema, self.names)

    def _deref(self, node):
        return self.names[node["name"]] if node["type"] == "ref" else node


# ---------------------------------------------------------------------------
# decode
# ---------------------------------------------------------------------------

def _decode(node, schema: Schema, buf, pos: int):
    node = schema._deref(node)
    t = node["type"]
    if t == "null":
        return None, pos
    if t == "boolean":
        return buf[pos] != 0, pos + 1
    if t in ("int", "long"):
        return zigzag_decode(buf, pos)
    if t == "float":
        return struct.unpack_from("<f", buf, pos)[0], pos + 4
    if t == "double":
        return struct.unpack_from("<d", buf, pos)[0], pos + 8
    if t in ("bytes", "string"):
        n, pos = zigzag_decode(buf, pos)
        raw = bytes(buf[pos:pos + n])
        return (raw.decode("utf-8") if t == "string" else raw), pos + n
    if t == "record":
        out = {}
        for f in node["fields"]:
            out[f["name"]], pos = _decode(f["schema"], schema, buf, pos)
        return out, pos
    if t == "enum":
        i, pos = zigzag_decode(buf, pos)
        return node["symbols"][i], pos
    if t == "fixed":
        return bytes(buf[pos:pos + node["size"]]), pos + node["size"]
    if t == "union":
        i, pos = zigzag_decode(buf, pos)
        return _decode(node["branches"][i], schema, buf, pos)
    if t in ("array", "map"):
        items = [] if t == "array" else {}
        while True:
            n, pos = zigzag_decode(buf, pos)
            if n == 0:
                return items, pos
            if n < 0:  # spec: negative count ⇒ block byte-size follows
                n = -n
                _, pos = zigzag_decode(buf, pos)
            for _ in range(n):
                if t == "array":
                    v, pos = _decode(node["items"], schema, buf, pos)
                    items.append(v)
                else:
                    k, pos = _decode({"type": "string"}, schema, buf, pos)
                    v, pos = _decode(node["values"], schema, buf, pos)
                    items[k] = v
    raise ValueError(f"unsupported Avro type {t!r}")


def read_container(path_or_bytes) -> tuple[Schema, list]:
    """Read an Avro object-container file → (writer Schema, records)."""
    if isinstance(path_or_bytes, (bytes, bytearray)):
        buf = bytes(path_or_bytes)
    else:
        with open(path_or_bytes, "rb") as fh:
            buf = fh.read()
    if buf[:4] != MAGIC:
        raise ValueError("not an Avro object container file (bad magic)")
    meta_schema = Schema({"type": "map", "values": "bytes"})
    meta, pos = _decode(meta_schema.root, meta_schema, buf, 4)
    schema = Schema(meta["avro.schema"])
    codec = meta.get("avro.codec", b"null").decode()
    if codec not in ("null", "deflate"):
        raise ValueError(f"unsupported Avro codec {codec!r}")
    sync = buf[pos:pos + 16]
    pos += 16
    records = []
    while pos < len(buf):
        count, pos = zigzag_decode(buf, pos)
        size, pos = zigzag_decode(buf, pos)
        payload = buf[pos:pos + size]
        pos += size
        if buf[pos:pos + 16] != sync:
            raise ValueError("Avro block sync-marker mismatch")
        pos += 16
        if codec == "deflate":  # spec: raw deflate, no zlib header/checksum
            payload = zlib.decompress(payload, -15)
        bpos = 0
        for _ in range(count):
            rec, bpos = _decode(schema.root, schema, payload, bpos)
            records.append(rec)
    return schema, records


# ---------------------------------------------------------------------------
# encode (fixture/writer side)
# ---------------------------------------------------------------------------

def _union_matches(branch: dict, value) -> bool:
    t = branch["type"]
    if value is None:
        return t == "null"
    if isinstance(value, bool):
        return t == "boolean"
    if isinstance(value, int):
        return t in ("int", "long")
    if isinstance(value, float):
        return t in ("float", "double")
    if isinstance(value, str):
        return t == "string" or (t == "enum" and value in branch["symbols"])
    if isinstance(value, (bytes, bytearray)):
        return t == "bytes" or (t == "fixed" and len(value) == branch["size"])
    if isinstance(value, list):
        return t == "array"
    if isinstance(value, dict):
        return t in ("record", "map")
    return False


def _encode(node, schema: Schema, value, out: bytearray) -> None:
    node = schema._deref(node)
    t = node["type"]
    if t == "null":
        return
    if t == "boolean":
        out.append(1 if value else 0)
    elif t in ("int", "long"):
        out += zigzag_encode(int(value))
    elif t == "float":
        out += struct.pack("<f", value)
    elif t == "double":
        out += struct.pack("<d", value)
    elif t in ("bytes", "string"):
        raw = value.encode("utf-8") if isinstance(value, str) else bytes(value)
        out += zigzag_encode(len(raw))
        out += raw
    elif t == "record":
        for f in node["fields"]:
            _encode(f["schema"], schema, value[f["name"]], out)
    elif t == "enum":
        out += zigzag_encode(node["symbols"].index(value))
    elif t == "fixed":
        assert len(value) == node["size"]
        out += bytes(value)
    elif t == "union":
        # branch selection by PYTHON TYPE of the value — an unchecked
        # "first non-null branch" would silently corrupt multi-branch
        # unions (e.g. 5 written through a string branch as five NULs);
        # no matching branch is a loud error, not wrong bytes
        branches = node["branches"]
        idx = next((i for i, b in enumerate(branches)
                    if _union_matches(schema._deref(b), value)), None)
        if idx is None:
            raise ValueError(
                f"no union branch of {[schema._deref(b)['type'] for b in branches]} "
                f"matches value {value!r}")
        out += zigzag_encode(idx)
        _encode(branches[idx], schema, value, out)
    elif t == "array":
        if value:
            out += zigzag_encode(len(value))
            for v in value:
                _encode(node["items"], schema, v, out)
        out += zigzag_encode(0)
    elif t == "map":
        if value:
            out += zigzag_encode(len(value))
            for k, v in value.items():
                _encode({"type": "string"}, schema, k, out)
                _encode(node["values"], schema, v, out)
        out += zigzag_encode(0)
    else:
        raise ValueError(f"unsupported Avro type {t!r}")


def write_container(path: str, json_schema, records: list, *,
                    codec: str = "deflate") -> None:
    """Write records as a single-block Avro object-container file."""
    schema = Schema(json_schema)
    body = bytearray()
    for rec in records:
        _encode(schema.root, schema, rec, body)
    payload = bytes(body)
    if codec == "deflate":
        comp = zlib.compressobj(wbits=-15)
        payload = comp.compress(payload) + comp.flush()
    elif codec != "null":
        raise ValueError(f"unsupported Avro codec {codec!r}")
    out = bytearray(MAGIC)
    meta = {"avro.schema": json.dumps(json_schema).encode(),
            "avro.codec": codec.encode()}
    meta_schema = Schema({"type": "map", "values": "bytes"})
    _encode(meta_schema.root, meta_schema, meta, out)
    out += _SYNC
    out += zigzag_encode(len(records))
    out += zigzag_encode(len(payload))
    out += payload
    out += _SYNC
    tmp = f"{path}.tmp{os.getpid()}"
    with open(tmp, "wb") as fh:
        fh.write(bytes(out))
    os.replace(tmp, path)
