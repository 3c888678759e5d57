"""CHYT YSON function family: ``YPath*`` getters, the ``YSONExtract*`` /
``YSONHas`` / ``YSONLength`` / ``YSONKey`` / ``YSONType`` ClickHouse-style
accessors, and ``ConvertYson`` — executed as Arrow-batched pandas UDFs over
the pure-Python YSON codec (sources/yson.py).

Reference behavior spec: yt/chyt/tests/server/test_yson_functions.py (the
YPath family: strict variants THROW on type/path mismatch, non-strict
return NULL — or an empty array for the Array getters) and
test_common.py::test_yson_extract (the YSONExtract family mirrors
ClickHouse's JSONExtract* API: trailing ``indices_or_keys`` arguments where
a string addresses a map key and a 1-based integer addresses a list element
or the n-th map entry; negative indices count from the end). ConvertYson
re-emits any YSON value in ``binary`` / ``text`` / ``pretty`` form
(test_common.py::test_convert_yson).

Input values are sniffed: binary YSON (marker bytes), text YSON
(``{a=5;}``), or JSON — the repo's "Any ≡ JSON string" storage convention
(functions/ql.py) — so the same functions work over fixture Any columns and
over verbatim CHYT literals. Binary output is decoded latin-1 (lossless in
Python str; the reference compares small-integer payloads where binary YSON
is ASCII-safe).

These are Python-side functions by necessity (opaque Any payloads, not a
relational hot path); they are Arrow-batched and registered per isolated
CHYT session (chyt.py) — never in the shared session.
"""

from __future__ import annotations

import json
from decimal import Decimal

import pandas as pd

from ytsaurus_spark.sources.yson import (
    YsonTextError,
    dumps,
    dumps_text,
    loads,
    loads_text,
)

__all__ = ["register_yson_functions", "parse_any"]

_BINARY_MARKERS = {0x01, 0x02, 0x03, 0x04, 0x05, 0x06}


def parse_any(v):
    """Parse an Any payload: binary YSON, text YSON, or JSON. Raises
    ValueError on malformed input; None passes through."""
    if v is None:
        return None
    if isinstance(v, bytes):
        return loads(v)
    if not isinstance(v, str):
        raise ValueError(f"YSON input must be a string, got {type(v).__name__}")
    if v and ord(v[0]) in _BINARY_MARKERS:
        return loads(v.encode("latin-1"))
    try:
        return loads_text(v)
    except YsonTextError:
        pass
    try:
        return json.loads(v)
    except (json.JSONDecodeError, ValueError):
        raise ValueError(f"malformed YSON/JSON value: {v[:60]!r}") from None


def _dump_fmt(value, fmt: str) -> str:
    if fmt == "binary":
        return dumps(value).decode("latin-1")
    if fmt in ("text", "pretty", "unescaped_text", "unescaped_pretty"):
        return dumps_text(value, fmt)
    raise ValueError(
        f"unknown YSON format {fmt!r} "
        "(binary/text/pretty/unescaped_text/unescaped_pretty)")


# --- YPath walking (udf path syntax: '/key/1/sub'; '' = whole value) --------


def _walk_ypath(value, path):
    """Returns (found, node). A missing step or a scalar mid-path is
    (False, None), never an error — strictness is the caller's call."""
    if path is None:
        return False, None
    node = value
    for step in [s for s in str(path).split("/") if s != ""]:
        if isinstance(node, dict):
            if step not in node:
                return False, None
            node = node[step]
        elif isinstance(node, list):
            try:
                idx = int(step)
            except ValueError:
                return False, None
            if not 0 <= idx < len(node):
                return False, None
            node = node[idx]
        else:
            return False, None
    return True, node


def _coerce(node, kind: str):
    """Typed extraction; returns (ok, value). ``kind``: int64/uint64/
    double/boolean/string. Type promotion follows the reference UDFs:
    int<->uint within range, int->double; never string<->number."""
    if kind == "int64":
        if isinstance(node, bool) or not isinstance(node, int):
            return False, None
        if not -(2**63) <= node < 2**63:
            return False, None
        return True, node
    if kind == "uint64":
        if isinstance(node, bool) or not isinstance(node, int):
            return False, None
        if not 0 <= node < 2**64:
            return False, None
        return True, Decimal(node)
    if kind == "double":
        if isinstance(node, bool) or not isinstance(node, (int, float)):
            return False, None
        return True, float(node)
    if kind == "boolean":
        if not isinstance(node, bool):
            return False, None
        return True, node
    if kind == "string":
        if not isinstance(node, str):
            return False, None
        return True, node
    raise AssertionError(kind)


def _ypath_scalar(kind: str, strict: bool):
    def fn(vs: pd.Series, paths: pd.Series) -> pd.Series:
        out = []
        for v, p in zip(vs, paths):
            if v is None or p is None:
                if strict:
                    raise ValueError(f"YPath{kind}Strict: NULL input")
                out.append(None)
                continue
            found, node = _walk_ypath(parse_any(v), p)
            ok, val = _coerce(node, kind) if found else (False, None)
            if not ok:
                if strict:
                    raise ValueError(
                        f"YPath{kind}Strict: no {kind} at {p!r} "
                        f"(found: {node!r})"
                    )
                out.append(None)
            else:
                out.append(val)
        return pd.Series(out, dtype=object)

    return fn


def _ypath_array(kind: str, strict: bool):
    def fn(vs: pd.Series, paths: pd.Series) -> pd.Series:
        out = []
        for v, p in zip(vs, paths):
            if v is None or p is None:
                if strict:
                    raise ValueError(f"YPathArray{kind}Strict: NULL input")
                out.append([])
                continue
            found, node = _walk_ypath(parse_any(v), p)
            if not found or not isinstance(node, list):
                if strict:
                    raise ValueError(f"YPathArray{kind}Strict: no list at {p!r}")
                out.append([])
                continue
            items = []
            bad = False
            for el in node:
                ok, val = _coerce(el, kind)
                if not ok:
                    bad = True
                    break
                items.append(val)
            if bad:
                if strict:
                    raise ValueError(
                        f"YPathArray{kind}Strict: non-{kind} element at {p!r}"
                    )
                out.append([])
            else:
                out.append(items)
        return pd.Series(out, dtype=object)

    return fn


def _ypath_raw(strict: bool):
    def fn(vs: pd.Series, paths: pd.Series, fmts: pd.Series) -> pd.Series:
        out = []
        for v, p, fmt in zip(vs, paths, fmts):
            if v is None or p is None:
                if strict:
                    raise ValueError("YPathRawStrict: NULL input")
                out.append(None)
                continue
            found, node = _walk_ypath(parse_any(v), p)
            if not found:
                if strict:
                    raise ValueError(f"YPathRawStrict: nothing at {p!r}")
                out.append(None)
                continue
            out.append(_dump_fmt(node, fmt or "binary"))
        return pd.Series(out, dtype=object)

    return fn


def _ypath_json(strict: bool):
    """JSON re-encoding of the node at path — the translator wraps it in
    ``from_json(..., <spark type>)`` for YPathExtract's typed results."""

    def fn(vs: pd.Series, paths: pd.Series) -> pd.Series:
        out = []
        for v, p in zip(vs, paths):
            if v is None or p is None:
                if strict:
                    raise ValueError("YPathExtractStrict: NULL input")
                out.append(None)
                continue
            found, node = _walk_ypath(parse_any(v), p)
            if not found:
                if strict:
                    raise ValueError(f"YPathExtractStrict: nothing at {p!r}")
                out.append(None)
            else:
                out.append(json.dumps(node))
        return pd.Series(out, dtype=object)

    return fn


# --- YSONExtract family (ClickHouse JSONExtract-style addressing) -----------


def _walk_keys(value, keys):
    """indices_or_keys walk: str = map key; int > 0 = 1-based list element
    or n-th map ENTRY VALUE; int < 0 counts from the end. Returns
    (found, node)."""
    node = value
    for k in keys:
        if isinstance(k, str):
            if not isinstance(node, dict) or k not in node:
                return False, None
            node = node[k]
        else:
            idx = int(k)
            if isinstance(node, list):
                n = len(node)
            elif isinstance(node, dict):
                n = len(node)
            else:
                return False, None
            pos = idx - 1 if idx > 0 else n + idx
            if not 0 <= pos < n:
                return False, None
            node = (
                node[pos]
                if isinstance(node, list)
                else list(node.values())[pos]
            )
    return True, node


def _yson_fn(extract):
    """Wrap an extractor(value, keys) -> result over (payload, keys-json)
    column pairs."""

    def fn(vs: pd.Series, keys_json: pd.Series) -> pd.Series:
        out = []
        for v, kj in zip(vs, keys_json):
            if v is None:
                out.append(None)
                continue
            keys = json.loads(kj) if kj else []
            try:
                parsed = parse_any(v)
            except ValueError:
                out.append(extract.__defaults__[0] if extract.__defaults__
                           else None)
                continue
            out.append(extract(parsed, keys))
        return pd.Series(out, dtype=object)

    return fn


def _yson_has(value, keys, default=False):
    found, _ = _walk_keys(value, keys)
    return found


def _yson_length(value, keys, default=0):
    found, node = _walk_keys(value, keys)
    if not found or not isinstance(node, (list, dict)):
        return 0
    return len(node)


def _yson_key(value, keys, default=None):
    """Key name addressed by the LAST step (string key echoes itself if
    present; integer index returns the n-th map key)."""
    if not keys:
        return None
    found, parent = _walk_keys(value, keys[:-1])
    last = keys[-1]
    if not found or not isinstance(parent, dict):
        return None
    if isinstance(last, str):
        return last if last in parent else None
    pos = int(last) - 1 if int(last) > 0 else len(parent) + int(last)
    if not 0 <= pos < len(parent):
        return None
    return list(parent.keys())[pos]


def _type_name(node) -> str:
    if node is None:
        return "Null"
    if isinstance(node, bool):
        return "Bool"
    if isinstance(node, int):
        return "Int64" if node < 2**63 else "UInt64"
    if isinstance(node, float):
        return "Double"
    if isinstance(node, str):
        return "String"
    if isinstance(node, list):
        return "Array"
    return "Object"


def _yson_type(value, keys, default=None):
    found, node = _walk_keys(value, keys)
    return _type_name(node) if found else None


def _yson_extract_int(value, keys, default=None):
    found, node = _walk_keys(value, keys)
    ok, val = _coerce(node, "int64") if found else (False, None)
    return val if ok else None


def _yson_extract_uint(value, keys, default=None):
    found, node = _walk_keys(value, keys)
    ok, val = _coerce(node, "uint64") if found else (False, None)
    return val if ok else None


def _yson_extract_float(value, keys, default=None):
    found, node = _walk_keys(value, keys)
    ok, val = _coerce(node, "double") if found else (False, None)
    return val if ok else None


def _yson_extract_bool(value, keys, default=None):
    found, node = _walk_keys(value, keys)
    ok, val = _coerce(node, "boolean") if found else (False, None)
    return val if ok else None


def _yson_extract_string(value, keys, default=None):
    found, node = _walk_keys(value, keys)
    ok, val = _coerce(node, "string") if found else (False, None)
    return val if ok else None


def _yson_extract_raw(value, keys, default=None):
    found, node = _walk_keys(value, keys)
    return _dump_fmt(node, "binary") if found else None


def _yson_extract_array_raw(value, keys, default=None):
    found, node = _walk_keys(value, keys)
    if not found or not isinstance(node, list):
        return None
    return [_dump_fmt(el, "binary") for el in node]


def _yson_extract_kv_raw(value, keys, default=None):
    found, node = _walk_keys(value, keys)
    if not found or not isinstance(node, dict):
        return None
    return [(k, _dump_fmt(v, "binary")) for k, v in node.items()]


def _yson_extract_kv_int(value, keys, default=None):
    found, node = _walk_keys(value, keys)
    if not found or not isinstance(node, dict):
        return None
    out = []
    for k, v in node.items():
        ok, val = _coerce(v, "int64")
        if ok:
            out.append((k, val))
    return out


def _yson_extract_kv_uint(value, keys, default=None):
    found, node = _walk_keys(value, keys)
    if not found or not isinstance(node, dict):
        return None
    out = []
    for k, v in node.items():
        ok, val = _coerce(v, "uint64")
        if ok:
            out.append((k, val))
    return out


def _yson_extract_kv_float(value, keys, default=None):
    found, node = _walk_keys(value, keys)
    if not found or not isinstance(node, dict):
        return None
    out = []
    for k, v in node.items():
        ok, val = _coerce(v, "double")
        if ok:
            out.append((k, val))
    return out


def _yson_extract_kv_bool(value, keys, default=None):
    found, node = _walk_keys(value, keys)
    if not found or not isinstance(node, dict):
        return None
    out = []
    for k, v in node.items():
        ok, val = _coerce(v, "boolean")
        if ok:
            out.append((k, val))
    return out


def _yson_extract_kv_string(value, keys, default=None):
    found, node = _walk_keys(value, keys)
    if not found or not isinstance(node, dict):
        return None
    out = []
    for k, v in node.items():
        ok, val = _coerce(v, "string")
        if ok:
            out.append((k, val))
    return out


def _yson_json(value, keys, default=None):
    found, node = _walk_keys(value, keys)
    return json.dumps(node) if found else None


def _convert_yson(vs: pd.Series, fmts: pd.Series) -> pd.Series:
    out = []
    for v, fmt in zip(vs, fmts):
        if v is None:
            out.append(None)
            continue
        if fmt is None:
            raise ValueError("ConvertYson: format must not be NULL")
        out.append(_dump_fmt(parse_any(v), fmt))
    return pd.Series(out, dtype=object)


def register_yson_functions(spark) -> None:
    """Register the CHYT YSON function family in ``spark``'s UDF registry
    (lower-cased internal names; the translator maps CHYT spellings).
    The registrations are py4j round-trips, so CHYT statements do not call
    this: they clone a template session that called it once
    (``catalog.statement_session``)."""
    from pyspark.sql.functions import pandas_udf

    def reg(name: str, fn, ret: str) -> None:
        spark.udf.register(name, pandas_udf(fn, ret))

    for kind, ret in (
        ("int64", "bigint"),
        ("uint64", "decimal(20,0)"),
        ("double", "double"),
        ("boolean", "boolean"),
        ("string", "string"),
    ):
        reg(f"chyt_ypath_{kind}", _ypath_scalar(kind, False), ret)
        reg(f"chyt_ypath_{kind}_strict", _ypath_scalar(kind, True), ret)
        reg(f"chyt_ypath_array_{kind}", _ypath_array(kind, False),
            f"array<{ret}>")
        reg(f"chyt_ypath_array_{kind}_strict", _ypath_array(kind, True),
            f"array<{ret}>")
    reg("chyt_ypath_raw", _ypath_raw(False), "string")
    reg("chyt_ypath_raw_strict", _ypath_raw(True), "string")
    reg("chyt_ypath_json", _ypath_json(False), "string")
    reg("chyt_ypath_json_strict", _ypath_json(True), "string")

    reg("chyt_yson_has", _yson_fn(_yson_has), "boolean")
    reg("chyt_yson_length", _yson_fn(_yson_length), "bigint")
    reg("chyt_yson_key", _yson_fn(_yson_key), "string")
    reg("chyt_yson_type", _yson_fn(_yson_type), "string")
    reg("chyt_yson_extract_int", _yson_fn(_yson_extract_int), "bigint")
    reg("chyt_yson_extract_uint", _yson_fn(_yson_extract_uint),
        "decimal(20,0)")
    reg("chyt_yson_extract_float", _yson_fn(_yson_extract_float), "double")
    reg("chyt_yson_extract_bool", _yson_fn(_yson_extract_bool), "boolean")
    reg("chyt_yson_extract_string", _yson_fn(_yson_extract_string), "string")
    reg("chyt_yson_extract_raw", _yson_fn(_yson_extract_raw), "string")
    reg("chyt_yson_extract_array_raw", _yson_fn(_yson_extract_array_raw),
        "array<string>")
    reg("chyt_yson_extract_kv_raw", _yson_fn(_yson_extract_kv_raw),
        "array<struct<_1:string,_2:string>>")
    reg("chyt_yson_extract_kv_int", _yson_fn(_yson_extract_kv_int),
        "array<struct<_1:string,_2:bigint>>")
    reg("chyt_yson_extract_kv_string", _yson_fn(_yson_extract_kv_string),
        "array<struct<_1:string,_2:string>>")
    reg("chyt_yson_extract_kv_uint", _yson_fn(_yson_extract_kv_uint),
        "array<struct<_1:string,_2:decimal(20,0)>>")
    reg("chyt_yson_extract_kv_float", _yson_fn(_yson_extract_kv_float),
        "array<struct<_1:string,_2:double>>")
    reg("chyt_yson_extract_kv_bool", _yson_fn(_yson_extract_kv_bool),
        "array<struct<_1:string,_2:boolean>>")
    reg("chyt_yson_json", _yson_fn(_yson_json), "string")
    reg("chyt_convert_yson", _convert_yson, "string")
