"""Avro payload decoding for the Kafka source.

The reference attaches an Avro JSON schema to its Kafka source
(/root/reference/feathr-rs/src/source.rs:49-54 ``KafkaSchema.avroJson``,
source builder source.rs:563-650) and lets the Spark runtime decode the
``value`` column. Here the preferred path is the JVM ``from_avro``
expression (spark-avro on the classpath: codegen'd, zero Python); when
the connector is absent, :func:`decode_avro_payload` falls back to an
Arrow-batched ``mapInPandas`` decoder implementing the Avro binary
encoding over the structural subset: flat and NESTED records, arrays,
maps (string keys, per the spec), enums (→ string), fixed (→ binary),
``["null", T]`` unions at any depth and multi-branch unions (a struct
of one nullable field per branch) — compiled recursively by
:func:`compile_schema` into a Spark schema plus closure-based
encoder/decoder pairs. Only recursive named-type self-references
still need the connector (they have no finite Spark schema).

Binary encoding per the Avro 1.11 spec: int/long are zigzag varints,
float/double little-endian IEEE, boolean one byte, string/bytes a long
length followed by the payload, ``["null", T]`` unions a varint branch
index; record fields are concatenated in schema order; arrays and maps
are block-encoded (varint count per block, negative count = byte size
follows for skipping, zero count terminates); enums are the varint
symbol index; fixed is raw bytes of the declared size.
"""

from __future__ import annotations

import json
import struct
from typing import Iterator, Tuple

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_PRIMITIVES = {
    "boolean": T.BooleanType(),
    "int": T.IntegerType(),
    "long": T.LongType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    "string": T.StringType(),
    "bytes": T.BinaryType(),
}


# -- binary codec -----------------------------------------------------------

def _zigzag_encode(n: int) -> bytes:
    u = (n << 1) ^ (n >> 63)
    out = bytearray()
    while True:
        b = u & 0x7F
        u >>= 7
        if u:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _zigzag_decode(buf: bytes, pos: int) -> Tuple[int, int]:
    shift = u = 0
    while True:
        b = buf[pos]
        pos += 1
        u |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
    return (u >> 1) ^ -(u & 1), pos


def _encode_value(val, ftype: str) -> bytes:
    if ftype == "boolean":
        return b"\x01" if val else b"\x00"
    if ftype in ("int", "long"):
        return _zigzag_encode(int(val))
    if ftype == "float":
        return struct.pack("<f", float(val))
    if ftype == "double":
        return struct.pack("<d", float(val))
    if ftype == "string":
        raw = val.encode("utf-8")
        return _zigzag_encode(len(raw)) + raw
    if ftype == "bytes":
        return _zigzag_encode(len(val)) + bytes(val)
    raise NotImplementedError(ftype)


def _decode_value(buf: bytes, pos: int, ftype: str):
    if ftype == "boolean":
        return buf[pos] == 1, pos + 1
    if ftype in ("int", "long"):
        return _zigzag_decode(buf, pos)
    if ftype == "float":
        return struct.unpack_from("<f", buf, pos)[0], pos + 4
    if ftype == "double":
        return struct.unpack_from("<d", buf, pos)[0], pos + 8
    if ftype == "string":
        n, pos = _zigzag_decode(buf, pos)
        return buf[pos:pos + n].decode("utf-8"), pos + n
    if ftype == "bytes":
        n, pos = _zigzag_decode(buf, pos)
        return bytes(buf[pos:pos + n]), pos + n
    raise NotImplementedError(ftype)


# -- recursive schema compiler (round 5) -------------------------------------

def compile_schema(avro_json):
    """Compile an Avro record schema into ``(StructType, encode, decode)``
    where ``encode(dict) -> bytes`` and ``decode(bytes) -> dict`` handle
    the full structural subset: nested records, arrays, maps, enums,
    fixed, ``["null", T]`` unions at any depth, and multi-branch unions
    (mapped to a struct of nullable per-branch fields with exactly one
    set). Raises ``NotImplementedError`` only for named-type
    self-references (a self-referential record has no finite
    StructType — genuinely connector/variant territory)."""
    schema = json.loads(avro_json) if isinstance(avro_json, str) \
        else avro_json
    if not (isinstance(schema, dict) and schema.get("type") == "record"):
        raise NotImplementedError(
            f"only record schemas are supported, got {schema!r:.80}")
    named = {}
    stype, enc, dec = _compile(schema, named)

    def encode(row: dict) -> bytes:
        return bytes(enc(row))

    def decode(buf: bytes) -> dict:
        val, _ = dec(buf, 0)
        return val

    return stype, encode, decode


def _union_branch_name(b) -> str:
    """Spec-mandated union member name: the type name for primitives /
    array / map, the full name for named types (record/enum/fixed)."""
    if isinstance(b, str):
        return b
    if isinstance(b, dict):
        if b.get("name"):
            return b["name"]
        t = b.get("type")
        if isinstance(t, str):
            return t
    raise NotImplementedError(f"cannot name union branch {b!r:.80}")


def _compile(sch, named):
    """Recursive compile → (spark_type, enc(val)->bytearray,
    dec(buf, pos)->(val, pos))."""
    # named-type reference ("TypeName" used after definition)
    if isinstance(sch, str) and sch in named:
        if named[sch] is None:       # placeholder: still being compiled
            raise NotImplementedError(
                f"recursive reference to {sch!r} has no finite Spark "
                "schema (needs the spark-avro connector)")
        return named[sch]
    if isinstance(sch, str):
        if sch not in _PRIMITIVES:
            raise NotImplementedError(
                f"type {sch!r} needs the spark-avro connector")
        t = sch

        def enc_p(v, t=t):
            if v is None:  # a nullable field is a ["null", T] union
                raise ValueError(f"None for a non-nullable {t!r}")
            return bytearray(_encode_value(v, t))

        def dec_p(buf, pos, t=t):
            return _decode_value(buf, pos, t)

        return _PRIMITIVES[t], enc_p, dec_p
    if isinstance(sch, list):        # union
        branches = [b for b in sch if b != "null"]
        if len(sch) == 2 and "null" in sch and len(branches) == 1:
            # ["null", T]: the common optional-field case maps straight
            # to a nullable column of T — no wrapper struct.
            null_idx = sch.index("null")
            st, enc_i, dec_i = _compile(branches[0], named)

            def enc_u(v, enc_i=enc_i, null_idx=null_idx):
                if v is None:
                    return bytearray(_zigzag_encode(null_idx))
                return bytearray(_zigzag_encode(1 - null_idx)) + enc_i(v)

            def dec_u(buf, pos, dec_i=dec_i, null_idx=null_idx):
                branch, pos = _zigzag_decode(buf, pos)
                if branch == null_idx:
                    return None, pos
                return dec_i(buf, pos)

            return st, enc_u, dec_u
        # Multi-branch union (e.g. ["null","string","long"]): Spark has
        # no sum-type column, so map it to a struct of one NULLABLE
        # field per non-null branch — exactly one is set per value (all
        # NULL ⇔ the "null" branch). Field names follow the Avro spec's
        # union-member naming (primitive/complex type name, or the
        # name of a named type), which the spec guarantees unique
        # within a union. This mirrors what spark-avro itself does
        # ("member0"-style is Avro->Spark in some versions; type-named
        # fields keep values self-describing and stable under branch
        # reordering).
        entries = []                 # (union_idx, field_name, enc, dec)
        fields = []
        null_idx = sch.index("null") if "null" in sch else None
        for i, b in enumerate(sch):
            if b == "null":
                continue
            bname = _union_branch_name(b)
            st, e, d = _compile(b, named)
            entries.append((i, bname, e, d))
            fields.append(T.StructField(bname, st, nullable=True))
        names = [n for _, n, _, _ in entries]
        if len(set(names)) != len(names):
            raise NotImplementedError(
                f"union branch names collide: {names!r} (invalid Avro)")
        stype = T.StructType(fields)

        def enc_mu(v, entries=entries, null_idx=null_idx, names=names):
            if v is None or (isinstance(v, dict)
                             and all(v.get(n) is None for n in names)):
                if null_idx is None:
                    raise ValueError("None for a union without a null "
                                     "branch")
                return bytearray(_zigzag_encode(null_idx))
            set_names = [n for n in names
                         if isinstance(v, dict) and v.get(n) is not None]
            if len(set_names) != 1:
                raise ValueError(
                    f"union value must set exactly one of {names!r}, "
                    f"got {v!r:.80}")
            for i, n, e, _ in entries:
                if n == set_names[0]:
                    return bytearray(_zigzag_encode(i)) + e(v[n])

        def dec_mu(buf, pos, entries=entries, null_idx=null_idx,
                   names=names):
            branch, pos = _zigzag_decode(buf, pos)
            if branch == null_idx:
                return None, pos
            for i, n, _, d in entries:
                if i == branch:
                    val, pos = d(buf, pos)
                    out = {m: None for m in names}
                    out[n] = val
                    return out, pos
            raise ValueError(f"union branch index {branch} out of range")

        return stype, enc_mu, dec_mu
    if not isinstance(sch, dict):
        raise NotImplementedError(f"unsupported schema node {sch!r:.80}")
    kind = sch.get("type")
    if kind == "record":
        fields = []
        # pre-register a placeholder to catch self-references loudly
        name = sch.get("name")
        if name:
            named[name] = None
        for f in sch.get("fields", []):
            fsch = f["type"]
            if isinstance(fsch, str) and fsch in named \
                    and named[fsch] is None:
                raise NotImplementedError(
                    f"field {f['name']!r}: recursive reference to "
                    f"{fsch!r} has no finite Spark schema")
            st, e, d = _compile(fsch, named)
            nullable = isinstance(fsch, list) or not isinstance(
                st, T.BooleanType)
            fields.append((f["name"], st, e, d, nullable))
        stype = T.StructType([
            T.StructField(n, st, nullable=nb)
            for n, st, _, _, nb in fields])

        def enc_r(v, fields=fields):
            out = bytearray()
            for n, _, e, _, _ in fields:
                out += e(v.get(n) if isinstance(v, dict) else v[n])
            return out

        def dec_r(buf, pos, fields=fields):
            out = {}
            for n, _, _, d, _ in fields:
                out[n], pos = d(buf, pos)
            return out, pos

        if name:
            named[name] = (stype, enc_r, dec_r)
        return stype, enc_r, dec_r
    if kind == "array":
        st, e, d = _compile(sch["items"], named)

        def enc_a(v, e=e):
            out = bytearray()
            if v:
                out += _zigzag_encode(len(v))
                for item in v:
                    out += e(item)
            out += _zigzag_encode(0)
            return out

        def dec_a(buf, pos, d=d):
            out = []
            while True:
                n, pos = _zigzag_decode(buf, pos)
                if n == 0:
                    return out, pos
                if n < 0:                 # block byte-size prefix: skip it
                    _, pos = _zigzag_decode(buf, pos)
                    n = -n
                for _ in range(n):
                    item, pos = d(buf, pos)
                    out.append(item)

        return T.ArrayType(st), enc_a, dec_a
    if kind == "map":
        st, e, d = _compile(sch["values"], named)

        def enc_m(v, e=e):
            out = bytearray()
            if v:
                out += _zigzag_encode(len(v))
                for k, item in v.items():
                    out += bytearray(_encode_value(k, "string")) + e(item)
            out += _zigzag_encode(0)
            return out

        def dec_m(buf, pos, d=d):
            out = {}
            while True:
                n, pos = _zigzag_decode(buf, pos)
                if n == 0:
                    return out, pos
                if n < 0:
                    _, pos = _zigzag_decode(buf, pos)
                    n = -n
                for _ in range(n):
                    k, pos = _decode_value(buf, pos, "string")
                    out[k], pos = d(buf, pos)

        return T.MapType(T.StringType(), st), enc_m, dec_m
    if kind == "enum":
        symbols = list(sch["symbols"])

        def enc_e(v, symbols=symbols):
            return bytearray(_zigzag_encode(symbols.index(v)))

        def dec_e(buf, pos, symbols=symbols):
            i, pos = _zigzag_decode(buf, pos)
            return symbols[i], pos

        out = (T.StringType(), enc_e, dec_e)
        if sch.get("name"):
            named[sch["name"]] = out
        return out
    if kind == "fixed":
        size = int(sch["size"])

        def enc_f(v, size=size):
            raw = bytes(v)
            if len(raw) != size:
                raise ValueError(f"fixed size {size} != {len(raw)}")
            return bytearray(raw)

        def dec_f(buf, pos, size=size):
            return bytes(buf[pos:pos + size]), pos + size

        out = (T.BinaryType(), enc_f, dec_f)
        if sch.get("name"):
            named[sch["name"]] = out
        return out
    if isinstance(kind, (str, list, dict)) and "type" in sch \
            and kind not in ("record", "array", "map", "enum", "fixed"):
        # {"type": "long", "logicalType": ...} wrapper — decode the base
        return _compile(kind, named)
    raise NotImplementedError(f"unsupported schema node {sch!r:.80}")


# -- Spark integration ------------------------------------------------------

def decode_avro_payload(df: DataFrame, avro_json: str,
                        value_col: str = "value",
                        keep_cols: Tuple[str, ...] = ()) -> DataFrame:
    """Decode ``value_col`` (binary Avro) into top-level columns.

    Prefers the JVM ``from_avro`` expression (whole-stage codegen, no
    Python); transparently falls back to the Arrow-batched pure-Python
    decoder when the spark-avro connector is not on the classpath. Works
    on both batch and streaming DataFrames."""
    try:
        from pyspark.sql.avro.functions import from_avro
        decoded = df.select(
            from_avro(F.col(value_col), avro_json).alias("payload"),
            *[F.col(c) for c in keep_cols])
        decoded.schema  # force analysis: raises if connector absent
        return decoded.select("payload.*", *keep_cols)
    except ImportError:
        pass
    except AnalysisException as e:
        if e.getCondition() != "AVRO_NOT_LOADED_SQL_FUNCTIONS_UNUSABLE":
            raise
    payload_schema, _, decode = compile_schema(avro_json)
    names = [f.name for f in payload_schema.fields]
    out_schema = T.StructType(
        list(payload_schema) + [df.schema[c] for c in keep_cols])
    src = df.select(F.col(value_col), *[F.col(c) for c in keep_cols])

    def decode_batches(batches: Iterator) -> Iterator:
        import pandas as pd
        for pdf in batches:
            recs = [decode(v) for v in pdf[value_col]]
            out = pd.DataFrame.from_records(recs, columns=names)
            for c in keep_cols:
                out[c] = pdf[c].values
            yield out

    return src.mapInPandas(decode_batches, schema=out_schema)
