"""Column-at-a-time Avro decode with numpy — the one bulk Avro decode path.

Parity/role: the reference's moonlink-kafka ingestion decodes Avro
record-by-record inside a native runtime (``src/moonlink_connectors``,
Rust avro crate) into an Arrow mem-table. Both bulk consumers decode
here: the queue ingestor (``sources/queue.py``) stages one Arrow table
per drain, and the stream source (``integrations/spark_datasource.py``)
hands Spark one Arrow batch per offset range. The interpretive
:func:`~moonlink_spark.sources.avro_binary.decode_record` stays the
single-datum path and the test oracle.

- :func:`decode_columns` reads the payloads in place from one ``uint8``
  buffer (a Kafka fetch's record buffer, ``kafka_wire.RecordColumns``)
  with one read position and one end per record, and walks the record
  schema one FIELD at a time, decoding that field for every record with
  numpy kernels: zigzag varints, fixed-width floats, length-prefixed
  strings/bytes gathered straight into Arrow buffers, and ``[null, X]``
  unions through a branch mask. Each column comes back as a
  ``pyarrow.Array``. Temporal logicals keep their epoch integers under
  the matching Arrow type (µs/ms timestamps, ``date32``, ``time-millis``
  as µs).
- :func:`arrow_batch_for_spark` safe-casts those arrays into ONE
  ``pyarrow.RecordBatch`` matching a Spark ``StructType``
  (``pyspark.sql.pandas.types.to_arrow_schema``).

Complex fields (array/map/nested record/enum/fixed/decimal/multi-branch
union) decode with the interpretive ``decode_datum`` +
``fix_datum_for_spark``, one record at a time but for that field only,
each reading its own record's payload (sliced from the buffer); the
fields after it continue
vectorized from the updated positions. Malformed bytes raise
``AvroSchemaError`` in ``decode_record``'s message families, and no read
crosses into the next record.
"""

from __future__ import annotations

import struct
from typing import Any

import numpy as np
import pyarrow as pa

from moonlink_spark.sources.avro_binary import decode_datum, fix_datum_for_spark
from moonlink_spark.sources.converters import AvroSchemaError, _avro_type

# Records decoded per pass. A string/bytes gather holds two indexes per
# payload byte, so the pass size bounds that scratch memory; the
# value is the knee of the sweep in SCALE.md §5 (CPU per record flat
# from here up, tracemalloc peak growing with it).
DECODE_CHUNK_RECORDS = 8192

_PRIMITIVES = ("null", "boolean", "int", "long", "float", "double", "string", "bytes")
_INT32_MIN, _INT32_MAX = -(2**31), 2**31 - 1


def _plan(fs: Any) -> tuple[int | None, str, str | None] | None:
    """``(null branch or None, primitive type, logicalType)`` for a field
    the numpy kernels decode, or None for a complex field."""
    if isinstance(fs, dict) and isinstance(fs.get("type"), (dict, list)):
        return _plan(fs["type"])
    if isinstance(fs, list):
        if len(fs) != 2:
            return None
        branches = [b if isinstance(b, str) else b.get("type") for b in fs]
        if "null" not in branches:
            return None
        null_idx = branches.index("null")
        inner = _plan(fs[1 - null_idx])
        if inner is None or inner[0] is not None:
            return None
        return null_idx, inner[1], inner[2]
    t, lt = (fs, None) if isinstance(fs, str) else (fs.get("type"), fs.get("logicalType"))
    if t not in _PRIMITIVES or (t == "bytes" and lt == "decimal"):
        return None
    return None, t, lt


# --------------------------------------------------------------------------- #
# numpy kernels: each reads one value at every position in ``pos`` (int64
# offsets into ``buf``) and returns the values and the positions after them.
# ``start``/``end`` bound each record, so a read past its end is an error.
# --------------------------------------------------------------------------- #


def _varint(buf, pos, end):
    """Unsigned LEB128 -> uint64. At most 10 bytes, and the 10th carries
    one bit: anything wider is not a 64-bit value."""
    u = np.zeros(len(pos), np.uint64)
    pos = pos.copy()
    rows = None  # records whose varint continues; None = every record
    for shift in range(0, 70, 7):
        at = pos if rows is None else pos[rows]
        if (at >= (end if rows is None else end[rows])).any():
            raise AvroSchemaError("truncated varint")
        b = buf[at]
        if shift == 63 and (b > 1).any():
            raise AvroSchemaError("varint too long")
        bits = (b & 0x7F).astype(np.uint64) << np.uint64(shift)
        if rows is None:
            u |= bits
            pos += 1
        else:
            u[rows] |= bits
            pos[rows] += 1
        more = b >= 0x80
        if not more.any():
            break
        rows = np.flatnonzero(more) if rows is None else rows[more]
    return u, pos


def _long(buf, pos, end):
    u, pos = _varint(buf, pos, end)
    one = np.uint64(1)
    return (u >> one).astype(np.int64) ^ -(u & one).astype(np.int64), pos


def _int(buf, pos, end):
    v, pos = _long(buf, pos, end)
    bad = (v < _INT32_MIN) | (v > _INT32_MAX)
    if bad.any():
        raise AvroSchemaError(f"int {v[bad][0]} out of range")
    return v.astype(np.int32), pos


def _fixed_width(buf, pos, start, end, width, what):
    """-> (n, width) uint8 rows, positions after them."""
    short = end - pos < width
    if short.any():
        i = np.flatnonzero(short)[0]
        raise AvroSchemaError(
            f"truncated {what}: need {width} bytes at {pos[i] - start[i]}, "
            f"have {end[i] - pos[i]}"
        )
    return buf[pos[:, None] + np.arange(width)], pos + width


def _length_prefixed(buf, pos, start, end, what):
    """-> (byte offsets of each value, lengths, positions after them)."""
    n, pos = _long(buf, pos, end)
    bad = (n < 0) | (n > end - pos)
    if bad.any():
        i = np.flatnonzero(bad)[0]
        raise AvroSchemaError(
            f"truncated {what}: need {n[i]} bytes at {pos[i] - start[i]}, "
            f"have {end[i] - pos[i]}"
        )
    return pos, n, pos + n


def _gather(buf, at, n):
    """Concatenate ``buf[at[i]:at[i] + n[i]]`` -> (int64 offsets, bytes)."""
    offsets = np.zeros(len(n) + 1, np.int64)
    np.cumsum(n, out=offsets[1:])
    # one index per byte: int32 halves that scratch memory and its page
    # faults whenever the pass's buffer allows it
    dtype = np.int32 if len(buf) < 2**31 else np.int64
    idx = np.repeat((at - offsets[:-1]).astype(dtype), n)
    idx += np.arange(offsets[-1], dtype=dtype)
    return offsets, buf[idx]


def _decode_primitive(t, lt, buf, pos, start, end):
    """One primitive value per record -> (values, Arrow type, positions
    after). Strings and bytes come back as ``(byte offsets, lengths)``."""
    if t == "null":
        return None, pa.null(), pos
    if t == "boolean":
        raw, pos = _fixed_width(buf, pos, start, end, 1, "boolean")
        return raw[:, 0] != 0, pa.bool_(), pos
    if t in ("int", "long"):
        v, pos = (_int if t == "int" or lt == "date" else _long)(buf, pos, end)
        if lt in ("timestamp-micros", "local-timestamp-micros"):
            return v.astype(np.int64), pa.timestamp("us"), pos
        if lt in ("timestamp-millis", "local-timestamp-millis"):
            return v.astype(np.int64), pa.timestamp("ms"), pos
        if lt == "date":
            return v, pa.date32(), pos
        if lt == "time-millis":  # canonical µs since midnight
            return v.astype(np.int64) * 1000, pa.int64(), pos
        return v, pa.int32() if t == "int" else pa.int64(), pos
    if t in ("float", "double"):
        width, dtype, typ = (
            (4, "<f4", pa.float32()) if t == "float" else (8, "<f8", pa.float64())
        )
        raw, pos = _fixed_width(buf, pos, start, end, width, t)
        return raw.view(dtype).ravel(), typ, pos
    at, n, pos = _length_prefixed(buf, pos, start, end, t)
    return (at, n), pa.large_string() if t == "string" else pa.large_binary(), pos


def _to_arrow(buf, values, typ, n, valid=None):
    """Kernel output -> pyarrow array of ``n`` rows. ``valid`` (a bool
    per record, or None when every record has a value) marks the
    non-null rows of a ``[null, X]`` union; ``values`` holds only those
    rows."""
    if typ == pa.null():
        return pa.nulls(n)
    if not isinstance(values, tuple):
        if valid is None:
            return pa.array(values, type=typ)
        full = np.zeros(n, values.dtype)
        full[valid] = values
        return pa.array(full, type=typ, mask=~valid)
    at, lens = values
    bitmap = None
    if valid is not None:
        at_full, lens_full = np.zeros(n, np.int64), np.zeros(n, np.int64)
        at_full[valid], lens_full[valid] = at, lens
        at, lens = at_full, lens_full
        bitmap = pa.py_buffer(np.packbits(valid, bitorder="little"))
    offsets, data = _gather(buf, at, lens)
    arr = pa.Array.from_buffers(
        typ, n, [bitmap, pa.py_buffer(offsets), pa.py_buffer(data)]
    )
    if typ == pa.large_string():
        try:
            arr.validate(full=True)
        except pa.ArrowInvalid as e:
            raise AvroSchemaError(f"invalid UTF-8 in string: {e}") from e
    return arr


def _decode_field(plan, buf, pos, start, end):
    """One vectorized field for every record -> (Arrow array, positions)."""
    null_idx, t, lt = plan
    if null_idx is None:
        vals, typ, pos = _decode_primitive(t, lt, buf, pos, start, end)
        return _to_arrow(buf, vals, typ, len(pos)), pos
    branch, pos = _long(buf, pos, end)
    bad = (branch != 0) & (branch != 1)
    if bad.any():
        raise AvroSchemaError(f"union branch {branch[bad][0]} out of range")
    valid = branch != null_idx
    rows = np.flatnonzero(valid)
    vals, typ, pos[rows] = _decode_primitive(
        t, lt, buf, pos[rows], start[rows], end[rows]
    )
    return _to_arrow(buf, vals, typ, len(pos), valid), pos


def _decode_complex(fs, payloads, pos, start):
    """The interpretive decoder, one record at a time, for one field;
    each record reads its own payload, so a bad length cannot read on
    into the next record. -> (Arrow array, or a Python list when the
    field has no Spark type, positions after)."""
    col = []
    pos = pos.copy()
    try:
        for i, payload in enumerate(payloads):
            v, p = decode_datum(fs, payload, int(pos[i] - start[i]))
            col.append(fix_datum_for_spark(fs, v))
            pos[i] = start[i] + p
    except (IndexError, struct.error, UnicodeDecodeError) as e:
        raise AvroSchemaError(f"malformed datum: {e}") from e
    try:
        from pyspark.sql.pandas.types import to_arrow_type

        typ = to_arrow_type(_avro_type(fs)[0])
    except AvroSchemaError:
        return col, pos  # e.g. a multi-branch union: typed by the table
    return pa.array(col, type=typ), pos


def _decode_chunk(fields, plans, buf, start, end):
    pos = start
    payloads = None  # each record's bytes, sliced for complex fields only
    cols = []
    for f, plan in zip(fields, plans):
        if plan is None:
            if payloads is None:
                payloads = [
                    buf[a:b].tobytes() for a, b in zip(start.tolist(), end.tolist())
                ]
            col, pos = _decode_complex(f["type"], payloads, pos, start)
        else:
            col, pos = _decode_field(plan, buf, pos, start, end)
        cols.append(col)
    trailing = pos != end
    if trailing.any():
        i = np.flatnonzero(trailing)[0]
        raise AvroSchemaError(
            f"trailing {end[i] - pos[i]} bytes after datum (framing bug?)"
        )
    return cols


def decode_columns(schema: dict, buf, starts, ends) -> dict[str, Any]:
    """Avro record payloads -> ``{field name: column}``, the shape
    :func:`arrow_batch_for_spark` takes. Record ``i`` is
    ``buf[starts[i]:ends[i]]`` (``buf`` a ``uint8`` array, the bounds
    int64 arrays), so a fetch's record buffer decodes in place. A column
    is a ``pyarrow.Array`` of the field's Avro-derived type
    (``large_string``/``large_binary`` for strings and bytes), or a
    Python list for a field Spark cannot type (a multi-branch union).
    Tombstones have no payload: the CALLER leaves them out."""
    if schema.get("type") != "record":
        raise AvroSchemaError("columnar decoder requires a record schema")
    fields = schema["fields"]
    plans = [_plan(f["type"]) for f in fields]
    chunks = [
        _decode_chunk(
            fields, plans, buf,
            starts[a:a + DECODE_CHUNK_RECORDS], ends[a:a + DECODE_CHUNK_RECORDS],
        )
        for a in range(0, len(starts), DECODE_CHUNK_RECORDS)
    ] or [_decode_chunk(fields, plans, buf, starts[:0], ends[:0])]
    out = {}
    for i, f in enumerate(fields):
        parts = [c[i] for c in chunks]
        if len(parts) == 1:
            out[f["name"]] = parts[0]
        elif isinstance(parts[0], pa.Array):
            out[f["name"]] = pa.concat_arrays(parts)
        else:
            out[f["name"]] = [v for p in parts for v in p]
    return out


def binary_array(buf, starts, lens) -> pa.Array:
    """``large_binary`` array of ``buf[starts[i]:starts[i] + lens[i]]``,
    null where ``lens[i]`` is -1."""
    valid = lens >= 0
    if valid.all():
        return _to_arrow(buf, (starts, lens), pa.large_binary(), len(lens))
    return _to_arrow(
        buf, (starts[valid], lens[valid]), pa.large_binary(), len(lens), valid
    )


def arrow_batch_for_spark(
    spark_struct,
    named_columns: dict[str, Any],
    num_rows: int = 0,
):
    """Assemble one ``pyarrow.RecordBatch`` matching ``spark_struct``
    (a ``StructType``). ``named_columns`` maps column name -> a
    ``pyarrow.Array`` (safe-cast to the struct's type: a value the type
    cannot hold raises) or a Python list (built with that type); names
    the struct lacks are dropped, struct columns it lacks are
    ``num_rows`` nulls."""
    from pyspark.sql.pandas.types import to_arrow_schema

    pa_schema = to_arrow_schema(spark_struct)
    arrays = []
    for name, typ in zip(pa_schema.names, pa_schema.types):
        col = named_columns.get(name)
        if col is None:
            arrays.append(pa.nulls(num_rows, typ))
        elif isinstance(col, pa.Array):
            arrays.append(col if col.type == typ else col.cast(typ))
        else:
            arrays.append(pa.array(col, type=typ))
    return pa.RecordBatch.from_arrays(arrays, schema=pa_schema)
