"""Schema-compiled columnar Avro decode — the one bulk Avro decode path.

Parity/role: the reference's moonlink-kafka ingestion decodes Avro
record-by-record inside a native runtime (``src/moonlink_connectors``,
Rust avro crate) into an Arrow mem-table. Both bulk consumers decode
here: the queue ingestor (``sources/queue.py``) stages one Arrow table
per drain, and the stream source (``integrations/spark_datasource.py``)
hands Spark one Arrow batch per offset range. The interpretive
:func:`~moonlink_spark.sources.avro_binary.decode_record` stays the
single-datum path and the test oracle.

- :func:`compile_columnar_decoder` SPECIALIZES the record schema into
  one generated Python function (built with ``compile()`` once per
  schema) that decodes a whole list of message values straight into
  per-column Python lists — zigzag varints inlined, no per-field
  dispatch, no per-record dict. Temporal logicals decode to raw int64
  (µs / ms / days) instead of datetime objects, which is exactly what
  Arrow wants. Malformed wire bytes raise ``AvroSchemaError`` exactly
  where ``decode_record`` does.
- :func:`arrow_batch_for_spark` assembles those columns
  (:func:`decode_columns`) into ONE ``pyarrow.RecordBatch`` matching a
  Spark ``StructType`` (``pyspark.sql.pandas.types.to_arrow_schema``).

Complex fields (array/map/nested record/enum/fixed/decimal/multi-branch
unions) fall back to the interpretive decoder FOR THAT FIELD ONLY —
the generated function calls ``decode_datum`` at that position, so any
schema the interpretive path supports decodes identically here (pinned
by tests against ``decode_record``).
"""

from __future__ import annotations

import json
import struct
from typing import Any, Callable

from moonlink_spark.sources.avro_binary import decode_datum, fix_datum_for_spark
from moonlink_spark.sources.converters import AvroSchemaError

# body snippets keyed by resolved primitive; each appends one decoded
# value to the column list `cN` and advances `pos`. Varints are inlined
# (zigzag, capped like avro_binary._zigzag_decode); temporal logicals
# stay integers (Arrow-ready).
_VARINT = """
    sh = 0; r = 0
    while True:
        byt = buf[pos]; pos += 1
        r |= (byt & 0x7F) << sh
        if byt < 0x80:
            break
        sh += 7
        if sh > 70:
            raise AvroSchemaError('varint too long')
    {out} = (r >> 1) ^ -(r & 1)
"""

# a negative length would rewind `pos`; a long one would read short
_LENGTH = _VARINT.format(out="n") + """\
    if n < 0 or pos + n > end:
        raise AvroSchemaError(f'truncated {what}: need {{n}} bytes at {{pos}}')
"""


def _snippet(fs: Any, col: str) -> str | None:
    """Generated decode body for one field, or None if this field needs
    the interpretive fallback. ``fs`` is the (possibly nested) field
    schema; ``col`` the column list variable name."""
    if isinstance(fs, str):
        fs = {"type": fs}
    if isinstance(fs, list):
        # fast path only for the ubiquitous nullable union [null, X]
        if len(fs) == 2:
            branches = [
                b if isinstance(b, str) else b.get("type") for b in fs
            ]
            if "null" in branches:
                null_idx = branches.index("null")
                other = fs[1 - null_idx]
                inner = _snippet(other, col)
                if inner is None:
                    return None
                return (
                    _VARINT.format(out="bidx")
                    + f"""
    if bidx == {null_idx}:
        {col}.append(None)
    else:
        if bidx != {1 - null_idx}:
            raise AvroSchemaError(f'union branch {{bidx}} out of range')
{_indent(inner, 4)}
"""
                )
        return None
    t = fs["type"]
    if isinstance(t, (dict, list)):
        return _snippet(t, col)
    lt = fs.get("logicalType")
    if t == "null":
        return f"    {col}.append(None)\n"
    if t == "boolean":
        return f"    {col}.append(buf[pos] != 0); pos += 1\n"
    if t in ("int", "long"):
        if lt == "time-millis":
            return _VARINT.format(out="v") + f"    {col}.append(v * 1000)\n"
        # plain ints AND timestamp-millis/micros/date: raw int64
        return _VARINT.format(out="v") + f"    {col}.append(v)\n"
    if t == "float":
        return (
            f"    {col}.append(unpack_f('<f', buf, pos)[0]); pos += 4\n"
        )
    if t == "double":
        return (
            f"    {col}.append(unpack_f('<d', buf, pos)[0]); pos += 8\n"
        )
    if t == "string" and lt is None:
        return (
            _LENGTH.format(what="string")
            + f"    {col}.append(buf[pos:pos + n].decode('utf-8')); pos += n\n"
        )
    if t == "bytes" and lt is None:
        return (
            _LENGTH.format(what="bytes")
            + f"    {col}.append(bytes(buf[pos:pos + n])); pos += n\n"
        )
    return None  # complex / logical-decimal / enum / fixed: fallback


def _indent(code: str, by: int) -> str:
    pad = " " * by
    return "".join(
        pad + line if line.strip() else line
        for line in code.splitlines(keepends=True)
    )


def compile_columnar_decoder(
    schema: str | dict,
) -> tuple[list[str], Callable[[list], list[list]]]:
    """-> (field_names, decode_all) where ``decode_all(values)`` decodes
    a list of Avro record payloads into per-field Python lists (one list
    per field, ``len == len(values)``). Values that are ``None`` are
    skipped by the CALLER (tombstones carry no datum)."""
    node = json.loads(schema) if isinstance(schema, str) else dict(schema)
    if node.get("type") != "record":
        raise AvroSchemaError("columnar decoder requires a record schema")
    fields = node["fields"]
    names = [f["name"] for f in fields]

    # the defaults bind the helpers as locals for the hot loop
    lines = [
        "def decode_all(values, field_schemas=field_schemas,"
        " decode_datum=decode_datum, unpack_f=unpack_f, fix_datum=fix_datum):",
        "    cols = [[] for _ in field_schemas]",
    ]
    for i in range(len(fields)):
        lines.append(f"    c{i} = cols[{i}]")
    # reads past the end and bad UTF-8 raise AvroSchemaError, as in
    # decode_record (the try costs nothing until something raises)
    lines.append("    try:")
    lines.append("      for buf in values:")
    lines.append("        pos = 0; end = len(buf)")
    for i, f in enumerate(fields):
        body = _snippet(f["type"], f"c{i}")
        if body is None:
            lines.append(
                f"        v, pos = decode_datum("
                f"field_schemas[{i}], buf, pos)"
            )
            # complex fallback values need the same Spark-shape fix as
            # row_for_spark (maps -> array<struct<key,value>>, nested
            # record alignment) so both decoders are value-identical
            lines.append(
                f"        c{i}.append(fix_datum(field_schemas[{i}], v))"
            )
        else:
            lines.append(_indent(body, 4).rstrip("\n"))
    lines.append(
        "        if pos != end:\n"
        "            raise AvroSchemaError("
        "f'trailing {end - pos} bytes after datum (framing bug?)')\n"
        "    except (IndexError, struct.error, UnicodeDecodeError) as e:\n"
        "        raise AvroSchemaError(f'malformed datum: {e}') from e"
    )
    lines.append("    return cols")
    src = "\n".join(lines)
    ns: dict[str, Any] = {
        "AvroSchemaError": AvroSchemaError,
        "struct": struct,
        "field_schemas": [f["type"] for f in fields],
        "decode_datum": decode_datum,
        "unpack_f": struct.unpack_from,
        "fix_datum": fix_datum_for_spark,
    }
    exec(compile(src, "<avro-columnar>", "exec"), ns)  # noqa: S102
    return names, ns["decode_all"]


_DECODER_MEMO: dict[str, tuple[list[str], Callable]] = {}


def columnar_decoder_cached(
    schema: str | dict,
) -> tuple[list[str], Callable[[list], list[list]]]:
    """Process-local memo over :func:`compile_columnar_decoder` keyed by
    the canonical schema JSON — ``read()`` runs once per offset-range
    task, and recompiling the decoder every microbatch would put a
    ``compile()`` on the fetch hot path."""
    key = (
        schema
        if isinstance(schema, str)
        else json.dumps(schema, sort_keys=True, separators=(",", ":"))
    )
    hit = _DECODER_MEMO.get(key)
    if hit is None:
        hit = _DECODER_MEMO[key] = compile_columnar_decoder(schema)
    return hit


def _arrow_value(field_schema: Any, spark_type, raw_col: list):
    """One decoded column -> pyarrow array with the Spark-mandated type.
    Temporal ints are built through the matching epoch-based arrow type;
    everything else goes through pa.array with an explicit type."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    at = to_arrow_type(spark_type)
    lt = _logical_of(field_schema)
    if lt in ("timestamp-micros", "local-timestamp-micros"):
        return pa.array(raw_col, type=pa.timestamp("us")).cast(at)
    if lt in ("timestamp-millis", "local-timestamp-millis"):
        return pa.array(raw_col, type=pa.timestamp("ms")).cast(at)
    if lt == "date":
        return pa.array(raw_col, type=pa.date32()).cast(at)
    return pa.array(raw_col, type=at)


def _logical_of(fs: Any) -> str | None:
    if fs is None or isinstance(fs, str):
        return None
    if isinstance(fs, list):
        for b in fs:
            lt = _logical_of(b)
            if lt is not None:
                return lt
        return None
    t = fs.get("type")
    if isinstance(t, (dict, list)):
        inner = _logical_of(t)
        if inner is not None:
            return inner
    return fs.get("logicalType")


def decode_columns(schema: dict, values: list) -> dict[str, tuple[Any, list]]:
    """Avro record payloads -> ``{field name: (field schema, column)}``,
    the ``named_columns`` shape :func:`arrow_batch_for_spark` takes."""
    names, decode_all = columnar_decoder_cached(schema)
    types = [f["type"] for f in schema["fields"]]
    return dict(zip(names, zip(types, decode_all(values))))


def arrow_batch_for_spark(
    spark_struct,
    named_columns: dict[str, tuple[Any, list]],
    num_rows: int = 0,
):
    """Assemble one ``pyarrow.RecordBatch`` matching ``spark_struct``
    (a ``StructType``). ``named_columns`` maps column name ->
    (avro_field_schema_or_None, raw python list); names the struct
    lacks are dropped, struct columns it lacks are ``num_rows`` nulls."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    pa_schema = to_arrow_schema(spark_struct)
    nulls = (None, [None] * num_rows)
    arrays = []
    for sf in spark_struct.fields:
        fs, raw = named_columns.get(sf.name, nulls)
        arrays.append(_arrow_value(fs, sf.dataType, raw))
    return pa.RecordBatch.from_arrays(arrays, schema=pa_schema)
