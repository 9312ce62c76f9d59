"""Per-file column min/max statistics + scan-time file pruning.

Parity with the reference's Iceberg manifest stats
(``storage/table/iceberg/parquet_stats_utils.rs:34-180,335-409``): every data
file carries per-column min/max collected from its parquet FOOTER at write
time (no data read), and scans prune the file list driver-side before Spark
ever lists them. This is the engine's replacement for the reference's
persisted hash index on the read path: a point lookup or a delete-key batch
touches only the files whose key range overlaps.

At 100 TB the effect is the difference between "MERGE scans the table" and
"MERGE opens the handful of files containing the keys" — same role the
bucketed hash index plays in the reference
(``persisted_bucket_hash_map.rs``), with zero maintenance cost.
"""

from __future__ import annotations

import datetime as dt
import re
from decimal import Decimal
from typing import Any

_SUPPORTED = (int, float, str, bool)


def collect_file_stats(path: str, max_columns: int = 32) -> dict[str, list]:
    """Read footer row-group stats -> {column: [min, max]} (JSON-safe).

    Only primitive comparable types are kept; columns with missing stats in
    any row group are dropped (can't prune safely)."""
    import pyarrow.parquet as pq

    return stats_from_metadata(pq.ParquetFile(path).metadata, max_columns)


def file_rows_and_stats(
    path: str, max_columns: int = 32
) -> tuple[int, dict[str, list]]:
    """(num_rows, min/max stats) from ONE footer read. The write-adoption
    loop needs both per adopted file and was opening the footer twice."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    return md.num_rows, stats_from_metadata(md, max_columns)


def stats_from_metadata(md, max_columns: int = 32) -> dict[str, list]:
    out: dict[str, list] = {}
    bad: set[str] = set()
    for rg in range(md.num_row_groups):
        group = md.row_group(rg)
        for ci in range(min(group.num_columns, max_columns)):
            col = group.column(ci)
            name = col.path_in_schema
            if "." in name or name in bad:
                continue  # nested: skip
            st = col.statistics
            if st is None or not st.has_min_max:
                bad.add(name)
                out.pop(name, None)
                continue
            try:
                mn, mx = _json_safe(st.min, lo=True), _json_safe(st.max, lo=False)
            except NotImplementedError:
                # pyarrow cannot decode some statistics, e.g. the INT64
                # decimals Spark writes for precision <= 18
                mn = mx = None
            if mn is None or mx is None:
                bad.add(name)
                out.pop(name, None)
                continue
            if name in out:
                out[name][0] = min(out[name][0], mn)
                out[name][1] = max(out[name][1], mx)
            else:
                out[name] = [mn, mx]
    return out


def _json_safe(v: Any, lo: bool = True):
    if isinstance(v, bool):
        return None  # bool min/max not useful for pruning
    if isinstance(v, _SUPPORTED):
        return v
    if isinstance(v, bytes):
        try:
            return v.decode("utf-8")
        except UnicodeDecodeError:
            return None
    if isinstance(v, Decimal):
        # float(Decimal) rounds to nearest, which can TIGHTEN the bound
        # and prune a file that contains matching rows; pad one ulp
        # outward so the float envelope always contains the decimal one
        import math

        f = float(v)
        return math.nextafter(f, -math.inf if lo else math.inf)
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    return None


# --------------------------------------------------------------------------- #
# pruning predicates: a tiny conjunctive language evaluated on [min, max]
# --------------------------------------------------------------------------- #


class PrunePredicate:
    """Conjunction of simple per-column conditions usable for file skipping.
    Anything not expressible here simply doesn't prune (correctness is
    preserved — Spark still applies the real filter)."""

    def __init__(self, conditions: list[tuple[str, str, Any]]):
        self.conditions = conditions  # (col, op, value) op in = < <= > >= in

    @staticmethod
    def eq(col: str, value) -> "PrunePredicate":
        return PrunePredicate([(col, "=", value)])

    @staticmethod
    def isin(col: str, values: list) -> "PrunePredicate":
        return PrunePredicate([(col, "in", list(values))])

    @staticmethod
    def between(col: str, lo, hi) -> "PrunePredicate":
        return PrunePredicate([(col, ">=", lo), (col, "<=", hi)])

    def and_(self, other: "PrunePredicate") -> "PrunePredicate":
        return PrunePredicate(self.conditions + other.conditions)

    def file_may_match(self, stats: dict[str, list] | None) -> bool:
        if not stats:
            return True  # no stats: cannot prune
        for col, op, value in self.conditions:
            rng = stats.get(col)
            if rng is None:
                continue
            mn, mx = rng
            try:
                if op != "in":
                    mn, mx, value = _coerce_temporal(mn, mx, value)
                if op == "=" and not (mn <= value <= mx):
                    return False
                if op == "in" and not any(
                    _in_range(mn, mx, v) for v in value
                ):
                    return False
                if op == "<" and not (mn < value):
                    return False
                if op == "<=" and not (mn <= value):
                    return False
                if op == ">" and not (mx > value):
                    return False
                if op == ">=" and not (mx >= value):
                    return False
            except TypeError:
                continue  # incomparable types: don't prune
        return True


def _try_iso_datetime(s: str) -> dt.datetime | None:
    """Parse an ISO date/datetime string ('T'- or space-separated), else None."""
    try:
        return dt.datetime.fromisoformat(s)
    except ValueError:
        return None


def _coerce_temporal(mn, mx, value):
    """Make footer datetime stats comparable with SQL string literals.

    Footer stats for timestamp/date columns are stored as ``isoformat()``
    strings ('2024-01-01T00:00:00'); SQL literals arrive space-separated
    ('2024-01-01 00:00:00') or date-only ('2024-01-01'), so a raw
    lexicographic compare prunes files that DO contain matching rows.
    When both stat bounds parse as ISO datetimes, compare everything as
    datetimes (a date-only literal becomes midnight, matching SQL cast
    semantics). A literal that then fails to parse is incomparable —
    raise TypeError so the caller skips the condition (no pruning, still
    correct) instead of pruning wrongly."""
    if isinstance(mn, str) and isinstance(mx, str) and isinstance(value, str):
        pm, px = _try_iso_datetime(mn), _try_iso_datetime(mx)
        if pm is not None and px is not None:
            pv = _try_iso_datetime(value)
            if pv is None:
                raise TypeError("temporal stats vs non-temporal literal")
            return pm, px, pv
    return mn, mx, value


def _in_range(mn, mx, v) -> bool:
    mn, mx, v = _coerce_temporal(mn, mx, v)
    return mn <= v <= mx


def key_batch_predicate(
    key_cols: list[str], rows: list[dict[str, Any]]
) -> PrunePredicate | None:
    """Pruning predicate for a batch of delete/upsert keys: per key column,
    the [min, max] envelope of the batch (tight enough for point deletes and
    CDC batches, trivially safe)."""
    conds: list[tuple[str, str, Any]] = []
    for c in key_cols:
        vals = [r.get(c) for r in rows if r.get(c) is not None]
        if not vals:
            return None
        try:
            lo, hi = min(vals), max(vals)
        except TypeError:
            return None
        if isinstance(lo, bool) or not isinstance(lo, (int, float, str)):
            return None
        if len(set(vals)) <= 64:
            conds.append((c, "in", sorted(set(vals))))
        else:
            conds.extend([(c, ">=", lo), (c, "<=", hi)])
    return PrunePredicate(conds) if conds else None


# --------------------------------------------------------------------------- #
# best-effort predicate extraction from a SQL condition string
# --------------------------------------------------------------------------- #

_LIT_RE = r"(?:'(?:[^']*)'|-?\d+(?:\.\d+)?)"
_COND_RE = re.compile(
    rf"^(\w+)\s*(=|==|<=|>=|<|>)\s*({_LIT_RE})$", re.IGNORECASE
)
_COND_REV_RE = re.compile(
    rf"^({_LIT_RE})\s*(=|==|<=|>=|<|>)\s*(\w+)$", re.IGNORECASE
)
_IN_RE = re.compile(
    rf"^(\w+)\s+IN\s*\(\s*({_LIT_RE}(?:\s*,\s*{_LIT_RE})*)\s*\)$", re.IGNORECASE
)
# unanchored variant for stripping IN-lists out of a larger condition
_IN_INNER_RE = re.compile(
    rf"(\w+)\s+IN\s*\(\s*{_LIT_RE}(?:\s*,\s*{_LIT_RE})*\s*\)", re.IGNORECASE
)
_FLIP = {"<": ">", ">": "<", "<=": ">=", ">=": "<=", "=": "=", "==": "="}


def _parse_literal(tok: str):
    tok = tok.strip()
    if tok.startswith("'"):
        return tok[1:-1]
    return float(tok) if "." in tok else int(tok)


def prune_predicate_from_condition(condition: str) -> PrunePredicate | None:
    """Best-effort: extract a file-skipping predicate from a SQL condition.

    Understands top-level conjunctions of ``col <op> literal``,
    ``literal <op> col``, ``col BETWEEN a AND b`` and ``col IN (...)``.
    Anything else (OR, parens, functions, subqueries) makes THAT conjunct
    contribute nothing; a condition with top-level OR returns None.
    Correctness never depends on this: the caller always applies the full
    filter — this only decides which files can be skipped outright.
    """
    conds, _ = _parse_conjuncts(condition)
    return PrunePredicate(conds) if conds else None


def validate_scan_condition(condition: str, columns: list[str]) -> None:
    """Strict gate for externally-supplied conditions (the HTTP ``where=``
    parameter): every conjunct must be in the simple grammar above and
    every referenced column must exist in the table schema. Raises
    ``ValueError`` otherwise. This keeps arbitrary Spark SQL expressions
    (``reflect()``, ``java_method()``, subqueries) out of server-side
    ``DataFrame.filter`` — a client can only express what the pruning
    grammar can fully account for."""
    conds, leftovers = _parse_conjuncts(condition)
    if leftovers:
        raise ValueError(
            f"unsupported condition fragment(s) {leftovers!r}: only "
            "AND-conjunctions of col <op> literal / BETWEEN / IN(...) "
            "are accepted here"
        )
    if not conds:
        raise ValueError("empty or unparseable condition")
    allowed = set(columns)
    for col, _op, _v in conds:
        if col not in allowed:
            raise ValueError(f"unknown column {col!r} in condition")


def _parse_conjuncts(
    condition: str,
) -> tuple[list[tuple[str, str, Any]], list[str]]:
    """-> (recognized (col, op, value) conjuncts, unrecognized fragments)."""
    text = " ".join(condition.split())
    # a top-level OR (or any parens beyond IN-lists) poisons conjunct
    # splitting; treat the whole condition as one unrecognized fragment.
    # The probe strips IN-lists wherever they appear (the anchored _IN_RE
    # would only match when the WHOLE condition is one IN clause, wrongly
    # rejecting "id IN (1,2) AND v = 3").
    probe = re.sub(_IN_INNER_RE, "", text)
    if re.search(r"\bOR\b", probe, re.IGNORECASE) or "(" in probe:
        return [], [text]
    conds: list[tuple[str, str, Any]] = []
    leftovers: list[str] = []

    # extract BETWEEN clauses FIRST: their inner AND would break the
    # top-level conjunct split below
    def _take_between(m: "re.Match[str]") -> str:
        conds.append((m.group(1), ">=", _parse_literal(m.group(2))))
        conds.append((m.group(1), "<=", _parse_literal(m.group(3))))
        return "1 = 1"

    text = re.sub(
        rf"(\w+)\s+BETWEEN\s+({_LIT_RE})\s+AND\s+({_LIT_RE})",
        _take_between,
        text,
        flags=re.IGNORECASE,
    )
    for part in re.split(r"\bAND\b", text, flags=re.IGNORECASE):
        part = part.strip()
        if part == "1 = 1":
            continue
        m = _IN_RE.match(part)
        if m:
            vals = [
                _parse_literal(v)
                for v in re.findall(_LIT_RE, m.group(2))
            ]
            conds.append((m.group(1), "in", vals))
            continue
        m = _COND_RE.match(part)
        if m:
            op = "=" if m.group(2) == "==" else m.group(2)
            conds.append((m.group(1), op, _parse_literal(m.group(3))))
            continue
        m = _COND_REV_RE.match(part)
        if m:
            op = _FLIP["=" if m.group(2) == "==" else m.group(2)]
            conds.append((m.group(3), op, _parse_literal(m.group(1))))
            continue
        # unrecognized conjunct: no pruning from it (still correct for
        # prune_predicate_from_condition; fatal for validate_scan_condition)
        if part:
            leftovers.append(part)
    return conds, leftovers
