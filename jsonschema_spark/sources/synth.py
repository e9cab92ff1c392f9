"""Schema-driven synthetic data: generate a DataFrame that SATISFIES a
JSON schema (or violates it at a controlled rate) — the generator half of
the compile-then-validate loop, useful for validator testing at any scale
and for producing fixture tables from schema documents.

Generation is distributed and deterministic: rows are built on executors
by ``sources.clips.ledger_table``; every value derives from md5(seed, row,
column), so regeneration is bit-identical under any partitioning — the same
convention as the clips source.

``pattern`` support uses a small regex sampler covering the dialect the
reference's fixtures use (literals, classes incl. negation and ranges,
escapes \\d \\w \\s, groups with alternation, ?, *, +, {m}, {m,n});
unbounded quantifiers sample 1..3 repetitions.
"""

from __future__ import annotations

import hashlib
import string
from typing import Any, Optional

from pyspark.sql import DataFrame, SparkSession

from jsonschema_spark.plans.compile import inline_refs
from jsonschema_spark.plans.typemap import spark_type_from_schema
from jsonschema_spark.resolve import ResolveConfig
from jsonschema_spark.schema import Schema
from jsonschema_spark.sources.clips import ledger_table

_PRINTABLE = string.ascii_letters + string.digits + " _-.,'"


class _Rand:
    """Deterministic stream from a context string (no RNG state shipped)."""

    def __init__(self, context: str):
        self._ctx = context
        self._i = 0

    def next(self, bound: int) -> int:
        self._i += 1
        h = hashlib.md5(f"{self._ctx}|{self._i}".encode()).digest()
        return int.from_bytes(h[:8], "little") % max(bound, 1)

    def uniform(self) -> float:
        return self.next(1_000_000) / 1_000_000.0


# ---------------------------------------------------------------------------
# mini regex sampler
# ---------------------------------------------------------------------------


class RegexSampleError(ValueError):
    pass


def _parse_class(pat: str, i: int) -> tuple[list[str], int]:
    """Parse [...] starting after '['; returns (alphabet, next index)."""
    neg = False
    if i < len(pat) and pat[i] == "^":
        neg = True
        i += 1
    chars: list[str] = []
    first = True
    while i < len(pat) and (pat[i] != "]" or first):
        first = False
        c = pat[i]
        if c == "\\" and i + 1 < len(pat):
            nxt = pat[i + 1]
            if nxt == "d":
                chars.extend(string.digits)
            elif nxt == "w":
                chars.extend(string.ascii_letters + string.digits + "_")
            elif nxt == "s":
                chars.append(" ")
            else:
                chars.append(nxt)
            i += 2
            continue
        if i + 2 < len(pat) and pat[i + 1] == "-" and pat[i + 2] != "]":
            lo, hi = ord(c), ord(pat[i + 2])
            chars.extend(chr(x) for x in range(lo, hi + 1))
            i += 3
            continue
        chars.append(c)
        i += 1
    if i >= len(pat):
        raise RegexSampleError(f"unterminated class in {pat!r}")
    i += 1  # consume ']'
    if neg:
        excluded = set(chars)
        chars = [c for c in _PRINTABLE if c not in excluded]
        if not chars:
            raise RegexSampleError(f"empty negated class in {pat!r}")
    return chars, i


def _parse_seq(pat: str, i: int, rnd: _Rand) -> tuple[str, int]:
    """Sample one alternative branch until '|' or ')' or end."""
    out: list[str] = []
    while i < len(pat) and pat[i] not in "|)":
        c = pat[i]
        piece: Optional[str] = None
        if c == "^" or c == "$":
            i += 1
            continue
        if c == "(":
            # group: sample one alternative
            depth_start = i + 1
            if pat[i + 1 : i + 3] == "?:":
                depth_start = i + 3
            branches = []
            j = depth_start
            while True:
                s, j = _parse_seq(pat, j, rnd)
                branches.append(s)
                if j < len(pat) and pat[j] == "|":
                    j += 1
                    continue
                break
            if j >= len(pat) or pat[j] != ")":
                raise RegexSampleError(f"unterminated group in {pat!r}")
            i = j + 1
            piece = branches[rnd.next(len(branches))]
        elif c == "[":
            alphabet, i = _parse_class(pat, i + 1)
            piece = alphabet[rnd.next(len(alphabet))]
        elif c == "\\":
            nxt = pat[i + 1] if i + 1 < len(pat) else ""
            if nxt == "d":
                piece = string.digits[rnd.next(10)]
            elif nxt == "w":
                a = string.ascii_letters + string.digits + "_"
                piece = a[rnd.next(len(a))]
            elif nxt == "s":
                piece = " "
            else:
                piece = nxt
            i += 2
        elif c == ".":
            piece = _PRINTABLE[rnd.next(len(_PRINTABLE))]
            i += 1
        else:
            piece = c
            i += 1

        # quantifier?
        reps = 1
        if i < len(pat):
            q = pat[i]
            if q == "?":
                reps = rnd.next(2)
                i += 1
            elif q in "*+":
                reps = (1 if q == "+" else 0) + rnd.next(3)
                i += 1
            elif q == "{":
                j = pat.index("}", i)
                spec = pat[i + 1 : j]
                if "," in spec:
                    lo_s, hi_s = spec.split(",", 1)
                    lo = int(lo_s)
                    hi = int(hi_s) if hi_s else lo + 3
                else:
                    lo = hi = int(spec)
                reps = lo + rnd.next(hi - lo + 1)
                i = j + 1
        if reps == 0:
            continue
        if reps == 1:
            out.append(piece)
        else:
            # re-sample repeated groups/classes for variety is unnecessary;
            # repetition of the sampled piece still matches the pattern
            out.append(piece * reps)
    return "".join(out), i


def sample_pattern(pattern: str, rnd: _Rand) -> str:
    branches = []
    i = 0
    while True:
        s, i = _parse_seq(pattern, i, rnd)
        branches.append(s)
        if i < len(pattern) and pattern[i] == "|":
            i += 1
            continue
        break
    if i != len(pattern):
        raise RegexSampleError(f"could not sample {pattern!r} (stopped at {i})")
    return branches[rnd.next(len(branches))]


# ---------------------------------------------------------------------------
# value generation per subschema
# ---------------------------------------------------------------------------

_WORDS = ("alpha bravo charlie delta echo foxtrot golf hotel india juliet "
          "kilo lima mike november oscar papa quebec romeo sierra tango").split()


def _gen_value(s: Schema, rnd: _Rand, violate: bool = False) -> Any:
    if s.const is not None:
        return "corrupted" if violate else s.const
    if s.enum is not None:
        members = [m for m in s.enum if m is not None]
        if violate:
            return "__not_in_enum__"
        return members[rnd.next(len(members))] if members else None

    t = (s.type or ["string"])[0]
    if t == "null":
        return None
    if t == "boolean":
        return rnd.next(2) == 1
    if t in ("integer", "number"):
        lo = s.minimum if s.minimum is not None else (
            s.exclusive_minimum + 1 if s.exclusive_minimum is not None else 0
        )
        hi = s.maximum if s.maximum is not None else (
            s.exclusive_maximum - 1 if s.exclusive_maximum is not None else int(lo) + 1000
        )
        lo_i, hi_i = int(lo), int(hi)
        if violate:
            return hi_i + 1 + rnd.next(100) if s.maximum is not None else lo_i - 1 - rnd.next(100)
        v = lo_i + rnd.next(max(hi_i - lo_i + 1, 1))
        if t == "number" and s.multiple_of is None:
            return float(v) + round(rnd.uniform(), 3) * (0 if v >= hi_i else 1)
        if s.multiple_of is not None:
            m = s.multiple_of
            return int(v // int(m) * int(m)) if float(m).is_integer() else v
        return v
    if t == "string":
        if s.pattern is not None:
            out = sample_pattern(s.pattern, rnd)
            if violate:
                return "\x00!" + out + "!\x00" if not s.pattern.startswith("^") else "§invalid§"
            return out
        lo = s.min_length if s.min_length is not None else 1
        hi = s.max_length if s.max_length is not None else max(lo, 12)
        if violate and s.min_length is not None and s.min_length > 0:
            return ""
        length = lo + rnd.next(max(hi - lo + 1, 1))
        out = []
        while len(" ".join(out)) < length:
            out.append(_WORDS[rnd.next(len(_WORDS))])
        return " ".join(out)[: max(length, lo)].rstrip() or "x" * lo
    if t == "array":
        lo = s.min_items if s.min_items is not None else 0
        hi = s.max_items if s.max_items is not None else max(lo, 3)
        size = lo + rnd.next(max(hi - lo + 1, 1))
        item_schema = s.items if s.items is not None else Schema(type=["string"])
        return [_gen_value(item_schema, rnd) for _ in range(size)]
    if t == "object":
        out = {}
        required = set(s.required or [])
        for key, sub in (s.properties or {}).items():
            if key in required or rnd.next(4) > 0:  # optional present 75%
                out[key] = _gen_value(sub, rnd)
        return out
    return None


def dataframe_for_schema(
    spark: SparkSession,
    schema: Schema | dict | str,
    n: int,
    seed: int = 42,
    violation_rate: float = 0.0,
    resolve_config: Optional[ResolveConfig] = None,
) -> DataFrame:
    """Distributed table of ``n`` rows satisfying ``schema`` (a root object
    schema), with ``violation_rate`` of rows corrupted in exactly one
    randomly-chosen constrained property."""
    if isinstance(schema, str):
        schema = Schema.from_json(schema)
    elif isinstance(schema, dict):
        schema = Schema.from_value(schema)
    resolved = inline_refs(schema, resolve_config)
    struct = spark_type_from_schema(resolved)

    props = dict(resolved.properties or {})
    required = set(resolved.required or [])
    names = list(props)

    def row(i: int) -> tuple:
        rnd = _Rand(f"synth|{seed}|{i}")
        corrupt = rnd.uniform() < violation_rate
        corrupt_col = names[rnd.next(len(names))] if corrupt else None
        out = []
        for name, sub in props.items():
            if name not in required and rnd.next(10) == 0 and name != corrupt_col:
                out.append(None)  # absent optional property
                continue
            out.append(_gen_value(sub, rnd, violate=(name == corrupt_col)))
        return tuple(out)

    # its own partition floor (4, not ledger_table's 8): the published
    # corpus keeps its file count
    parts = max(4, spark.sparkContext.defaultParallelism)
    return ledger_table(spark, n, struct, row, parts)
