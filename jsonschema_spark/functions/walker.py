"""Structural-walker kernel: a binary walker declares its result fields
and its parse once, and this module derives the rest — the failing row,
the Arrow-batch function, the pandas UDF and the public Column function.

The batch contract every declared walker shares:

- one output row per input row, in order;
- a NULL payload is the failing row ``null_payload``;
- an exception escaping the parse is the failing row
  ``parse_error:<ExceptionType>``. That is a backstop which keeps the
  Spark task alive, not part of any walker's vocabulary: each walker
  reports malformed input with its own errors, and the mutation suite
  (tests/test_walkers.py) checks that no mutant reaches the backstop.

A walker whose batch shares per-batch work passes ``prepare``: it maps
the batch's payloads to per-row parse inputs, and a ``str`` in its
output is that row's error. The Ogg walkers use it to verify every page
of the batch with one CRC kernel call (``ogg.verified_pages``).
"""

from __future__ import annotations

from typing import Callable, Sequence

import pandas as pd
import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import Column


def _payload_bytes(payloads: Sequence) -> list:
    """Default ``prepare``: NULL -> ``"null_payload"``, else ``bytes``."""
    return ["null_payload" if p is None else bytes(p) for p in payloads]


def _fail(fields: Sequence[str], err: str) -> dict:
    d = dict.fromkeys(fields)
    d["ok"] = False
    d["error"] = err
    return d


def _rows(fields, prepare, parse, payloads) -> list[dict]:
    rows = []
    for x in prepare(payloads):
        if isinstance(x, str):
            rows.append(_fail(fields, x))
            continue
        try:
            rows.append(parse(x))
        except Exception as e:  # backstop: a row, never a dead task
            rows.append(_fail(fields, f"parse_error:{type(e).__name__}"))
    return rows


class Walker:
    """One declared walker. ``fields`` are the result columns after the
    prepended ``ok``/``error``; ``name`` and ``doc`` become the public
    Column function's name and docstring. Register the parse with the
    :meth:`parser` decorator; it binds ``rows``, ``batch``, ``udf`` and
    ``column``."""

    def __init__(
        self,
        name: str,
        fields: Sequence[tuple[str, T.DataType]],
        doc: str,
        prepare: Callable[[Sequence], list] = _payload_bytes,
    ):
        self.type = T.StructType(
            [T.StructField("ok", T.BooleanType()),
             T.StructField("error", T.StringType())]
            + [T.StructField(n, t) for n, t in fields]
        )
        self.fields = tuple(self.type.fieldNames())
        self.name = name
        self.doc = doc
        self.prepare = prepare

    def fail(self, err: str) -> dict:
        """The failing row: every field NULL, ``ok`` False, ``error``."""
        return _fail(self.fields, err)

    def parser(self, parse: Callable[..., dict]) -> Callable[..., dict]:
        """Decorator: register ``parse`` (one prepared payload -> result
        dict) and derive the batch surfaces from it. The derived
        functions close over plain values only, so the UDF pickles
        without this object."""
        fields, prepare = self.fields, self.prepare

        def rows(payloads: Sequence) -> list[dict]:
            return _rows(fields, prepare, parse, payloads)

        def batch(p: pd.Series) -> pd.DataFrame:
            """One result row per payload, in order (the module contract
            of functions/walker.py)."""
            return pd.DataFrame(rows(p), columns=list(fields))

        # the UDF's name in query plans
        batch.__name__ = batch.__qualname__ = f"{self.name}_batch"
        udf = F.pandas_udf(self.type)(batch)

        def column(payload: Column | str = "bytes") -> Column:
            return udf(F.col(payload) if isinstance(payload, str) else payload)

        column.__name__ = column.__qualname__ = self.name
        column.__doc__ = self.doc
        self.rows, self.batch, self.udf, self.column = rows, batch, udf, column
        return parse
