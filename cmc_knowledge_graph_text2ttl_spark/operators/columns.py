"""Small shared column helpers used across the page-facing operators,
plus :func:`map_rows`, the package's one Python-UDF boundary."""

from __future__ import annotations

from typing import Callable, Iterable, Iterator, Union

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

__all__ = ["html_string", "map_rows"]


def html_string(df: DataFrame, col: str) -> Column:
    """The HTML column as a string: binary columns are UTF-8 decoded.

    One shared implementation (links / sitemaps / structured / pagemeta
    all take either representation) so a future charset-handling change
    lands everywhere at once.
    """
    c = F.col(col)
    if dict(df.dtypes).get(col) == "binary":
        return F.decode(c, "UTF-8")
    return c


def map_rows(
    df: DataFrame,
    schema: Union[StructType, str],
    make_row_fn: Callable[[], Callable[..., Iterable[tuple]]],
) -> DataFrame:
    """Row-local Python stage over every column of ``df``, Arrow-batched.

    ``make_row_fn()`` runs once per task (on the executor) and returns
    ``fn``; ``fn(*row)`` is called with each input row's values in column
    order and returns an iterable of zero or more output tuples in
    ``schema`` field order (a StructType or a DDL string). Error handling
    belongs to ``fn``: this helper catches nothing.

    A batch that yields no rows yields NO frame: an empty frame can carry
    default (float64) column dtypes that Arrow cannot convert to nested
    types such as ``array<struct>`` (hit when a partition holds only
    malformed documents).
    """
    import pandas as pd

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    names = schema.fieldNames()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        fn = make_row_fn()
        for pdf in batches:
            rows = []
            for row in zip(*(col for _, col in pdf.items())):
                rows.extend(fn(*row))
            if rows:
                yield pd.DataFrame(rows, columns=names)

    return df.mapInPandas(run, schema=schema)
