"""The package's one Python-UDF boundary: ``operators.columns.map_rows``."""

import ast
from pathlib import Path

from pyspark.sql.types import (
    ArrayType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from cmc_knowledge_graph_text2ttl_spark.operators.columns import map_rows

PKG = Path(__file__).resolve().parent.parent / "cmc_knowledge_graph_text2ttl_spark"

NESTED = StructType(
    [
        StructField("k", StringType(), False),
        StructField(
            "items",
            ArrayType(
                StructType(
                    [
                        StructField("a", StringType(), True),
                        StructField("b", LongType(), True),
                    ]
                )
            ),
            True,
        ),
    ]
)


def test_partitions_without_output_rows_still_write(spark, tmp_path):
    """Whole partitions whose rows all yield nothing must not produce an
    empty frame: its default dtypes break the Arrow array<struct>
    conversion at write time."""

    def make_row_fn():
        def row_fn(i):
            if i == 0:
                yield (str(i), [{"a": "x", "b": 1}])

        return row_fn

    out = map_rows(spark.range(0, 8, numPartitions=4), NESTED, make_row_fn)
    path = str(tmp_path / "nested")
    out.write.mode("overwrite").parquet(path)  # must not raise
    back = [r.asDict(recursive=True) for r in spark.read.parquet(path).collect()]
    assert back == [{"k": "0", "items": [{"a": "x", "b": 1}]}]


def _mapinpandas_callers():
    """(module path, top-level function) of every ``.mapInPandas(`` call."""
    callers = []
    for path in sorted(PKG.rglob("*.py")):
        tree = ast.parse(path.read_text(encoding="utf-8"))
        for top in tree.body:
            for node in ast.walk(top):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "mapInPandas"
                ):
                    name = getattr(top, "name", "<module>")
                    callers.append((path.relative_to(PKG).as_posix(), name))
    return callers


def test_map_rows_is_the_only_mapinpandas_caller():
    """Row-local Python stages go through map_rows, which owns the batch
    loop and the empty-batch rule; no operator hand-rolls its own."""
    assert _mapinpandas_callers() == [("operators/columns.py", "map_rows")]
