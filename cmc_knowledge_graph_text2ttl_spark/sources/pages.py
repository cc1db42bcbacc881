"""The ``pages`` source table + deterministic synthetic corpus generator.

Input shape is fixed by BASELINE.json's input_hint:

    pages(url string, warc_ts timestamp, html binary, text string, lang string)

In production this is an Iceberg table scanned with partition pruning; in
this sandbox it is Parquet. The generator below is the FIXTURES.md corpus:
seeded, fully deterministic per row index, with document families chosen to
exercise every workflow op (KV docs, table docs, section docs, entity docs
with shared aliases for sameAs), ~2% malformed rows for the error path, and
an optional skew mode where 1% of hosts own 50% of rows (AQE/salting path).
"""

from __future__ import annotations

import datetime as _dt
import hashlib
from typing import Iterator, List, Optional, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

PAGES_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), True),
        StructField("html", BinaryType(), True),
        StructField("text", StringType(), True),
        StructField("lang", StringType(), True),
    ]
)

_EPOCH = _dt.datetime(2025, 1, 1, 0, 0, 0)

_MATERIALS = [
    "Aspirin", "Ibuprofen", "Paracetamol", "Caffeine", "Ethanol",
    "Acetone", "Glucose", "Sucrose", "Sodium Chloride", "Citric Acid",
]
# Alias groups: surface forms of the same entity across documents →
# ground-truth sameAs components for canonicalization tests.
_ALIASES = {
    "Aspirin": ["Aspirin", "aspirin", "Acetylsalicylic Acid", "ASA"],
    "Paracetamol": ["Paracetamol", "Acetaminophen", "APAP"],
    "Ethanol": ["Ethanol", "EtOH", "ethyl alcohol"],
}
_LANGS = ["en"] * 16 + ["de"] * 3 + ["fr"]  # 80/15/5


def _h(i: int, salt: str) -> int:
    """Deterministic per-row hash (no RNG state; safe to call anywhere)."""
    return int.from_bytes(
        hashlib.sha256(f"{salt}:{i}".encode()).digest()[:8], "big"
    )


def _kv_doc(i: int) -> str:
    m = _MATERIALS[_h(i, "mat") % len(_MATERIALS)]
    qty = (_h(i, "qty") % 9000) / 10.0 + 1.0
    unit = ["mg", "g", "kg"][_h(i, "unit") % 3]
    return (
        f"<h1>Batch record {i}</h1>\n"
        f"<p>Material: {m}</p>\n"
        f"<p>Amount: {qty} {unit}</p>\n"
        f"<p>Lot: LOT-{_h(i, 'lot') % 100000:05d}</p>\n"
    )


def _table_doc(i: int) -> str:
    nrows = 3 + _h(i, "nr") % 8
    head = "<tr><th>Material</th><th>Amount</th><th>Unit</th></tr>"
    rows = []
    for r in range(nrows):
        m = _MATERIALS[_h(i * 131 + r, "tm") % len(_MATERIALS)]
        amt = (_h(i * 131 + r, "ta") % 5000) / 10.0
        rows.append(f"<tr><td>{m}</td><td>{amt}</td><td>mg</td></tr>")
    return f"<h1>Composition {i}</h1>\n<table>{head}{''.join(rows)}</table>\n"


def _section_doc(i: int) -> str:
    nsec = 2 + _h(i, "ns") % 4
    parts = [f"<h1>Report {i}</h1>"]
    for s in range(nsec):
        m = _MATERIALS[_h(i * 17 + s, "sm") % len(_MATERIALS)]
        parts.append(
            f"<h2>Section {s + 1}</h2>\n"
            f"<p>step: weigh {m}</p>\n<p>step: dissolve sample</p>\n"
            f"<p>result: {(_h(i * 17 + s, 'sv') % 1000) / 10.0}</p>\n"
        )
    return "\n".join(parts) + "\n"


def _entity_doc(i: int) -> str:
    canon = list(_ALIASES)[_h(i, "ec") % len(_ALIASES)]
    alias = _ALIASES[canon][_h(i, "ea") % len(_ALIASES[canon])]
    other = _MATERIALS[_h(i, "eo") % len(_MATERIALS)]
    return (
        f"<h1>Note {i}</h1>\n"
        f"<p>This study uses {alias} together with {other}.</p>\n"
        f"<p>Material: {alias}</p>\n<p>Material: {other}</p>\n"
    )


def synth_page_rows(
    n: int,
    start: int = 0,
    n_hosts: int = 50,
    skew: bool = False,
) -> Iterator[Tuple[str, _dt.datetime, bytes, Optional[str], str]]:
    """Yield deterministic page rows [start, start+n)."""
    families = (_kv_doc, _table_doc, _section_doc, _entity_doc)
    hot_hosts = max(1, n_hosts // 100)
    for i in range(start, start + n):
        if skew and _h(i, "skew") % 2 == 0:
            host = _h(i, "hoth") % hot_hosts  # 50% of rows on 1% of hosts
        else:
            host = _h(i, "host") % n_hosts
        url = f"https://host{host}.example.org/p/{i}"
        ts = _EPOCH + _dt.timedelta(seconds=37 * i)
        lang = _LANGS[_h(i, "lang") % len(_LANGS)]
        if _h(i, "bad") % 10_000 < 200:  # 2% malformed/empty error-path rows
            body = b"\xff\xfe<html><oops"
        else:
            fam = families[_h(i, "fam") % len(families)]
            doc = fam(i)
            body = (
                f"<html><head><title>doc {i}</title></head>"
                f"<body>{doc}</body></html>trailing-garbage-after-root"
            ).encode("utf-8")
        yield (url, ts, body, None, lang)


def synth_pages_df(
    spark: SparkSession,
    n: int,
    n_hosts: int = 50,
    skew: bool = False,
    slices: Optional[int] = None,
) -> DataFrame:
    """Distributed deterministic corpus: the generator runs ON EXECUTORS
    (each partition generates its own index range), so no driver-side
    materialization — this is how the bench scales to millions of rows."""
    slices = slices or max(1, min(64, n // 2000 or 1))
    bounds: List[Tuple[int, int]] = []
    step = (n + slices - 1) // slices
    for s in range(0, n, step):
        bounds.append((s, min(step, n - s)))
    n_hosts_ = n_hosts
    skew_ = skew

    def gen(part):
        for start, cnt in part:
            yield from synth_page_rows(cnt, start=start, n_hosts=n_hosts_, skew=skew_)

    rdd = spark.sparkContext.parallelize(bounds, len(bounds)).mapPartitions(gen)
    return spark.createDataFrame(rdd, PAGES_SCHEMA)


def read_pages(spark: SparkSession, path: str) -> DataFrame:
    """Read a pages table (Parquet here; Iceberg via format switch in prod)."""
    if path.startswith("iceberg:"):
        return spark.read.format("iceberg").load(path[len("iceberg:"):])
    df = spark.read.parquet(path)
    missing = set(f.name for f in PAGES_SCHEMA.fields) - set(df.columns)
    if missing:
        raise ValueError(f"pages table at {path} missing columns: {sorted(missing)}")
    return df.select(
        "url",
        F.col("warc_ts").cast("timestamp").alias("warc_ts"),
        F.col("html").cast("binary").alias("html"),
        F.col("text").cast("string").alias("text"),
        F.col("lang").cast("string").alias("lang"),
    )
