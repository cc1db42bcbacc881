"""Seeded input tables, written once per seed and reused.

* ``pages``: synthetic Common-Crawl-style HTML pages from the package's own
  generator (``sources.pages.synth_page_rows``, about 2% malformed, no
  skew). The seed picks the start index, so every seed gets other pages.
* ``pretext``: word-soup documents shaped like the documents table of the
  repository's test data (a 30-word vocabulary, 10 to 100 words each),
  generated from the seed rather than read from outside the checkout.
  Each text is copied ``PRETEXT_COPIES`` times under distinct urls that
  share the document name, with ``text`` filled and ``html`` empty, and
  the rows are shuffled with the seed.

Both are written as ``N_FILES`` Parquet files in the pages schema.
"""

from __future__ import annotations

import datetime as _dt
import hashlib
import json
import os
import random
import shutil
import time
from pathlib import Path
from typing import List, Tuple

import pyarrow as pa
import pyarrow.parquet as pq

from cmc_knowledge_graph_text2ttl_spark.sources.pages import synth_page_rows

N_PAGES = 8_000  # html_fused
N_CLI_PAGES = 4_000  # cli_resumable
PRETEXT_BASE = 5_000
PRETEXT_COPIES = 2
N_FILES = 16

_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
_LANGS = ["en"] * 8 + ["de", "es", "fr", "zh"] * 3
_EPOCH = _dt.datetime(2025, 1, 1, tzinfo=_dt.timezone.utc)

Row = Tuple[str, _dt.datetime, bytes, str, str]

_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)


def page_rows(seed: int, n: int = N_PAGES) -> List[Row]:
    # synth_page_rows stamps page i at 2025 + 37*i s; a start below 1e8 keeps
    # every stamp before 2262, inside the range of pandas' ns timestamps
    digest = hashlib.sha256(f"pages:{seed}".encode()).digest()
    start = int.from_bytes(digest[:8], "big") % 100_000_000
    return [
        (url, ts.replace(tzinfo=_dt.timezone.utc), html, text, lang)
        for url, ts, html, text, lang in synth_page_rows(n, start=start)
    ]


def pretext_rows(
    seed: int, base: int = PRETEXT_BASE, copies: int = PRETEXT_COPIES
) -> List[Row]:
    rng = random.Random(f"pretext:{seed}")
    docs = [
        (
            " ".join(rng.choice(_VOCAB) for _ in range(rng.randint(10, 100))),
            rng.choice(_LANGS),
        )
        for _ in range(base)
    ]
    salt = hashlib.md5(str(seed).encode()).hexdigest()[:8]
    rows = [
        (f"doc://copy{c}.{salt}/{j}", _EPOCH + _dt.timedelta(seconds=j), None, text, lang)
        for c in range(copies)
        for j, (text, lang) in enumerate(docs)
    ]
    rng.shuffle(rows)
    return rows


def input_hash(rows: List[Row]) -> str:
    h = hashlib.sha256()
    for url, ts, html, text, lang in rows:
        h.update(f"{url}\x1f{ts.isoformat()}\x1f{text}\x1f{lang}\x1f".encode())
        h.update(html or b"")
        h.update(b"\x1e")
    return h.hexdigest()


GENERATORS = {"pages": page_rows, "pretext": pretext_rows}


def prepare(cache: Path, kind: str, seed: int, n: int) -> Tuple[Path, List[Row], dict]:
    """Return (table dir, rows, meta) for ``n`` base rows of ``kind`` at ``seed``.

    The table is written on the first call for a seed; later calls read
    the rows back from it. ``meta['gen_s']`` is the time this call spent.
    """
    t0 = time.perf_counter()
    table = cache / f"{kind}-s{seed}-n{n}"
    meta_path = table / "_meta.json"
    if meta_path.exists():
        rows = [
            (r["url"], r["warc_ts"], r["html"], r["text"], r["lang"])
            for r in pq.read_table(table).to_pylist()
        ]
        meta = json.loads(meta_path.read_text())
        meta["cached"] = True
    else:
        rows = GENERATORS[kind](seed, n)
        tmp = cache / f".{table.name}.{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        tmp.mkdir(parents=True)
        tbl = pa.Table.from_pylist(
            [dict(zip(_SCHEMA.names, r)) for r in rows], schema=_SCHEMA
        )
        step = -(-len(rows) // N_FILES)
        for k in range(N_FILES):
            pq.write_table(
                tbl.slice(k * step, step), tmp / f"part-{k:03d}.parquet",
                compression="zstd",
            )
        meta = {"rows": len(rows), "input_hash": input_hash(rows)}
        (tmp / "_meta.json").write_text(json.dumps(meta))
        shutil.rmtree(table, ignore_errors=True)
        os.replace(tmp, table)
        meta["cached"] = False
    meta["bytes"] = sum(p.stat().st_size for p in table.glob("part-*.parquet"))
    meta["gen_s"] = time.perf_counter() - t0
    return table, rows, meta
