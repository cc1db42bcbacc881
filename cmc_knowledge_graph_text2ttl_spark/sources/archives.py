"""Archive source — tar / tar.gz / zip member ingestion.

Datasets that are not crawls ship as archives of files; this source
turns them into one document row per member, the same shape as the
WARC source (sources/warc.py): ``binaryFile`` gives one task per
archive, members explode inside a single ``mapInPandas`` with
per-ARCHIVE error isolation (a corrupt archive yields one error row
carrying its path; its partially-read members are dropped so a
re-fetch cannot duplicate them).

Scale notes:

* archives are whole-file units by construction (tar has no central
  index; zip's is at EOF) — parallelism comes from MANY archives, the
  same story as .warc.gz segments; shard accordingly upstream;
* ``MAX_MEMBER_BYTES`` caps one member's buffer (a pathological
  archive must not blow an Arrow batch); oversized members become
  per-member error rows, the rest of the archive still loads;
* format is sniffed from magic bytes (zip PK, gzip 1f8b wrapping a
  tar, else tar ustar probe), never from the file extension.
"""

from __future__ import annotations

import io
import tarfile
import zipfile
from typing import List, Optional, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..operators.columns import map_rows

__all__ = ["read_archives", "ARCHIVE_SCHEMA"]

MAX_MEMBER_BYTES = 64 * 1024 * 1024

ARCHIVE_SCHEMA = StructType(
    [
        StructField("archive_file", StringType(), False),
        StructField("member", StringType(), True),
        StructField("data", BinaryType(), True),
        StructField("n_bytes", LongType(), True),
        StructField("error", StringType(), True),
    ]
)

_GZIP = b"\x1f\x8b"
_ZIP = b"PK\x03\x04"


def _iter_members(
    raw: bytes, max_member_bytes: int
) -> List[Tuple[Optional[str], Optional[bytes], Optional[str]]]:
    """[(member, data, member_error)] for one archive's bytes."""
    out: List[Tuple[Optional[str], Optional[bytes], Optional[str]]] = []
    if raw[:4] == _ZIP:
        with zipfile.ZipFile(io.BytesIO(raw)) as z:
            for zi in z.infolist():
                if zi.is_dir():
                    continue
                if zi.file_size > max_member_bytes:
                    out.append(
                        (
                            zi.filename,
                            None,
                            f"member exceeds {max_member_bytes} bytes "
                            f"({zi.file_size})",
                        )
                    )
                    continue
                out.append((zi.filename, z.read(zi), None))
        return out
    mode = "r:gz" if raw[:2] == _GZIP else "r:"
    try:
        tf = tarfile.open(fileobj=io.BytesIO(raw), mode=mode)
    except tarfile.TarError as ex:
        raise ValueError(f"not a readable archive: {ex}") from ex
    with tf:
        for ti in tf:
            if not ti.isfile():
                continue
            if ti.size > max_member_bytes:
                out.append(
                    (
                        ti.name,
                        None,
                        f"member exceeds {max_member_bytes} bytes ({ti.size})",
                    )
                )
                continue
            f = tf.extractfile(ti)
            out.append((ti.name, f.read() if f else b"", None))
    return out


def read_archives(spark: SparkSession, path: str) -> DataFrame:
    """Archives under ``path`` (glob ok) → one row per file member:
    (archive_file, member, data, n_bytes, error)."""
    files = spark.read.format("binaryFile").load(path)

    def row_fn(fpath, content):
        try:
            members = _iter_members(bytes(content), MAX_MEMBER_BYTES)
        except (ValueError, zipfile.BadZipFile, OSError) as ex:
            return [(fpath, None, None, None, str(ex))]
        return [
            (fpath, name, data, len(data) if data is not None else None, merr)
            for name, data, merr in members
        ]

    return map_rows(files.select("path", "content"), ARCHIVE_SCHEMA, lambda: row_fn)
