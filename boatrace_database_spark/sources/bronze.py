"""Bronze layer: raw day files -> CP932-decoded lines, tagged by file.

Replaces reference main.py:89-100 (decompress) and main.py:137-138
(per-line cp932 scan). Spark's ``text`` source cannot decode CP932 and
there is no Hadoop LZH codec, so every ingest path reads whole files as
bytes and hands them to ``decode_file``: an ``.lzh`` archive expands to
its members through the bundled -lh5- decoder, any other file is used
as is, and each day-file body is decoded once here. The parse kernel
(``parse/kernel.parse_bytes``) and ``read_lines`` both build on it, so
a file's bytes become lines the same way on every path. Files are the
partition unit: state never crosses a file boundary and nothing
shuffles.
"""

from __future__ import annotations

import os
import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from boatrace_database_spark.schemas import BRONZE_LINES_SCHEMA
from boatrace_database_spark.sources.lzh import read_lzh, read_lzh_bytes

_FILE_RE = re.compile(r"([KBOkbo])(\d{2})(\d{2})(\d{2})\.TXT$", re.IGNORECASE)


def file_meta(path: str) -> tuple[str, str, str]:
    """``.../K200801.TXT`` -> (file, kind='K', race_date='2020-08-01').

    Mirrors the reference's date threading (main.py:61,69-70: the date
    string is derived from the requested day and embedded in the name).
    """
    name = os.path.basename(path)
    m = _FILE_RE.search(name)
    if not m:
        return name, "", ""
    kind, yy, mm, dd = m.group(1).upper(), m.group(2), m.group(3), m.group(4)
    return name, kind, f"20{yy}-{mm}-{dd}"


def decode_file(
    path: str, content: bytes
) -> Iterator[tuple[str, str, str, list[str]]]:
    """One file's raw bytes -> ``(file, kind, race_date, lines)`` per
    day-file: the members of an ``.lzh`` archive, or the file itself."""
    if path.lower().endswith(".lzh"):
        members = [(m.filename, m.data) for m in read_lzh_bytes(content)]
    else:
        members = [(path, content)]
    for name, data in members:
        name, kind, race_date = file_meta(name)
        yield name, kind, race_date, data.decode("cp932", errors="replace").splitlines()


_LINE_COLUMNS = BRONZE_LINES_SCHEMA.fieldNames()


def _line_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        for path, content in zip(pdf["path"], pdf["content"]):
            for name, kind, race_date, lines in decode_file(path, bytes(content)):
                values = (name, kind, race_date, range(len(lines)), lines)
                yield pd.DataFrame(dict(zip(_LINE_COLUMNS, values)))


def read_lines(spark: SparkSession, path_glob: str) -> DataFrame:
    """Bronze lines DataFrame from any mix of TXT files and ``.lzh``
    archives, e.g. ``/root/reference/txt/*2008*.TXT``. One input file
    becomes one partition-local group; no shuffle happens here."""
    binary = spark.read.format("binaryFile").load(path_glob).select("path", "content")
    return binary.mapInPandas(_line_batches, schema=BRONZE_LINES_SCHEMA)


def decompress_lzh_to_dir(lzh_paths: list[str], out_dir: str) -> list[str]:
    """Driver-side LZH expansion (reference main.py:89-100), using the
    bundled pure-Python -lh5- decoder (sources/lzh.py) — no external
    package needed.

    The official archives store CRLF line endings while the committed
    ``txt/`` corpus is LF; CRLF becomes LF so the written files
    reproduce the committed bytes.
    """
    os.makedirs(out_dir, exist_ok=True)
    written: list[str] = []
    for path in lzh_paths:
        for member in read_lzh(path):
            data = member.data.replace(b"\r\n", b"\n")
            target = os.path.join(out_dir, os.path.basename(member.filename))
            with open(target, "wb") as fh:
                fh.write(data)
            written.append(target)
    return written
