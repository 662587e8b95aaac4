"""The bundled pure-Python -lh5- decoder must reproduce the committed
txt corpus byte-for-byte (after CRLF normalization), and the
archive->lines bronze path must parse identically to the txt path."""

from __future__ import annotations

import os
import struct
import sys

import pytest

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench")
)

import gen  # noqa: E402
import lh5  # noqa: E402

from boatrace_database_spark.sources.bronze import decompress_lzh_to_dir, read_lines  # noqa: E402
from boatrace_database_spark.sources.lzh import read_lzh, read_lzh_bytes  # noqa: E402


@pytest.mark.parametrize(
    "archive,txt",
    [
        ("K2020-08-01.lzh", "K200801.TXT"),
        ("B2020-08-01.lzh", "B200801.TXT"),
        ("K2020-08-12.lzh", "K200812.TXT"),
    ],
)
def test_lh5_decode_matches_committed_txt(archive, txt):
    members = read_lzh(f"/root/reference/lzh/{archive}")
    assert len(members) == 1 and members[0].method == "-lh5-"
    got = members[0].data.replace(b"\r\n", b"\n")
    golden = open(f"/root/reference/txt/{txt}", "rb").read()
    assert got == golden


def test_decompress_to_dir(tmp_path):
    out = decompress_lzh_to_dir(
        ["/root/reference/lzh/K2020-08-02.lzh"], str(tmp_path)
    )
    assert out == [str(tmp_path / "K200802.TXT")]
    golden = open("/root/reference/txt/K200802.TXT", "rb").read()
    assert open(out[0], "rb").read() == golden


def test_lzh_bronze_equals_txt_bronze(spark):
    via_lzh = read_lines(spark, "/root/reference/lzh/K2020-08-01.lzh")
    via_txt = read_lines(spark, "/root/reference/txt/K200801.TXT")
    a = sorted(tuple(r) for r in via_lzh.collect())
    b = sorted(tuple(r) for r in via_txt.collect())
    assert a == b


def test_full_year_from_archives(spark):
    """The whole committed 2020 archive set (732 lzh) parses through the
    fused no-shuffle path; the August subset must equal the golden
    month exactly."""
    from pyspark.sql import functions as F

    from boatrace_database_spark.gold import race_table
    from boatrace_database_spark.parse.kernel import parse_files
    from boatrace_database_spark.silver import silver_tables

    parsed = parse_files(spark, "/root/reference/lzh/*.lzh").persist()
    t = silver_tables(parsed)
    race = race_table(t["result"], t["env"], t["schedule"])
    by_month = dict(
        (r.m, r["count"])
        for r in race.groupBy(F.substring("race_date", 1, 7).alias("m"))
        .count()
        .collect()
    )
    parsed.unpersist()
    assert len(by_month) == 12
    assert by_month["2020-08"] == 27185  # golden month
    assert sum(by_month.values()) == 306834


# --------------------------------------------------------------------------
# truncated or inconsistent archives are rejected, never returned short
def _lh5_archive() -> bytes:
    """One generated K day-file as a perfbench/lh5.py archive."""
    k, _, _ = gen.generate_day(5, 0, gen.PlayerPool(5))
    return lh5.lzh_archive(gen.file_names(0)[0], k)


def _lh0_archive(data: bytes, original: int | None = None) -> bytes:
    """A hand-built one-member level-0 ``-lh0-`` (stored) archive."""
    original = len(data) if original is None else original
    header = (
        b"-lh0-"
        + struct.pack("<IIIBB", len(data), original, 0, 0x20, 0)
        + bytes([11])
        + b"K200801.TXT"
        + struct.pack("<H", 0)
    )
    return bytes([len(header), sum(header) & 0xFF]) + header + data + b"\x00"


def test_lzh_whole_archives_read_back():
    buf = _lh5_archive()
    (member,) = read_lzh_bytes(buf)
    assert member.method == "-lh5-" and len(member.data) > 10_000
    # the terminator byte carries no data: an archive without it is whole
    assert read_lzh_bytes(buf[:-1])[0].data == member.data
    text = "１Ｒ テスト\r\n".encode("cp932") * 30
    (stored,) = read_lzh_bytes(_lh0_archive(text))
    assert stored.method == "-lh0-" and stored.data == text


def test_truncated_lh5_archive_raises():
    buf = _lh5_archive()
    header_end = 2 + buf[0]
    # inside the size byte, the fixed header, the name, the payload's
    # first bytes, its middle, and one byte short of the payload's end
    for cut in (1, 10, 21, 24, header_end + 3, len(buf) // 2, len(buf) - 2):
        with pytest.raises(ValueError, match="truncated LZH"):
            read_lzh_bytes(buf[:cut])


def test_truncated_or_short_lh0_member_raises():
    text = "１Ｒ テスト\r\n".encode("cp932") * 30
    buf = _lh0_archive(text)
    with pytest.raises(ValueError, match="truncated LZH"):
        read_lzh_bytes(buf[: len(buf) - 120])
    # a header that promises more bytes than the member stores
    with pytest.raises(ValueError, match="header says 350"):
        read_lzh_bytes(_lh0_archive(text[:231], original=350))
