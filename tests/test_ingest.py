"""The one ingest path on generated day-files, in every environment.

Days come from the benchmark's seeded generator (perfbench/gen.py) and
its -lh5- writer (perfbench/lh5.py), imported read-only. The same days
are written as ``.TXT`` files, as ``.lzh`` archives, and as a directory
holding both kinds; every reader must give the same parsed rows, and
the per-table counts must equal the generator's truth.
"""

from __future__ import annotations

import contextlib
import io
import os
import sys
from collections import Counter

import pytest

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench")
)

import gen  # noqa: E402
import lh5  # noqa: E402

from boatrace_database_spark.__main__ import main  # noqa: E402
from boatrace_database_spark.parse.kernel import parse_binary_df, parse_files  # noqa: E402
from boatrace_database_spark.sources.bronze import read_lines  # noqa: E402
from boatrace_database_spark.sources.datasource import register  # noqa: E402

SEED = 11
DAYS = 2


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    """Directories ``txt``, ``lzh`` and ``mixed`` (each day-file once,
    alternating kinds) of the same days, and the truth they hold."""
    root = tmp_path_factory.mktemp("ingest")
    dirs = {name: root / name for name in ("txt", "lzh", "mixed")}
    for d in dirs.values():
        d.mkdir()
    pool = gen.PlayerPool(SEED)
    truths = []
    for day in range(DAYS):
        k, b, truth = gen.generate_day(SEED, day, pool)
        truths.append(truth)
        pairs = zip(gen.file_names(day), gen.archive_names(day), (k, b))
        for i, (name, archive, data) in enumerate(pairs):
            packed = lh5.lzh_archive(name, data)
            (dirs["txt"] / name).write_bytes(data)
            (dirs["lzh"] / archive).write_bytes(packed)
            if (day + i) % 2:
                (dirs["mixed"] / archive).write_bytes(packed)
            else:
                (dirs["mixed"] / name).write_bytes(data)
    total = gen.combine_truth(truths)
    expected = {**total["rows"], "race": total["gold_rows"]}
    return {name: str(d) for name, d in dirs.items()}, expected


def _rows(df) -> Counter:
    return Counter((*r[:5], tuple(r.vals)) for r in df.collect())


def test_parse_files_any_mix_of_txt_and_lzh(spark, corpus):
    dirs, expected = corpus
    txt = _rows(parse_files(spark, f"{dirs['txt']}/*.TXT"))
    assert Counter(row[3] for row in txt.elements()) == {t: expected[t] for t in gen.TABLES}
    assert _rows(parse_files(spark, f"{dirs['lzh']}/*.lzh")) == txt
    # a directory holding both kinds: archives expand, TXT is used as is
    assert _rows(parse_files(spark, dirs["mixed"])) == txt


def test_datasource_and_stream_entry_match_batch_scan(spark, corpus):
    dirs, _ = corpus
    txt = _rows(parse_files(spark, f"{dirs['txt']}/*.TXT"))
    register(spark)
    via_source = spark.read.format("boatrace").load(f"{dirs['mixed']}/*")
    assert via_source.schema == parse_files(spark, dirs["mixed"]).schema
    assert _rows(via_source) == txt
    binary = spark.read.format("binaryFile").load(dirs["lzh"])
    assert _rows(parse_binary_df(binary)) == txt


def test_read_lines_same_for_txt_lzh_and_mixed(spark, corpus):
    dirs, _ = corpus

    def lines(path: str) -> Counter:
        return Counter(map(tuple, read_lines(spark, path).collect()))

    txt = lines(f"{dirs['txt']}/*.TXT")
    assert {r[0] for r in txt} == set(os.listdir(dirs["txt"]))
    assert lines(f"{dirs['lzh']}/*.lzh") == txt
    assert lines(dirs["mixed"]) == txt


def _cli_build(flag: str, glob: str, out: str) -> dict[str, int]:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        main(["build", flag, glob, "--out", out])
    counts = {}
    for line in buf.getvalue().splitlines():
        name, _, rest = line.partition(": ")
        counts[name] = int(rest.removesuffix(" rows"))
    return counts


def test_build_txt_and_lzh_print_the_truth(spark, corpus, tmp_path):
    dirs, expected = corpus
    via_txt = _cli_build("--txt", f"{dirs['txt']}/*.TXT", str(tmp_path / "wh_txt"))
    via_lzh = _cli_build("--lzh", f"{dirs['lzh']}/*.lzh", str(tmp_path / "wh_lzh"))
    assert via_txt == via_lzh == expected


STREAM_DAYS = 4


def test_stream_day_replay_equals_batch_build(spark, tmp_path):
    """Generated days through the streaming ingest, one micro-batch at a
    time, end in the same 7 tables as the batch build over the same TXT
    files. The first and last days arrive split, B (program) before K
    (results) — the first split also starts from an empty warehouse —
    and a republished K file under a subdirectory replaces its day."""
    from pyspark.sql import functions as F

    from boatrace_database_spark import warehouse as W
    from boatrace_database_spark.streaming.ingest import stream_ingest_boatrace

    txt, watch, stage = (tmp_path / n for n in ("txt", "watch", "stage"))
    for d in (txt, watch, stage):
        d.mkdir()
    pool = gen.PlayerPool(SEED)
    truths = []
    for day in range(STREAM_DAYS):
        k, b, truth = gen.generate_day(SEED, day, pool)
        truths.append(truth)
        for name, data in zip(gen.file_names(day), (k, b)):
            (txt / name).write_bytes(data)

    def arrive(name: str, sub: str = "") -> None:
        # stage + rename: the stream must never list a half-written file
        (watch / sub).mkdir(exist_ok=True)
        (stage / name).write_bytes((txt / name).read_bytes())
        os.replace(stage / name, watch / sub / name)

    wh_stream = str(tmp_path / "wh_stream")
    q = stream_ingest_boatrace(spark, str(watch), wh_stream, str(tmp_path / "ckpt"))
    try:
        for day in range(STREAM_DAYS):
            k_name, b_name = gen.file_names(day)
            split = day in (0, STREAM_DAYS - 1)
            for name in (b_name, k_name):
                arrive(name)
                if split:
                    q.processAllAvailable()
            q.processAllAvailable()
        arrive(gen.file_names(1)[0], sub="redo")
        q.processAllAvailable()
        # split days take two micro-batches each, the redo one more
        assert sum(p["numInputRows"] > 0 for p in q.recentProgress) == STREAM_DAYS + 3
    finally:
        q.stop()

    wh_batch = str(tmp_path / "wh_batch")
    W.build_warehouse(spark, f"{txt}/*.TXT", wh_batch)

    def rows(wh: str, name: str) -> Counter:
        df = spark.read.parquet(f"{wh}/{name}")
        return Counter(map(tuple, df.withColumn("race_date", F.col("race_date").cast("string")).collect()))

    for name in (*W.SILVER_TABLES, "race"):
        streamed = rows(wh_stream, name)
        assert streamed == rows(wh_batch, name), name
        per_day = Counter(r[-1] for r in streamed.elements())
        want = {
            t["date"]: t["gold_rows"] if name == "race" else t["rows"][name] for t in truths
        }
        assert per_day == want, name
