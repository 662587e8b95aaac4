"""Equivalence of the pure-DataFrame (window-function) parse against
the imperative kernel on the full committed month — proving the
declarative P3/P4/P6 mappings produce identical silver tables."""

from __future__ import annotations

import pytest

from boatrace_database_spark.parse.dataframe_parse import silver_tables_df
from boatrace_database_spark.parse.kernel import parse_files
from boatrace_database_spark.silver import silver_tables
from boatrace_database_spark.sources.bronze import read_lines

GLOB = "/root/reference/txt/*2008*.TXT"


@pytest.fixture(scope="module")
def both(spark):
    bronze = read_lines(spark, GLOB).persist()
    parsed = parse_files(spark, GLOB).persist()
    yield silver_tables_df(bronze), silver_tables(parsed)
    bronze.unpersist()
    parsed.unpersist()


@pytest.mark.parametrize("table", ["schedule", "result", "env", "odds"])
@pytest.mark.slow
def test_dataframe_parse_equals_kernel(both, table):
    declarative, kernel = both
    a = sorted(tuple(r) for r in declarative[table].collect())
    b = sorted(tuple(r) for r in kernel[table].collect())
    assert len(a) == len(b), f"{table}: {len(a)} vs {len(b)}"
    mismatches = [(x, y) for x, y in zip(a, b) if x != y]
    assert not mismatches, f"{table}: first diffs {mismatches[:3]}"


def test_malformed_header_drops_section_in_both_paths(spark):
    """A section whose name/venue lines fail to extract must emit ZERO
    records in both paths — and must not inherit the previous section's
    context (the regexp_extract('')-propagation divergence)."""
    good = [
        "24KBGN",
        "                            ＊＊＊　競走成績　＊＊＊",
        "",
        "          テスト記念レース",
        "",
        "   第 1日          2020/ 8/ 1                             ボートレース大　村",
        "   1R       一　般　　　                 H1800m  晴　  風  西　　 2m  波　  1cm",
    ]
    bad = [
        "24KBGN",
        "                            ＊＊＊　競走成績　＊＊＊",
        "",
        "MALFORMED-NAME-LINE",  # name regex needs 10 leading spaces
        "",
        "   第 1日          2020/ 8/ 1              (venue line missing its marker)",
        "   2R       一　般　　　                 H1800m  晴　  風  西　　 2m  波　  1cm",
    ]
    from boatrace_database_spark.parse.dataframe_parse import env_df
    from boatrace_database_spark.parse.kernel import parse_file

    lines = good + bad
    bronze = spark.createDataFrame(
        [("t.txt", "K", "2020-08-01", i, l) for i, l in enumerate(lines)],
        "file STRING, kind STRING, race_date STRING, line_no INT, line STRING",
    )
    declarative = env_df(bronze).collect()
    kernel_rows = parse_file(lines, "K", "2020-08-01")
    kernel_env = kernel_rows[kernel_rows["table"] == "env"]
    # one env row each (the good section); the bad section drops entirely
    assert len(declarative) == 1 == len(kernel_env)
    assert declarative[0]["レースID"] == "2020-08-01大　村テスト記念レース1R"
    assert kernel_env.iloc[0]["race_id"] == "2020-08-01大　村テスト記念レース1R"


# --------------------------------------------------------------------------
# pluggable Spark 4 Python Data Source (sources/datasource.py)
@pytest.mark.slow
def test_boatrace_datasource_matches_kernel_path(spark):
    from boatrace_database_spark.parse.kernel import parse_files
    from boatrace_database_spark.sources.datasource import register

    register(spark)
    ds = spark.read.format("boatrace").load(GLOB)
    legacy = parse_files(spark, GLOB)
    assert ds.schema == legacy.schema
    a = sorted(map(tuple, ds.collect()), key=repr)
    b = sorted(map(tuple, legacy.collect()), key=repr)
    assert a == b


@pytest.mark.slow
def test_boatrace_datasource_reads_lzh_archives(spark):
    from boatrace_database_spark.parse.kernel import parse_files
    from boatrace_database_spark.sources.datasource import register

    register(spark)
    glob_lzh = "/root/reference/lzh/*2020-08*.lzh"
    ds = spark.read.format("boatrace").load(glob_lzh)
    legacy = parse_files(spark, glob_lzh)
    assert sorted(map(tuple, ds.collect()), key=repr) == sorted(
        map(tuple, legacy.collect()), key=repr
    )


def test_boatrace_datasource_sql_and_packing(spark):
    from boatrace_database_spark.sources.datasource import register

    register(spark)
    # pure-SQL consumption: the format is a catalog citizen
    spark.sql(
        "CREATE OR REPLACE TEMPORARY VIEW br_raw "
        f"USING boatrace OPTIONS (path '{GLOB}')"
    )
    n = spark.sql(
        "SELECT count(*) AS n FROM br_raw WHERE table = 'result'"
    ).collect()[0].n
    assert n > 0
    # golden-month pin THROUGH the SQL view (r6 verdict #7): the full
    # silver -> gold pipeline fed from spark.table() must reproduce the
    # reference-committed golden day's row count exactly
    from boatrace_database_spark.gold import race_table
    from boatrace_database_spark.silver import silver_tables

    t = silver_tables(spark.table("br_raw"))
    race = race_table(t["result"], t["env"], t["schedule"])
    assert race.where(race["race_date"] == "2020-08-01").count() == 854
    # FILES_PER_TASK drives the partition count: 62 files / 16 -> 4
    df = spark.read.format("boatrace").load(GLOB)
    assert df.rdd.getNumPartitions() == 4


def test_boatrace_datasource_guards(spark):
    import pytest as _pytest

    from boatrace_database_spark.sources.datasource import register

    register(spark)
    with _pytest.raises(Exception, match="matched no files"):
        spark.read.format("boatrace").load("/tmp/nope_*.TXT").collect()
