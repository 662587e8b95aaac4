"""Schemas for the boatrace warehouse (bronze / silver / gold).

The reference stores every column as SQLite TEXT (see SURVEY §1.1;
reference main.py:104-108 declares header names only). Silver keeps the
reference's exact Japanese column names and string values for byte
parity with the committed golden CSVs; the typed gold views
(``gold.py``) cast to real types and normalize the ``-1`` sentinels to
NULL.
"""

from __future__ import annotations

from pyspark.sql import types as T

RACE_ID = "レースID"
PLAYER_ID = "選手登番"

# Column orders mirror reference main.py:104-108 (header constants).
SCHEDULE_COLUMNS = [
    RACE_ID, "艇番", PLAYER_ID, "名前", "年齢", "支部", "体重", "階級",
    "全国勝率", "全国2率", "当地勝率", "当地2率", "モーター2率", "ボート2率",
]
RESULT_COLUMNS = [RACE_ID, "順位", PLAYER_ID, "展示"]
ODDS_COLUMNS = [
    RACE_ID, "単勝", "複勝1", "複勝2", "2連単", "2連複",
    "拡連複12", "拡連複13", "拡連複23", "3連単", "3連複",
]
ENV_COLUMNS = [RACE_ID, "天候", "風向", "風速", "波高", "会場"]

# EXTENSION tables (fields the reference drops — SURVEY §1.2): romanized
# names directly, no Japanese-parity requirement.
RESULT_EXT_COLUMNS = [
    "race_id", "rank_code", "lane", "player_id", "player_name",
    "motor_no", "boat_no", "exhibition", "entry_course",
    "start_timing", "race_time",
]
RACE_META_COLUMNS = ["race_id", "kimarite"]

# Bronze: one row per decoded text line, tagged with provenance.
BRONZE_LINES_SCHEMA = T.StructType(
    [
        T.StructField("file", T.StringType()),      # source file name, e.g. K200801.TXT
        T.StructField("kind", T.StringType()),      # K (results) | B (program)
        T.StructField("race_date", T.StringType()), # YYYY-MM-DD
        T.StructField("line_no", T.IntegerType()),
        T.StructField("line", T.StringType()),
    ]
)
