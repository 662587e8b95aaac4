"""Boatrace-domain compositions of the behavioral operator family.

The funnel / cohort-retention / transition-matrix operators
(operators/behavior.py) are demonstrated elsewhere on the driver's
synthetic ``events`` table; these queries bind them to the REFERENCE
DOMAIN — the parsed August-2020 race month — the way the reference's
own published model consumes parsed features (reference README.md:19
lists 階級・勝率 features; reference main.py:262 builds the joined
race table these events derive from).

Pipeline shape per query: raw committed TXT (reference txt/*.TXT) →
fused decode+parse kernel → silver tables → gold ``race`` join →
per-racer event log → behavioral operator. The ORACLES run DuckDB
over the reference's OWN committed golden CSVs (reference
table/2020-08-*.csv) — byte-parity between our gold table and those
CSVs is already pinned by tests/test_parse_golden.py, so each oracle
checks the behavioral algebra end-to-end THROUGH the parse pipeline
against reference-committed truth, not against our own output.

Event derivation (identical arithmetic on both engines):
- user    = 選手登番 (player_id, string)
- ts      = midnight of the race date + race-number hours — race_ids
  embed both (``{date}{venue}{race}{n}R``), and a racer runs at one
  venue per day, so ts is UNIQUE per (player, race): every ordering
  below is total and engine-independent.
- events  = 'race' for every start, plus 'top2' (順位 ≤ 2) and 'win'
  (順位 = 1) outcome events at the same ts.

These queries intentionally ignore ``sf_dir``: their input is the
replayable committed month, so the driver's sf0.01 run and the local
sweep at any SF all verify the same fixed corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from boatrace_database_spark import schemas as S
from boatrace_database_spark.gold import race_table
from boatrace_database_spark.operators import behavior
from boatrace_database_spark.parse.kernel import parse_files
from boatrace_database_spark.silver import silver_tables

REF = "/root/reference"
_GOLDEN_CSV = f"{REF}/table/2020-08-*.csv"

# one-entry cache: all three domain queries parse the same month, and
# the driver calls them back-to-back. The SESSION OBJECT is stored
# alongside the frame and compared by identity — keeping the strong
# reference means a dead session's id() can never be reused for a
# false hit, and a fresh session (new JVM / tests) rebuilds.
_GOLD_CACHE: list = []  # [(spark, gold_df)] — at most one entry


def _gold_race(spark: SparkSession) -> DataFrame:
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if _GOLD_CACHE and _GOLD_CACHE[0][0] is spark:
        return _GOLD_CACHE[0][1]
    parsed = parse_files(spark, f"{REF}/txt/*2008*.TXT")
    t = silver_tables(parsed)
    gold = race_table(t["result"], t["env"], t["schedule"]).persist()
    _GOLD_CACHE.clear()
    _GOLD_CACHE.append((spark, gold))
    return gold


def _race_base(spark: SparkSession) -> DataFrame:
    g = _gold_race(spark)
    race_no = F.regexp_extract(S.RACE_ID, r"(\d+)R$", 1).cast("int")
    return g.select(
        F.col(S.PLAYER_ID).alias("player_id"),
        F.col(S.RACE_ID).alias("race_id"),
        F.col("順位").cast("double").cast("int").alias("rank"),
        F.col("階級").alias("klass"),
        # midnight + race_no hours via epoch seconds (session tz is
        # pinned UTC above, so this is exact wall-clock arithmetic)
        F.timestamp_seconds(
            F.unix_timestamp(F.to_timestamp("race_date"))
            + race_no.cast("long") * 3600
        ).alias("ts"),
    )


def _race_events(spark: SparkSession) -> DataFrame:
    b = _race_base(spark)
    cols = ["player_id", "race_id", "ts"]
    race = b.select(*cols, F.lit("race").alias("event_type"))
    top2 = b.where((F.col("rank") >= 1) & (F.col("rank") <= 2)).select(
        *cols, F.lit("top2").alias("event_type")
    )
    win = b.where(F.col("rank") == 1).select(
        *cols, F.lit("win").alias("event_type")
    )
    return race.unionByName(top2).unionByName(win)


# shared oracle CTE: golden CSVs -> the same per-racer base frame.
# all_varchar pins DuckDB to the silver layer's everything-is-TEXT
# typing so casts below are the only typing either engine does.
_BASE_CTE = f"""
g AS (
  SELECT "選手登番" AS player_id,
         "レースID" AS race_id,
         CAST(CAST("順位" AS DOUBLE) AS INT) AS rank,
         "階級" AS klass,
         CAST(substr("レースID", 1, 10) AS TIMESTAMP)
           + CAST(regexp_extract("レースID", '(\\d+)R$', 1) AS INT)
             * INTERVAL 1 HOUR AS ts
  FROM read_csv('{_GOLDEN_CSV}', header=true, all_varchar=true)
),
ev AS (
  SELECT player_id, race_id, ts, 'race' AS event_type FROM g
  UNION ALL
  SELECT player_id, race_id, ts, 'top2' FROM g WHERE rank BETWEEN 1 AND 2
  UNION ALL
  SELECT player_id, race_id, ts, 'win' FROM g WHERE rank = 1
)
"""


def career_class_transitions(spark, sf_dir):
    """階級 (racer class A1/A2/B1/B2) transition matrix across each
    racer's race sequence — behavior.event_transitions bound to the
    gold race table. Within one month the matrix is diagonal-heavy
    (classes change at grading periods), which is exactly the signal:
    off-diagonal mass would flag parse corruption. Reference
    README.md:19 consumes 階級 as a model feature; this is its
    journey-mining view."""
    ev = _race_base(spark).select(
        "player_id", F.col("klass").alias("event_type"), "ts", "race_id"
    )
    return behavior.event_transitions(
        ev,
        user_col="player_id",
        type_col="event_type",
        ts_col="ts",
        order_tiebreak="race_id",
    )


CLASS_TRANSITIONS_SQL = f"""
WITH {_BASE_CTE},
seq AS (
  SELECT klass AS from_type,
         lead(klass) OVER (
           PARTITION BY player_id ORDER BY ts, race_id
         ) AS to_type
  FROM g
),
agg AS (
  SELECT from_type, to_type, count(*) AS n
  FROM seq WHERE to_type IS NOT NULL
  GROUP BY from_type, to_type
)
SELECT from_type, to_type, n,
       round(n / sum(n) OVER (PARTITION BY from_type), 4) AS p
FROM agg
ORDER BY from_type, to_type
"""


def racer_podium_funnel(spark, sf_dir):
    """Race → top-2 → win progression funnel over the month, per
    racer: how many racers who started also reached a podium-2 finish
    and then a win at-or-after it, with mean hours from their first
    start (behavior.funnel_summary on parse-derived outcome events —
    the 順位 column the reference's accuracy metrics grade against,
    reference main.py:418)."""
    return behavior.funnel_summary(
        _race_events(spark),
        ["race", "top2", "win"],
        user_col="player_id",
        type_col="event_type",
        ts_col="ts",
    )


PODIUM_FUNNEL_SQL = f"""
WITH {_BASE_CTE},
s1 AS (
  SELECT player_id, min(ts) AS t1 FROM ev
  WHERE event_type = 'race' GROUP BY player_id
),
s2 AS (
  SELECT e.player_id, min(e.ts) AS t2, min(s1.t1) AS t1
  FROM ev e JOIN s1 ON e.player_id = s1.player_id
  WHERE e.event_type = 'top2' AND e.ts >= s1.t1
  GROUP BY e.player_id
),
s3 AS (
  SELECT e.player_id, min(e.ts) AS t3, min(s2.t1) AS t1
  FROM ev e JOIN s2 ON e.player_id = s2.player_id
  WHERE e.event_type = 'win' AND e.ts >= s2.t2
  GROUP BY e.player_id
)
SELECT * FROM (
  SELECT CAST(1 AS BIGINT) AS stage, 'race' AS stage_name,
         CAST(count(*) AS BIGINT) AS users,
         round(avg(date_diff('second', t1, t1)) / 3600.0, 3)
           AS avg_hours_from_entry
  FROM s1
  UNION ALL
  SELECT CAST(2 AS BIGINT), 'top2', CAST(count(*) AS BIGINT),
         round(avg(date_diff('second', t1, t2)) / 3600.0, 3) FROM s2
  UNION ALL
  SELECT CAST(3 AS BIGINT), 'win', CAST(count(*) AS BIGINT),
         round(avg(date_diff('second', t1, t3)) / 3600.0, 3) FROM s3
) ORDER BY stage
"""


def racer_first_win_cohort(spark, sf_dir):
    """Weekly retention grid cohorted on each racer's FIRST WIN:
    cohort = ISO week of the first 順位=1 finish, retained in offset w
    if the racer started ANY race w whole weeks later
    (behavior.cohort_retention with the win event as the cohort
    anchor) — 'does winning keep racers on the water'."""
    return behavior.cohort_retention(
        _race_events(spark),
        cohort_event="win",
        user_col="player_id",
        type_col="event_type",
        ts_col="ts",
    )


FIRST_WIN_COHORT_SQL = f"""
WITH {_BASE_CTE},
first AS (
  SELECT player_id, min(CAST(ts AS DATE)) AS cohort_day
  FROM ev WHERE event_type = 'win' GROUP BY player_id
),
f2 AS (
  SELECT player_id, cohort_day,
         CAST(date_trunc('week', cohort_day) AS DATE) AS cohort_week
  FROM first
),
sizes AS (
  SELECT cohort_week, count(*) AS cohort_size FROM f2 GROUP BY cohort_week
),
act AS (
  SELECT DISTINCT e.player_id, f2.cohort_week,
         CAST(floor(date_diff('day', f2.cohort_day, CAST(e.ts AS DATE))
                    / 7.0) AS BIGINT) AS week_offset
  FROM ev e JOIN f2 ON e.player_id = f2.player_id
  WHERE CAST(e.ts AS DATE) >= f2.cohort_day
)
SELECT a.cohort_week, a.week_offset,
       CAST(count(*) AS BIGINT) AS active_users,
       round((100.0 * count(*)) / min(s.cohort_size), 2) AS retention_pct
FROM act a JOIN sizes s ON a.cohort_week = s.cohort_week
GROUP BY a.cohort_week, a.week_offset
ORDER BY a.cohort_week, a.week_offset
"""


QUERIES = {
    "career_class_transitions": career_class_transitions,
    "racer_podium_funnel": racer_podium_funnel,
    "racer_first_win_cohort": racer_first_win_cohort,
}

ORACLES = {
    "career_class_transitions": CLASS_TRANSITIONS_SQL,
    "racer_podium_funnel": PODIUM_FUNNEL_SQL,
    "racer_first_win_cohort": FIRST_WIN_COHORT_SQL,
}
