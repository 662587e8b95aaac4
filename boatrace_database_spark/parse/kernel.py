"""Per-file parse kernel: CP932 lines -> tagged silver rows, one walk.

``parse_file`` re-implements the reference state machine
(main.py:126-218) with the same observable semantics, as one loop over
the lines:

- the reference scans each K file THREE times (result/env/odds,
  main.py:249-252); this kernel derives every table from one walk
  (SURVEY §4 "redundant-scan elimination"),
- the walk holds the current section's race name and venue, its race
  counter and the end of the header's lookahead window; there are no
  separate per-table or per-mask passes over the file,
- each record pattern (schedule/result/env/...) runs behind a cheap
  substring pretest, and rows are appended to one list per table.

Faithfulness notes (SURVEY §2.4 is the spec):
- a section header takes its name from line h+2 and its venue from
  h+4 (main.py:139-156); lines h+1..h+3 are consumed unprocessed (the
  reference's ``f.readline()`` lookahead), and the venue line h+4 IS
  processed for markers/records, exactly like the reference where
  ``line`` still holds it after the lookahead. The header test runs on
  every line, consumed or not. A section whose name or venue is
  missing emits no rows, nor do records before the first header,
- the odds stanza reads the 9 lines after the anchor by position,
  consumed or not (複勝1/複勝2 share a line, main.py:166-185);
  unmatched payouts become ``-1``; a レース不成立 line yields ten ``-1``,
- result ranks only match the ``0d`` shape — F/L0/S0-S2/K0 rows drop,
- race_num increments on distance markers (half-width ``H1800m`` in K
  files, full-width in B files) and resets at each section header; a
  marker line counts toward its own race id, the header line never.

One ingest path: ``parse_bytes`` is the only place raw file bytes
become tagged parsed rows (``sources/bronze.decode_file`` expands
``.lzh`` archives and decodes CP932, then ``parse_file`` runs per
day-file). Every reader calls it — the ``binaryFile`` batch scan
(``parse_files``), the streaming ingest (``parse_binary_df``) and the
``boatrace`` DataSource — inside Arrow-batched tasks with files as the
partition unit: no shuffle, state never crosses a file boundary.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from boatrace_database_spark.parse import patterns as P
from boatrace_database_spark.sources.bronze import decode_file

PARSED_SCHEMA = T.StructType(
    [
        T.StructField("file", T.StringType()),
        T.StructField("kind", T.StringType()),
        T.StructField("race_date", T.StringType()),
        T.StructField("table", T.StringType()),
        T.StructField("race_id", T.StringType()),
        T.StructField("vals", T.ArrayType(T.StringType())),
    ]
)

_N_ODDS = len(P.ODDS_STANZA)

# Tables in output order per file kind; any other kind emits nothing.
_TABLES = {
    "K": ("result", "env", "result_ext", "race_meta", "odds"),
    "B": ("schedule",),
}


def _result_ext(line: str) -> list[str]:
    """result_ext (extension): every per-boat line incl. disqualification
    codes, with the fields the parity regex drops (motor/boat no, entry
    course, start timing, race time) — fixed-width tail slice."""
    tail = line.rstrip("\n")[P.RESULT_EXT_TAIL_START:]
    return [
        line[2:4].strip(),        # rank_code (01-06/F/L0/L1/S0-S2/K0/K1)
        line[6],                  # lane
        line[8:12],               # player_id
        line[13:21].strip("　"),  # player_name (full-width padded)
        tail[0:4].strip(),        # motor_no
        tail[4:9].strip(),        # boat_no
        tail[9:15].strip(),       # exhibition
        tail[15:19].strip(),      # entry_course
        tail[19:28].strip(),      # start_timing
        tail[28:40].strip(),      # race_time
    ]


def _kimarite(line: str) -> list[str]:
    """race_meta (extension): winning technique from the column-header
    line (text after the ﾚｰｽﾀｲﾑ label, full-width padding stripped)."""
    line = line.rstrip("\n")
    pos = line.find(P.KIMARITE_ANCHOR)
    tail = line[pos + len(P.KIMARITE_ANCHOR):] if pos >= 0 else ""
    return [tail.strip().strip("　")]


def _odds(lines: list[str], i: int) -> list[str]:
    """The ten payouts of the stanza anchored at line ``i``, read by
    position whether or not the stanza lines were consumed; an unmatched
    (or missing) line gives ``-1``, a レース不成立 anchor ten ``-1``."""
    if P.CANCELLED in lines[i]:
        return ["-1"] * _N_ODDS
    row: list[str] = []
    for k, pat in enumerate(P.ODDS_STANZA):
        m = pat.match(lines[i]) if i < len(lines) else None
        row.append(m.group(1) if m else "-1")
        if k != 1:  # 複勝1 and 複勝2 share one line (main.py:184)
            i += 1
    return row


def parse_file(lines: list[str], kind: str, race_date: str) -> pd.DataFrame:
    """Parse one decoded file's lines into (table, race_id, vals) rows.

    Pure Python/pandas — unit-testable without Spark.

    Lines must behave like the reference's ``f.readline()`` output, which
    keeps the trailing newline — RACE_PLACE's closing ``\\s`` depends on
    it (venue names embed full-width spaces: without the newline,
    ``大　村`` truncates to ``大``). We re-append it defensively.
    """
    lines = [l if l.endswith("\n") else l + "\n" for l in lines]
    n = len(lines)
    rows: dict[str, list[tuple]] = {t: [] for t in _TABLES.get(kind, ())}

    # Each unanchored search runs behind a cheap substring PRETEST that
    # the pattern itself implies (a literal the regex must contain): such
    # a search re-scans every start position of every line, and the
    # pretest measured 26x on the odds anchor alone (byte-golden parity
    # pinned by tests/test_parse_golden.py and tests/test_kernel.py).
    section = place = None  # race-id prefix and venue of the current section
    race_num = 0
    consumed_to = -1  # last line of the latest header's lookahead
    for i, line in enumerate(lines):
        consumed = i <= consumed_to
        if "＊" in line and P.SECTION_HEADER.match(line):
            # fixed lookahead (main.py:139-156): name at +2, venue at +4;
            # lines +1..+3 are consumed, +4 is processed as usual. The
            # header test also runs on consumed lines.
            m = P.RACE_NAME.match(lines[i + 2]) if i + 2 < n else None
            name = m.group(1) if m else None
            m = P.RACE_PLACE.search(lines[i + 4]) if i + 4 < n else None
            place = m.group(1) if m else None
            # a section missing either emits nothing (the reference
            # would crash there); so do records before any header
            section = f"{race_date}{place}{name}" if name and place else None
            race_num = 0
            consumed_to = i + 3
        elif consumed:
            continue
        # race counter (P4): distance markers, both alternatives of which
        # require a literal H/Ｈ; the header line itself never counts
        elif ("H" in line or "Ｈ" in line) and P.DISTANCE_MARKER.search(line):
            race_num += 1
        if consumed or section is None:
            continue
        race_id = f"{section}{race_num}R"
        if kind == "K":
            # result ranks are a literal "0" + digit; ENV needs 風
            if "0" in line and (m := P.RESULT.search(line)):
                rows["result"].append(("result", race_id, list(m.groups())))
            if "風" in line and (m := P.ENV.search(line)):
                rows["env"].append(("env", race_id, [*m.groups(), place]))
            if P.RESULT_EXT_HEAD.match(line):
                rows["result_ext"].append(("result_ext", race_id, _result_ext(line)))
            if P.RACE_META_LINE.match(line):
                rows["race_meta"].append(("race_meta", race_id, _kimarite(line)))
            if ("単勝" in line or P.CANCELLED in line) and P.ODDS_ANCHOR.search(line):
                rows["odds"].append(("odds", race_id, _odds(lines, i)))
        # SCHEDULE is ^-anchored on [1-6], so the first char decides
        elif kind == "B" and line[0] in "123456" and (m := P.SCHEDULE.match(line)):
            rows["schedule"].append(("schedule", race_id, list(m.groups())))

    # object dtypes even when empty, or Arrow can't map the vals column
    # to list<string>
    return pd.DataFrame(
        [r for table in rows.values() for r in table],
        columns=["table", "race_id", "vals"],
        dtype=object,
    )


def parse_bytes(path: str, content: bytes) -> Iterator[pd.DataFrame]:
    """One file's raw bytes -> tagged parsed rows (PARSED_SCHEMA), one
    frame per day-file: the members of an ``.lzh`` archive, or a TXT
    file as is."""
    for name, kind, race_date, lines in decode_file(path, content):
        out = parse_file(lines, kind, race_date)
        out.insert(0, "race_date", race_date)
        out.insert(0, "kind", kind)
        out.insert(0, "file", name)
        yield out


def _parse_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        for path, content in zip(pdf["path"], pdf["content"]):
            yield from parse_bytes(path, bytes(content))


def parse_binary_df(binary: DataFrame) -> DataFrame:
    """Fused decode+parse over a ``(path, content)`` DataFrame — the
    batch scan and the streaming foreachBatch ingest
    (streaming/ingest.stream_ingest_boatrace) both run through it.

    The coalesce (narrow, no shuffle) caps the scan at two partitions
    per core, so per-task scheduling + Arrow overhead cannot dominate
    on small-file corpora; it never adds partitions.
    """
    binary = binary.select("path", "content").coalesce(
        binary.sparkSession.sparkContext.defaultParallelism * 2
    )
    return binary.mapInPandas(_parse_batches, schema=PARSED_SCHEMA)


def parse_files(spark: SparkSession, path_glob: str) -> DataFrame:
    """One-pass scan: raw day files -> tagged parsed rows. The glob may
    match any mix of ``.TXT`` files and ``.lzh`` archives."""
    return parse_binary_df(spark.read.format("binaryFile").load(path_glob))


# perfbench/workloads.py looks this name up with getattr at call time
parse_lzh_files = parse_files
