"""The parse kernel on generated day-files, without Spark.

Two checks run in every environment:

- a digest pin: ``parse_file`` on whole generated files, on fixed cut
  slices (ending inside a section header's lookahead, starting inside
  it, ending inside an odds stanza) and on fixed splices (a header or
  record lines inside a lookahead, a header inside an odds stanza, a
  distance marker on a header line) must give the rows, in order,
  whose sha256 was recorded from an earlier kernel. The digest
  is only meaningful for the generator that produced the input, so
  the generator's hash is checked first: if it moved, re-record both.
- a property test: mutated files (truncated, lines deleted, duplicated,
  cut short, headers inserted) never make ``parse_file`` raise, and
  every row it gives has its table's arity and a race id that starts
  with the race date.

Days come from the benchmark's seeded generator (perfbench/gen.py),
imported read-only.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench")
)

import corpus  # noqa: E402
import gen  # noqa: E402

from boatrace_database_spark.parse import patterns as P  # noqa: E402
from boatrace_database_spark.parse.kernel import parse_file  # noqa: E402

SEED = 5
DAYS = 2
# Recorded together: re-record both when perfbench/gen.py or lh5.py
# changes (the digest is of rows parsed from that generator's output).
GENERATOR_HASH = "7b27df2b1d90"
ROWS_SHA256 = "2bd944ca6d5785507354a9697e1b022c92718bbe39c2c1d853fb0cc006e27c30"

ARITY = {"result": 3, "env": 5, "odds": 10, "schedule": 13, "result_ext": 10, "race_meta": 1}


def _days() -> list[tuple[str, str, list[str]]]:
    """(kind, race_date, lines) for each generated day-file."""
    pool = gen.PlayerPool(SEED)
    files = []
    for day in range(DAYS):
        k, b, truth = gen.generate_day(SEED, day, pool)
        for kind, data in (("K", k), ("B", b)):
            files.append((kind, truth["date"], data.decode("cp932").splitlines()))
    return files


_FILES = _days()


def _cases() -> list[tuple[str, str, str, list[str]]]:
    """(label, kind, race_date, lines): whole files and fixed cuts."""
    cases = []
    for i, (kind, date, lines) in enumerate(_FILES):
        cases.append((f"{i}:whole", kind, date, lines))
        headers = [j for j, l in enumerate(lines) if P.SECTION_HEADER.match(l)]
        anchors = [j for j, l in enumerate(lines) if "単勝" in l]
        for h in (headers[0], headers[1], headers[-1]):
            for k in range(1, 5):  # ends inside the h+1..h+4 lookahead
                cases.append((f"{i}:to h{h}+{k}", kind, date, lines[: h + k]))
            for k in (1, 3):  # starts inside it: no context until the next header
                cases.append((f"{i}:from h{h}+{k}", kind, date, lines[h + k :]))
            # a second header inside the first one's lookahead
            spliced = lines[: h + 2] + [lines[h]] + lines[h + 2 :]
            cases.append((f"{i}:header in h{h}+2", kind, date, spliced))
            # record lines inside the lookahead (h+1, h+3) are consumed
            race = next(j for j in range(h, len(lines)) if P.DISTANCE_MARKER.search(lines[j]))
            boat = next(
                j for j in range(h, len(lines))
                if P.RESULT.search(lines[j]) or P.SCHEDULE.match(lines[j])
            )
            spliced = lines[: h + 1] + [lines[race], lines[h + 2], lines[boat]] + lines[h + 4 :]
            cases.append((f"{i}:records in h{h} lookahead", kind, date, spliced))
            # a distance marker on the header line itself does not count
            spliced = lines[:h] + [lines[h] + "  H1800m"] + lines[h + 1 :]
            cases.append((f"{i}:marker on h{h}", kind, date, spliced))
        if anchors:
            for a in (anchors[0], anchors[len(anchors) // 2], anchors[-1]):
                for k in (1, 2, 5, 9):  # ends inside the odds stanza
                    cases.append((f"{i}:to a{a}+{k}", kind, date, lines[: a + k]))
                # a header inside the stanza: the stanza still reads the
                # lines its lookahead consumes
                spliced = lines[: a + 2] + [lines[headers[0]]] + lines[a + 3 :]
                cases.append((f"{i}:header in a{a}+2", kind, date, spliced))
    kind, date, lines = _FILES[0]
    cases.append(("empty K", "K", date, []))
    cases.append(("empty B", "B", date, []))
    cases.append(("unknown kind", "O", date, lines))
    return cases


def test_kernel_rows_match_recorded_digest():
    assert corpus.generator_hash() == GENERATOR_HASH, (
        "perfbench/gen.py or lh5.py changed: re-record GENERATOR_HASH and "
        "ROWS_SHA256 from a kernel known to be right"
    )
    h = hashlib.sha256()
    for label, kind, date, lines in _cases():
        out = parse_file(lines, kind, date)
        assert list(out.columns) == ["table", "race_id", "vals"], label
        assert all(dtype == object for dtype in out.dtypes), label
        h.update(f"{label}\t{len(out)}\n".encode())
        for table, race_id, vals in zip(out["table"], out["race_id"], out["vals"]):
            h.update(json.dumps([table, race_id, list(vals)], ensure_ascii=False).encode())
            h.update(b"\n")
    assert h.hexdigest() == ROWS_SHA256, h.hexdigest()


_HEADERS = (
    " " * 28 + "＊＊＊　競走成績　＊＊＊",
    " " * 28 + "＊＊＊　番組表　＊＊＊",
)

_EDIT = st.tuples(
    st.sampled_from(("delete", "duplicate", "cut", "header")),
    st.integers(0, 10**6),
    st.integers(0, 80),
)


@given(
    st.integers(0, len(_FILES) - 1),
    st.lists(_EDIT, max_size=12),
    st.one_of(st.none(), st.integers(0, 10**6)),
)
@settings(
    max_examples=40,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
def test_mutated_files_parse_to_well_formed_rows(file_no, edits, end):
    kind, date, lines = _FILES[file_no]
    lines = list(lines)
    for op, pos, arg in edits:
        if not lines:
            break
        j = pos % len(lines)
        if op == "delete":
            del lines[j]
        elif op == "duplicate":
            lines.insert(j, lines[j])
        elif op == "cut":
            lines[j] = lines[j][:arg]
        else:
            lines.insert(j, _HEADERS[arg % 2])
    if end is not None and lines:
        lines = lines[: end % (len(lines) + 1)]
    out = parse_file(lines, kind, date)
    for table, race_id, vals in zip(out["table"], out["race_id"], out["vals"]):
        assert len(vals) == ARITY[table], (table, vals)
        assert race_id.startswith(date), race_id
