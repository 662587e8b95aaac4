"""Self-test of the benchmark's own parts, without Spark (a few seconds):

- the generator is deterministic per seed and day;
- -lh5- archives round-trip byte for byte through the program's
  ``sources.lzh.read_lzh_bytes``, CRC-16 included, on day files and on
  edge inputs (empty, tiny, incompressible, one repeated byte, several
  Huffman blocks);
- one day's truth equals what ``parse.kernel.parse_file`` extracts:
  rows per table, gold inner-join rows, players, lane-1 hits and payout;
- every planted edge case shows up in ten days of parsed K files.

    python3 perfbench/selftest.py
"""

from __future__ import annotations

import os
import random
import struct
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import gen  # noqa: E402
import lh5  # noqa: E402


def check(cond: bool, what: str) -> None:
    if not cond:
        raise AssertionError(what)


def test_generator_deterministic() -> None:
    a = gen.generate_day(5, 3, gen.PlayerPool(5))
    b = gen.generate_day(5, 3, gen.PlayerPool(5))
    check(a == b, "same seed and day give different output")
    c = gen.generate_day(6, 3, gen.PlayerPool(6))
    check(a[0] != c[0], "different seeds give the same K file")


def test_crc16() -> None:
    check(lh5.crc16(b"123456789") == 0xBB3D, "CRC-16/ARC check value")


def _round_trip(name: str, data: bytes) -> float:
    from boatrace_database_spark.sources.lzh import read_lzh_bytes

    archive = lh5.lzh_archive(name, data)
    members = read_lzh_bytes(archive)
    check(len(members) == 1, f"{name}: {len(members)} members")
    m = members[0]
    check(m.method == "-lh5-" and m.filename == name, f"{name}: header {m.method} {m.filename}")
    check(m.data == data, f"{name}: decoded bytes differ")
    crc = struct.unpack_from("<H", archive, 2 + archive[0] - 2)[0]
    check(crc == lh5.crc16(data), f"{name}: header CRC")
    return len(data) / len(archive)


def test_lh5_round_trip() -> None:
    rng = random.Random(2)
    k, b, _ = gen.generate_day(7, 0, gen.PlayerPool(7))
    ratio = _round_trip("K210101.TXT", k)
    check(ratio > 3, f"K file compresses only {ratio:.2f}x: matching is not working")
    _round_trip("B210101.TXT", b)
    for name, data in (
        ("EMPTY.TXT", b""),
        ("TINY.TXT", b"ab"),
        ("RUN.TXT", b"x" * 100_000),
        ("NOISE.TXT", rng.randbytes(150_000)),  # > 65535 literals: several blocks
        ("MIXED.TXT", (rng.randbytes(50) + b"-" * 300) * 400),
    ):
        _round_trip(name, data)


def test_truth_matches_kernel() -> None:
    import pandas as pd

    from boatrace_database_spark.parse.kernel import parse_file

    seed, day = 9, 2
    k_bytes, b_bytes, truth = gen.generate_day(seed, day, gen.PlayerPool(seed))
    date = truth["date"]
    parsed = pd.concat(
        [
            parse_file(k_bytes.decode("cp932").splitlines(), "K", date),
            parse_file(b_bytes.decode("cp932").splitlines(), "B", date),
        ]
    )
    counts = parsed["table"].value_counts().to_dict()
    check(counts == truth["rows"], f"rows per table {counts} != truth {truth['rows']}")

    def table(name: str, cols: list[str]) -> pd.DataFrame:
        rows = parsed[parsed["table"] == name]
        return pd.DataFrame([[r, *v] for r, v in zip(rows["race_id"], rows["vals"])], columns=["race_id", *cols])

    result = table("result", ["rank", "player", "exhibition"])
    env = table("env", ["weather", "wind_dir", "wind", "wave", "venue"])
    sched = table("schedule", ["lane", "player", *[f"c{i}" for i in range(11)]])
    odds = table("odds", [f"o{i}" for i in range(10)])
    race = result.merge(env, on="race_id").merge(sched, on=["race_id", "player"])
    check(len(race) == truth["gold_rows"], f"gold rows {len(race)} != {truth['gold_rows']}")
    check(sorted(set(race["player"])) == truth["players"], "players reaching gold")
    lane1_win = race[(race["rank"] == "1") & (race["lane"] == "1")]
    races = odds[odds["race_id"].isin(race["race_id"])]
    check(len(races) == truth["gold_races"], "races with a result row")
    check(len(lane1_win) == truth["lane1_hits"], "lane-1 hits")
    win = races.set_index("race_id").loc[lane1_win["race_id"], "o0"].astype(int)
    check(int(win[win > 0].sum()) == truth["lane1_win_on_hit"], "lane-1 win payout")
    ext = table("result_ext", [f"e{i}" for i in range(10)])
    check(int(ext["e8"].str.startswith("F").sum()) == truth["flying"], "flying starts")


def test_edge_cases_planted() -> None:
    """Over ten days every planted edge case shows up in the parse."""
    from boatrace_database_spark.parse.kernel import parse_file

    pool = gen.PlayerPool(9)
    seen = dict.fromkeys(("cancelled", "tokubarai", "no place2", "rank 00", "dq", "padded venue"), 0)
    for day in range(10):
        k_bytes, _, truth = gen.generate_day(9, day, pool)
        out = parse_file(k_bytes.decode("cp932").splitlines(), "K", truth["date"])
        odds = out[out["table"] == "odds"]["vals"].tolist()
        seen["cancelled"] += sum(v == ["-1"] * 10 for v in odds)
        seen["tokubarai"] += sum(v[0] == "-1" and v[1] != "-1" for v in odds)
        seen["no place2"] += sum(v[2] == "-1" and v[1] != "-1" for v in odds)
        ranks = [v[0] for v in out[out["table"] == "result_ext"]["vals"]]
        seen["rank 00"] += ranks.count("00")
        seen["dq"] += sum(r in ("F", "L0", "S0", "K0") for r in ranks)
        seen["padded venue"] += sum("　" in v[4] for v in out[out["table"] == "env"]["vals"])
    check(all(seen.values()), f"an edge case never appears: {seen}")


TESTS = [
    test_generator_deterministic,
    test_crc16,
    test_lh5_round_trip,
    test_truth_matches_kernel,
    test_edge_cases_planted,
]


def main() -> int:
    failed = 0
    for test in TESTS:
        try:
            test()
        except AssertionError as exc:
            failed += 1
            print(f"FAIL {test.__name__}: {exc}")
        else:
            print(f"ok   {test.__name__}")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
