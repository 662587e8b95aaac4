"""Seeded generator of synthetic boatrace day-files (CP932 K and B TXT).

Each day has VENUES_PER_DAY venue sections of RACES races. The line
shapes follow the official daily files: a K file (results) holds, per
race, a header line with the weather payload, the ``ﾚｰｽﾀｲﾑ`` column
header, six per-boat lines and the payout stanza; a B file (program)
holds one line per lane. The planted edge cases, at about the rates of
the real corpus, are disqualification codes F/L0/S0/K0 (no result row),
rank ``00`` finishers of cancelled races, ``レース不成立`` (all ten
payouts -1), ``特払い`` (win payout -1), a missing 複勝2 (-1) and
full-width padding in venue names.

Every day is generated from ``random.Random(f"{seed}:{day}")`` and the
player pool from ``random.Random(f"{seed}:pool")``, so days can be made
in any order or process and the same seed gives the same bytes.

Next to the text the generator returns the truth the pipeline must
reproduce: rows per silver table, gold (inner join) rows, the players
that reach gold, and the lane-1 win strategy's hits and payouts.
"""

from __future__ import annotations

import datetime as dt
import random
from bisect import bisect_left
from itertools import accumulate

FIRST_DAY = dt.date(2021, 1, 1)
VENUES_PER_DAY = 13
RACES = 12
N_PLAYERS = 1600

# The 24 venues with the official full-width padding to three characters.
VENUES = [
    "桐　生", "戸　田", "江戸川", "平和島", "多摩川", "浜名湖", "蒲　郡", "常　滑",
    "津　　", "三　国", "びわこ", "住之江", "尼　崎", "鳴　門", "丸　亀", "児　島",
    "宮　島", "徳　山", "下　関", "若　松", "芦　屋", "福　岡", "唐　津", "大　村",
]
# Event names contain no whitespace (the parser takes the first token).
EVENTS = [
    "一般競走", "スポーツ報知杯", "日本財団会長杯", "ルーキーシリーズ",
    "ヴィーナスシリーズ", "マスターズリーグ", "周年記念競走", "企業杯競走",
    "新春特選競走", "ゴールデンカップ", "お盆特選競走", "年末特選競走",
]
RACE_TYPES = ["一　般　　　", "予　選　　　", "特　選　　　", "準優勝戦　　", "優勝戦　　　", "選　抜　　　"]
WEATHER = ["晴　", "曇り", "雨　", "雪　"]
WIND_DIRS = ["北　", "北東", "東　", "南東", "南　", "南西", "西　", "北西"]
KIMARITE = ["逃げ", "差し", "まくり", "まくり差し", "抜き", "恵まれ"]
BRANCHES = [
    "群馬", "埼玉", "東京", "静岡", "愛知", "三重", "福井", "滋賀", "大阪",
    "兵庫", "徳島", "香川", "岡山", "広島", "山口", "福岡", "佐賀", "長崎",
]
SURNAMES = "佐藤鈴木高橋田中渡辺伊藤山本中村小林加藤吉田山田佐々木山口松本井上木村林清水斎藤池田橋本阿部石川前田藤田小川岡田後藤長谷川村上近藤石井坂本遠藤青木藤井西村福田太田三浦藤原岡本松田中川中野原田小野竹内"
GIVEN = "翔太大輝健一誠司裕二浩之哲也雄哉基樹修平拓也達也和也直樹亮太勇気博之優斗隆之美咲彩香真央涼子"
CLASSES = ["A1", "A2", "B1", "B2"]
CLASS_W = [20, 20, 45, 15]

# Edge-case rates per race.
P_CANCELLED = 0.005
P_DQ = 0.05
P_TOKUBARAI = 0.003
P_NO_PLACE2 = 0.02

TABLES = ("schedule", "result", "odds", "env", "result_ext", "race_meta")


def day_date(day: int) -> dt.date:
    return FIRST_DAY + dt.timedelta(days=day)


def file_names(day: int) -> tuple[str, str]:
    """(K file, B file) names as the official site publishes them."""
    d = day_date(day)
    stem = f"{d.year % 100:02d}{d.month:02d}{d.day:02d}.TXT"
    return "K" + stem, "B" + stem


def archive_names(day: int) -> tuple[str, str]:
    d = day_date(day).isoformat()
    return f"K{d}.lzh", f"B{d}.lzh"


class PlayerPool:
    """N_PLAYERS racers; races draw them with Zipf-like reuse."""

    def __init__(self, seed: int):
        rng = random.Random(f"{seed}:pool")
        ids = rng.sample(range(3000, 5300), N_PLAYERS)
        self.players = []
        for pid in ids:
            sur = rng.randrange(0, len(SURNAMES) - 1)
            surname = SURNAMES[sur : sur + 2]
            g = rng.randrange(0, len(GIVEN) - 1)
            given = GIVEN[g : g + rng.choice((1, 2))]
            # K files spread the name over 8 columns, B files over 4
            k_name = (
                f"{surname[0]}　{surname[1]}　　{given[0]}　"
                f"{given[1] if len(given) > 1 else '　'}"
            )
            b_name = surname + given if len(given) == 2 else surname + "　" + given
            self.players.append(
                (
                    f"{pid:04d}",
                    k_name,
                    b_name,
                    rng.randint(20, 60),
                    rng.choice(BRANCHES),
                    rng.randint(44, 60),
                    rng.choices(CLASSES, CLASS_W)[0],
                    rng.uniform(1.0, 9.99),
                )
            )
        self.cum = list(accumulate(1.0 / (k + 1) ** 0.7 for k in range(N_PLAYERS)))

    def draw6(self, rng: random.Random) -> list[tuple]:
        total = self.cum[-1]
        seen: dict[int, None] = {}
        while len(seen) < 6:
            seen[bisect_left(self.cum, rng.random() * total)] = None
        return [self.players[i] for i in seen]


def _payout(rng: random.Random, lo: int, hi: int) -> int:
    return int(lo * (hi / lo) ** (rng.random() ** 1.6)) // 10 * 10


def generate_day(seed: int, day: int, pool: PlayerPool) -> tuple[bytes, bytes, dict]:
    """One day's (K bytes, B bytes, truth). Lines end in CRLF, as in the
    official archives."""
    rng = random.Random(f"{seed}:{day}")
    d = day_date(day)
    date = d.isoformat()
    k: list[str] = ["STARTK"]
    b: list[str] = ["STARTB"]
    counts = dict.fromkeys(TABLES, 0)
    gold_players: set[str] = set()
    gold_races = hits = win_on_hit = flying = 0
    venues = sorted(rng.sample(range(24), VENUES_PER_DAY))
    dashes = "-" * 79
    for v in venues:
        venue = VENUES[v]
        event = rng.choice(EVENTS)
        nth = rng.randint(1, 6)
        code = f"{v + 1:02d}"
        k += [
            f"{code}KBGN",
            " " * 28 + "＊＊＊　競走成績　＊＊＊",
            "",
            " " * 10 + event,
            "",
            f"   第{nth:>2}日          {d.year}/{d.month:>2}/{d.day:>2}"
            f"                             ボートレース{venue}",
            "",
            "   [払戻金]       ３連単           ３連複           ２連単         ２連複",
            "",
        ]
        summary_at = len(k)
        b += [
            f"{code}BBGN",
            " " * 28 + "＊＊＊　番組表　＊＊＊",
            "",
            " " * 10 + event,
            "",
            f"   第{nth:>2}日          {d.year}年{d.month:>2}月{d.day:>2}日"
            f"                  ボートレース{venue}",
            "",
        ]
        summary: list[str] = []
        for r in range(1, RACES + 1):
            rtype = rng.choice(RACE_TYPES)
            racers = pool.draw6(rng)
            # --- B: program lines ------------------------------------
            fw = str(r).translate(_FULLWIDTH)
            b += [
                f"{fw:>2}Ｒ  {rtype}          Ｈ１８００ｍ  電話投票締切予定"
                f"{(10 + r // 2):02d}：{(r * 25) % 60:02d}",
                dashes,
                "艇 選手 選手  年 支 体級    全国      当地     モーター   ボート   今節成績  早",
                "番 登番  名   齢 部 重別 勝率  2率  勝率  2率  NO  2率  NO  2率  １２３４５６ 見",
                dashes,
            ]
            motors = rng.sample(range(10, 100), 6)
            boats = rng.sample(range(10, 100), 6)
            for lane, p in enumerate(racers, 1):
                pid, _, b_name, age, branch, weight, cls, nw = p
                n2 = rng.uniform(0, 80)
                lw = rng.uniform(0, 9.99)
                l2 = rng.uniform(0, 80)
                m2 = rng.uniform(0, 70)
                b2 = rng.uniform(0, 70)
                b.append(
                    f"{lane} {pid}{b_name}{age:02d}{branch}{weight:02d}{cls}"
                    f" {nw:.2f} {n2:5.2f} {lw:.2f} {l2:5.2f}"
                    f" {motors[lane - 1]:>2} {m2:5.2f} {boats[lane - 1]:>2} {b2:5.2f}"
                    f" {rng.randint(1, 6)}{rng.randint(1, 6)}          "
                )
            b.append("")
            counts["schedule"] += 6
            # --- K: result lines ---------------------------------------
            cancelled = rng.random() < P_CANCELLED
            order = rng.sample(range(1, 7), 6)  # lanes in finishing order
            ndq = rng.randint(1, 3) if (cancelled or rng.random() < P_DQ) else 0
            finishers, dq = order[: 6 - ndq], order[6 - ndq :]
            k += [
                f"  {r:>2}R       {rtype}                 H1800m  {rng.choice(WEATHER)}"
                f"  風  {rng.choice(WIND_DIRS)}　{rng.randint(0, 10):>2}m  波　{rng.randint(0, 15):>3}cm",
                "  着 艇 登番 　選　手　名　　ﾓｰﾀｰ ﾎﾞｰﾄ 展示 進入 ｽﾀｰﾄﾀｲﾐﾝｸ ﾚｰｽﾀｲﾑ "
                + ("" if cancelled else rng.choice(KIMARITE)),
                dashes,
            ]
            courses = rng.sample(range(1, 7), 6)
            lane1_rank1 = False
            for pos, lane in enumerate(finishers, 1):
                pid, k_name = racers[lane - 1][:2]
                rank = "00" if cancelled else f"0{pos}"
                st = f"0.{rng.randint(1, 30):02d}"
                rt = f"1.{rng.randint(48, 59)}.{rng.randint(0, 9)}"
                k.append(
                    f"  {rank}  {lane} {pid} {k_name} {motors[lane - 1]:>2} "
                    f"  {boats[lane - 1]:>2}  {rng.uniform(6.4, 7.2):.2f}   {courses[lane - 1]} "
                    f"{st:>7}  {'' if cancelled else '   ' + rt}"
                )
                counts["result"] += 1
                gold_players.add(pid)
                lane1_rank1 |= rank == "01" and lane == 1
            for lane in dq:
                pid, k_name = racers[lane - 1][:2]
                dq_code = rng.choice(("F ", "L0", "S0", "K0"))
                flying += dq_code == "F "
                exh = "K . " if dq_code == "K0" else f"{rng.uniform(6.4, 7.2):.2f}"
                st = {"F ": f"F0.{rng.randint(1, 5):02d}", "K0": "K ."}.get(
                    dq_code, f"0.{rng.randint(1, 30):02d}"
                )
                k.append(
                    f"  {dq_code}  {lane} {pid} {k_name} {motors[lane - 1]:>2} "
                    f"  {boats[lane - 1]:>2}  {exh}   {courses[lane - 1]} {st:>7}        .  . "
                )
            counts["result_ext"] += 6
            counts["race_meta"] += 1
            counts["env"] += 1
            counts["odds"] += 1
            k.append("")
            # --- K: payout stanza --------------------------------------
            if cancelled:
                k.append("     レース不成立")
                win = -1
            else:
                a, bb, c = (finishers + [0, 0])[:3]
                win = _payout(rng, 100, 20000)
                p1, p2 = _payout(rng, 100, 3000), _payout(rng, 100, 5000)
                tokubarai = rng.random() < P_TOKUBARAI
                no_place2 = rng.random() < P_NO_PLACE2
                trio = "-".join(map(str, sorted((a, bb, c))))
                tri = _payout(rng, 500, 300000)
                k += [
                    "        単勝     特払い      70  "
                    if tokubarai
                    else f"        単勝     {a}        {win:>5}  ",
                    f"        複勝     {a}        {p1:>5}  "
                    + ("" if no_place2 else f"{bb}        {p2:>5}  "),
                    f"        ２連単   {a}-{bb}       {_payout(rng, 200, 30000):>5}  人気    {rng.randint(1, 30):>2} ",
                    f"        ２連複   {min(a, bb)}-{max(a, bb)}       {_payout(rng, 200, 20000):>5}  人気    {rng.randint(1, 15):>2} ",
                    f"        拡連複   {min(a, bb)}-{max(a, bb)}       {_payout(rng, 100, 5000):>5}  人気    {rng.randint(1, 15):>2} ",
                    f"                 {min(a, c)}-{max(a, c)}       {_payout(rng, 100, 5000):>5}  人気    {rng.randint(1, 15):>2} ",
                    f"                 {min(bb, c)}-{max(bb, c)}       {_payout(rng, 100, 5000):>5}  人気    {rng.randint(1, 15):>2} ",
                    f"        ３連単   {a}-{bb}-{c}    {tri:>6}  人気   {rng.randint(1, 120):>3} ",
                    f"        ３連複   {trio}     {_payout(rng, 200, 60000):>5}  人気    {rng.randint(1, 20):>2} ",
                ]
                if tokubarai:
                    win = -1
                summary.append(f"           {r:>2}R  {a}-{bb}-{c}  {tri:>8}    {trio}")
            k.append("")
            # gold = result rows; a race is in gold iff it has one
            if finishers:
                gold_races += 1
                if lane1_rank1:
                    hits += 1
                    if win > 0:
                        win_on_hit += win
        k[summary_at:summary_at] = summary + [""]
        k.append(f"{code}KEND")
        b.append(f"{code}BEND")
    k.append("FINALK")
    b.append("FINALB")
    truth = {
        "date": date,
        "rows": counts,
        "gold_rows": counts["result"],
        "gold_races": gold_races,
        "lane1_hits": hits,
        "lane1_win_on_hit": win_on_hit,
        "flying": flying,
        "players": sorted(gold_players),
    }
    return _encode(k), _encode(b), truth


_FULLWIDTH = str.maketrans("0123456789", "０１２３４５６７８９")


def _encode(lines: list[str]) -> bytes:
    return ("\r\n".join(lines) + "\r\n").encode("cp932")


def combine_truth(days: list[dict]) -> dict:
    """Truth over a set of days (counts add, players union)."""
    rows = dict.fromkeys(TABLES, 0)
    players: set[str] = set()
    gold = races = hits = won = flying = 0
    for t in days:
        for name in TABLES:
            rows[name] += t["rows"][name]
        gold += t["gold_rows"]
        races += t["gold_races"]
        hits += t["lane1_hits"]
        won += t["lane1_win_on_hit"]
        flying += t["flying"]
        players.update(t["players"])
    return {
        "rows": rows,
        "gold_rows": gold,
        "gold_races": races,
        "players": len(players),
        "flying": flying,
        "roi_win": round(won / (100.0 * races), 6) if races else None,
        "hit_rate_win": round(hits / races, 6) if races else None,
    }
