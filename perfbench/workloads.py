"""The benchmark's workloads. Each one prepares its inputs and state
(untimed), then runs operations one at a time (closed loop, one
client). An operation is a write phase followed by a read pass over
the warehouse it wrote; every output is checked against the
generator's truth. With tracing on, the same operations run with spans
around the calls into each module."""

from __future__ import annotations

import contextlib
import glob
import io
import os
import random
import shutil
import time

import gen

SILVER = ("schedule", "result", "odds", "env", "result_ext", "race_meta")
TABLES7 = (*SILVER, "race")
READS = (
    "register_views", "day_slice", "day_range", "player_features",
    "roi_simulation", "accuracy_metrics", "odds_map_view", "result_ext_typed",
)

BACKFILL_DAYS = 14
WARM_DAYS = 3
DAILY_BASE_DAYS = 3
DAILY_MAX_DAYS = 9
CORPUS_DAYS = max(BACKFILL_DAYS, DAILY_BASE_DAYS + DAILY_MAX_DAYS)


def parquet_bytes(path: str) -> tuple[int, int]:
    """(files, bytes) of the parquet data files under ``path``."""
    files = glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    return len(files), sum(os.path.getsize(f) for f in files)


def txt_bytes(truth: list[dict]) -> int:
    return sum(raw for t in truth for raw, _ in t["archives"].values())


def stage_archives(archive_dir: str, days: range, out_dir: str) -> str:
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    for d in days:
        for name in gen.archive_names(d):
            shutil.copyfile(os.path.join(archive_dir, name), os.path.join(out_dir, name))
    return os.path.join(out_dir, "*.lzh")


def build_calls() -> tuple[tuple[object, str], ...]:
    """The module functions ``build --lzh`` looks up at call time, in
    call order. Their spans mark the build's phases: the silver writes
    run between ``silver_tables`` and ``race_table``, the gold write
    between ``race_table`` and ``register_views``."""
    from boatrace_database_spark import gold, silver
    from boatrace_database_spark import warehouse as W
    from boatrace_database_spark.parse import kernel

    return (
        (kernel, "parse_lzh_files"),
        (silver, "silver_tables"),
        (gold, "race_table"),
        (W, "register_views"),
    )


def cli_build(lzh_glob: str, out: str) -> dict[str, int]:
    """``python -m boatrace_database_spark build --lzh`` in-process;
    returns the row counts it prints per table."""
    from boatrace_database_spark.__main__ import main

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        main(["build", "--lzh", lzh_glob, "--out", out])
    counts = {}
    for line in buf.getvalue().splitlines():
        name, _, rest = line.partition(": ")
        if rest.endswith(" rows"):
            counts[name] = int(rest[: -len(" rows")])
    return counts


def _file_snapshot(root: str) -> dict[str, tuple[float, int]]:
    out = {}
    for f in glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True):
        st = os.stat(f)
        out[f] = (st.st_mtime, st.st_size)
    return out


class Workload:
    """``prepare`` (untimed); ``op(i)`` runs ``write(i)`` then the read
    pass and records both phase times; ``finish`` returns the failures
    that end-of-run checks find."""

    wh = ""

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.tracer = ctx.tracer
        self.work = ctx.work
        self.n_days = 0  # days the warehouse holds
        self.write_bytes = 0

    def prepare(self) -> None:
        pass

    def warm_up(self) -> bool:
        """One untimed operation's worth of the same code paths."""
        raise NotImplementedError

    def more(self) -> bool:
        """Whether the generated inputs allow another operation."""
        return True

    def write(self, i: int, rec: dict | None) -> tuple[bool, int]:
        """The write phase; returns (output correct, day the reads focus
        on) and leaves the TXT bytes it ingested in ``write_bytes``."""
        raise NotImplementedError

    def finish(self) -> int:
        return 0

    def op(self, i: int) -> bool:
        t = self.tracer
        with t.span("op", i) as rec:
            t0 = time.perf_counter()
            with t.span("write", i):
                ok, day = self.write(i, rec)
            t1 = time.perf_counter()
            with t.span("reads", i):
                ok &= self.reads(i, day)
            t2 = time.perf_counter()
        self.ctx.record(t1 - t0, t2 - t1, self.write_bytes)
        return ok

    def reads(self, i: int, day: int) -> bool:
        """register_views, then the read_db.py shapes, the README
        analytics and the gold views over the whole warehouse; each
        checked against the truth of its days."""
        from boatrace_database_spark import analytics as A
        from boatrace_database_spark import gold as G
        from boatrace_database_spark import warehouse as W

        truth = self.ctx.truth
        total = gen.combine_truth(truth[: self.n_days])
        week = truth[max(0, day - 4) : day + 1]
        v: dict = {}

        def run(kind: str) -> bool:
            if kind == "register_views":
                v.update(W.register_views(self.spark, self.wh))
                return set(v) == set(TABLES7)
            if kind == "day_slice":
                return W.day_slice(v["race"], truth[day]["date"]).count() == truth[day]["gold_rows"]
            if kind == "day_range":
                return W.day_range(v["race"], [x["date"] for x in week]).count() == sum(
                    x["gold_rows"] for x in week
                )
            if kind == "player_features":
                feats = A.player_features(v["race"], v["result_ext"])
                return (
                    feats.count() == total["players"]
                    and A.feature_table(v["race"], feats).count() == total["gold_rows"]
                )
            if kind == "roi_simulation":
                row = A.roi_simulation(v["race"], v["odds"]).collect()[0]
                return row["n_races"] == total["gold_races"] and abs(row["roi_win"] - total["roi_win"]) < 2e-6
            if kind == "accuracy_metrics":
                row = A.accuracy_metrics(v["race"], v["odds"]).collect()[0]
                return abs(row["hit_rate_win"] - total["hit_rate_win"]) < 2e-6
            if kind == "odds_map_view":
                return G.odds_map_view(v["odds"]).count() == total["rows"]["odds"]
            if kind == "result_ext_typed":
                typed = G.result_ext_typed(v["result_ext"])
                return typed.where("is_flying").count() == total["flying"]
            raise ValueError(kind)

        ok = True
        for kind in READS:
            t0 = time.perf_counter()
            with self.tracer.span("read", i, kind=kind):
                ok &= run(kind)
            self.ctx.read_times.setdefault(kind, []).append(round(time.perf_counter() - t0, 3))
        return ok

    def warehouse_ratio(self) -> float:
        return parquet_bytes(self.wh)[1] / txt_bytes(self.ctx.truth[: self.n_days])

    def files_per_lookup(self) -> float:
        """Parquet files a one-day lookup of ``race`` reads after pruning."""
        files = [
            len(glob.glob(os.path.join(self.wh, "race", f"race_date={t['date']}", "*.parquet")))
            for t in self.ctx.truth[: self.n_days]
        ]
        return sum(files) / len(files)


# --------------------------------------------------------------------------
class Backfill(Workload):
    """Write: a fresh warehouse of 7 tables from BACKFILL_DAYS days of
    archives through ``build --lzh``; reads: the pass over it, focused
    on a seeded day. The warm-up does the same on WARM_DAYS days. Traced,
    the same build runs with spans around the module functions it
    calls."""

    def prepare(self) -> None:
        self.rng = random.Random(f"{self.ctx.seed}:backfill")
        self.configs = {
            name: self._config(name, days) for name, days in (("warm", WARM_DAYS), ("main", BACKFILL_DAYS))
        }
        self._use("main")

    def _config(self, name: str, days: int) -> dict:
        total = gen.combine_truth(self.ctx.truth[:days])
        return {
            "n_days": days,
            "glob": stage_archives(self.ctx.archive_dir, range(days), os.path.join(self.work, f"backfill_{name}")),
            "wh": os.path.join(self.work, f"backfill_{name}_wh"),
            "expected": {**total["rows"], "race": total["gold_rows"]},
        }

    def _use(self, name: str) -> None:
        for key, value in self.configs[name].items():
            setattr(self, key, value)

    def warm_up(self) -> bool:
        self._use("warm")
        try:
            return self.op(-1)
        finally:
            self._use("main")

    def write(self, i: int, rec: dict | None) -> tuple[bool, int]:
        shutil.rmtree(self.wh, ignore_errors=True)
        self.write_bytes = txt_bytes(self.ctx.truth[: self.n_days])
        with self.tracer.around(i, *build_calls()):
            counts = cli_build(self.glob, self.wh)
        return counts == self.expected, self.rng.randrange(self.n_days)


# --------------------------------------------------------------------------
class Daily(Workload):
    """A base warehouse of DAILY_BASE_DAYS days (untimed) fed by the
    streaming ingest. Write: the next day's two archives are
    decompressed, renamed into the stream's watch dir, and
    ``processAllAvailable()`` returns once the stream has merged them
    into the warehouse; reads: the pass over the grown warehouse,
    focused on the new day."""

    def prepare(self) -> None:
        from boatrace_database_spark.streaming.ingest import stream_ingest_boatrace

        root = self.root = os.path.join(self.work, "daily")
        shutil.rmtree(root, ignore_errors=True)
        self.wh = os.path.join(root, "wh")
        self.watch = os.path.join(root, "watch")
        self.staging = os.path.join(root, "staging")
        for d in (self.watch, self.staging):
            os.makedirs(d)
        base = stage_archives(self.ctx.archive_dir, range(DAILY_BASE_DAYS), os.path.join(root, "base"))
        cli_build(base, self.wh)
        self.n_days = DAILY_BASE_DAYS
        self.query = stream_ingest_boatrace(self.spark, self.watch, self.wh, os.path.join(root, "ckpt"))
        self.query.processAllAvailable()

    def warm_up(self) -> bool:
        """One day appended through the stream, then the read pass: the
        first micro-batch parse and merge in this JVM are not timed."""
        return self.op(-1)

    def write(self, i: int, rec: dict | None) -> tuple[bool, int]:
        from boatrace_database_spark import warehouse as W
        from boatrace_database_spark.sources.bronze import decompress_lzh_to_dir

        day = self.n_days
        if day >= CORPUS_DAYS:
            raise RuntimeError("daily ran out of generated days")
        t = self.tracer
        if rec is not None:
            before = _file_snapshot(self.wh)
        archives = [os.path.join(self.ctx.archive_dir, n) for n in gen.archive_names(day)]
        # the stream's batch function looks merge_upsert up on the module
        # at every call
        with t.around(i, (W, "merge_upsert")):
            with t.span("bronze.decompress", i):
                txt = decompress_lzh_to_dir(archives, os.path.join(self.staging, str(day)))
            for path in txt:
                os.rename(path, os.path.join(self.watch, os.path.basename(path)))
            with t.span("stream.process", i):
                self.query.processAllAvailable()
        self.n_days += 1
        self.write_bytes = txt_bytes(self.ctx.truth[day : day + 1])
        if rec is not None:
            after = _file_snapshot(self.wh)
            new = [p for p in after if after[p] != before.get(p)]
            rec["files_rewritten"] = len(new)
            rec["bytes_written"] = sum(after[p][1] for p in new)
            rec["input_bytes"] = self.write_bytes
            progress = [p for p in self.query.recentProgress if p["numInputRows"] > 0]
            if progress:
                rec["progress"] = progress[-1]["durationMs"]
        return len(txt) == 2, day

    def more(self) -> bool:
        return self.n_days < CORPUS_DAYS

    def appended_days(self) -> range:
        return range(DAILY_BASE_DAYS, self.n_days)

    def finish(self) -> int:
        """Per-day row counts of every table against the truth; returns
        how many days are wrong."""
        from pyspark.sql import functions as F

        self.query.stop()
        got: dict[str, dict[str, int]] = {}
        for name in TABLES7:
            df = self.spark.read.parquet(f"{self.wh}/{name}")
            rows = df.groupBy(F.col("race_date").cast("string").alias("d")).count().collect()
            got[name] = {r["d"]: r["count"] for r in rows}
        bad = 0
        for t in self.ctx.truth[: self.n_days]:
            want = {**t["rows"], "race": t["gold_rows"]}
            bad += any(got[n].get(t["date"], 0) != want[n] for n in TABLES7)
        return bad


WORKLOADS = {"backfill": Backfill, "daily": Daily}
