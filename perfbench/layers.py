"""Per-layer metrics of a traced run.

``collect`` times single layers from outside, on the archives the
workload's operations read, while the session is still up; ``finish``
turns the spans, those timings and the Spark event log into the
per-layer metrics. A layer the workload does not touch reports 0.

On ``backfill`` the traced operation runs the program's own build with
spans around the module functions it calls. ``build --lzh`` persists
the parse and computes it in the first silver write, so ``scan.s`` is
the wall time of that stage (it also writes the first silver table)
and ``silver.write_s`` is the rest of the silver-write window.
"""

from __future__ import annotations

import glob
import os
import statistics
import time
import traceback

import catalog
import gen
import probe
from workloads import READS, SILVER, Backfill, Daily, parquet_bytes

KERNEL_TABLES = ("schedule", "result", "odds", "env", "result_ext", "race_meta")
READ_LAYER = {
    "register_views": "warehouse.register_views_s",
    "day_slice": "warehouse.day_slice_s",
    "day_range": "warehouse.day_range_s",
    "player_features": "analytics.player_features_s",
    "roi_simulation": "analytics.roi_simulation_s",
    "accuracy_metrics": "analytics.accuracy_metrics_s",
    "odds_map_view": "gold.odds_map_view_s",
    "result_ext_typed": "gold.result_ext_typed_s",
}
if set(READ_LAYER) != set(READS):
    raise RuntimeError("READ_LAYER must name every read of workloads.READS")

# name -> unit, in output order
PER_LAYER = {
    "session.start_s": "s", "session.warm_s": "s",
    "lzh.s": "s", "lzh.out_mb_per_s": "MB/s", "lzh.members": "count",
    "lzh.compress_ratio": "ratio", "lzh.fail": "count",
    "decode.s": "s", "decode.replacement_chars": "count",
    "kernel.s": "s", "kernel.mb_per_s": "MB/s", "kernel.lines": "count",
    **{f"kernel.rows.{t}": "count" for t in KERNEL_TABLES},
    "scan.s": "s", "scan.partitions": "count", "scan.task_max_over_median": "ratio",
    "datasource.s": "s", "datasource.partitions": "count",
    "silver.write_s": "s", "silver.files": "count", "silver.bytes": "bytes",
    "gold.s": "s", "gold.shuffle_write_bytes": "bytes", "gold.files": "count",
    "gold.dropped_result_rows": "count",
    "bronze.decompress_s": "s",
    "stream.trigger_ms": "ms", "stream.list_ms": "ms", "stream.add_batch_ms": "ms",
    "merge.s": "s", "merge.calls": "count", "merge.files_rewritten": "count",
    "merge.bytes_written_per_input_byte": "ratio",
    **{name: "s" for name in READ_LAYER.values()},
    "prune.files_per_lookup": "count",
    **{f"catalog.{q}_s": "s" for q in catalog.SLICE},
    "catalog.pass_s": "s",
    "spark.jobs": "count", "spark.tasks": "count",
    "spark.shuffle_read_bytes": "bytes", "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes", "spark.exec_over_wall": "ratio",
    "trace.overhead_s": "s",
}


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _driver_layers(paths: list[str]) -> dict:
    """lzh -> CP932 decode -> parse kernel, one archive at a time, in
    this process (the calls the Spark tasks make)."""
    from boatrace_database_spark.parse.kernel import parse_file
    from boatrace_database_spark.sources.bronze import file_meta
    from boatrace_database_spark.sources.lzh import read_lzh_bytes

    m = dict.fromkeys(
        ("lzh.s", "decode.s", "kernel.s", "lzh.members", "lzh.fail", "decode.replacement_chars", "kernel.lines"),
        0.0,
    )
    rows = dict.fromkeys(KERNEL_TABLES, 0)
    packed = raw = 0
    for path in paths:
        with open(path, "rb") as fh:
            data = fh.read()
        packed += len(data)
        t0 = time.perf_counter()
        try:
            members = read_lzh_bytes(data)
        except Exception:  # counted; the probe goes on with the next archive
            m["lzh.fail"] += 1
            continue
        m["lzh.s"] += time.perf_counter() - t0
        for member in members:
            m["lzh.members"] += 1
            raw += len(member.data)
            t0 = time.perf_counter()
            text = member.data.decode("cp932", errors="replace")
            m["decode.s"] += time.perf_counter() - t0
            m["decode.replacement_chars"] += text.count("\ufffd")
            _, kind, race_date = file_meta(member.filename)
            lines = text.splitlines()
            t0 = time.perf_counter()
            out = parse_file(lines, kind, race_date)
            m["kernel.s"] += time.perf_counter() - t0
            m["kernel.lines"] += len(lines)
            for table, n in out["table"].value_counts().items():
                rows[table] += int(n)
    mb = raw / 2**20
    m["lzh.out_mb_per_s"] = mb / m["lzh.s"] if m["lzh.s"] else 0.0
    m["kernel.mb_per_s"] = mb / m["kernel.s"] if m["kernel.s"] else 0.0
    m["lzh.compress_ratio"] = raw / packed if packed else 0.0
    m.update({f"kernel.rows.{t}": n for t, n in rows.items()})
    return m


def collect(ctx, wl) -> tuple[dict, int, int]:
    """(metrics, operations run, operations failed) of the single-layer
    probes: lzh/decode/kernel on the archives the operations read, the
    boatrace DataSource on the backfill archives, the warehouse layout,
    and on ``daily`` one pass of the catalog slice."""
    m: dict = {"prune.files_per_lookup": wl.files_per_lookup()}
    ops = failed = 0
    if isinstance(wl, Backfill):
        from boatrace_database_spark.sources.datasource import register

        m.update(_driver_layers(sorted(glob.glob(wl.glob))))
        register(ctx.spark)
        t0 = time.perf_counter()
        df = ctx.spark.read.format("boatrace").load(wl.glob)
        df.count()
        m["datasource.s"] = time.perf_counter() - t0
        m["datasource.partitions"] = df.rdd.getNumPartitions()
        files = [parquet_bytes(os.path.join(wl.wh, t)) for t in SILVER]
        m["silver.files"] = sum(f for f, _ in files)
        m["silver.bytes"] = sum(b for _, b in files)
        m["gold.files"] = parquet_bytes(os.path.join(wl.wh, "race"))[0]
        n = {t: ctx.spark.read.parquet(os.path.join(wl.wh, t)).count() for t in ("result", "race")}
        m["gold.dropped_result_rows"] = n["result"] - n["race"]
    elif isinstance(wl, Daily):
        m.update(_driver_layers([
            os.path.join(ctx.archive_dir, n) for d in wl.appended_days() for n in gen.archive_names(d)
        ]))
        cat = catalog.Catalog(ctx.spark, ctx.seed, os.path.join(wl.root, "star"))
        for name in cat.names:
            ops += 1
            with ctx.tracer.span("catalog", kind=name):
                try:
                    failed += not cat.run(name)
                except Exception:  # counted as a failed operation
                    traceback.print_exc()
                    failed += 1
    return m, ops, failed


def _per_op(spans: list[dict], name: str, count: bool = False) -> list[float]:
    """Per operation: total seconds (or number) of the spans called ``name``."""
    per: dict[int, list[float]] = {}
    for s in spans:
        if s["name"] == name:
            per.setdefault(s["op"], []).append(s["end"] - s["start"])
    return [len(v) if count else sum(v) for v in per.values()]


def _build_windows(spans: list[dict]) -> list[tuple[tuple[float, float], tuple[float, float]]]:
    """(silver-write window, gold window) of every traced ``build --lzh``,
    cut at the spans of the module functions it calls (workloads.build_calls)."""
    calls: dict[int, dict[str, dict]] = {}
    for s in spans:
        if s["name"] in ("silver_tables", "race_table", "register_views"):
            calls.setdefault(s["op"], {})[s["name"]] = s
    return [
        (
            (c["silver_tables"]["end"], c["race_table"]["start"]),
            (c["race_table"]["start"], c["register_views"]["start"]),
        )
        for c in calls.values()
    ]


def finish(ctx, m: dict, events: list[dict]) -> dict:
    t = ctx.tracer
    spans = t.spans
    ops = [s for s in spans if s["name"] == "op"]
    m["session.start_s"] = _median(t.durations("session.start"))
    m["session.warm_s"] = _median(t.durations("session.warm"))
    builds = _build_windows(spans)
    if builds:
        scans = [(probe.first_cached_stage(events, silver), silver) for silver, _ in builds]
        scans = [(st, silver) for st, silver in scans if st is not None]
        m["scan.s"] = _median(st["end"] - st["start"] for st, _ in scans)
        m["scan.partitions"] = _median(st["tasks"] for st, _ in scans)
        m["scan.task_max_over_median"] = _median(probe.task_max_over_median(events, st["stage"]) for st, _ in scans)
        m["silver.write_s"] = _median((b - a) - (st["end"] - st["start"]) for st, (a, b) in scans)
        gold = [g for _, g in builds]
        m["gold.s"] = _median(b - a for a, b in gold)
        m["gold.shuffle_write_bytes"] = probe.spark_counters(events, gold)["shuffle_write_bytes"] / len(gold)
    if t.durations("stream.process"):
        m["bronze.decompress_s"] = _median(t.durations("bronze.decompress"))
        progress = [s["progress"] for s in ops if "progress" in s]
        m["stream.trigger_ms"] = _median(p.get("triggerExecution", 0) for p in progress)
        m["stream.list_ms"] = _median(p.get("latestOffset", 0) for p in progress)
        m["stream.add_batch_ms"] = _median(p.get("addBatch", 0) for p in progress)
        m["merge.s"] = _median(_per_op(spans, "merge_upsert"))
        m["merge.calls"] = _median(_per_op(spans, "merge_upsert", count=True))
        m["merge.files_rewritten"] = _median(s["files_rewritten"] for s in ops)
        m["merge.bytes_written_per_input_byte"] = _median(s["bytes_written"] / s["input_bytes"] for s in ops)
    for kind, name in READ_LAYER.items():
        m[name] = _median(s["end"] - s["start"] for s in spans if s["name"] == "read" and s["kind"] == kind)
    for q in catalog.SLICE:
        m[f"catalog.{q}_s"] = _median(
            s["end"] - s["start"] for s in spans if s["name"] == "catalog" and s["kind"] == q
        )
    m["catalog.pass_s"] = t.total("catalog")
    # Spark counters per traced operation
    counters = probe.spark_counters(events, [(s["start"], s["end"]) for s in ops])
    for key in ("jobs", "tasks", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
        m[f"spark.{key}"] = counters[key] / max(1, len(ops))
    m["spark.exec_over_wall"] = counters["exec_over_wall"]
    m["trace.overhead_s"] = _median(p[0] + p[1] for p in ctx.phases[True]) - _median(
        p[0] + p[1] for p in ctx.phases[False]
    )
    return {name: (float(m.get(name, 0.0)), unit) for name, unit in PER_LAYER.items()}
