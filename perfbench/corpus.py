"""Per-seed cache of generated day archives and their truth.

``ensure(cache_root, seed, days)`` makes sure
``<cache_root>/seed-<seed>-<generator hash>`` holds the K and B ``.lzh``
archives of days ``0..days-1`` and ``truth.json``; missing days are
generated by a small fork pool (unlike spawn, fork starts no
resource-tracker process that would outlive the benchmark). The hash
covers gen.py and lh5.py, so an edited generator or writer never reuses
an older corpus. Every archive is decoded again with the program's
``read_lzh_bytes`` before it is kept; a byte mismatch raises and so
aborts the run.
"""

from __future__ import annotations

import hashlib
import json
import multiprocessing
import os

import gen
import lh5

WORKERS = 4


def _make_day(args: tuple[str, int, int]) -> dict:
    out_dir, seed, day = args
    from boatrace_database_spark.sources.lzh import read_lzh_bytes

    k_bytes, b_bytes, truth = gen.generate_day(seed, day, gen.PlayerPool(seed))
    sizes = {}
    for member, arc_name, data in zip(
        gen.file_names(day), gen.archive_names(day), (k_bytes, b_bytes)
    ):
        archive = lh5.lzh_archive(member, data)
        back = read_lzh_bytes(archive)
        if len(back) != 1 or back[0].filename != member or back[0].data != data:
            raise RuntimeError(f"lh5 round trip failed for {arc_name} (seed {seed})")
        tmp = os.path.join(out_dir, arc_name + ".part")
        with open(tmp, "wb") as fh:
            fh.write(archive)
        os.replace(tmp, os.path.join(out_dir, arc_name))
        sizes[arc_name] = (len(data), len(archive))
    truth["archives"] = sizes
    return truth


def generator_hash() -> str:
    h = hashlib.sha256()
    for module in (gen, lh5):
        with open(module.__file__, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:12]


def ensure(cache_root: str, seed: int, days: int) -> tuple[str, list[dict]]:
    """(archive directory, per-day truth for days 0..days-1)."""
    out_dir = os.path.join(cache_root, f"seed-{seed}-{generator_hash()}")
    os.makedirs(out_dir, exist_ok=True)
    truth_path = os.path.join(out_dir, "truth.json")
    known: dict[str, dict] = {}
    if os.path.exists(truth_path):
        with open(truth_path) as fh:
            known = json.load(fh)
    todo = [d for d in range(days) if str(d) not in known]
    if todo:
        jobs = [(out_dir, seed, d) for d in todo]
        pool = multiprocessing.get_context("fork").Pool(min(WORKERS, len(jobs)))
        try:
            for d, truth in zip(todo, pool.map(_make_day, jobs, chunksize=1)):
                known[str(d)] = truth
            pool.close()
        finally:
            pool.terminate()
            pool.join()
        tmp = truth_path + ".part"
        with open(tmp, "w") as fh:
            json.dump(known, fh)
        os.replace(tmp, truth_path)
    return out_dir, [known[str(d)] for d in range(days)]
