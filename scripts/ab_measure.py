"""Interleaved A/B / adjudication harness for the optimization rounds.

Single warm session (bench config). Queries are timed with the noop sink
in INTERLEAVED rounds (q1,q2,...,qN, q1,q2,...) so shared-host load
contaminates all arms equally — single back-to-back samples on this host
flap ~2x (NOTES_r8, r12). Reports min/median per query plus the
normalized-vs-frozen-anchor ratio when the anchor has the query.

Optional --arm-b-patch: name of a registered patch that flips a code arm
before each B-run (e.g. 'no_floor' disables ensure_parallelism inside
textstats) so on/off arms of one change alternate within the same window.

Usage:
  python scripts/ab_measure.py [--sf DIR] [--rounds N] [--jobs]
      [--arm-b-patch no_floor] name [name ...]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from moonlink_spark.operators import all_queries
from moonlink_spark.session import get_spark


def _force(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def _calibration(spark):
    from pyspark.sql import functions as F

    t0 = time.time()
    (
        spark.range(20_000_000)
        .groupBy((F.col("id") % 1024).alias("k"))
        .agg(F.sum("id"), F.count("*"))
        .write.mode("overwrite")
        .format("noop")
        .save()
    )
    return round(time.time() - t0, 3)


# --- registered code-arm patches (apply returns an undo callable) -------


def _patch_no_floor():
    """Disable ensure_parallelism inside textstats (lm_fluency floor A/B)."""
    from moonlink_spark.operators import textstats

    orig = textstats.ensure_parallelism
    textstats.ensure_parallelism = lambda df: df
    return lambda: setattr(textstats, "ensure_parallelism", orig)


def _patch_serial_pool():
    """Serialize every ThreadPoolExecutor (chain-overlap A/B: arm B runs
    the overlapped driver chains sequentially, like the pre-r13 code)."""
    import concurrent.futures as cf

    orig = cf.ThreadPoolExecutor

    class _Serial:
        def __init__(self, *a, **k):
            pass

        def __enter__(self):
            return self

        def __exit__(self, *a):
            return False

        def submit(self, fn, *a, **k):
            f = cf.Future()
            try:
                f.set_result(fn(*a, **k))
            except BaseException as e:  # noqa: BLE001 - mirror Future semantics
                f.set_exception(e)
            return f

    cf.ThreadPoolExecutor = _Serial
    return lambda: setattr(cf, "ThreadPoolExecutor", orig)


PATCHES = {
    "no_floor": _patch_no_floor,
    "serial_pool": _patch_serial_pool,
}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--rounds", type=int, default=5)
    ap.add_argument("--jobs", action="store_true", help="count Spark jobs per query")
    ap.add_argument("--arm-b-patch", default=None, choices=sorted(PATCHES))
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()

    spark = get_spark("ab-measure")
    sc = spark.sparkContext
    specs = all_queries()
    names = []
    for n in args.names:
        if n in specs:
            names.append(n)
        else:
            matches = sorted(k for k in specs if n in k)
            if not matches:
                raise SystemExit(f"no query matches {n!r}")
            names.extend(matches)

    # bench-identical session warmup
    spark.range(1000).count()

    def _warm_py(batches):
        yield from batches

    spark.range(0, 10_000, 1, 32).mapInPandas(_warm_py, "id long").write.mode(
        "overwrite"
    ).format("noop").save()

    arms = ["A"] if args.arm_b_patch is None else ["A", "B"]
    samples: dict[tuple[str, str], list[float]] = {
        (n, a): [] for n in names for a in arms
    }
    jobs: dict[tuple[str, str], list[int]] = {
        (n, a): [] for n in names for a in arms
    }

    # warm every (query, arm) once at sf0.001: analysis+codegen
    for n in names:
        for a in arms:
            undo = PATCHES[args.arm_b_patch]() if a == "B" else (lambda: None)
            try:
                _force(specs[n].fn(spark, "/root/testdata/sf0.001"))
            finally:
                undo()
            spark.catalog.clearCache()

    cal0 = _calibration(spark)
    for r in range(args.rounds):
        for n in names:
            for a in arms:
                undo = PATCHES[args.arm_b_patch]() if a == "B" else (lambda: None)
                group = f"ab:{n}:{a}:{r}"
                sc.setJobGroup(group, group)
                t0 = time.time()
                try:
                    _force(specs[n].fn(spark, args.sf))
                finally:
                    undo()
                dt = time.time() - t0
                sc.setJobGroup(None, None)
                samples[(n, a)].append(round(dt, 3))
                if args.jobs:
                    jobs[(n, a)].append(
                        len(sc.statusTracker().getJobIdsForGroup(group))
                    )
                spark.catalog.clearCache()
    cal1 = _calibration(spark)

    frozen = {}
    fcal = None
    try:
        with open(
            os.path.join(
                os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                "BASELINE_FROZEN.json",
            )
        ) as fh:
            fz = json.load(fh)
        frozen, fcal = fz["queries"], float(fz["calibration_sec"])
    except Exception:
        pass

    cal = sorted([cal0, cal1])[0]
    print(f"calibration start={cal0} end={cal1} (min used: {cal}; frozen={fcal})")
    out = {}
    for n in names:
        for a in arms:
            runs = samples[(n, a)]
            med = sorted(runs)[len(runs) // 2]
            rec = {"runs": runs, "min": min(runs), "median": med}
            if args.jobs:
                rec["jobs"] = jobs[(n, a)]
            if n in frozen and fcal:
                rec["median_normalized"] = round(
                    (med / cal) / (float(frozen[n]) / fcal), 3
                )
            out[f"{n}:{a}" if len(arms) > 1 else n] = rec
            print(
                f"{n:42s} arm={a} min={min(runs):7.3f} med={med:7.3f} "
                f"norm={rec.get('median_normalized', '-')} "
                f"jobs={rec.get('jobs', '')} runs={runs}",
                flush=True,
            )
    print(json.dumps({"calibration": [cal0, cal1], "results": out}))


if __name__ == "__main__":
    main()
