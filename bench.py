"""Benchmark runner (driver contract + BASELINE.md protocol).

Runs (a) the flagship image pipeline — decode-validate -> phash anchor
-> cell encode -> broadcast PIP join vs tower-Voronoi -> tile pyramid
-> zone/tile aggregate — over a deterministic parquet images table,
and (b) the headline analytics queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
  {"metric": "e2e_sec", "value": <total sec>, "unit": "sec",
   "queries": {...per-query sec...}, "sf": <sf>,
   "images_per_sec": <pipeline throughput>, "cpus": N, ...}

Env knobs: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
SPARK_GRAFT_CPUS (default 32), SPARK_GRAFT_BENCH_IMAGES (default
60000), SPARK_GRAFT_BENCH_REPEATS (default 2).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from cdr_analysis_tools_hadoop_spark import pipeline
from cdr_analysis_tools_hadoop_spark.session import build_session
from cdr_analysis_tools_hadoop_spark.sources import synthetic

HEADLINE = [
    "zone_population",
    "daily_statistics",
    "frequent_locations_thresholded",
    "od_matrix",
    "tile_counts_z12",
    "knn_nearest_tower",
    "trip_segments",
    "dedup_minhash_lsh",
    "ann_cosine_topk_lsh",
    "embedding_near_dup",
]


def ensure_images(spark, n: int, path: str) -> None:
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return
    # 256 files regardless of level: both levels read identical input,
    # and 8 task-waves at 32 cores keeps stragglers from dominating
    # the N vs 4N efficiency comparison. Uncompressed parquet: the
    # blobs are already zlib streams, so a parquet codec would burn
    # scan CPU for ~0 ratio.
    synthetic.images_df(spark, n, partitions=256).write.mode("overwrite").option(
        "compression", "none"
    ).parquet(path)


IMAGES_LAYOUT = "v3"  # bump when file count / codec / content changes
# v3: second coprime residue in the synthetic pixel pattern (period fix)


def _cpu_jiffies() -> list[int]:
    with open("/proc/stat") as f:
        return list(map(int, f.readline().split()[1:]))


#: steal/(steal+busy) per timed run above which the run is DIRTY —
#: same clean-window rule as tools/scaling_bench.py
STEAL_MAX_PCT = 2.5


def _timed_clean(fn, repeats: int, max_attempts: int) -> tuple[float, bool]:
    """(seconds, dirty) for a query under co-tenant noise.

    This shared host gets multi-minute hypervisor-steal bursts that
    slow identical runs 2-10x (a whole r4 bench run once recorded
    18.7% host steal and a 10x-inflated flagship), so each timed run
    carries its own /proc/stat steal reading: sample until `repeats`
    CLEAN runs (steal <= STEAL_MAX_PCT) or `max_attempts`, report the
    median of clean runs; when a burst outlasts the attempt budget,
    fall back to the MINIMUM over all attempts (the least-contaminated
    observation — for a deterministic job, noise only ever adds time)
    and say so via the dirty flag."""
    samples: list[tuple[float, bool]] = []
    n_clean = 0
    while n_clean < repeats and len(samples) < max_attempts:
        a = _cpu_jiffies()
        t0 = time.time()
        fn()
        dt = time.time() - t0
        b = _cpu_jiffies()
        d = [y - x for x, y in zip(a, b)]
        busy = d[0] + d[1] + d[2] + d[5] + d[6]
        steal_pct = 100.0 * d[7] / max(d[7] + busy, 1)
        clean = steal_pct <= STEAL_MAX_PCT
        samples.append((dt, clean))
        if clean:
            n_clean += 1
    clean_runs = [s for s, c in samples if c]
    if len(clean_runs) >= min(2, repeats):
        return statistics.median(clean_runs), False
    return min(s for s, _ in samples), True


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    n_images = int(os.environ.get("SPARK_GRAFT_BENCH_IMAGES", "480000"))
    repeats = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3"))
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0

    spark = build_session("bench", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")

    img_path = f"/tmp/spark_graft_bench/images_{IMAGES_LAYOUT}_{n_images}"
    ensure_images(spark, n_images, img_path)

    # --- flagship image pipeline (BASELINE metric: images/sec) ---
    images = spark.read.parquet(img_path)
    # TWO full warm-up runs: worker spawn + JIT + first-touch pages
    # take ~2 runs to reach steady state on this sandbox; a cold or
    # half-warm level wrecks the N vs 4N efficiency comparison.
    for _ in range(2):
        pipeline.run_pipeline(spark, images).count()
    pipe_sec, pipe_dirty = _timed_clean(
        lambda: pipeline.run_pipeline(spark, images).count(),
        repeats,
        max_attempts=2 * repeats,
    )

    # --- headline analytics queries ---
    import __spark_entry__ as entrymod

    cpu0 = _cpu_jiffies()
    qs = entrymod.queries()
    q_times: dict[str, float] = {}
    dirty_queries: list[str] = []
    q_times["image_pipeline"] = round(pipe_sec, 3)
    if pipe_dirty:
        dirty_queries.append("image_pipeline")
    for name in HEADLINE:
        if name not in qs:
            continue
        # one warm-up execution (the first action of a query shape
        # pays JIT/codegen-compile/worker-spawn that a resident engine
        # would not), then steal-gated clean-median timing — see
        # _timed_clean. Each run builds a FRESH plan: re-collecting
        # the same DataFrame would reuse AQE stages and measure
        # nothing.
        qs[name](spark, sf_dir).count()
        sec, dirty = _timed_clean(
            lambda: qs[name](spark, sf_dir).count(),
            repeats,
            max_attempts=2 * repeats,
        )
        q_times[name] = round(sec, 3)
        if dirty:
            dirty_queries.append(name)

    # --- skew evidence (r2 verdict #3): same-size uniform vs hot
    # fixtures through the OD chain (guard-first cap) and the PIP
    # join (map-only kernel). "Holds throughput" = hot/uniform time
    # ratio stays near 1 instead of degrading to a one-reducer tail.
    from cdr_analysis_tools_hadoop_spark.operators import (
        spatial_join as _sj,
    )
    from cdr_analysis_tools_hadoop_spark.operators import (
        trajectory as _traj,
    )
    import numpy as _np

    def _od_run(frame, home):
        _traj.od_sum(_traj.od_edges(frame, home)).count()

    def _skew_entry(key: str, fn) -> None:
        sec, dirty = _timed_clean(fn, repeats, max_attempts=2 * repeats)
        skew[key] = round(sec, 3)
        if dirty:
            dirty_queries.append(key)

    skew: dict[str, float] = {}
    n_sk = 2_000_000
    uni = synthetic.sited_events_df(spark, n_sk).localCheckpoint()
    hot = synthetic.sited_events_df(
        spark, n_sk, hot_uid_frac=0.25
    ).localCheckpoint()
    uni_home = _traj.user_home_site(uni)
    hot_home = _traj.user_home_site(hot)
    _od_run(uni, uni_home)  # warm-up (JIT/codegen for the shape)
    _skew_entry("od_uniform_2m_sec", lambda: _od_run(uni, uni_home))
    _skew_entry("od_hot_uid_2m_sec", lambda: _od_run(hot, hot_home))

    towers_np = synthetic.towers_np()
    polys = list(
        zip(towers_np[:, 0].astype(_np.int64), synthetic.voronoi_polygons(towers_np))
    )

    def _pip_run(pts):
        _sj.pip_join(pts, polys, out_col="zone").filter(
            "zone is not null"
        ).count()

    p_uni = synthetic.points_df(spark, 4_000_000).localCheckpoint()
    p_hot = synthetic.points_df(
        spark, 4_000_000, hotspot_frac=0.5
    ).localCheckpoint()
    _pip_run(p_uni)  # warm-up
    _skew_entry("pip_uniform_4m_sec", lambda: _pip_run(p_uni))
    _skew_entry("pip_hotspot_4m_sec", lambda: _pip_run(p_hot))
    skew["od_hot_over_uniform"] = round(
        skew["od_hot_uid_2m_sec"] / skew["od_uniform_2m_sec"], 3
    )
    skew["pip_hot_over_uniform"] = round(
        skew["pip_hotspot_4m_sec"] / skew["pip_uniform_4m_sec"], 3
    )

    total = round(sum(q_times.values()), 3)
    # hypervisor-steal share of busy time over the analytics section:
    # this shared host gets multi-minute co-tenant bursts that slow
    # identical runs 2-4x (see BENCH/BASELINE.md); the number lets a
    # reader normalize a steal-contaminated bench record
    d = [y - x for x, y in zip(cpu0, _cpu_jiffies())]
    busy = d[0] + d[1] + d[2] + d[5] + d[6]
    steal_pct = round(100.0 * d[7] / max(d[7] + busy, 1), 1)
    print(
        json.dumps(
            {
                "metric": "e2e_sec",
                "value": total,
                "unit": "sec",
                "queries": q_times,
                "sf": sf,
                "images_per_sec": round(n_images / pipe_sec, 1),
                "n_images": n_images,
                "cpus": cpus,
                "skew": skew,
                "host_steal_pct": steal_pct,
                # entries that never got 2 steal-clean runs within the
                # attempt budget: their value is the MIN over attempts
                # (least-contaminated), not a clean median — discount
                # accordingly when comparing across rounds
                "dirty_queries": dirty_queries,
            }
        )
    )


if __name__ == "__main__":
    main()
