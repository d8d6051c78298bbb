from __future__ import annotations

import re
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from cdr_analysis_tools_hadoop_spark.operators import interpolation, prepare


@pytest.fixture(scope="module")
def cdr(spark, sf_dir):
    return prepare.events_as_cdr(spark, sf_dir).filter(F.col("uid") < 20)


def _mini(spark, rows):
    return spark.createDataFrame(
        rows, "uid long, call_time timestamp, event_id long, lat double, lon double"
    )


def test_stay_points_splits_on_300m_jump(spark):
    t = datetime(2024, 1, 1, 10, 0, 0)
    rows = [
        (1, t, 1, 35.5, 139.5),
        (1, datetime(2024, 1, 1, 10, 20), 2, 35.5001, 139.5001),  # ~15 m: same seg
        (1, datetime(2024, 1, 1, 10, 30), 3, 35.6, 139.6),        # ~12 km: break
    ]
    segs = interpolation.stay_points(_mini(spark, rows)).collect()
    assert len(segs) == 2
    first = next(s for s in segs if s.seg_id == 1)
    assert first.n_points == 2 and bool(first.is_stay)  # 20 min span
    second = next(s for s in segs if s.seg_id == 2)
    assert second.n_points == 1 and not second.is_stay


def test_route_interpolation_steps_and_bounds(spark):
    rows = [
        (1, datetime(2024, 1, 1, 10, 0, 0), 1, 35.0, 139.0),
        (1, datetime(2024, 1, 1, 11, 0, 0), 2, 35.4, 139.4),  # 3600 s -> 4 steps
    ]
    pts = interpolation.route_interpolation(_mini(spark, rows)).collect()
    assert len(pts) == 4
    assert [p.step for p in sorted(pts, key=lambda p: p.step)] == [1, 2, 3, 4]
    for p in pts:
        assert 35.0 < p.lat <= 35.4 and 139.0 < p.lon <= 139.4
        assert p.mode in ("WALK", "BIKE", "VEHICLE")
    # deterministic across runs
    again = interpolation.route_interpolation(_mini(spark, rows)).collect()
    assert sorted(map(tuple, pts)) == sorted(map(tuple, again))


def test_route_interpolation_caps_steps(spark):
    rows = [
        (1, datetime(2024, 1, 1, 0, 0, 0), 1, 35.0, 139.0),
        (1, datetime(2024, 1, 1, 23, 0, 0), 2, 35.4, 139.4),  # 92 raw steps
    ]
    pts = interpolation.route_interpolation(_mini(spark, rows)).collect()
    assert len(pts) == interpolation.MAX_STEPS


def test_trip_segments_point_encoding(cdr):
    rows = interpolation.trip_segments_format(cdr).limit(50).collect()
    assert rows
    pat = re.compile(r"^\d+\|\d{2}:\d{2}:\d{2}\|\d+\.\d{6}\|\d+\.\d{6}$")
    for r in rows:
        assert r.kind in ("STAY", "MOVE")
        for part in r.points.split(";"):
            assert pat.match(part), part


def test_padding_covers_full_day(cdr):
    trips = interpolation.trip_segments_format(cdr)
    padded = interpolation.trip_24h_padding(trips)
    one = (
        padded.filter((F.col("uid") == padded.select("uid").first().uid))
        .orderBy("pdt", "trip_seq")
        .collect()
    )
    by_day = {}
    for r in one:
        by_day.setdefault(r.pdt, []).append(r)
    for day, rows in by_day.items():
        assert rows[0].start_hms == "00:00:00"
        assert rows[-1].end_hms == "23:59:59"
        for a, b in zip(rows, rows[1:]):
            assert a.end_hms <= b.start_hms


# ---------------------------------------------------------------------------
# Douglas-Peucker trajectory simplification (r5)


def _dp_recursive(xy, eps):
    """Independent textbook recursive DP (perpendicular-to-segment,
    clamped), used only as the test yardstick."""
    import numpy as np

    def seg_d(p, a, b):
        ab = b - a
        denom = float(ab @ ab)
        if denom == 0.0:
            return float(np.hypot(*(p - a)))
        t = max(0.0, min(1.0, float((p - a) @ ab) / denom))
        proj = a + t * ab
        return float(np.hypot(*(p - proj)))

    def rec(i, j, keep):
        if j - i < 2:
            return
        ds = [seg_d(xy[k], xy[i], xy[j]) for k in range(i + 1, j)]
        k = int(np.argmax(ds))
        if ds[k] > eps:
            m = i + 1 + k
            keep.add(m)
            rec(i, m, keep)
            rec(m, j, keep)

    keep = {0, len(xy) - 1}
    rec(0, len(xy) - 1, keep)
    return sorted(keep)


def _trace_df(spark, rng, n_users=6, n_pts=80):
    import datetime as dt

    rows = []
    for u in range(n_users):
        lat0, lon0 = 13.0 + u * 0.1, 100.0 + u * 0.1
        for i in range(n_pts):
            rows.append(
                (
                    u,
                    dt.datetime(2023, 1, 1) + dt.timedelta(minutes=i),
                    lat0 + rng.uniform(-0.05, 0.05),
                    lon0 + rng.uniform(-0.05, 0.05),
                )
            )
    return spark.createDataFrame(
        rows, "uid long, call_time timestamp, lat double, lon double"
    )


def test_trajectory_simplify_matches_recursive_reference(spark):
    import random

    import numpy as np

    from cdr_analysis_tools_hadoop_spark.functions.geo import (
        LON_SCALE,
        M_PER_DEG,
    )

    rng = random.Random(11)
    df = _trace_df(spark, rng)
    eps = 800.0
    got = {}
    for r in interpolation.trajectory_simplify(df, eps_m=eps).collect():
        got.setdefault(r.uid, []).append(r.seq)
    for u, pdf in (
        df.toPandas()
        .sort_values(["uid", "call_time", "lat", "lon"])
        .groupby("uid")
    ):
        pdf = pdf.reset_index(drop=True)
        xy = np.column_stack(
            [
                pdf.lon.to_numpy() * LON_SCALE * M_PER_DEG,
                pdf.lat.to_numpy() * M_PER_DEG,
            ]
        )
        assert sorted(got[u]) == _dp_recursive(xy, eps), f"uid {u}"


def test_trajectory_simplify_deviation_bound(spark):
    """The DP guarantee: every DROPPED point lies within eps of the
    simplified polyline."""
    import random

    import numpy as np

    from cdr_analysis_tools_hadoop_spark.functions.geo import (
        LON_SCALE,
        M_PER_DEG,
    )

    rng = random.Random(5)
    df = _trace_df(spark, rng, n_users=3)
    eps = 1200.0
    kept = {}
    for r in interpolation.trajectory_simplify(df, eps_m=eps).collect():
        kept.setdefault(r.uid, []).append(r.seq)
    pdfall = df.toPandas().sort_values(["uid", "call_time", "lat", "lon"])
    for u, pdf in pdfall.groupby("uid"):
        pdf = pdf.reset_index(drop=True)
        xy = np.column_stack(
            [
                pdf.lon.to_numpy() * LON_SCALE * M_PER_DEG,
                pdf.lat.to_numpy() * M_PER_DEG,
            ]
        )
        ks = sorted(kept[u])
        assert ks[0] == 0 and ks[-1] == len(pdf) - 1  # endpoints
        for a, b in zip(ks, ks[1:]):
            for m in range(a + 1, b):
                p, s, e = xy[m], xy[a], xy[b]
                ab = e - s
                denom = float(ab @ ab)
                t = (
                    0.0
                    if denom == 0.0
                    else max(0.0, min(1.0, float((p - s) @ ab) / denom))
                )
                d = float(np.hypot(*(p - (s + t * ab))))
                assert d <= eps + 1e-9


def test_trajectory_simplify_edges(spark):
    import datetime as dt

    one = spark.createDataFrame(
        [(1, dt.datetime(2023, 1, 1), 13.0, 100.0)],
        "uid long, call_time timestamp, lat double, lon double",
    )
    assert interpolation.trajectory_simplify(one).count() == 1
    import random

    df = _trace_df(spark, random.Random(3), n_users=2, n_pts=40)
    # huge eps: straight-line compression to the two endpoints
    big = interpolation.trajectory_simplify(df, eps_m=1e9)
    assert sorted(
        (r.uid, r.seq) for r in big.collect()
    ) == [(0, 0), (0, 39), (1, 0), (1, 39)]
    # partitioning invariance
    a = sorted(map(tuple, interpolation.trajectory_simplify(df).collect()))
    b = sorted(
        map(
            tuple,
            interpolation.trajectory_simplify(df.repartition(7)).collect(),
        )
    )
    assert a == b
    import pytest as _pytest

    with _pytest.raises(ValueError):
        interpolation.trajectory_simplify(df, eps_m=-1.0)


def test_trajectory_simplify_plans_without_warnings(spark):
    """Building the plan raises no eval-type inference warning."""
    import random
    import warnings

    df = _trace_df(spark, random.Random(3), n_users=2, n_pts=10)
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        interpolation.trajectory_simplify(df)
