"""Geospatial kernels: anchors, grid cells, web-mercator tiles, distance.

Design rule: every formula that feeds an oracle-checked query is
written ONCE as a SQL snippet using only engine-portable constructs
(+ - * / % floor least greatest cast ln tan cos radians pi), then used
both as ``F.expr(snippet)`` in the Spark plan and inlined verbatim in
the DuckDB oracle SQL. Basic IEEE arithmetic (+ - * /) is exactly
specified, so arithmetic-only formulas produce bit-identical doubles
in both engines; only ln/tan (web-mercator y) can differ by an ulp,
which matters only within ~1e-15 of a tile boundary.

Reference parity: the reference assigns events to zones by string
equality joins on tower (lat,lon) (reference
queries/statistics/frequent_locations.sql:6) and registers — but never
ships — `FindPolygon`/`sp_distance` UDFs
(hive_init_commands/initial_hive_commands_od.json:13-14,41). This
module supplies the real spatial kernel those names promised:
hierarchical cell encode (H3/S2 analogue), point-in-polygon ray
casting, haversine, and tile-pyramid assignment (HMesh analogue,
lib/pflow-hiveUDF.jar!HMesh per SURVEY.md §2.9).
"""

from __future__ import annotations

import json
import math

import numpy as np

# ---------------------------------------------------------------------------
# Fixture bounding box (Tokyo-ish). All synthetic anchors fall inside.
LAT0, DLAT = 35.0, 1.0
LON0, DLON = 139.0, 1.0
# Planar-metric longitude scale at the bbox mid-latitude, inlined as a
# literal so Spark and DuckDB see the same constant (no trig at query
# time). cos(radians(35.5)) =
LON_SCALE = 0.8141155183563192
assert abs(LON_SCALE - math.cos(math.radians(35.5))) < 1e-15

# Metres per degree of latitude in the shared planar metric — the ONE
# definition every operator (Voronoi zone metric, kNN dist_m, geo
# near-dup bands, mobility indicators, spatial statistics) must use:
# the engine/oracle band predicates agree only because both sides fold
# the IDENTICAL float into their SQL literals.
M_PER_DEG = 111_320.0

EARTH_RADIUS_M = 6_371_000.0


def dlit(x: float) -> str:
    """Portable DOUBLE literal: bare float literals parse as DECIMAL in
    both Spark-ANSI and DuckDB (engine-specific decimal arithmetic);
    a string->double cast is an exact round-trip parse in both."""
    return f"CAST('{x!r}' AS DOUBLE)"

# Deterministic anchor derivation (BASELINE.json input_hint: anchors
# derive from phash; for the events fact the event_id plays the phash
# role). Mod-first keeps every intermediate < 2^40: ANSI-safe.
_LAT_MULT = 7919
_LON_MULT = 104729
_ANCHOR_MOD = 100000


def anchor_lat_sql(id_col: str) -> str:
    """Deterministic latitude in [LAT0, LAT0+DLAT) from an int64 id."""
    return (
        f"({dlit(LAT0)} + ((({id_col} % {_ANCHOR_MOD}) * {_LAT_MULT}) % {_ANCHOR_MOD})"
        f" / {dlit(float(_ANCHOR_MOD))} * {dlit(DLAT)})"
    )


def anchor_lon_sql(id_col: str) -> str:
    """Deterministic longitude in [LON0, LON0+DLON) from an int64 id."""
    return (
        f"({dlit(LON0)} + ((({id_col} % {_ANCHOR_MOD}) * {_LON_MULT}) % {_ANCHOR_MOD})"
        f" / {dlit(float(_ANCHOR_MOD))} * {dlit(DLON)})"
    )


def anchor_lat_np(ids: np.ndarray) -> np.ndarray:
    return LAT0 + ((ids % _ANCHOR_MOD) * _LAT_MULT % _ANCHOR_MOD) / float(_ANCHOR_MOD) * DLAT


def anchor_lon_np(ids: np.ndarray) -> np.ndarray:
    return LON0 + ((ids % _ANCHOR_MOD) * _LON_MULT % _ANCHOR_MOD) / float(_ANCHOR_MOD) * DLON


# ---------------------------------------------------------------------------
# Hierarchical cell index over the bbox (H3/S2 analogue).
#
# A cell at resolution r is one square of the 2^r x 2^r grid over the
# bbox; the id packs (r, ix, iy) so that ids of different resolutions
# never collide and the parent of a cell is (r-1, ix>>1, iy>>1) — the
# same parent/child contract H3 offers, enough for cover + ring
# algorithms. r <= 26 keeps ids < 2^58.

MAX_RES = 26


def grid_xy_sql(lat_col: str, lon_col: str, res: int) -> tuple[str, str]:
    """SQL snippets: the (ix, iy) grid position of a point at
    resolution ``res``, clamped onto the grid like cell_id_np.

    Portable: floor/least/greatest/cast + arithmetic only.
    """
    if not 0 <= res <= MAX_RES:
        raise ValueError(f"res must be in [0, {MAX_RES}]")
    n = 1 << res
    ix = (
        f"least({n - 1}, greatest(0, cast(floor(({lon_col} - {dlit(LON0)}) / {dlit(DLON)} * {n})"
        f" as bigint)))"
    )
    iy = (
        f"least({n - 1}, greatest(0, cast(floor(({lat_col} - {dlit(LAT0)}) / {dlit(DLAT)} * {n})"
        f" as bigint)))"
    )
    return ix, iy


def cell_id_sql(lat_col: str, lon_col: str, res: int) -> str:
    """SQL snippet: hierarchical cell id at resolution ``res``."""
    ix, iy = grid_xy_sql(lat_col, lon_col, res)
    n = 1 << res
    base = res << 54
    return f"({base} + ({ix}) * {n} + ({iy}))"


def cell_id_np(lat: np.ndarray, lon: np.ndarray, res: int) -> np.ndarray:
    n = 1 << res
    ix = np.clip(np.floor((lon - LON0) / DLON * n).astype(np.int64), 0, n - 1)
    iy = np.clip(np.floor((lat - LAT0) / DLAT * n).astype(np.int64), 0, n - 1)
    return (np.int64(res) << 54) + ix * n + iy


def cell_to_xy(cell: int) -> tuple[int, int, int]:
    """Unpack a cell id -> (res, ix, iy)."""
    res = cell >> 54
    rem = cell & ((1 << 54) - 1)
    n = 1 << res
    return int(res), int(rem // n), int(rem % n)


def xy_to_cell(res: int, ix: int, iy: int) -> int:
    return (res << 54) + ix * (1 << res) + iy


def cell_block(cells: np.ndarray, res: int) -> np.ndarray:
    """(m, 9) ids of each cell's 3x3 block: the cell itself (ring 0)
    and its 8 neighbours at Chebyshev distance 1 (ring 1); -1 where
    the block runs off the grid.

    The cell-ring expansion primitive for kNN search (reference
    analogue: TurkcellReallocationUDF's 300 m nearest-POI lookup,
    SURVEY.md §2.3 J8).
    """
    n = 1 << res
    rem = np.asarray(cells, dtype=np.int64) - (np.int64(res) << 54)
    d = np.arange(-1, 2)
    ix = (rem // n)[:, None, None] + d[:, None]
    iy = (rem % n)[:, None, None] + d[None, :]
    on_grid = (ix >= 0) & (ix < n) & (iy >= 0) & (iy < n)
    return np.where(on_grid, xy_to_cell(res, ix, iy), -1).reshape(len(rem), 9)


def find_sorted(keys: np.ndarray, q: np.ndarray) -> np.ndarray:
    """Position of each ``q`` in sorted ``keys``, -1 where absent."""
    pos = np.searchsorted(keys, q)
    ok = pos < len(keys)
    ok[ok] = keys[pos[ok]] == q[ok]
    return np.where(ok, pos, -1)


# ---------------------------------------------------------------------------
# Constant cell tables: a cell -> int lookup the JVM evaluates inside
# the query plan, with no join, no broadcast and no Python worker.
#
# The map is held as runs down each grid column ix: ``starts[ix]`` are
# the ascending iy at which a run begins (the first is always 0) and
# ``values[ix]`` the value of each run. The value of cell (ix, iy) is
# that of the last run starting at or below iy. Each table enters the
# plan once, as one array literal (Raptor-style rasterised runs, held
# as plan data).


def column_runs(
    lo: np.ndarray, hi: np.ndarray, values: np.ndarray, res: int, fill: int
) -> tuple[list[list[int]], list[list[int]]]:
    """(starts, values) per grid column of the cell -> value map that
    gives cell ids ``[lo[i], hi[i])`` the value ``values[i]`` (disjoint
    ranges) and every other cell ``fill``."""
    n = 1 << res
    base = np.int64(res) << 54
    lo = np.asarray(lo, dtype=np.int64) - base
    hi = np.asarray(hi, dtype=np.int64) - base
    # split each range where it crosses into the next grid column
    c0, c1 = lo // n, (hi - 1) // n
    k = c1 - c0 + 1
    col = np.repeat(c0, k) + np.arange(k.sum()) - np.repeat(np.cumsum(k) - k, k)
    start = np.maximum(np.repeat(lo, k), col * n) - col * n
    end = np.minimum(np.repeat(hi, k), (col + 1) * n) - col * n
    val = np.repeat(np.asarray(values, dtype=np.int64), k)
    # run starts; ``fill`` opens every column and resumes after every
    # range, unless a range starts at that same cell
    gap = end < n
    ev_col = np.concatenate([np.arange(n), col[gap], col])
    ev_iy = np.concatenate([np.zeros(n, dtype=np.int64), end[gap], start])
    ev_val = np.concatenate([np.full(n + int(gap.sum()), fill), val])
    ranged = np.concatenate([np.zeros(n + int(gap.sum()), dtype=bool), np.ones(len(col), dtype=bool)])
    order = np.lexsort((ranged, ev_iy, ev_col))
    ev_col, ev_iy, ev_val = ev_col[order], ev_iy[order], ev_val[order]
    last = np.ones(len(ev_col), dtype=bool)
    last[:-1] = (ev_col[1:] != ev_col[:-1]) | (ev_iy[1:] != ev_iy[:-1])
    ev_col, ev_iy, ev_val = ev_col[last], ev_iy[last], ev_val[last]
    # a run with its predecessor's value is no run
    new = np.ones(len(ev_col), dtype=bool)
    new[1:] = (ev_col[1:] != ev_col[:-1]) | (ev_val[1:] != ev_val[:-1])
    ev_col, ev_iy, ev_val = ev_col[new], ev_iy[new], ev_val[new]
    cuts = np.searchsorted(ev_col, np.arange(1, n))
    return (
        [a.tolist() for a in np.split(ev_iy, cuts)],
        [a.tolist() for a in np.split(ev_val, cuts)],
    )


def candidate_slots(ptr: np.ndarray, items: np.ndarray) -> tuple[np.ndarray, list[list[int]]]:
    """Slot of each CSR list ``items[ptr[i]:ptr[i + 1]]`` and the
    distinct lists in slot order: equal lists share one slot, so a
    table of cells holds each candidate list once."""
    slots: dict[tuple, int] = {}
    slot = [
        slots.setdefault(tuple(items[a:b].tolist()), len(slots))
        for a, b in zip(ptr[:-1].tolist(), ptr[1:].tolist())
    ]
    return np.asarray(slot, dtype=np.int64), [list(t) for t in slots]


def tables_sql(tables: dict[str, tuple[list, str]]) -> str:
    """SQL literal of named constant tables ``{name: (rows, sql_type)}``
    as one struct: ``from_json`` over their JSON text (floats go
    through repr, which round-trips exactly), as a scalar subquery.
    The optimizer inlines the subquery and folds it into constant
    arrays; until then the subquery keeps ConvertToLocalRelation,
    which runs before constant folding, from parsing the JSON once per
    row of a local input. Spark allows no subquery inside a
    higher-order function, so the struct is bound to a column first."""
    text = json.dumps(
        {name: rows for name, (rows, _) in tables.items()},
        separators=(",", ":"),
        allow_nan=False,
    )
    text = text.replace("\\", "\\\\").replace("'", "\\'")
    schema = ",".join(f"{name}:{sql_type}" for name, (_, sql_type) in tables.items())
    return f"(SELECT from_json('{text}', 'struct<{schema}>'))"


def lookup_xy_sql(lat_col: str, lon_col: str, res: int) -> tuple[str, str]:
    """SQL snippets: the (ix, iy) at which cell_lookup_sql reads a point;
    ix is NULL for a NULL or NaN coordinate, so its lookup is NULL too
    (a NULL iy alone would match no run, and element_at(…, 0) raises
    under ANSI)."""
    ix, iy = grid_xy_sql(lat_col, lon_col, res)
    return (
        f"CASE WHEN {lat_col} IS NULL OR isnan({lat_col}) OR isnan({lon_col})"
        f" THEN NULL ELSE {ix} END",
        iy,
    )


def cell_lookup_sql(ix: str, iy: str, starts: str, values: str) -> str:
    """SQL snippet: the value of cell (ix, iy) in a column_runs table
    whose ``starts``/``values`` are bound to columns."""
    col = f"cast({ix} as int) + 1"
    return (
        f"element_at(element_at({values}, {col}),"
        f" size(filter(element_at({starts}, {col}), __s -> __s <= {iy})))"
    )


def cell_size_m(res: int) -> float:
    """MINIMUM cell edge length in metres at the bbox latitude.

    The min edge (longitude: LON_SCALE ~ 0.814 of the latitude edge)
    is the one the ring-1 coverage guarantee needs: a site within
    radius r of a probe is at Chebyshev cell distance <= 1 only when
    r <= BOTH edges. Returning the max edge (the pre-review bug) let
    a site ~0.82-1.0 cell-edges away in longitude land at cell
    distance 2, silently outside the 0-1 ring probe."""
    lat_m = DLAT / (1 << res) * M_PER_DEG
    lon_m = DLON / (1 << res) * M_PER_DEG * LON_SCALE
    return min(lat_m, lon_m)


# ---------------------------------------------------------------------------
# Web-mercator tile pyramid (slippy z/x/y) — the HMesh analogue.

def tile_x_sql(lon_col: str, zoom: int) -> str:
    n = 1 << zoom
    return (
        f"least({n - 1}, greatest(0, cast(floor(({lon_col} + {dlit(180.0)}) / {dlit(360.0)} * {n})"
        f" as bigint)))"
    )


def tile_y_sql(lat_col: str, zoom: int) -> str:
    n = 1 << zoom
    return (
        f"least({n - 1}, greatest(0, cast(floor(({dlit(1.0)} - ln(tan(radians({lat_col}))"
        f" + {dlit(1.0)} / cos(radians({lat_col}))) / pi()) / {dlit(2.0)} * {n}) as bigint)))"
    )


def tile_xyz_np(lat: np.ndarray, lon: np.ndarray, zoom: int):
    n = 1 << zoom
    x = np.clip(np.floor((lon + 180.0) / 360.0 * n).astype(np.int64), 0, n - 1)
    lat_r = np.radians(lat)
    y = np.clip(
        np.floor((1.0 - np.log(np.tan(lat_r) + 1.0 / np.cos(lat_r)) / math.pi) / 2.0 * n)
        .astype(np.int64),
        0,
        n - 1,
    )
    return x, y


# ---------------------------------------------------------------------------
# Distances

def haversine_sql(lat1: str, lon1: str, lat2: str, lon2: str) -> str:
    """Great-circle distance in metres (sp_distance analogue).

    The a-term is clamped to 1.0 like haversine_np's np.clip:
    near-antipodal inputs round a to 1 + 2ulp, sqrt exceeds 1 and
    asin returns NaN — with arbitrary try_cast'd CSV coordinates one
    garbage pair would silently turn a trip's distance into NaN. The
    clamp is a CASE, not least(): both engines' least() SKIPS NULLs,
    which would turn a NULL input (e.g. the lag() of a user's first
    event) into a 20,015 km antipodal distance instead of NULL. The
    clamp text is engine-neutral so oracle twins stay identical."""
    two = dlit(2.0)
    a = (
        f"(pow(sin(radians(({lat2}) - ({lat1})) / {two}), 2)"
        f" + cos(radians({lat1})) * cos(radians({lat2}))"
        f" * pow(sin(radians(({lon2}) - ({lon1})) / {two}), 2))"
    )
    return (
        f"({two} * {dlit(EARTH_RADIUS_M)} * asin(sqrt("
        f"CASE WHEN {a} > {dlit(1.0)} THEN {dlit(1.0)} ELSE {a} END)))"
    )


def haversine_np(lat1, lon1, lat2, lon2) -> np.ndarray:
    lat1, lon1, lat2, lon2 = (np.radians(np.asarray(a, dtype=np.float64)) for a in (lat1, lon1, lat2, lon2))
    a = (
        np.sin((lat2 - lat1) / 2.0) ** 2
        + np.cos(lat1) * np.cos(lat2) * np.sin((lon2 - lon1) / 2.0) ** 2
    )
    return 2.0 * EARTH_RADIUS_M * np.arcsin(np.sqrt(np.clip(a, 0.0, 1.0)))


def planar_d2_sql(lat1: str, lon1: str, lat2: str, lon2: str) -> str:
    """Squared local-projection distance (degrees²) — arithmetic-only,
    bit-identical across engines. Defines the Voronoi zone metric."""
    dlat = f"(({lat2}) - ({lat1}))"
    dlon = f"((({lon2}) - ({lon1})) * {dlit(LON_SCALE)})"
    return f"({dlat} * {dlat} + {dlon} * {dlon})"


def planar_d2_np(lat1, lon1, lat2, lon2) -> np.ndarray:
    return (np.asarray(lat2) - np.asarray(lat1)) ** 2 + (
        (np.asarray(lon2) - np.asarray(lon1)) * LON_SCALE
    ) ** 2


# ---------------------------------------------------------------------------
# Point-in-polygon: vectorized ray casting (FindPolygon analogue).

def point_in_polygon_np(lat: np.ndarray, lon: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Vectorized even-odd ray casting.

    ``ring``: (k, 2) array of (lon, lat) vertices, closed or open.
    Returns boolean mask for (n,) points. Pure numpy; the fused
    pipeline kernel runs it per batch, and it is the reference of
    point_in_ring_sql.
    """
    px = np.asarray(lon, dtype=np.float64)
    py = np.asarray(lat, dtype=np.float64)
    vx = ring[:, 0]
    vy = ring[:, 1]
    if vx[0] != vx[-1] or vy[0] != vy[-1]:
        vx = np.append(vx, vx[0])
        vy = np.append(vy, vy[0])
    inside = np.zeros(px.shape, dtype=bool)
    for i in range(len(vx) - 1):
        x1, y1, x2, y2 = vx[i], vy[i], vx[i + 1], vy[i + 1]
        cond = (y1 > py) != (y2 > py)
        if not cond.any():
            continue
        with np.errstate(divide="ignore", invalid="ignore"):
            xin = (x2 - x1) * (py - y1) / (y2 - y1) + x1
        inside ^= cond & (px < xin)
    return inside


def closed_ring(ring: np.ndarray) -> tuple[list[float], list[float]]:
    """(xs, ys) of a (k, 2) lon/lat ring with the first vertex repeated
    last, as point_in_polygon_np closes it."""
    ring = np.asarray(ring, dtype=np.float64).reshape(-1, 2)
    if len(ring) and (ring[0] != ring[-1]).any():
        ring = np.vstack([ring, ring[:1]])
    return ring[:, 0].tolist(), ring[:, 1].tolist()


def point_in_ring_sql(lat_col: str, lon_col: str, xs: str, ys: str) -> str:
    """SQL twin of point_in_polygon_np against one closed ring held as
    the SQL arrays ``xs``/``ys`` (lon, lat; first vertex repeated last,
    at least 4 entries). Same operations in the same order, so the
    result is bit-identical. The division runs only where the edge
    straddles the ray (y1 != y2): ANSI raises on division by zero."""
    x1, x2 = f"element_at({xs}, __i)", f"element_at({xs}, __i + 1)"
    y1, y2 = f"element_at({ys}, __i)", f"element_at({ys}, __i + 1)"
    return (
        f"aggregate(sequence(1, size({xs}) - 1), false, (__in, __i) -> "
        f"CASE WHEN ({y1} > {lat_col}) != ({y2} > {lat_col}) "
        f"THEN __in != ({lon_col} < ({x2} - {x1}) * ({lat_col} - {y1}) / ({y2} - {y1}) + {x1}) "
        f"ELSE __in END)"
    )


def polygon_bbox(ring: np.ndarray) -> tuple[float, float, float, float]:
    """(min_lon, min_lat, max_lon, max_lat) of a (k,2) lon/lat ring."""
    return (
        float(ring[:, 0].min()),
        float(ring[:, 1].min()),
        float(ring[:, 0].max()),
        float(ring[:, 1].max()),
    )


# ---------------------------------------------------------------------------
# Geohash (public-domain base32 grid code; Niemeyer 2008)

GEOHASH_BASE32 = "0123456789bcdefghjkmnpqrstuvwxyz"


def geohash_sql(lat_col: str, lon_col: str, precision: int = 6) -> str:
    """Standard geohash string of ``precision`` chars — ONE dialect-
    free arithmetic expression (floor / % / concat / substr evaluate
    identically in Spark and DuckDB, like the tile snippets above).

    Geohash interleaves lon/lat bits MSB-first (lon gets the even
    positions) and maps each 5-bit group onto the base32 alphabet.
    Instead of the textbook per-bit refinement loop, both coordinate
    integers are quantized ONCE (lon to ceil(5p/2) bits, lat to
    floor(5p/2)) and every output char's index is the sum of five
    ``floor(q / 2^j) % 2`` bit extracts, shifted — integer-exact,
    no bitwise ops, no loops, whole-stage-codegen friendly.

    Out-of-range coordinates clamp to the last cell (same contract
    as tile_x_sql); the +-90/+-180 edges land in the top cell, as in
    reference implementations.
    """
    if not 1 <= precision <= 12:
        raise ValueError(f"precision must be in [1, 12], got {precision}")
    total = 5 * precision
    lon_bits = (total + 1) // 2
    lat_bits = total // 2
    lon_q = (
        f"least({(1 << lon_bits) - 1}, greatest(0, cast(floor("
        f"(({lon_col}) + {dlit(180.0)}) / {dlit(360.0)} * {1 << lon_bits}"
        ") as bigint)))"
    )
    lat_q = (
        f"least({(1 << lat_bits) - 1}, greatest(0, cast(floor("
        f"(({lat_col}) + {dlit(90.0)}) / {dlit(180.0)} * {1 << lat_bits}"
        ") as bigint)))"
    )
    # bit i (0 = MSB) of the geohash comes from lon when i is even:
    # lon bit (lon_bits - 1 - i/2); from lat when odd: lat bit
    # (lat_bits - 1 - (i-1)/2)
    chars = []
    for ci in range(precision):
        terms = []
        for bi in range(5):
            i = ci * 5 + bi
            shift = 1 << (4 - bi)
            if i % 2 == 0:
                src, bit = "__ghlon", lon_bits - 1 - i // 2
            else:
                src, bit = "__ghlat", lat_bits - 1 - (i - 1) // 2
            terms.append(
                f"(floor({src} / {1 << bit}) % 2) * {shift}"
            )
        idx = " + ".join(terms)
        chars.append(
            f"substr('{GEOHASH_BASE32}', cast(({idx}) as int) + 1, 1)"
        )
    concat = "concat(" + ", ".join(chars) + ")"
    # one-level lateral alias keeps the quantizers evaluated once per
    # row in both engines (plain subexpression in a projection)
    return (
        f"(SELECT {concat} FROM (SELECT {lon_q} AS __ghlon, "
        f"{lat_q} AS __ghlat) __gh)"
    )


def geohash_np(lat: np.ndarray, lon: np.ndarray, precision: int = 6) -> list[str]:
    """Vectorized numpy twin (test yardstick + Arrow-kernel use)."""
    total = 5 * precision
    lon_bits = (total + 1) // 2
    lat_bits = total // 2
    lon_q = np.clip(
        np.floor((np.asarray(lon, dtype=np.float64) + 180.0) / 360.0 * (1 << lon_bits)).astype(np.int64),
        0,
        (1 << lon_bits) - 1,
    )
    lat_q = np.clip(
        np.floor((np.asarray(lat, dtype=np.float64) + 90.0) / 180.0 * (1 << lat_bits)).astype(np.int64),
        0,
        (1 << lat_bits) - 1,
    )
    out = []
    for lq, aq in zip(lon_q, lat_q):
        bits = 0
        for i in range(total):
            if i % 2 == 0:
                b = (lq >> (lon_bits - 1 - i // 2)) & 1
            else:
                b = (aq >> (lat_bits - 1 - (i - 1) // 2)) & 1
            bits = (bits << 1) | int(b)
        s = ""
        for ci in range(precision):
            s += GEOHASH_BASE32[(bits >> (5 * (precision - 1 - ci))) & 31]
        out.append(s)
    return out
