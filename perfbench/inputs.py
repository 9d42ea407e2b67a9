"""Seeded inputs for the three workloads, written to disk before timing.

Every diff is a grid: ``E`` existing ways run east-west, ``N`` new ways run
north-south and each crosses every existing way once.  Vertices are kept
``CLEAR`` metres away from every crossing, so no junction lands on a vertex
and the expected element counts follow from the layout alone:

* create node = E·N junctions + new-way vertices + points + polygon vertices
* create way  = new-way chunks + polygon rings
* create relation = holed polygons (one multipolygon each)
* modify way = E (every existing way is crossed)
* delete way = the deletion ids

The program sees only the files and the CLI argument list in ``Diff.argv``.
"""

from __future__ import annotations

import math
import os
import shutil
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from pbfwrite import write_pbf

R = 6378137.0
X0 = math.radians(-118.40) * R  # EPSG:3857 origin (eastern Washington)
Y0 = R * math.log(math.tan(math.pi / 4 + math.radians(48.50) / 2))
CLEAR = 5.0  # metres between any vertex and any crossing line
MARGIN = 500.0  # how far ways run past the outermost crossing
CHUNK_SIZE = 500  # the CLI's fixed split chunk (operators.ways.CHUNK_SIZE_DEFAULT)
ID_OFFSET = 1_000_000_000  # above every extract id, so no collision warning

_TAGS_T = pa.map_(pa.string(), pa.string())
_MEMBER_T = pa.struct([("ref", pa.int64()), ("type", pa.string()), ("role", pa.string())])


@dataclass
class Diff:
    """One changeset's inputs and what its output must contain."""

    name: str
    argv: list[str]  # CLI arguments except --output
    expected: dict[str, int]  # "block/kind" → element count
    modify_ways: set[int]
    delete_ways: set[int]
    extract_nodes: list[tuple[int, int]]  # inclusive id ranges
    id_offset: int = ID_OFFSET


@dataclass
class Workload:
    name: str
    diffs: list[Diff]
    info: dict = field(default_factory=dict)


def lonlat(x, y):
    x = np.asarray(x, dtype=float)
    y = np.asarray(y, dtype=float)
    return np.degrees(x / R), np.degrees(2 * np.arctan(np.exp(y / R)) - math.pi / 2)


def _clear_points(rng, lo: float, hi: float, k: int, avoid: np.ndarray) -> np.ndarray:
    """``k`` sorted points in (lo, hi), each at least CLEAR from ``avoid`` and
    1 m from each other."""
    avoid = np.sort(avoid)
    pts = rng.uniform(lo, hi, k)
    while True:
        pts.sort()
        i = np.clip(np.searchsorted(avoid, pts), 1, len(avoid) - 1)
        near = np.minimum(np.abs(pts - avoid[i - 1]), np.abs(pts - avoid[i])) < CLEAR
        near |= np.r_[False, np.diff(pts) < 1.0]
        if not near.any():
            return pts
        pts[near] = rng.uniform(lo, hi, int(near.sum()))


def crossing_grid(rng, x0, y0, n_exist, n_new, exist_verts, new_verts, dx, dy):
    """East-west existing and north-south new polylines, all crossing.

    ``exist_verts``/``new_verts`` are per-way vertex counts (≥ 2)."""
    width, height = (n_new + 1) * dx, (n_exist + 1) * dy
    ys = y0 + dy * (1 + np.arange(n_exist)) + rng.uniform(-dy / 4, dy / 4, n_exist)
    xs = x0 + dx * (1 + np.arange(n_new)) + rng.uniform(-dx / 4, dx / 4, n_new)
    xl, xr = x0 - MARGIN, x0 + width + MARGIN
    yb, yt = y0 - MARGIN, y0 + height + MARGIN
    exist = [
        [(x, y) for x in np.r_[xl, _clear_points(rng, xl, xr, nv - 2, xs), xr]]
        for y, nv in zip(ys, exist_verts)
    ]
    new = [
        [(x, y) for y in np.r_[yb, _clear_points(rng, yb, yt, nv - 2, ys), yt]]
        for x, nv in zip(xs, new_verts)
    ]
    return exist, new


def _wkt_line(coords) -> str:
    return "LINESTRING (" + ", ".join(f"{x:.3f} {y:.3f}" for x, y in coords) + ")"


def _wkt_polygon(rings) -> str:
    return "POLYGON (" + ", ".join(
        "(" + ", ".join(f"{x:.3f} {y:.3f}" for x, y in r + r[:1]) + ")" for r in rings
    ) + ")"


def _regular_ring(cx, cy, radius, n, phase):
    return [
        (cx + radius * math.cos(phase + 2 * math.pi * i / n), cy + radius * math.sin(phase + 2 * math.pi * i / n))
        for i in range(n)
    ]


def _write(path: str, columns: dict, schema: pa.Schema | None = None) -> None:
    pq.write_table(pa.table(columns, schema=schema), path)


def _write_extract_parquet(path: str, node_ids, lats, lons, ways) -> None:
    os.makedirs(path)
    n = len(node_ids)
    _write(
        os.path.join(path, "nodes.parquet"),
        {"id": node_ids, "lat": lats, "lon": lons, "tags": [[]] * n},
        pa.schema([("id", pa.int64()), ("lat", pa.float64()), ("lon", pa.float64()), ("tags", _TAGS_T)]),
    )
    _write(
        os.path.join(path, "ways.parquet"),
        {"id": [w[0] for w in ways], "nds": [list(w[1]) for w in ways], "tags": [list(w[2].items()) for w in ways]},
        pa.schema([("id", pa.int64()), ("nds", pa.list_(pa.int64())), ("tags", _TAGS_T)]),
    )
    _write(
        os.path.join(path, "relations.parquet"),
        {"id": [], "members": [], "tags": []},
        pa.schema([("id", pa.int64()), ("members", pa.list_(_MEMBER_T)), ("tags", _TAGS_T)]),
    )


class _Extract:
    """Accumulates extract nodes/ways with contiguous node ids."""

    def __init__(self, node_base: int, way_base: int) -> None:
        self.node_base = self.next_node = node_base
        self.next_way = way_base
        self.xy: list[np.ndarray] = []
        self.ways: list[tuple[int, list[int], dict]] = []

    def add_way(self, coords, tags) -> int:
        pts = np.asarray(coords, dtype=float)
        ids = list(range(self.next_node, self.next_node + len(pts)))
        self.next_node += len(pts)
        self.xy.append(pts)
        wid = self.next_way
        self.next_way += 1
        self.ways.append((wid, ids, tags))
        return wid

    def nodes(self):
        xy = np.concatenate(self.xy)
        lon, lat = lonlat(xy[:, 0], xy[:, 1])
        return np.arange(self.node_base, self.next_node, dtype=np.int64), lat, lon

    def node_ranges(self) -> list[tuple[int, int]]:
        return [(self.node_base, self.next_node - 1)]


def _write_diff(
    ddir: str,
    rng,
    osmsrc: str,
    exist_ids: list[int],
    exist: list,
    new: list,
    node_limit: int,
    points: int = 0,
    polygons: tuple[int, int] = (0, 0),
    deletions: list[int] | None = None,
    extract_nodes: list[tuple[int, int]] | None = None,
) -> Diff:
    """Write one diff's feature tables and return its expectations."""
    os.makedirs(ddir)
    e, n = len(exist), len(new)
    _write(
        os.path.join(ddir, "original_ways.parquet"),
        {
            "id": list(range(1, e + 1)),
            "osm_id": exist_ids,
            "highway": ["residential"] * e,
            "name": [f"old-{i}" for i in range(e)],
            "geometry": [_wkt_line(c) for c in exist],
        },
    )
    _write(
        os.path.join(ddir, "roads_new.parquet"),
        {
            "highway": ["service"] * n,
            "name": [f"new-{j}" for j in range(n)],
            "geometry": [_wkt_line(c) for c in new],
        },
    )
    chunks = 0
    for c in new:
        nds = len(c) + e  # vertices plus one junction per existing way
        chunks += 1 if nds <= node_limit else math.ceil(nds / CHUNK_SIZE)
    created_nodes = e * n + sum(len(c) for c in new)
    created_ways = chunks
    relations = 0
    # points and polygons sit south of the grid, away from every way
    (xl, _), (_, yb) = exist[0][0], new[0][0]
    if points:
        px = xl + rng.uniform(0, 2000, points)
        py = yb - 1000 - rng.uniform(0, 1000, points)
        _write(
            os.path.join(ddir, "pois_new.parquet"),
            {
                "name": [f"poi-{i}" for i in range(points)],
                "amenity": ["bench"] * points,
                "tags": [f'"ref"=>"B{i}", "backrest"=>"{"yes" if i % 2 else "no"}"' for i in range(points)],
                "geometry": [f"POINT ({x:.3f} {y:.3f})" for x, y in zip(px, py)],
            },
        )
        created_nodes += points
    simple, holed = polygons
    if simple or holed:
        names, wkts = [], []
        for i in range(simple + holed):
            cx, cy = xl + 3000 + 400 * i, yb - 1500
            outer = _regular_ring(cx, cy, 150, 5 + i, rng.uniform(0, 1))
            rings = [outer]
            if i >= simple:
                rings.append(_regular_ring(cx, cy, 50, 4, rng.uniform(0, 1)))
                relations += 1
            names.append(f"area-{i}")
            wkts.append(_wkt_polygon(rings))
            created_nodes += sum(len(r) for r in rings)
            created_ways += len(rings)
        _write(
            os.path.join(ddir, "areas_new.parquet"),
            {"name": names, "landuse": ["grass"] * len(names), "geometry": wkts},
        )
    argv = [
        ddir, "--osmsrc", osmsrc, "--existing", "original_ways",
        "--id_offset", str(ID_OFFSET), "--max_nodes_per_way", str(node_limit),
    ]
    expected = {
        "create/node": created_nodes,
        "create/way": created_ways,
        "create/relation": relations,
        "modify/way": e,
    }
    if deletions:
        _write(os.path.join(ddir, "deleted_ways.parquet"), {"osm_id": pa.array(deletions, pa.int64())})
        argv += ["--deletions", "deleted_ways"]
        expected["delete/way"] = len(set(deletions))
    return Diff(
        name=os.path.basename(ddir),
        argv=argv,
        expected=expected,
        modify_ways=set(exist_ids),
        delete_ways=set(deletions or ()),
        extract_nodes=extract_nodes or [],
    )


def small_diff(root: str, seed: int) -> Workload:
    """K=4 interactive diffs over one parquet extract, each 10 existing × 8
    new ways, 5 hstore-tagged points, 3 polygons (one holed) and 5 deletions."""
    rng = np.random.default_rng([seed, 1])
    k = 4
    ext = _Extract(node_base=1_000, way_base=100)
    grids = []
    for d in range(k):
        # every diff has the same shape; the seed moves its ways and vertices
        exist, new = crossing_grid(
            rng, X0 + d * 20_000.0, Y0, 10, 8,
            [6, 8, 10, 12, 7, 9, 11, 6, 8, 10], [5, 7, 9, 11, 12, 10, 8, 6], dx=150.0, dy=120.0,
        )
        ids = [ext.add_way(c, {"highway": "residential"}) for c in exist]
        grids.append((ids, exist, new))
    # background ways the deletions draw from, 100 km away from the grids
    bx = X0 + rng.uniform(0, 50_000, 2_000)
    by = Y0 + 100_000 + rng.uniform(0, 50_000, 2_000)
    background = [
        ext.add_way([(x + 20.0 * i, y + 15.0 * (i % 2)) for i in range(6)], {"highway": "track"})
        for x, y in zip(bx, by)
    ]
    osmsrc = os.path.join(root, "extract")
    _write_extract_parquet(osmsrc, *ext.nodes(), ext.ways)
    diffs = []
    for d, (ids, exist, new) in enumerate(grids):
        dels = [int(w) for w in rng.choice(background, 5, replace=False)]
        diffs.append(
            _write_diff(
                os.path.join(root, f"diff{d}"), rng, osmsrc, ids, exist, new,
                node_limit=2000, points=5, polygons=(2, 1),
                deletions=dels, extract_nodes=ext.node_ranges(),
            )
        )
    return Workload("small_diff", diffs)


def _write_extract_pbf(path: str, rng, exist: list, n_background: int, per_way: int = 10) -> dict:
    """The existing ways plus ``n_background`` short random-walk ways, 50 km
    north of the grid, as a ``.pbf``.  Node ids are contiguous, existing
    ways' nodes first."""
    start = np.column_stack([X0 + rng.uniform(0, 100_000, n_background), Y0 + 50_000 + rng.uniform(0, 100_000, n_background)])
    walks = start[:, None, :] + rng.normal(0, 30.0, (n_background, per_way, 2)).cumsum(axis=1)
    xy = np.concatenate([np.concatenate([np.asarray(c, dtype=float) for c in exist]), walks.reshape(-1, 2)])
    lon, lat = lonlat(xy[:, 0], xy[:, 1])
    node_base, way_base = 1_000, 100
    node_ids = np.arange(node_base, node_base + len(xy), dtype=np.int64)
    tags = [{"highway": "crossing"} if i % 50 == 7 else None for i in range(len(xy))]
    ways, at = [], 0
    for c in exist:
        ways.append((way_base + len(ways), node_ids[at : at + len(c)], {"highway": "residential"}))
        at += len(c)
    highway = ("track", "service", "footway", "path")
    for w in range(n_background):
        ways.append((way_base + len(ways), node_ids[at : at + per_way], {"highway": highway[w % 4]}))
        at += per_way
    blobs = write_pbf(path, {"id": node_ids, "lat": lat, "lon": lon, "tags": tags}, ways)
    return {
        "exist_ids": [w[0] for w in ways[: len(exist)]],
        "background_ids": np.array([w[0] for w in ways[len(exist) :]]),
        "extract_nodes": [(node_base, node_base + len(xy) - 1)],
        "pbf_blobs": blobs,
        "pbf_elements": len(xy) + len(ways),
        "pbf_bytes": os.path.getsize(path),
    }


def road_grid(root: str, seed: int) -> Workload:
    """One 200 × 150 crossing grid (30,000 junctions) over a parquet extract.
    Every tenth new way has 313 vertices, so it carries 513 nodes, over
    --max_nodes_per_way 400 and the CLI's 500-node chunk: split_ways cuts it
    in two."""
    rng = np.random.default_rng([seed, 2])
    e, n = 200, 150
    new_verts = np.where(np.arange(n) % 10 == 0, 313, 13)
    exist, new = crossing_grid(rng, X0, Y0, e, n, np.full(e, 11), new_verts, dx=150.0, dy=120.0)
    ext = _Extract(node_base=1_000, way_base=100)
    ids = [ext.add_way(c, {"highway": "residential"}) for c in exist]
    osmsrc = os.path.join(root, "extract")
    _write_extract_parquet(osmsrc, *ext.nodes(), ext.ways)
    diff = _write_diff(
        os.path.join(root, "diff0"), rng, osmsrc, ids, exist, new,
        node_limit=400, extract_nodes=ext.node_ranges(),
    )
    return Workload("road_grid", [diff])


def extract_heavy(root: str, seed: int) -> Workload:
    """A 1.1M-element ``.pbf`` (1M nodes, 100k ways) passed as --osmsrc: 200
    of its ways are crossed by 20 new ones, and 5,000 others are deleted."""
    rng = np.random.default_rng([seed, 3])
    exist, new = crossing_grid(rng, X0, Y0, 200, 20, np.full(200, 10), 8 + np.arange(20) % 8, dx=150.0, dy=120.0)
    osmsrc = os.path.join(root, "extract.osm.pbf")
    ext = _write_extract_pbf(osmsrc, rng, exist, n_background=99_800)
    dels = sorted(int(w) for w in rng.choice(ext["background_ids"], 5_000, replace=False))
    diff = _write_diff(
        os.path.join(root, "diff0"), rng, osmsrc, ext["exist_ids"], exist, new,
        node_limit=2000, deletions=dels, extract_nodes=ext["extract_nodes"],
    )
    info = {k: ext[k] for k in ("pbf_blobs", "pbf_elements", "pbf_bytes")}
    return Workload("extract_heavy", [diff], info=info)


def generate(name: str, root: str, seed: int) -> Workload:
    """(Re)create ``root`` and write the named workload's inputs into it."""
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    return {"small_diff": small_diff, "road_grid": road_grid, "extract_heavy": extract_heavy}[name](root, seed)
