"""The benchmark's own tests (no Spark session needed):

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import inputs  # noqa: E402
import pbfwrite  # noqa: E402
from check import check_osc  # noqa: E402
from spans import _union  # noqa: E402

from changegen_spark.sources.pbf import iter_pbf_elements  # noqa: E402


@pytest.mark.parametrize("values", [[0], [1, 127, 128, 300, 16383, 16384], [2**63 - 1, 2**64 - 1, 5]])
def test_packed_varints_match_scalar_loop(values):
    assert pbfwrite.packed_varints(np.array(values, dtype=np.uint64)) == b"".join(pbfwrite.varint(v) for v in values)


def test_packed_runs_split_per_run():
    values = np.array([1, 300, 2, 3, 70000], dtype=np.uint64)
    runs = pbfwrite.packed_runs(values, [2, 1, 2])
    assert runs == [pbfwrite.packed_varints(values[:2]), pbfwrite.packed_varints(values[2:3]), pbfwrite.packed_varints(values[3:])]


def test_decode_of_encode_is_identity(tmp_path, monkeypatch):
    monkeypatch.setattr(pbfwrite, "BLOCK_SIZE", 3)  # several blobs of each kind
    rng = np.random.default_rng(7)
    ids = np.array([5, 6, 9, 10, 4_000_000_000, 11, 12], dtype=np.int64)  # a negative id delta too
    lat = np.round(rng.uniform(-80, 80, len(ids)), 7)
    lon = np.round(rng.uniform(-179, 179, len(ids)), 7)
    tags = [None, {"highway": "crossing"}, None, {"a": "1", "b": "ü"}, None, None, {"name": "x"}]
    ways = [(100, [5, 6, 9], {"highway": "residential"}), (99, [12, 11, 10, 5], {}), (7, [9], {"k": "v", "z": ""})]
    path = str(tmp_path / "t.osm.pbf")
    blobs = pbfwrite.write_pbf(path, {"id": ids, "lat": lat, "lon": lon, "tags": tags}, ways)
    assert blobs == 3 + 1
    got = list(iter_pbf_elements(path))
    nodes = [e for e in got if e[0] == "node"]
    assert [e[1] for e in nodes] == ids.tolist()
    assert np.allclose([e[2] for e in nodes], lat, atol=1e-9) and np.allclose([e[3] for e in nodes], lon, atol=1e-9)
    assert [dict(zip(e[8], e[9])) for e in nodes] == [t or {} for t in tags]
    assert [(e[1], e[4], dict(zip(e[8], e[9]))) for e in got if e[0] == "way"] == ways


def test_grid_keeps_vertices_clear_of_crossings():
    rng = np.random.default_rng(3)
    exist, new = inputs.crossing_grid(rng, 0.0, 0.0, 12, 9, [11] * 12, [40] * 9, dx=150.0, dy=120.0)
    xs = [c[0][0] for c in new]
    ys = [c[0][1] for c in exist]
    for line in exist:
        assert min(abs(x - cx) for x, _ in line for cx in xs) >= inputs.CLEAR
    for line in new:
        assert min(abs(y - cy) for _, y in line for cy in ys) >= inputs.CLEAR


def _osc(creates: str, modifies: str = "", deletes: str = "") -> bytes:
    body = f"<create>\n{creates}</create>\n"
    if modifies:
        body += f"<modify>\n{modifies}</modify>\n"
    if deletes:
        body += f"<delete>\n{deletes}</delete>\n"
    return f'<?xml version="1.0" encoding="UTF-8"?>\n<osmChange version="0.6">\n{body}</osmChange>\n'.encode()


def _diff() -> inputs.Diff:
    return inputs.Diff(
        name="d", argv=[], id_offset=100,
        expected={"create/node": 2, "create/way": 1, "create/relation": 0, "modify/way": 1, "delete/way": 1},
        modify_ways={7}, delete_ways={8}, extract_nodes=[(1, 10)],
    )


GOOD = _osc(
    '<node id="101" version="1" lat="1" lon="1"/>\n<node id="102" version="1" lat="1" lon="2"/>\n'
    '<way id="103" version="1">\n  <tag k="highway" v="service"/>\n  <nd ref="101"/>\n  <nd ref="102"/>\n</way>\n',
    '<way id="7" version="2">\n  <nd ref="1"/>\n  <nd ref="101"/>\n  <nd ref="2"/>\n</way>\n',
    '<way id="8" version="99"/>\n',
)


def test_checker_accepts_good_output_and_repeats(tmp_path):
    path = tmp_path / "o.osc"
    path.write_bytes(GOOD)
    digests: dict[str, str] = {}
    errors, stats = check_osc(str(path), _diff(), digests)
    assert errors == []
    assert stats["junctions"] == 1 and stats["way_chunks"] == 1 and stats["elements"] == 5
    path.write_bytes(GOOD.replace(b'lon="2"', b'lon="3"'))
    errors, _ = check_osc(str(path), _diff(), digests)
    assert errors == ["output differs from the first output of the same diff"]


@pytest.mark.parametrize(
    "old,new,message",
    [
        (b'<nd ref="2"/>', b'<nd ref="55"/>', "resolve to no node"),
        (b'id="102"', b'id="104"', "not dense"),
        (b'id="102"', b'id="101"', "duplicate node id"),
        (b'<way id="8" version="99"/>\n', b"", "counts"),
        (b"</osmChange>", b"", "not well formed"),
    ],
)
def test_checker_rejects(tmp_path, old, new, message):
    path = tmp_path / "o.osc"
    path.write_bytes(GOOD.replace(old, new))
    errors, _ = check_osc(str(path), _diff(), {})
    assert any(message in e for e in errors), errors


def test_union_handles_overlapping_children():
    assert _union([(0.0, 2.0), (1.0, 3.0), (5.0, 6.0)]) == pytest.approx(4.0)
    assert _union([]) == 0.0
