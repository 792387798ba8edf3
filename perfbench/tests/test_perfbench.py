"""The benchmark's own checks; no Spark session needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import filecmp
import json
import os
import re
from fractions import Fraction

import pytest

from perfbench import gen, run
from perfbench.tracing import Tracer
from perfbench.workloads import WORKLOADS, Pass

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


@pytest.fixture(scope="module")
def bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _same_tree(a: str, b: str) -> bool:
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        _same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs
    )


def test_service_area_inputs_are_reproducible_per_seed(tmp_path):
    e1 = gen.generate_service_areas(7, str(tmp_path / "a"))
    e2 = gen.generate_service_areas(7, str(tmp_path / "b"))
    gen.generate_service_areas(8, str(tmp_path / "c"))
    assert e1 == e2
    assert _same_tree(str(tmp_path / "a"), str(tmp_path / "b"))
    assert not _same_tree(str(tmp_path / "a"), str(tmp_path / "c"))


def test_service_area_answers_are_planted(tmp_path):
    e = gen.generate_service_areas(3, str(tmp_path))
    assert len(e["overlap_pairs"]) >= gen.SA_OVERLAPS
    assert e["edit_cert"] in e["certificates"]
    assert set(e["n_polygons"]) == {str(c) for c in e["certificates"]}
    owners = {c for _, c in e["point_owners"]}
    assert owners <= set(e["certificates"]) and len(owners) > len(e["certificates"]) // 2


@pytest.mark.parametrize("seed", range(1, 13))
def test_kml_edit_hole_lies_inside_its_ring(tmp_path, seed):
    """The seeded edit's hole is strictly inside the edited polygon's
    outer ring, as written to the KML file, and crosses no edge."""
    e = gen.generate_service_areas(seed, str(tmp_path))
    with open(gen.apply_kml_edit(str(tmp_path), e)) as f:
        text = f.read()
    start = text.index("<coordinates>") + len("<coordinates>")
    coords = text[start : text.index("</coordinates>")].split()
    ring = [tuple(int(v) for v in tok.split(",")[:2]) for tok in coords]
    if ring[0] != ring[-1]:
        ring.append(ring[0])
    hole = gen.edit_hole_ring(e)
    assert all(gen._inside(Fraction(x), Fraction(y), ring) for x, y in hole[:-1])
    assert not gen._rings_intersect(ring, hole)


def test_documents_are_reproducible_per_seed(tmp_path):
    s1 = gen.generate_documents(5, str(tmp_path / "a"))
    s2 = gen.generate_documents(5, str(tmp_path / "b"))
    gen.generate_documents(6, str(tmp_path / "c"))
    assert s1 == s2 == {"documents": gen.DOCS, "near_duplicates": gen.DOC_BASES * gen.DOC_COPIES}
    assert _same_tree(str(tmp_path / "a"), str(tmp_path / "b"))
    assert not _same_tree(str(tmp_path / "a"), str(tmp_path / "c"))


def test_names_and_units_are_valid(bench):
    names = [m["name"] for m in (*bench["workloads"], *bench["end_to_end"], *bench["per_layer"])]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names), [n for n in names if not NAME.match(n)]
    units = [m["unit"] for m in (*bench["end_to_end"], *bench["per_layer"])]
    assert all(UNIT.match(u) for u in units)
    assert all(len(w["why"]) <= 200 and "\n" not in w["why"] for w in bench["workloads"])


def _fake_pass(wall: float) -> Pass:
    p = Pass()
    p.times = {"wall": wall, "warm_wall": wall / 2, "noop_rerun": 0.1, "edit_rerun": 1.0}
    return p


def test_reported_metric_names_equal_benchmark_json(bench):
    """The workloads and the result line's metric names are exactly
    those BENCHMARK.json lists."""
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
    m = {
        "setups": [9.0, 2.0, 2.1],
        "builds": [6.0, 0.1, 0.1],
        "warms": [3.0, 1.9, 2.0],
        "passes": [
            (True, _fake_pass(4.0)),
            (True, _fake_pass(3.4)),
            (False, _fake_pass(3.0)),
            (True, _fake_pass(3.0)),
        ],
        "peak_rss_mb": 100.0,
    }
    assert set(run.end_to_end(m, 10_000)) == set(run.catalogue("end_to_end"))
    tracer = Tracer(True, "t")
    with tracer.span("plans.targets.certificates"):
        pass
    names = run.catalogue("per_layer")
    layers = run.per_layer(m, tracer, names)
    assert set(layers) == set(names) == {x["name"] for x in bench["per_layer"]}
    assert layers["plans.targets.certificates_s"] > 0
    assert layers["trace.overhead_s"] == pytest.approx(0.2)
