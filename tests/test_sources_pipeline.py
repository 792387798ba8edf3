"""End-to-end test of the reference pipeline re-expression: KML
fixtures → cleaned/patched service areas → GeoJSON round trip; plus
the HTML-table source (parity: the full _targets.R flow).
"""

from __future__ import annotations

import datetime as dt
import json

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DateType,
    DoubleType,
    StringType,
    StructField,
    StructType,
)

from utility_service_areas_spark.functions.geometry import polygon_area
from utility_service_areas_spark.plans.service_areas import (
    build_raw_service_areas,
    build_service_areas,
    replay_service_areas_from_raw,
)
from utility_service_areas_spark.sources.geojson import read_geojson, write_geojson
from utility_service_areas_spark.sources.html_table import read_html_tables
from utility_service_areas_spark.sources.kml import parse_kml_bytes, read_kml

KML_TMPL = """<?xml version="1.0" encoding="UTF-8"?>
<kml xmlns="http://www.opengis.net/kml/2.2"><Document>{placemarks}</Document></kml>
"""

PM_TMPL = """<Placemark><name>{name}</name><description>{desc}</description>
{geom}</Placemark>"""


def _poly(x0, y0, w, h):
    c = f"{x0},{y0},0 {x0+w},{y0},0 {x0+w},{y0+h},0 {x0},{y0+h},0 {x0},{y0},0"
    return (
        "<Polygon><outerBoundaryIs><LinearRing><coordinates>"
        + c
        + "</coordinates></LinearRing></outerBoundaryIs></Polygon>"
    )


def _write_kml(path, name, desc, geoms):
    pm = PM_TMPL.format(name=name, desc=desc, geom="".join(geoms))
    path.write_text(KML_TMPL.format(placemarks=pm))


@pytest.fixture()
def kml_dir(tmp_path):
    d = tmp_path / "kml"
    d.mkdir()
    # cert 8: MultiGeometry (two polygons)
    _write_kml(
        d / "8-servicearea.kml",
        "Certificate No. 8",
        "Granted to: Chugach Electric Association",
        [_poly(0, 0, 4, 3), _poly(10, 0, 2, 2)],
    )
    # cert 169: original (should be ignored: a patch exists)
    _write_kml(
        d / "169-servicearea.kml",
        "Certificate No. 169",
        "Granted to: AVEC",
        [_poly(0, 0, 1, 1)],
    )
    # cert 169: PLSS patch (preferred), no placemark name
    _write_kml(d / "169-servicearea-plss-fix.kml", "", "", [_poly(20, 20, 6, 6)])
    # cert 61: absorbed into 169 by merge patch
    _write_kml(
        d / "61-servicearea.kml",
        "Certificate No. 61",
        "Granted to: Teller",
        [_poly(40, 40, 2, 2)],
    )
    # cert 520: operator (excluded)
    _write_kml(
        d / "520-servicearea.kml",
        "Certificate No. 520",
        "Granted to: Aurora Energy",
        [_poly(50, 50, 3, 3)],
    )
    # cert 59: listed inactive (excluded)
    _write_kml(
        d / "59-servicearea.kml",
        "Certificate No. 59",
        "Granted to: Defunct Co",
        [_poly(60, 60, 3, 3)],
    )
    return str(d)


@pytest.fixture()
def certificates(spark):
    schema = StructType(
        [
            StructField("certificate_number", DoubleType()),
            StructField("entity", StringType()),
            StructField("certificate_name", StringType()),
            StructField("certificate_status", StringType()),
            StructField("cpcn_url", StringType()),
            StructField("kml_update_date", DateType()),
        ]
    )
    rows = [
        (8.0, "Chugach", "Chugach Electric Association", "Active", "http://rca/8", dt.date(2020, 1, 1)),
        (169.0, "AVEC", "Alaska Village Electric Cooperative", "Active", "http://rca/169", dt.date(2001, 1, 1)),
        (61.0, "Teller", "Teller Power", "Active", "http://rca/61", dt.date(1999, 1, 1)),
        (520.0, "Aurora", "Aurora Energy LLC", "Active", "http://rca/520", None),
        (59.0, "Defunct", "Defunct Co", "Active", "http://rca/59", None),
        (99.0, "Gone", "Inactive Co", "Revoked", "http://rca/99", None),
    ]
    return spark.createDataFrame(rows, schema)


@pytest.fixture()
def chronology(spark):
    rows = [
        (8.0, "U-80-1", "1", "6/1/1980", "Original Certificate", ""),
        (8.0, "U-13-9", "5", "1/25/2013", "Service Area Change", ""),
        (169.0, "U-70-2", "1", "3/1/1970", "Original Certificate", ""),
        (169.0, "U-02-7", "3", "3/26/2002", "Service Area Change", ""),
        (61.0, "U-65-4", "1", "2/1/1965", "Original Certificate", ""),
    ]
    return spark.createDataFrame(
        rows,
        ["certificate_number", "docket_number", "order_id", "order_date", "order_type", "comment"],
    )


def test_read_kml_rows(spark, kml_dir):
    df = read_kml(spark, kml_dir + "/*.kml")
    rows = df.collect()
    assert len(rows) == 7  # 6 files, one with 2 polygons
    by_name = [r for r in rows if r.placemark_name == "Certificate No. 8"]
    assert len(by_name) == 2
    assert polygon_area(by_name[0].geometry) in (12.0, 4.0)


def test_html_wrapped_kml_description(spark, tmp_path):
    """Doyon-style escaped-HTML description (parity
    R/functions.R:229-246): sliced to the 'Granted to:' span and
    unescaped; a plain duplicate field keeps the first occurrence."""
    d = tmp_path / "kml"
    d.mkdir()
    html_desc = (
        "&lt;html xmlns:fo=&quot;x&quot;&gt; &lt;body&gt; &lt;table&gt; "
        "&lt;tr&gt; &lt;td&gt;"
        "Granted to: Doyon Utilities &amp;lt;LLC&amp;gt; "
        "&lt;/td&gt; &lt;/tr&gt; &lt;/table&gt; "
        "&lt;/td&gt; &lt;/tr&gt; &lt;/table&gt; "
        "&lt;/td&gt; &lt;/tr&gt; &lt;/table&gt; &lt;/body&gt; &lt;/html&gt;"
    )
    # ET unescapes the XML entities once: the description TEXT starts
    # with "<html" and contains "&lt;"-escaped runs — the reference's
    # exact input shape.
    _write_kml(d / "190-servicearea.kml", "Certificate No. 190", html_desc, [_poly(0, 0, 1, 1)])
    # plain description passes through untouched
    _write_kml(d / "8-servicearea.kml", "Certificate No. 8", "Granted to: Chugach", [_poly(0, 0, 1, 1)])
    rows = {r.placemark_name: r.description for r in read_kml(spark, str(d) + "/*.kml").collect()}
    assert rows["Certificate No. 190"] == "Granted to: Doyon Utilities <LLC>"
    assert rows["Certificate No. 8"] == "Granted to: Chugach"


def test_raw_layer_keeps_everything(spark, kml_dir, certificates):
    raw = build_raw_service_areas(spark, kml_dir + "/*.kml", certificates)
    got = {r.certificate_number: r.n_source_polygons for r in raw.collect()}
    # raw layer: no filtering, patch files keep their parsed cert too
    assert got[8.0] == 2 and 520.0 in got and 59.0 in got


def test_cleaned_patched_pipeline(spark, kml_dir, certificates, chronology):
    out = build_service_areas(
        spark,
        kml_dir + "/*.kml",
        certificates,
        chronology,
        operator_ids=[520],
        inactive_ids=[59],
        merge_patches=[(169, 61)],
    ).collect()
    by_cert = {r.certificate_number: r for r in out}
    # operators, listed-inactive, non-Active, and absorbed certs excluded
    assert set(by_cert) == {8.0, 169.0}
    # cert 8: both polygons, up-to-date (KML 2020 >= last order 2013)
    r8 = by_cert[8.0]
    assert len(r8.geometry) == 2
    assert r8.geometry_cert_sync_status == "up_to_date"
    assert r8.certificate_granted_year == 1980
    assert r8.certificate_last_update_order == "U-13-9(5)"
    # cert 169: patch polygon (not the original) + absorbed cert 61
    r169 = by_cert[169.0]
    areas = sorted(polygon_area(p) for p in r169.geometry)
    assert areas == [4.0, 36.0]  # 61's 2x2 and the patch 6x6; original 1x1 gone
    # KML (2001) older than last order (2002) → outdated
    assert r169.geometry_cert_sync_status == "outdated"


def test_each_layer_scans_and_repairs_kml_once(spark, kml_dir, certificates, chronology):
    """One KML parse (MapInPandas) and one st_make_valid
    (ArrowEvalPython) per layer: a self-join over the KML frame would
    repeat both in the physical plan."""
    glob = kml_dir + "/*.kml"
    layers = {
        "cleaned": build_service_areas(
            spark, glob, certificates, chronology, [520], [59], [(169, 61)]
        ),
        "raw": build_raw_service_areas(spark, glob, certificates),
    }
    for name, df in layers.items():
        plan = df._jdf.queryExecution().executedPlan().toString()
        got = (plan.count("MapInPandas"), plan.count("ArrowEvalPython"))
        assert got == (1, 1), f"{name}: {got}\n{plan}"


# merge_patches -> {certificate: (n_source_polygons, [(min x, min y) of
# each polygon's outer ring, in output order])}. Fixture polygons:
# 8 (0,0) (10,0); 169 original (0,0), -plss-fix patch (20,20); 61
# (40,40). Own polygons come first, then absorbed ones by ascending
# cert2. The raw layer (the replay's input) has 169's original.
OWN = {8: (2, [(0, 0), (10, 0)]), 61: (1, [(40, 40)]), 169: (1, [(20, 20)])}
MERGE_PINS = {
    "none": ([], OWN, None),
    "single": ([(169, 61)], {8: OWN[8], 169: (1, [(20, 20), (40, 40)])}, None),
    "chain": ([(8, 169), (169, 61)], {8: (2, [(0, 0), (10, 0), (20, 20)])}, None),
    "absorbs_two": (
        [(8, 169), (8, 61)],
        {8: (2, [(0, 0), (10, 0), (40, 40), (20, 20)])},
        None,
    ),
    "two_absorbers": (
        [(8, 61), (169, 61)],
        {8: (2, [(0, 0), (10, 0), (40, 40)]), 169: (1, [(20, 20), (40, 40)])},
        None,
    ),
    # the dissolve (assume_disjoint=False) unions the doubled polygon away
    "duplicate": (
        [(169, 61), (169, 61)],
        {8: OWN[8], 169: (1, [(20, 20), (40, 40), (40, 40)])},
        {8: OWN[8], 169: (1, [(20, 20), (40, 40)])},
    ),
    "missing_absorber": ([(7, 61)], {8: OWN[8], 169: OWN[169]}, None),
    "self_merge": ([(8, 8)], {61: OWN[61], 169: OWN[169]}, None),
}


def _layout(df) -> dict:
    return {
        int(r.certificate_number): (
            r.n_source_polygons,
            [(min(x for x, _ in p[0]), min(y for _, y in p[0])) for p in r.geometry],
        )
        for r in df.collect()
    }


@pytest.mark.parametrize("case", sorted(MERGE_PINS))
def test_merge_and_patch_preference_pins(
    spark, kml_dir, certificates, chronology, case
):
    """Certificates, n_source_polygons and polygon order of the
    cleaned layer (concat and dissolve) and of the replay over the raw
    layer, for each acquisition-merge shape."""
    merges, want, dissolved = MERGE_PINS[case]
    glob = kml_dir + "/*.kml"

    def cleaned(assume_disjoint):
        return _layout(
            build_service_areas(
                spark, glob, certificates, chronology, [520], [59], merges,
                assume_disjoint=assume_disjoint,
            )
        )

    assert cleaned(True) == want
    assert cleaned(False) == (dissolved or want)
    raw = build_raw_service_areas(spark, glob, certificates).select(
        "certificate_number", "geometry", "n_source_polygons"
    )
    replayed = _layout(
        replay_service_areas_from_raw(raw, certificates, [520], [59], merges)
    )
    # the replay reads the raw layer, where 169 is its original (0,0)
    assert replayed == {
        c: (n, [(0, 0) if xy == (20, 20) else xy for xy in polys])
        for c, (n, polys) in want.items()
    }


def test_read_kml_reads_only_the_globbed_directory_level(spark, tmp_path):
    """A stray non-KML file and a nested KML copy are not read: the
    rows are exactly those of the top-level *.kml files."""
    import os
    import shutil

    from perfbench.gen import generate_service_areas

    generate_service_areas(1, str(tmp_path))
    d = tmp_path / "kml"
    top = sorted(d.glob("*.kml"))
    (d / "old").mkdir()
    shutil.copy(top[0], d / "old" / "x.kml")
    (d / "notes.txt").write_text("not a KML")
    want = sorted(
        (f.name, r["placemark_name"], len(r["geometry"]))
        for f in top
        for r in parse_kml_bytes(str(f), f.read_bytes())
    )
    got = sorted(
        (os.path.basename(r.path), r.placemark_name, len(r.geometry))
        for r in read_kml(spark, str(d / "*.kml")).collect()
    )
    assert len(got) == 55
    assert got == want


def test_geojson_round_trip(spark, kml_dir, certificates, chronology, tmp_path):
    out = build_service_areas(
        spark, kml_dir + "/*.kml", certificates, chronology, [520], [59], [(169, 61)]
    )
    path = str(tmp_path / "service-areas.geojson")
    write_geojson(out, path, multi=True)
    fc = json.loads(open(path).read())
    assert fc["type"] == "FeatureCollection" and len(fc["features"]) == 2
    props = {f["properties"]["certificate_number"] for f in fc["features"]}
    assert props == {8.0, 169.0}
    back = read_geojson(spark, path)
    # MultiPolygon features flatten to one row per polygon: 2 + 2
    assert back.count() == 4
    assert back.filter(F.col("geom_type") == "MultiPolygon").count() == 4


def test_html_table_source(spark, tmp_path):
    html = """<html><body>
    <table class="RCAGrid"><tr><th>Certificate Number</th><th>Entity</th></tr>
    <tr><td>8</td><td>Chugach <b>Electric</b></td></tr>
    <tr><td>169</td><td>AVEC</td></tr></table>
    <table class="other"><tr><td>noise</td></tr></table>
    </body></html>"""
    p = tmp_path / "page.html"
    p.write_text(html)
    df = read_html_tables(spark, str(p))
    grid = df.filter(F.col("table_class") == "RCAGrid").orderBy("row_idx").collect()
    assert [r.cells for r in grid] == [
        ["Certificate Number", "Entity"],
        ["8", "Chugach Electric"],
        ["169", "AVEC"],
    ]
    assert df.filter(F.col("table_class") == "other").count() == 1


def test_leaflet_map_from_pipeline(spark, kml_dir, certificates, chronology, tmp_path):
    """End of the reference pipeline (index.qmd): the cleaned layer
    exports to one self-contained interactive map whose inlined
    FeatureCollection matches the GeoJSON export exactly."""
    import re

    from utility_service_areas_spark.sources.geojson import write_leaflet_map

    out = build_service_areas(
        spark, kml_dir + "/*.kml", certificates, chronology, [520], [59], [(169, 61)]
    )
    path = str(tmp_path / "service-areas.html")
    write_leaflet_map(out, path, multi=True)
    html = open(path).read()
    m = re.search(r"const areas = (\{.*?\});\n", html, re.DOTALL)
    fc = json.loads(m.group(1))
    assert {f["properties"]["certificate_number"] for f in fc["features"]} == {
        8.0,
        169.0,
    }
    # popup properties carry the chronology metadata the map displays
    props = fc["features"][0]["properties"]
    assert "geometry_cert_sync_status" in props
    # presentation parity (index.qmd:140-192): base-layer control + scale bar
    assert "L.control.layers" in html and "L.control.scale" in html
