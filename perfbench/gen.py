"""Seeded input generators for the three benchmark workloads.

Every generator is a pure function of its seed: the same seed writes
the same bytes. The engine only ever receives the paths written here.

- ``service_areas``: a KML drop of star-shaped integer-coordinate
  certificate polygons (multi-polygon certificates, repairable invalid
  rings, holes, ``-plss-fix`` patch files, planted overlaps), the
  certificates and chronology CSVs, and lookup points. The expected
  answers (certificate set, polygon counts, areas, overlap pairs and
  point owners) are derived here from the construction, with exact
  integer arithmetic, never from the engine.
- ``documents``: the ``documents`` table with the schema of the
  ``sf*`` test data. A fixed share of the documents are near-duplicates
  of an earlier document.
"""

from __future__ import annotations

import json
import os
from fractions import Fraction

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- sizes

SA_CELLS = 12  # the certificates live on a SA_CELLS x SA_CELLS grid of cells
SA_CELL = 40  # cell edge, in coordinate units
SA_CERTS = 40  # certificates with a KML file
SA_MULTI = 12  # certificates with two polygons
SA_VERTS = 48  # vertices per outer ring (before rounding drops any)
SA_HOLE_EVERY = 3  # every third polygon has a centre hole
SA_OVERLAPS = 5  # planted overlapping certificate pairs
SA_PATCHED = 3  # certificates shipped with a -plss-fix KML
SA_OPERATORS = 2  # operator certificates (excluded from the layer)
SA_INACTIVE = 2  # curated-inactive certificates (excluded)
SA_REVOKED = 2  # certificate_status != Active (excluded)
SA_MERGES = 2  # acquisition merges (cert1 absorbs cert2)
SA_POINTS = 400  # lookup points

DOCS = 400  # rows of the documents table
DOC_BASES = 50  # documents with near-duplicates
DOC_COPIES = 2  # near-duplicates of each
DOC_EDIT_SHARE = 0.08  # share of a near-duplicate's tokens replaced

# Text as in the sf0.1 ``documents`` table: its 31-word vocabulary,
# token counts spread evenly over 10..100 (sf0.1's 5/50/95% quantiles
# are 14/54/94 tokens), its language shares (about 41% en, the rest
# evenly de/es/fr/zh) and 20 sources.
DOC_TOKENS = (10, 100)
VOCAB = (
    "row the query stream fast spark line small customer group key agg "
    "scan slow table part a merge window order column join vector value "
    "hash batch sort data big filter"
).split()


# ------------------------------------------------------ service areas

KML_HEAD = (
    '<?xml version="1.0" encoding="UTF-8"?>\n'
    '<kml xmlns="http://www.opengis.net/kml/2.2"><Document>\n'
)
KML_TAIL = "</Document></kml>\n"

CERT_HEADER = (
    "certificate_number,certificate_type,entity,certificate_name,"
    "utility_type,certificate_status,cpcn_url,entity_url,kml_update_date\n"
)
CHRON_HEADER = (
    "certificate_number,docket_number,order_id,order_date,order_type,comment\n"
)


def _star(rng: np.random.Generator, cx: int, cy: int, r_lo: int, r_hi: int):
    """Integer-vertex star-shaped ring around (cx, cy), CCW, closed.
    Distinct, strictly increasing vertex angles keep it simple; every
    vertex is at least ``r_lo - 1`` from the centre."""
    n = SA_VERTS
    ring: list[tuple[int, int]] = []
    last = None
    for i in range(n):
        ang = 2 * np.pi * (i + 0.5 * rng.random()) / n
        rad = r_lo + (r_hi - r_lo) * rng.random()
        pt = (cx + int(round(rad * np.cos(ang))), cy + int(round(rad * np.sin(ang))))
        a = np.arctan2(pt[1] - cy, pt[0] - cx) % (2 * np.pi)
        if last is not None and a <= last + 1e-9:
            continue  # rounding collapsed two angles: drop the vertex
        ring.append(pt)
        last = a
    return ring + [ring[0]]


def _twice_area(ring) -> int:
    return sum(
        ring[i][0] * ring[i + 1][1] - ring[i + 1][0] * ring[i][1]
        for i in range(len(ring) - 1)
    )


def _inside(x: Fraction, y: Fraction, ring) -> bool:
    """Exact even-odd ray cast (the point is never on an edge here)."""
    hit = False
    for (x1, y1), (x2, y2) in zip(ring, ring[1:]):
        if (y1 > y) != (y2 > y):
            xi = x1 + (y - y1) * Fraction(x2 - x1, y2 - y1)
            if x < xi:
                hit = not hit
    return hit


def _in_polygon(x: Fraction, y: Fraction, poly) -> bool:
    return _inside(x, y, poly[0]) and not any(_inside(x, y, h) for h in poly[1:])


def _rings_intersect(a, b) -> bool:
    def orient(p, q, r):
        v = (q[0] - p[0]) * (r[1] - p[1]) - (q[1] - p[1]) * (r[0] - p[0])
        return (v > 0) - (v < 0)

    def on_seg(p, q, r):
        return min(p[0], q[0]) <= r[0] <= max(p[0], q[0]) and min(p[1], q[1]) <= r[
            1
        ] <= max(p[1], q[1])

    for p1, p2 in zip(a, a[1:]):
        for p3, p4 in zip(b, b[1:]):
            o1, o2 = orient(p1, p2, p3), orient(p1, p2, p4)
            o3, o4 = orient(p3, p4, p1), orient(p3, p4, p2)
            if o1 != o2 and o3 != o4:
                return True
            if (o1 == 0 and on_seg(p1, p2, p3)) or (o2 == 0 and on_seg(p1, p2, p4)):
                return True
            if (o3 == 0 and on_seg(p3, p4, p1)) or (o4 == 0 and on_seg(p3, p4, p2)):
                return True
    return False


def _polys_intersect(a, b) -> bool:
    """Boundary crossing or containment of one polygon's vertex in the
    other (the two predicates of an intersects test)."""
    if _rings_intersect(a[0], b[0]):
        return True
    return _in_polygon(Fraction(a[0][0][0]), Fraction(a[0][0][1]), b) or _in_polygon(
        Fraction(b[0][0][0]), Fraction(b[0][0][1]), a
    )


def _kml_ring(ring, mode: str) -> str:
    """Coordinates text of a ring, with the seeded defect ``mode``:
    'ok', 'unclosed' (last vertex dropped), 'dupes' (consecutive
    duplicate vertices) or 'cw' (reversed orientation)."""
    pts = list(ring)
    if mode == "unclosed":
        pts = pts[:-1]
    elif mode == "dupes":
        pts = [p for i, p in enumerate(pts) for _ in range(2 if i % 5 == 0 else 1)]
    elif mode == "cw":
        pts = pts[::-1]
    return " ".join(f"{x},{y},0" for x, y in pts)


def _kml_polygon(poly, modes) -> str:
    out = [
        "<Polygon><outerBoundaryIs><LinearRing><coordinates>"
        + _kml_ring(poly[0], modes[0])
        + "</coordinates></LinearRing></outerBoundaryIs>"
    ]
    for hole, mode in zip(poly[1:], modes[1:]):
        out.append(
            "<innerBoundaryIs><LinearRing><coordinates>"
            + _kml_ring(hole, mode)
            + "</coordinates></LinearRing></innerBoundaryIs>"
        )
    return "".join(out) + "</Polygon>"


def _kml_file(name: str, desc: str, polys, rng: np.random.Generator) -> str:
    geoms = []
    for poly in polys:
        modes = [str(rng.choice(["ok", "ok", "unclosed", "dupes", "cw"]))]
        # holes: 'cw' is the VALID hole orientation after repair, so a
        # reversed hole is the CCW one make_valid must flip
        modes += [str(rng.choice(["ok", "cw", "dupes"])) for _ in poly[1:]]
        geoms.append(_kml_polygon(poly, modes))
    body = (
        f"<Placemark><name>{name}</name><description>{desc}</description>"
        f"<MultiGeometry>{''.join(geoms)}</MultiGeometry></Placemark>\n"
    )
    return KML_HEAD + body + KML_TAIL


def _cert_polys(rng, cells: list[tuple[int, int]], first_index: int):
    polys = []
    for i, (gx, gy) in enumerate(cells, first_index):
        cx = gx * SA_CELL + SA_CELL // 2
        cy = gy * SA_CELL + SA_CELL // 2
        outer = _star(rng, cx, cy, 10, 17)
        poly = [outer]
        if i % SA_HOLE_EVERY == 0:  # square hole around the centre, CW
            poly.append([(cx - 2, cy - 2), (cx - 2, cy + 2), (cx + 2, cy + 2), (cx + 2, cy - 2), (cx - 2, cy - 2)])
        polys.append(poly)
    return polys


def _poly_twice_area(poly) -> int:
    return abs(_twice_area(poly[0])) - sum(abs(_twice_area(h)) for h in poly[1:])


def generate_service_areas(seed: int, out_dir: str) -> dict:
    """Write ``kml/``, ``certificates.csv``, ``chronology.csv`` and
    ``points.csv`` under ``out_dir``; write and return the expected
    answers (also saved as ``expected.json``)."""
    rng = np.random.default_rng([seed, 1])
    kml_dir = os.path.join(out_dir, "kml")
    os.makedirs(kml_dir, exist_ok=True)

    cells = [(x, y) for x in range(SA_CELLS) for y in range(SA_CELLS)]
    order = rng.permutation(len(cells))
    free = [cells[i] for i in order]
    cert_ids = sorted(int(c) for c in rng.choice(np.arange(1, 1000), SA_CERTS, replace=False))
    geoms: dict[int, list] = {}
    multi = {int(c) for c in rng.choice(cert_ids, SA_MULTI, replace=False)}
    n_polys = 0
    for cid in cert_ids:
        k = 2 if cid in multi else 1
        geoms[cid] = _cert_polys(rng, [free.pop() for _ in range(k)], n_polys)
        n_polys += k

    pick = [int(c) for c in rng.permutation(cert_ids)]
    operators, pick = pick[:SA_OPERATORS], pick[SA_OPERATORS:]
    inactive, pick = pick[:SA_INACTIVE], pick[SA_INACTIVE:]
    revoked, pick = pick[:SA_REVOKED], pick[SA_REVOKED:]
    merges = []
    for _ in range(SA_MERGES):
        merges.append((pick[0], pick[1]))
        pick = pick[2:]
    patched, pick = pick[:SA_PATCHED], pick[SA_PATCHED:]
    overlap_hosts, pick = pick[:SA_OVERLAPS], pick[SA_OVERLAPS:]
    overlap_guests, pick = pick[:SA_OVERLAPS], pick[SA_OVERLAPS:]

    # planted overlaps: the guest's first polygon moves next to the
    # host's first polygon centre, so the two outer rings cross
    for host, guest in zip(overlap_hosts, overlap_guests):
        hx = sum(p[0] for p in geoms[host][0][0][:-1]) // (len(geoms[host][0][0]) - 1)
        hy = sum(p[1] for p in geoms[host][0][0][:-1]) // (len(geoms[host][0][0]) - 1)
        cx, cy = hx + 12, hy + int(rng.integers(-3, 4))
        geoms[guest][0] = [_star(rng, cx, cy, 6, 9)]

    # patch files replace the original geometry with a fresh one in
    # the certificate's first cell
    patch_geoms = {}
    for cid in patched:
        x0 = geoms[cid][0][0][0][0]
        y0 = geoms[cid][0][0][0][1]
        gx, gy = x0 // SA_CELL, y0 // SA_CELL
        patch_geoms[cid] = _cert_polys(rng, [(gx, gy)], 1)

    for cid in cert_ids:
        with open(os.path.join(kml_dir, f"{cid}-servicearea.kml"), "w") as f:
            f.write(_kml_file(f"Certificate No. {cid}", f"Granted to: Utility {cid}", geoms[cid], rng))
    for cid, polys in patch_geoms.items():
        with open(os.path.join(kml_dir, f"{cid}-servicearea-plss-fix.kml"), "w") as f:
            f.write(_kml_file("", "", polys, rng))

    # certificates CSV: every KML certificate plus a few without KML,
    # one unparseable number and one duplicate row (dedupe keeps the
    # row whose certificate_name sorts first)
    lines = [CERT_HEADER]
    extra = [c for c in range(1000, 1000 + 5)]
    for cid in cert_ids + extra:
        status = "Revoked" if cid in revoked else "Active"
        kdate = f"20{10 + cid % 12:02d}-0{1 + cid % 9}-15" if cid % 3 else ""
        lines.append(
            f"{cid},Electric,Entity {cid},Utility {cid},Utility,{status},"
            f"http://rca/{cid},,{kdate}\n"
        )
    lines.append(f"{cert_ids[0]},Electric,Dup,ZZZ duplicate,Utility,Active,http://rca/dup,,\n")
    lines.append("N/A,Electric,Junk,Junk,Utility,Active,,,\n")
    with open(os.path.join(out_dir, "certificates.csv"), "w") as f:
        f.writelines(lines)

    lines = [CHRON_HEADER]
    for cid in cert_ids:
        for j in range(cid % 4):
            y = 1970 + int(rng.integers(0, 54))
            lines.append(
                f"{cid},U-{y % 100:02d}-{cid},{j + 1},{1 + j}/{1 + cid % 27}/{y},"
                f"{'Original Certificate' if j == 0 else 'Service Area Change'},\n"
            )
    with open(os.path.join(out_dir, "chronology.csv"), "w") as f:
        f.writelines(lines)

    # the expected cleaned layer
    final_geoms = {cid: (patch_geoms.get(cid) or geoms[cid]) for cid in cert_ids}
    excluded = set(operators) | set(inactive) | set(revoked)
    absorbed = {c2 for _, c2 in merges}
    owner = {cid: cid for cid in cert_ids}
    for c1, c2 in merges:
        owner[c2] = c1
    kept = sorted(c for c in cert_ids if c not in excluded and c not in absorbed)
    layer: dict[int, list] = {c: list(final_geoms[c]) for c in kept}
    for c1, c2 in sorted(merges, key=lambda m: m[1]):
        layer[c1].extend(final_geoms[c2])

    twice = {c: sum(_poly_twice_area(p) for p in layer[c]) for c in kept}
    overlap = set()
    items = [(c, p) for c in kept for p in layer[c]]
    boxes = [
        (min(x for x, _ in p[0]), max(x for x, _ in p[0]), min(y for _, y in p[0]), max(y for _, y in p[0]))
        for _, p in items
    ]
    for i in range(len(items)):
        for j in range(i + 1, len(items)):
            (ca, pa), (cb, pb) = items[i], items[j]
            if ca == cb:
                continue
            ba, bb = boxes[i], boxes[j]
            if ba[0] > bb[1] or bb[0] > ba[1] or ba[2] > bb[3] or bb[2] > ba[3]:
                continue
            if _polys_intersect(pa, pb):
                overlap.add((min(ca, cb), max(ca, cb)))

    # lookup points: most a few units from a kept polygon's centre, the
    # rest in empty cells; owners are computed exactly. Offsets are
    # irregular fractions, never on an edge.
    points = []
    owned = []
    for pid in range(SA_POINTS):
        r = rng.random()
        if r < 0.15:
            gx, gy = free[int(rng.integers(0, len(free)))]
            x = Fraction(gx * SA_CELL + 3) + Fraction(int(rng.integers(1, 997)), 1000)
            y = Fraction(gy * SA_CELL + 3) + Fraction(int(rng.integers(1, 997)), 1000)
        else:
            c, p = items[int(rng.integers(0, len(items)))]
            ring = p[0][:-1]
            cx = Fraction(sum(q[0] for q in ring), len(ring))
            cy = Fraction(sum(q[1] for q in ring), len(ring))
            ang = rng.random() * 2 * np.pi
            x = cx + Fraction(round(3.3 * np.cos(ang) * 4096) + 1, 4096) + Fraction(1, 3)
            y = cy + Fraction(round(3.3 * np.sin(ang) * 4096) + 1, 4096) + Fraction(1, 7)
        # snap to a binary fraction so the CSV value is exact
        x = Fraction(round(x * 2**20), 2**20)
        y = Fraction(round(y * 2**20), 2**20)
        points.append((pid, x, y))
        hits = {
            c
            for (c, p), b in zip(items, boxes)
            if b[0] < x < b[1] and b[2] < y < b[3] and _in_polygon(x, y, p)
        }
        owned.extend((pid, c) for c in sorted(hits))
    with open(os.path.join(out_dir, "points.csv"), "w") as f:
        f.write("point_id,px,py\n")
        for pid, x, y in points:
            f.write(f"{pid},{float(x)!r},{float(y)!r}\n")

    # the seeded one-file edit for the rerun: a kept, unpatched,
    # single-owner certificate whose first polygon has no hole and is a
    # full-size star (not an overlap guest) gains a 2x2 hole at the
    # mean of its ring's vertices, well inside the ring
    edit_cands = [
        c
        for c in kept
        if c not in patched and c not in overlap_guests and owner[c] == c and len(geoms[c][0]) == 1
    ]
    edit_cert = int(edit_cands[int(rng.integers(0, len(edit_cands)))])
    ring = geoms[edit_cert][0][0][:-1]
    edit_hole = [sum(q[0] for q in ring) // len(ring), sum(q[1] for q in ring) // len(ring)]

    expected = {
        "seed": seed,
        "certificates": kept,
        "n_polygons": {str(c): len(layer[c]) for c in kept},
        "area_milli": {str(c): twice[c] * 500 for c in kept},
        "overlap_pairs": sorted(list(p) for p in overlap),
        "point_owners": sorted(list(p) for p in owned),
        "operator_ids": sorted(operators),
        "inactive_ids": sorted(inactive),
        "merge_patches": [list(m) for m in merges],
        "edit_cert": edit_cert,
        "edit_hole": edit_hole,
        "edit_area_milli": (twice[edit_cert] - 8) * 500,
    }
    with open(os.path.join(out_dir, "expected.json"), "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
    return expected


def edit_hole_ring(expected: dict) -> list[tuple[int, int]]:
    """The 2x2 hole of the seeded edit, CW and closed."""
    hx, hy = expected["edit_hole"]
    return [(hx, hy), (hx, hy + 2), (hx + 2, hy + 2), (hx + 2, hy), (hx, hy)]


def apply_kml_edit(out_dir: str, expected: dict) -> str:
    """The seeded one-file edit: the edit certificate's first polygon
    gains the 2x2 hole of ``edit_hole_ring`` (area falls by exactly 4).
    Returns the edited file's path."""
    cid = expected["edit_cert"]
    path = os.path.join(out_dir, "kml", f"{cid}-servicearea.kml")
    with open(path) as f:
        text = f.read()
    hole = " ".join(f"{x},{y},0" for x, y in edit_hole_ring(expected))
    end = text.index("</outerBoundaryIs>") + len("</outerBoundaryIs>")
    text = (
        text[:end]
        + f"<innerBoundaryIs><LinearRing><coordinates>{hole}</coordinates></LinearRing></innerBoundaryIs>"
        + text[end:]
    )
    with open(path, "w") as f:
        f.write(text)
    return path


# ---------------------------------------------------------- documents


def generate_documents(seed: int, out_dir: str) -> dict:
    """Write ``documents.parquet`` (the schema of the sf* test data:
    doc_id, text, lang, source, n_chars) under ``out_dir``: DOCS rows of
    VOCAB words in a seeded order. Fresh documents take DOC_TOKENS
    tokens, evenly spread;
    DOC_BASES of them, at fixed length ranks, each get DOC_COPIES
    near-duplicates with DOC_EDIT_SHARE of their tokens replaced. Every
    seed writes the same amount of text in the same cluster shapes, so
    seeds differ in content, not in work. Returns the row and
    near-duplicate counts."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    n_fresh = DOCS - DOC_BASES * DOC_COPIES
    fresh = [
        [VOCAB[k] for k in rng.integers(0, len(VOCAB), int(n))]
        for n in np.linspace(*DOC_TOKENS, n_fresh).round()
    ]
    docs = list(fresh)
    for base in fresh[:: n_fresh // DOC_BASES][:DOC_BASES]:
        for _ in range(DOC_COPIES):
            toks = list(base)
            k = max(1, round(len(toks) * DOC_EDIT_SHARE))
            for j in rng.choice(len(toks), k, replace=False):
                shift = int(rng.integers(1, len(VOCAB)))
                toks[j] = VOCAB[(VOCAB.index(toks[j]) + shift) % len(VOCAB)]
            docs.append(toks)
    texts = [" ".join(docs[i]) for i in rng.permutation(DOCS)]
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(DOCS), pa.int64()),
            "text": texts,
            "lang": rng.choice(["en", "en", "en", "de", "es", "fr", "zh"], DOCS).tolist(),
            "source": [f"src{k}" for k in rng.integers(0, 20, DOCS)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(table, os.path.join(out_dir, "documents.parquet"))
    return {"documents": DOCS, "near_duplicates": DOC_BASES * DOC_COPIES}


def input_bytes(path: str) -> int:
    """Total bytes of the engine-facing input files under ``path``."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            if name.endswith((".kml", ".csv", ".parquet")):
                total += os.path.getsize(os.path.join(root, name))
    return total
