"""Parity gate against the reference's real-fixture goldens.

Runs the full pipeline over the 30 real reference areas
(sources/reference_fixtures.py) and diffs the rendered features
against each area's geometry.json — the same artifact the reference's
own snapshot test regenerates and compares byte-for-byte
(tests/src/lib.rs:53-69). Exact-byte parity with a different geometry
kernel is not meaningful; this gate checks, per SURVEY §5:
  * topology: road / intersection counts,
  * identity: features matched by OSM way-id sets / node ids
    (MapEdges and merged junctions by location),
  * properties: control / intersection_kind / layer on matched pairs,
  * geometry: centroid distance in meters on matched pairs.
"""

from __future__ import annotations

import json
import math
from collections import defaultdict

M_PER_DEG = 111_194.92664455873


def _centroid(ring) -> tuple[float, float]:
    """Polygon AREA centroid (shoelace), not the vertex mean: the
    vertex mean is biased toward the ring's (arbitrary) start vertex by
    the GeoJSON closing duplicate and by collinear vertex splits, which
    inflated d_int by ~0.5-1.5 m on byte-identical-shape rings."""
    pts = list(ring)
    if pts[0] != pts[-1]:
        pts.append(pts[0])
    # translate to the first vertex before the shoelace: raw lon/lat
    # coordinates (~1e2 deg) on meter-scale rings cancel catastrophically
    ox, oy = pts[0][0], pts[0][1]
    a2 = cx = cy = 0.0
    for p, q in zip(pts, pts[1:]):
        x0, y0 = p[0] - ox, p[1] - oy
        x1, y1 = q[0] - ox, q[1] - oy
        cross = x0 * y1 - x1 * y0
        a2 += cross
        cx += (x0 + x1) * cross
        cy += (y0 + y1) * cross
    if abs(a2) < 1e-18:
        xs = [p[0] for p in ring]
        ys = [p[1] for p in ring]
        return sum(xs) / len(xs), sum(ys) / len(ys)
    return ox + cx / (3.0 * a2), oy + cy / (3.0 * a2)


def _dist_m(a, b) -> float:
    ky = M_PER_DEG
    kx = M_PER_DEG * math.cos(math.radians((a[1] + b[1]) / 2.0))
    return math.hypot((a[0] - b[0]) * kx, (a[1] - b[1]) * ky)


def _ring_area_m2(ring) -> float:
    if len(ring) < 3:
        return 0.0
    lat0 = ring[0][1]
    kx = M_PER_DEG * math.cos(math.radians(lat0))
    ky = M_PER_DEG
    s = 0.0
    for (x1, y1), (x2, y2) in zip(ring, ring[1:]):
        s += (x1 * kx) * (y2 * ky) - (x2 * kx) * (y1 * ky)
    return abs(s) / 2.0


def _ring_geom_exact(g_ring, o_ring, tol_m: float = 0.01) -> bool:
    """True geometric exactness for the parity gate's OR-branch: same
    vertex count AND every vertex within tol_m (default 1 cm) of its
    counterpart, after canonicalizing both rings (closing duplicate
    dropped, rotation to the lexicographically smallest vertex, both
    orientations tried). 1 cm ≈ 1e-7 deg — far below any real
    algorithmic divergence, so this measures "same ring up to float
    noise", the practical meaning of byte-exact across a Rust and a
    numpy kernel."""
    def canon(ring):
        pts = [tuple(p) for p in ring]
        if len(pts) > 1 and pts[0] == pts[-1]:
            pts = pts[:-1]
        # Fold adjacent vertices closer than tol_m into one (wrap-around
        # included). The two engines dedupe ring vertices at different
        # thresholds — the reference keeps points one 0.1 mm quantum
        # apart (Pt2D exact equality), ours folds float-noise dupes — so
        # "identical within tol" must compare the folded rings, else a
        # sub-tolerance bookkeeping vertex fails the whole ring on count.
        folded = []
        for p in pts:
            if folded and _dist_m(p, folded[-1]) <= tol_m:
                continue
            folded.append(p)
        if len(folded) > 1 and _dist_m(folded[0], folded[-1]) <= tol_m:
            folded.pop()
        pts = folded
        if not pts:
            return pts
        k = min(range(len(pts)), key=lambda i: pts[i])
        return pts[k:] + pts[:k]

    a = canon(g_ring)
    for cand in (o_ring, list(reversed(o_ring))):
        b = canon(cand)
        if len(a) != len(b) or not a:
            continue
        if all(_dist_m(p, q) <= tol_m for p, q in zip(a, b)):
            return True
    return False


def _greedy_match(golden, ours, max_dist_m: float):
    """Greedy nearest-centroid matching between two feature lists."""
    pairs = []
    for gi, g in enumerate(golden):
        for oi, o in enumerate(ours):
            d = _dist_m(g["_c"], o["_c"])
            if d <= max_dist_m:
                pairs.append((d, gi, oi))
    pairs.sort()
    used_g, used_o, out = set(), set(), []
    for d, gi, oi in pairs:
        if gi in used_g or oi in used_o:
            continue
        used_g.add(gi)
        used_o.add(oi)
        out.append((golden[gi], ours[oi], d))
    return out


def compare_area(golden: dict, our_roads: list[dict],
                 our_ints: list[dict]) -> dict:
    """golden: load_golden() output. our_*: dicts with ring (lon/lat
    list), plus properties (osm_way_ids / osm_node_ids / control /
    intersection_kind / layer)."""
    for f in golden["roads"] + golden["intersections"] + our_roads + our_ints:
        f["_c"] = _centroid(f["ring"])

    # ---- intersections: exact node-id key first, then location ------
    g_by_key, g_rest = defaultdict(list), []
    for g in golden["intersections"]:
        ids = frozenset(g.get("osm_node_ids") or [])
        (g_by_key[ids] if ids else g_rest).append(g)
    int_pairs = []
    o_rest = []
    for o in our_ints:
        ids = frozenset(o.get("osm_node_ids") or [])
        if ids and g_by_key.get(ids):
            int_pairs.append((g_by_key[ids].pop(0), o, 0.0))
        else:
            o_rest.append(o)
    for lst in g_by_key.values():
        g_rest.extend(lst)
    loc_pairs = _greedy_match(g_rest, o_rest, 15.0)
    n_exact = len(int_pairs)
    int_pairs += loc_pairs

    control_ok = sum(1 for g, o, _ in int_pairs
                     if g.get("control") == o.get("control"))
    kind_ok = sum(1 for g, o, _ in int_pairs
                  if g.get("intersection_kind") == o.get("intersection_kind"))
    int_dists = [_dist_m(g["_c"], o["_c"]) for g, o, _ in int_pairs]
    int_geom_exact = sum(1 for g, o, _ in int_pairs
                         if _ring_geom_exact(g["ring"], o["ring"]))

    # ---- roads: way-id-set key, disambiguate by centroid ------------
    g_road_key, g_road_rest = defaultdict(list), []
    for g in golden["roads"]:
        g_road_key[tuple(sorted(g.get("osm_way_ids") or []))].append(g)
    road_pairs = []
    o_road_rest = []
    for o in our_roads:
        key = tuple(sorted(o.get("osm_way_ids") or []))
        cands = g_road_key.get(key)
        if cands:
            best = min(range(len(cands)),
                       key=lambda i: _dist_m(cands[i]["_c"], o["_c"]))
            g = cands.pop(best)
            road_pairs.append((g, o, _dist_m(g["_c"], o["_c"])))
        else:
            o_road_rest.append(o)
    for lst in g_road_key.values():
        g_road_rest.extend(lst)
    road_loc_pairs = _greedy_match(g_road_rest, o_road_rest, 10.0)
    road_pairs += road_loc_pairs
    road_geom_exact = sum(1 for g, o, _ in road_pairs
                          if _ring_geom_exact(g["ring"], o["ring"]))

    layer_ok = sum(1 for g, o, _ in road_pairs
                   if int(g.get("layer") or 0) == int(o.get("layer") or 0))
    road_dists = [_dist_m(g["_c"], o["_c"]) for g, o, _ in road_pairs]
    area_ratios = []
    for g, o, _ in road_pairs:
        ga, oa = _ring_area_m2(g["ring"]), _ring_area_m2(o["ring"])
        if ga > 1.0:
            area_ratios.append(oa / ga)

    ng_i, no_i = len(golden["intersections"]), len(our_ints)
    ng_r, no_r = len(golden["roads"]), len(our_roads)
    m = {
        "golden_roads": ng_r, "our_roads": no_r,
        "golden_ints": ng_i, "our_ints": no_i,
        # int_matched_by_id counts pairs matched via exact osm_node_id
        # key (an IDENTITY metric — says nothing about geometry);
        # *_geom_exact count matched pairs whose RINGS are identical to
        # within 1 cm per vertex after canonicalization (the true
        # byte-exactness metric, per round-5 ADVICE).
        "int_matched": len(int_pairs), "int_matched_by_id": n_exact,
        "int_geom_exact": int_geom_exact,
        "road_matched": len(road_pairs),
        "road_geom_exact": road_geom_exact,
        "int_match_pct": round(100 * len(int_pairs) / max(ng_i, 1), 1),
        "road_match_pct": round(100 * len(road_pairs) / max(ng_r, 1), 1),
        "control_agree_pct": round(
            100 * control_ok / max(len(int_pairs), 1), 1),
        "kind_agree_pct": round(100 * kind_ok / max(len(int_pairs), 1), 1),
        "layer_agree_pct": round(100 * layer_ok / max(len(road_pairs), 1), 1),
        "mean_int_dist_m": round(sum(int_dists) / max(len(int_dists), 1), 2),
        "mean_road_dist_m": round(
            sum(road_dists) / max(len(road_dists), 1), 2),
        "mean_area_ratio": round(
            sum(area_ratios) / max(len(area_ratios), 1), 3),
    }
    # pass bar (round-3, tightened from 90/85): topology within 3% or
    # ±2, ≥97% matched, ≥95% property agreement on matched pairs.
    # Round-5 tightening (after 30/30 at the round-3 bar): matched
    # polygons must also CONVERGE NUMERICALLY — mean area-centroid
    # distance ≤ 0.5 m on matched intersections, OR ≥80% of matched
    # intersections GEOMETRICALLY exact (ring-identical to 1 cm per
    # vertex — round-5 ADVICE: the previous OR-branch counted node-ID
    # key matches, which say nothing about geometry). (d_int uses the
    # polygon area centroid; the previous vertex-mean metric was
    # dominated by the ring's arbitrary start vertex, hiding that real
    # distances are ~0.1 m.)
    close = lambda a, b: abs(a - b) <= max(2, 0.03 * max(a, b))
    exact_frac = int_geom_exact / max(len(int_pairs), 1)
    m["pass"] = bool(
        close(ng_r, no_r) and close(ng_i, no_i)
        and m["int_match_pct"] >= 97 and m["road_match_pct"] >= 97
        and m["control_agree_pct"] >= 95 and m["kind_agree_pct"] >= 95
        and (m["mean_int_dist_m"] <= 0.5 or exact_frac >= 0.8)
    )
    return m


def _features_to_lists(feature_rows) -> tuple[list[dict], list[dict]]:
    """Rows of the pipeline's features table (feature_json strings) →
    (roads, intersections) dicts shaped like the golden loader's."""
    roads, ints = [], []
    for fj in feature_rows:
        ft = json.loads(fj)
        p = ft["properties"]
        rec = {"ring": ft["geometry"]["coordinates"][0], **p}
        if p.get("type") == "road":
            roads.append(rec)
        else:
            ids = p.get("osm_node_ids")
            if isinstance(ids, int):
                ids = [ids]
            rec["osm_node_ids"] = [i for i in (ids or []) if i and i > 0]
            ints.append(rec)
    return roads, ints


def run_reference_parity(spark, areas: list[str] | None = None) -> dict:
    """Run the pipeline over reference areas grouped by driving side;
    return {area: metrics}."""
    from ..config import MapConfig
    from ..sources.reference_fixtures import (
        area_driving_side, list_reference_areas, load_golden,
        reference_documents,
    )
    from .pipeline import convert_features

    areas = areas or list_reference_areas()
    by_side = defaultdict(list)
    for a in areas:
        by_side[area_driving_side(a)].append(a)

    results = {}
    for side, group in sorted(by_side.items()):
        docs = reference_documents(spark, group).repartition(
            max(spark.sparkContext.defaultParallelism, len(group)), "doc_id")
        # reference MapConfig::default(): separate sidewalks/crossings
        # kept, no sidewalk inference (osm2lanes/src/lib.rs:588);
        # standard_for_clipped_areas keeps disconnected roads
        # (transform/mod.rs:21-29)
        cfg = MapConfig(driving_side=side, inferred_sidewalks=False,
                        remove_disconnected=False)
        feats = (convert_features(docs, cfg)
                 .select("doc_id", "feature_json")
                 .groupBy("doc_id")
                 .agg({"feature_json": "collect_list"})
                 .collect())
        by_doc = {r["doc_id"]: r["collect_list(feature_json)"] for r in feats}
        for a in group:
            rows = by_doc.get(f"ref:{a}", [])
            our_roads, our_ints = _features_to_lists(rows)
            results[a] = compare_area(load_golden(a), our_roads, our_ints)
    return results


def write_parity_report(results: dict, path: str = "FIXTURES_PARITY.md"):
    lines = [
        "# Reference-fixture parity (tests/src/* vs our pipeline)", "",
        "| area | pass | roads g/o | ints g/o | int% | road% | ctrl% "
        "| kind% | d_int m | d_road m |",
        "|---|---|---|---|---|---|---|---|---|---|",
    ]
    for a in sorted(results):
        m = results[a]
        lines.append(
            f"| {a} | {'✅' if m['pass'] else '❌'} "
            f"| {m['golden_roads']}/{m['our_roads']} "
            f"| {m['golden_ints']}/{m['our_ints']} "
            f"| {m['int_match_pct']} | {m['road_match_pct']} "
            f"| {m['control_agree_pct']} | {m['kind_agree_pct']} "
            f"| {m['mean_int_dist_m']} | {m['mean_road_dist_m']} |")
    n_pass = sum(1 for m in results.values() if m["pass"])
    lines += ["", f"**{n_pass}/{len(results)} areas pass.**", ""]
    with open(path, "w") as f:
        f.write("\n".join(lines))
    return n_pass
