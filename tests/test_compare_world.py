"""compare_stops at synthetic scale: categories verified against an exact
numpy Vincenty brute force (the HART fixture is 3.8k x 7k; this pins the
same semantics on a generated world with planted modes + gate chaff)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from gtfs_osm_sync_spark import synth
from gtfs_osm_sync_spark.functions.geo import vincenty_m_np
from gtfs_osm_sync_spark.operators import compare as C

N = 2000


@pytest.fixture(scope="module")
def world(spark):
    stops, nodes = synth.generate_compare_world(spark, N, partitions=4)
    cmp = C.compare_stops(
        stops,
        nodes,
        agency_names=[synth.COMPARE_AGENCY],
        id_digits=synth._CMP_DIGITS,
    ).cache()
    yield cmp
    cmp.unpersist()


def _brute_force_categories():
    ids = np.arange(N, dtype=np.uint64)
    stops = synth.gen_compare_stops_pdf(ids)
    nodes = synth.gen_compare_nodes_pdf(ids)
    # operator gate
    keep = nodes["tags"].map(
        lambda t: t.get("operator") in (None, "missing", synth.COMPARE_AGENCY)
    )
    nodes = nodes[keep].reset_index(drop=True)
    node_gid = nodes["tags"].map(
        lambda t: t.get("gtfs_id", "").zfill(synth._CMP_DIGITS) if "gtfs_id" in t else None
    )
    slat = stops["lat"].to_numpy()
    slon = stops["lon"].to_numpy()
    nlat = nodes["lat"].to_numpy()
    nlon = nodes["lon"].to_numpy()
    cats = {}
    gid_to_idx = {g: j for j, g in stops["gtfs_id"].items()}
    # id matches
    for j in range(len(nodes)):
        g = node_gid[j]
        if g is None or g not in gid_to_idx:
            continue
        i = gid_to_idx[g]
        d = float(vincenty_m_np(nlat[j], nlon[j], slat[i], slon[i]))
        if d >= 400.0:
            continue
        if g in cats:
            continue  # first in doc order wins (nodes generated in order)
        gtags = {
            "gtfs_id": g,
            "operator": synth.COMPARE_AGENCY,
            "name": stops["name_raw"][i],
            "gtfs_stop_code": stops["gtfs_stop_code"][i],
        }
        ntags = nodes["tags"][j]
        # node gtfs_id is unpadded in tags; compare pads it at ingest
        ntags = {**ntags, "gtfs_id": g} if "gtfs_id" in ntags else ntags
        diff_empty = all(
            k in ntags and (ntags[k].upper() == v.upper() or v in ntags[k])
            for k, v in gtags.items()
        )
        cats[g] = "NOTHING_NEW" if (d <= 0.5 and diff_empty) else "MODIFY"
    # conflicts among the unmatched
    gtfs_ids = set(stops["gtfs_id"])
    foreign = [
        j
        for j in range(len(nodes))
        if node_gid[j] is None or node_gid[j] not in gtfs_ids
    ]
    flat = nlat[foreign]
    flon = nlon[foreign]
    for i, g in enumerate(stops["gtfs_id"]):
        if g in cats:
            continue
        if len(flat):
            d = vincenty_m_np(flat, flon, np.full_like(flat, slat[i]), np.full_like(flon, slon[i]))
            if bool(((d > 0.5) & (d < 400.0)).any()):
                cats[g] = "UPLOAD_CONFLICT"
                continue
        cats[g] = "UPLOAD_NO_CONFLICT"
    return cats


def test_compare_world_matches_brute_force(world):
    got = {r["gtfs_id"]: r["category"] for r in world.select("gtfs_id", "category").collect()}
    want = _brute_force_categories()
    assert len(got) == N
    mismatches = {g: (want[g], got[g]) for g in want if got[g] != want[g]}
    assert not mismatches, f"{len(mismatches)} category mismatches, e.g. {list(mismatches.items())[:5]}"
    # sanity: every planted mode occurs in bulk
    from collections import Counter

    c = Counter(want.values())
    assert c["NOTHING_NEW"] >= N // 5 - 5
    assert c["MODIFY"] >= 2 * (N // 5) - 10
    assert c["UPLOAD_CONFLICT"] >= N // 5 - 50


def test_compare_world_merged_tags(world):
    """Mode-0 stops (NOTHING_NEW) merge the node's extra keys without
    overwriting gtfs values; mode-1 (MODIFY via name diff) takes the OSM
    name as default."""
    rows = {r["gtfs_id"]: r for r in world.collect()}
    s0 = rows[str(0).zfill(synth._CMP_DIGITS)]  # mode 0
    assert s0["category"] == "NOTHING_NEW"
    assert s0["merged_tags"]["ntd_id"] == "9999"
    assert s0["merged_tags"]["name"] == f"Stop {s0['gtfs_id']}"
    s1 = rows[str(1).zfill(synth._CMP_DIGITS)]  # mode 1
    assert s1["category"] == "MODIFY"
    assert s1["merged_tags"]["name"] == f"Old name {s1['gtfs_id']}"
    assert s1["merged_tags"]["gtfs_id"] == s1["gtfs_id"]  # restored, padded


def _mk_stops(spark, rows):
    # (gtfs_id, lat, lon, name)
    return spark.createDataFrame(
        [
            (g, lat, lon, str(lat), str(lon), nm, nm, synth.COMPARE_AGENCY, g.lstrip("0") or "0")
            for g, lat, lon, nm in rows
        ],
        synth.COMPARE_STOPS_SCHEMA,
    )


def _mk_nodes(spark, rows):
    # (osm_id, lat, lon, tags, elem_idx)
    return spark.createDataFrame(
        [(o, "2", "u", "t", lat, lon, tags, 0, idx) for o, lat, lon, tags, idx in rows],
        synth.COMPARE_NODES_SCHEMA,
    )


def test_duplicate_node_gtfs_id_first_in_doc_order_wins(spark):
    """Two eligible nodes carry the same gtfs_id within range: the FIRST
    in document order wins (the reference's noUpload guard under its
    sequential scan, CompareData.java:1060-1075) — even when the later
    node is CLOSER."""
    stops = _mk_stops(spark, [("0000042", 10.0, 20.0, "Stop A")])
    far = {"gtfs_id": "42", "operator": synth.COMPARE_AGENCY, "name": "Stop A", "mark": "far"}
    near = {"gtfs_id": "42", "operator": synth.COMPARE_AGENCY, "name": "Stop A", "mark": "near"}
    nodes = _mk_nodes(
        spark,
        [
            ("nFAR", 10.002, 20.0, far, 1),   # ~220 m, doc order 1
            ("nNEAR", 10.0, 20.0, near, 2),   # 0 m, doc order 2
        ],
    )
    got = C.compare_stops(stops, nodes, [synth.COMPARE_AGENCY], id_digits=7).collect()
    assert len(got) == 1
    r = got[0]
    assert r["osm_id"] == "nFAR" and r["category"] == "MODIFY"
    assert r["merged_tags"]["mark"] == "far"


def test_missing_gtfs_id_sentinel_is_not_an_id(spark):
    """gtfs_id='missing' must behave like no id: the node cannot id-match
    (OsmFormatter pad is skipped, CompareData.java:1031-1036) but DOES
    conflict a nearby unmatched stop."""
    stops = _mk_stops(spark, [("0000001", 10.0, 20.0, "S")])
    nodes = _mk_nodes(
        spark,
        [("nA", 10.001, 20.0, {"gtfs_id": "missing", "operator": synth.COMPARE_AGENCY}, 1)],
    )
    r = C.compare_stops(stops, nodes, [synth.COMPARE_AGENCY], id_digits=7).collect()[0]
    assert r["category"] == "UPLOAD_CONFLICT"
    assert r["merged_tags"]["FIXME"] == C.FIXME_REDUNDANT


def test_out_of_range_id_match_plus_foreign_conflict(spark):
    """A node with the stop's id OUTSIDE 400 m does not match; a foreign
    node inside (0.5, 400) conflicts; and a foreign node whose gtfs_id
    belongs to SOME OTHER stop is gated out of conflict reporting
    (!GTFSstopsIDs.contains, CompareData.java:1213-1216)."""
    stops = _mk_stops(
        spark, [("0000001", 10.0, 20.0, "S1"), ("0000002", 50.0, 60.0, "S2")]
    )
    nodes = _mk_nodes(
        spark,
        [
            # S1's id but ~2.2 km away: no match
            ("nFAR", 10.02, 20.0, {"gtfs_id": "1", "operator": synth.COMPARE_AGENCY}, 1),
            # near S1, carries S2's id (a REAL gtfs id): must NOT conflict S1
            ("nOTHER", 10.001, 20.0, {"gtfs_id": "2", "operator": synth.COMPARE_AGENCY}, 2),
        ],
    )
    got = {r["gtfs_id"]: r for r in C.compare_stops(stops, nodes, [synth.COMPARE_AGENCY], id_digits=7).collect()}
    assert got["0000001"]["category"] == "UPLOAD_NO_CONFLICT"
    assert got["0000002"]["category"] == "UPLOAD_NO_CONFLICT"


def test_operator_gate_excludes_rival_and_keeps_missing(spark):
    stops = _mk_stops(spark, [("0000001", 10.0, 20.0, "S")])
    nodes = _mk_nodes(
        spark,
        [
            ("nRIVAL", 10.0, 20.0, {"gtfs_id": "1", "operator": "Rival Lines"}, 1),
            ("nMISS", 10.0001, 20.0, {"gtfs_id": "1", "operator": "missing"}, 2),
        ],
    )
    r = C.compare_stops(stops, nodes, [synth.COMPARE_AGENCY], id_digits=7).collect()[0]
    # the rival-operator node is ineligible; the 'missing'-operator node
    # id-matches at ~11 m -> MODIFY
    assert r["osm_id"] == "nMISS" and r["category"] == "MODIFY"


def test_adoption_same_location_equal_platform_type(spark):
    """Same-location adoption (CompareData.java:1224-1262): an id-less
    node within ERROR_TO_ZERO whose public_transport equals the stop's
    expected OSM type is adopted — MODIFY with the node's identity and
    gtfs_id restored, NOT a duplicate UPLOAD_NO_CONFLICT."""
    stops = _mk_stops(spark, [("0000001", 10.0, 20.0, "S1"), ("0000002", 50.0, 60.0, "S2")]).withColumn(
        "public_transport", F.lit("platform")
    )
    nodes = _mk_nodes(
        spark,
        [
            # ~0.1 m from S1, no gtfs_id, equal platform type -> adopt
            ("nTWIN", 10.000001, 20.0,
             {"operator": synth.COMPARE_AGENCY, "public_transport": "platform", "name": "Old"}, 1),
            # ~0.1 m from S2 but WRONG platform type -> no adoption, and
            # <=0.5 m never conflicts -> S2 stays UPLOAD_NO_CONFLICT
            ("nSTATION", 50.000001, 60.0,
             {"operator": synth.COMPARE_AGENCY, "public_transport": "station"}, 2),
        ],
    )
    got = {r["gtfs_id"]: r for r in C.compare_stops(stops, nodes, [synth.COMPARE_AGENCY], id_digits=7).collect()}
    r1 = got["0000001"]
    assert r1["category"] == "MODIFY" and r1["osm_id"] == "nTWIN"
    assert r1["merged_tags"]["gtfs_id"] == "0000001"  # assigned/restored
    assert r1["merged_tags"]["name"] == "Old"  # MODIFY default: OSM value wins
    assert r1["final_lat"] == 10.000001  # node location is the default
    assert got["0000002"]["category"] == "UPLOAD_NO_CONFLICT"


def test_adoption_loses_to_id_match_and_needs_pt(spark):
    """A stop with a true id match keeps it even when an id-less twin
    sits at 0 m (pinned deterministic precedence); a pt-less twin never
    adopts (reference NPEs there — we require both sides non-null)."""
    stops = _mk_stops(spark, [("0000001", 10.0, 20.0, "S1"), ("0000002", 50.0, 60.0, "S2")]).withColumn(
        "public_transport", F.lit("platform")
    )
    nodes = _mk_nodes(
        spark,
        [
            ("nTWIN", 10.0, 20.0, {"operator": synth.COMPARE_AGENCY, "public_transport": "platform"}, 1),
            ("nID", 10.001, 20.0, {"gtfs_id": "1", "operator": synth.COMPARE_AGENCY}, 2),
            # S2's twin lacks public_transport entirely -> no adoption
            ("nNOPT", 50.0, 60.0, {"operator": synth.COMPARE_AGENCY}, 3),
        ],
    )
    got = {r["gtfs_id"]: r for r in C.compare_stops(stops, nodes, [synth.COMPARE_AGENCY], id_digits=7).collect()}
    assert got["0000001"]["osm_id"] == "nID"  # id match wins over adoption
    assert got["0000002"]["category"] == "UPLOAD_NO_CONFLICT"


def test_redundant_node_modifies(spark):
    """Node-side modify companion (CompareData.java:1172-1210): id-less
    nodes near an unmatched stop gain FIXME/note (+ 'missing' fills);
    FIXME-carrying, id-bearing, and matched-stop-only nodes are skipped."""
    stops = _mk_stops(
        spark,
        [("0000001", 10.0, 20.0, "S1"), ("0000002", 30.0, 40.0, "S2"), ("0000003", 70.0, 80.0, "S3")],
    )
    nodes = _mk_nodes(
        spark,
        [
            # ~110 m from unmatched S1, no id, no operator -> modify
            ("nFLAG", 10.001, 20.0, {"name": "x"}, 1),
            # near S1 too, but already FIXME'd -> skipped
            ("nFIX", 10.0012, 20.0, {"FIXME": "old", "operator": "missing"}, 2),
            # near S1, operator present (gate passes), id 'missing' -> modify w/ id-only note
            ("nOP", 10.0008, 20.0, {"gtfs_id": "missing", "operator": synth.COMPARE_AGENCY}, 3),
            # id match for S2 -> S2 matched; its neighborhood node must not fire
            ("nMATCH", 30.0, 40.0, {"gtfs_id": "2", "operator": synth.COMPARE_AGENCY}, 4),
            ("nNEAR2", 30.001, 40.0, {"gtfs_id": "2", "operator": synth.COMPARE_AGENCY}, 5),
        ],
    )
    got = {r["osm_id"]: r for r in C.redundant_node_modifies(stops, nodes, [synth.COMPARE_AGENCY], id_digits=7).collect()}
    assert set(got) == {"nFLAG", "nOP"}
    f = got["nFLAG"]["tags"]
    assert f["FIXME"] == C.FIXME_REDUNDANT
    assert f["note"] == C.NOTE_ADD_ID_OP
    assert f["gtfs_id"] == "missing" and f["operator"] == "missing"
    o = got["nOP"]["tags"]
    assert o["note"] == C.NOTE_ADD_ID
    assert o["gtfs_id"] == "missing" and o["operator"] == synth.COMPARE_AGENCY
    assert got["nFLAG"]["version"] == "2" and got["nFLAG"]["lat"] == 10.001


def test_redundant_modifies_skip_adopted_stop(spark):
    """An adopted stop enters noUpload before later nodes scan it
    (CompareData.java:1230, :1060), so an id-less node whose only nearby
    unmatched stop was ADOPTED must not gain a FIXME — mirrors
    compare_stops' `rest` exclusion. A node near a genuinely unmatched
    stop still fires (control)."""
    stops = _mk_stops(
        spark, [("0000001", 10.0, 20.0, "S1"), ("0000002", 30.0, 40.0, "S2")]
    ).withColumn("public_transport", F.lit("platform"))
    nodes = _mk_nodes(
        spark,
        [
            # ~0.1 m twin adopts S1
            ("nTWIN", 10.000001, 20.0,
             {"operator": synth.COMPARE_AGENCY, "public_transport": "platform"}, 1),
            # id-less node ~110 m from S1 ONLY: S1 adopted -> no FIXME
            ("nBY1", 10.001, 20.0, {"name": "x"}, 2),
            # id-less node ~110 m from unmatched S2 -> FIXME fires
            ("nBY2", 30.001, 40.0, {"name": "y"}, 3),
        ],
    )
    got = {r["osm_id"] for r in C.redundant_node_modifies(
        stops, nodes, [synth.COMPARE_AGENCY], id_digits=7
    ).collect()}
    assert got == {"nBY2"}


def test_operator_gate_regex_alias(spark):
    """Configured alias regexes match full-string case-insensitively
    (possibleOperatorRegexPattern, OperatorInfo.java:104-125)."""
    stops = _mk_stops(spark, [("0000001", 10.0, 20.0, "S")])
    nodes = _mk_nodes(
        spark,
        [("nALIAS", 10.0, 20.0, {"gtfs_id": "1", "operator": "XYZ Lines"}, 1)],
    )
    no_alias = C.compare_stops(stops, nodes, [synth.COMPARE_AGENCY], id_digits=7).collect()[0]
    assert no_alias["category"] == "UPLOAD_NO_CONFLICT"  # gated out
    with_alias = C.compare_stops(
        stops, nodes, [synth.COMPARE_AGENCY], id_digits=7, alias_regexes=[r"xyz\s+l.*"]
    ).collect()[0]
    assert with_alias["category"] == "MODIFY" and with_alias["osm_id"] == "nALIAS"
    # full-match anchoring: a substring-only regex hit must NOT pass
    partial = C.compare_stops(
        stops, nodes, [synth.COMPARE_AGENCY], id_digits=7, alias_regexes=[r"xyz"]
    ).collect()[0]
    assert partial["category"] == "UPLOAD_NO_CONFLICT"


def test_shuffle_path_has_no_broadcast_and_matches(spark):
    """broadcast_stops=False must NEVER broadcast (Catalyst's static
    estimates under filter/explode chains otherwise picked BHJ and tried
    to broadcast a 10 GiB side at 4M stops): every join shuffled-hash,
    output identical to the broadcast path."""
    stops, nodes = synth.generate_compare_world(spark, 500, partitions=2)
    kw = dict(agency_names=[synth.COMPARE_AGENCY], id_digits=synth._CMP_DIGITS)
    sh = C.compare_stops(stops, nodes, broadcast_stops=False, **kw)
    plan = sh._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" not in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    bc = C.compare_stops(stops, nodes, broadcast_stops=True, **kw)
    a = sorted(map(tuple, sh.select("gtfs_id", "category", "osm_id").collect()))
    b = sorted(map(tuple, bc.select("gtfs_id", "category", "osm_id").collect()))
    assert a == b


def test_stop_sync_document_composition(spark):
    """Full upload composition (UploadData.java:59-75): create = clean
    new stops plus (by default) FIXME'd conflict stops, matching the
    reference's upload button — conflict stops ride the
    getOsmId()==null first branch of generateStopsToUpload
    (ReportViewer.java:1589 via uploadDataButtonActionPerformed:2909)
    regardless of the acceptedOnlyCheckbox; include_conflicts=False
    withholds them (a safety posture this port adds, no reference
    analog); modify = MODIFY stops UNION node-side redundancy FIXMEs;
    an unsupported API version aborts before any work
    (HttpRequest.checkVersion)."""
    from gtfs_osm_sync_spark.pipeline import stop_sync_document

    stops = _mk_stops(
        spark,
        [
            ("0000001", 10.0, 20.0, "Clean"),      # nothing nearby -> create
            ("0000002", 30.0, 40.0, "Matched"),    # id match ~110m -> modify
            ("0000003", 50.0, 60.0, "Flagged"),    # id-less neighbor -> conflict + node FIXME
        ],
    )
    nodes = _mk_nodes(
        spark,
        [
            ("n2", 30.001, 40.0, {"gtfs_id": "2", "operator": synth.COMPARE_AGENCY, "name": "Old"}, 1),
            ("n3", 50.001, 60.0, {"operator": synth.COMPARE_AGENCY, "name": "x"}, 2),
        ],
    )
    xml = stop_sync_document(stops, nodes, [synth.COMPARE_AGENCY], id_digits=7, changeset="7")
    # create (reference default): clean stop AND the FIXME'd conflict stop
    create = xml.split("<create>")[1].split("</create>")[0]
    assert 'id="-1"' in create and 'v="Clean"' in create
    assert 'v="Flagged"' in create and C.FIXME_REDUNDANT in create
    # modify: the id-matched stop (node identity) + the FIXME'd node
    modify = xml.split("<modify>")[1].split("</modify>")[0]
    assert 'id="n2"' in modify and 'v="Old"' in modify
    assert 'id="n3"' in modify and C.FIXME_REDUNDANT in modify
    assert "<delete>" not in xml

    # port-added safety posture: conflict stops withheld for human review
    xml_safe = stop_sync_document(
        stops, nodes, [synth.COMPARE_AGENCY], id_digits=7, changeset="7",
        include_conflicts=False,
    )
    create_safe = xml_safe.split("<create>")[1].split("</create>")[0]
    assert 'v="Clean"' in create_safe and "Flagged" not in create_safe

    caps_bad = '<osm><api><version minimum="0.3" maximum="0.5"/></api></osm>'
    with pytest.raises(RuntimeError, match="version"):
        stop_sync_document(stops, nodes, [synth.COMPARE_AGENCY], capabilities_xml=caps_bad)
    caps_ok = '<osm><api><version minimum="0.6" maximum="0.6"/></api></osm>'
    xml2 = stop_sync_document(
        stops, nodes, [synth.COMPARE_AGENCY], id_digits=7, capabilities_xml=caps_ok
    )
    assert "<create>" in xml2


def test_hot_cell_world_conflict_probe(spark):
    """Skew smoke: a mega-city world where EVERY stop and node lands in
    one hex cell (all pairs collide in a single probe bucket). The
    cell-prejoin must still produce exact categories — 300 unmatched
    stops x 300 id-less nodes is 90k candidate pairs through one key —
    and the id-match path must stay unaffected by the hot probe cell."""
    n = 300
    # ~1.1 m spacing: everything within a 400 m disc -> one cell + ring
    stops = _mk_stops(
        spark,
        [(str(i + 1).zfill(7), 10.0 + i * 1e-5, 20.0, f"S{i}") for i in range(n)],
    )
    nodes = _mk_nodes(
        spark,
        # id-less foreign nodes interleaved 0.6 m east of each stop
        [(f"nf{i}", 10.0 + i * 1e-5, 20.000006, {"operator": synth.COMPARE_AGENCY}, i)
         for i in range(n)]
        # plus ONE id match to prove the equi-join path is undisturbed
        + [("nid", 10.0, 20.0, {"gtfs_id": "1", "operator": synth.COMPARE_AGENCY}, n + 1)],
    )
    got = C.compare_stops(stops, nodes, [synth.COMPARE_AGENCY], id_digits=7)
    cats = {r["gtfs_id"]: r["category"] for r in got.collect()}
    assert len(cats) == n
    assert cats["0000001"] in ("MODIFY", "NOTHING_NEW")  # the id match
    # every other stop has an id-less node within (0.5m, 400m): conflict
    assert all(v == "UPLOAD_CONFLICT" for k, v in cats.items() if k != "0000001")


def test_conflict_at_vincenty_shell_boundary(spark):
    """A foreign node on the stop's meridian, across the equator, at
    Vincenty 399.999 m: haversine 402.2447 m, above 400 / 0.99442 (a
    curvature bracket rounded the wrong way) but below the proven 400 /
    VIN_OVER_HAV_MIN. The pair must reach the Vincenty refinement shell,
    so the stop is UPLOAD_CONFLICT."""
    h = 0.0018087344
    vin = float(vincenty_m_np(-h, 20.0, h, 20.0))
    assert 399.998 < vin < 400.0
    stops = _mk_stops(spark, [("0000001", -h, 20.0, "S")])
    nodes = _mk_nodes(
        spark, [("nA", h, 20.0, {"operator": synth.COMPARE_AGENCY}, 1)]
    )
    r = C.compare_stops(stops, nodes, [synth.COMPARE_AGENCY], id_digits=7).collect()[0]
    assert r["category"] == "UPLOAD_CONFLICT"


def test_compare_leaves_no_cached_frame(spark):
    """compare_stops and redundant_node_modifies persist nothing: after
    both have run, Spark's CacheManager holds no Dataset (a persisted
    intermediate would stay there for the session's lifetime, one per
    call, e.g. one per streaming-sync micro-batch)."""
    stops, nodes = synth.generate_compare_world(spark, 300, partitions=2)
    kw = dict(agency_names=[synth.COMPARE_AGENCY], id_digits=synth._CMP_DIGITS)
    spark.catalog.clearCache()
    C.compare_stops(stops, nodes, **kw).collect()
    C.redundant_node_modifies(stops, nodes, **kw).collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_compare_plan_hash_joins_no_cache_scan(spark):
    """The broadcast compare plans hash joins only: no SortMergeJoin (the
    stop side is small at any scale), no BroadcastNestedLoopJoin or
    CartesianProduct, and no scan of a cached intermediate."""
    stops, nodes = synth.generate_compare_world(spark, 500, partitions=2)
    cmp = C.compare_stops(
        stops, nodes, [synth.COMPARE_AGENCY], id_digits=synth._CMP_DIGITS
    )
    plan = cmp._jdf.queryExecution().executedPlan().toString()
    for node in ("SortMergeJoin", "BroadcastNestedLoopJoin", "CartesianProduct",
                 "InMemoryTableScan"):
        assert node not in plan
    assert "BroadcastHashJoin" in plan


_EXPORT_SCHEMA = (
    "gtfs_id string, category string, name_raw string, lat_raw string,"
    " lon_raw string, final_lat double, final_lon double,"
    " g_tags map<string,string>, merged_tags map<string,string>"
)


def test_exports_on_hand_built_compare_output(spark):
    """Both K1 exports on a hand-built compare output: the consumed and
    suppressed keys (name, source, highway, gtfs_id, the network key,
    gtfs_<field>, url, transport:zone, 'none', '') are dropped, the rest
    is a sorted k=v|k=v string; the GTFS-value export lets the agency
    value win on shared keys and prints the raw CSV values, the OSM-value
    export prints the merged tags and the final name/location."""
    g_a = {"gtfs_id": "0001", "operator": "Agency", "name": "Stop A",
           "gtfs_stop_code": "A1", "gtfs_wheelchair_boarding": "1"}
    m_a = {**g_a, "name": "Old A", "gtfs_wheelchair_boarding": "2",
           "shelter": "yes", "highway": "bus_stop", "source": "survey",
           "url": "http://x", "transport:zone": "3", "network": "N",
           "none": "x", "bench": "no"}
    g_b = {"gtfs_id": "0002", "operator": "Agency", "name": "Stop B",
           "gtfs_stop_code": "B2"}
    m_b = {**g_b, "": "e"}
    compared = spark.createDataFrame(
        [
            ("0001", "MODIFY", "Stop A", "10.0", "20.0", 10.001, 20.002, g_a, m_a),
            ("0002", "UPLOAD_NO_CONFLICT", "Stop B", "30.0", "40.0", 30.0, 40.0, g_b, m_b),
        ],
        _EXPORT_SCHEMA,
    )
    fields = ["stop_id", "stop_code", "stop_name", "stop_lat", "stop_lon"]
    rows = lambda df: sorted(tuple(r) for r in df.collect())  # noqa: E731

    gtfs = C.export_gtfs_value_with_osm_tags(compared, fields)
    assert gtfs.columns == ["stop_id", "stop_code", "stop_name", "stop_lat", "stop_lon", "OSM_TAGs"]
    assert rows(gtfs) == [
        ("0001", "A1", "Stop A", "10.0", "20.0",
         "bench=no|gtfs_wheelchair_boarding=1|network=N|shelter=yes"),
        ("0002", "B2", "Stop B", "30.0", "40.0", ""),
    ]
    osm = C.export_osm_value_with_osm_tags(compared, fields)
    assert rows(osm) == [
        ("0001", "A1", "Old A", "10.001", "20.002",
         "bench=no|gtfs_wheelchair_boarding=2|network=N|shelter=yes"),
        ("0002", "B2", "Stop B", "30.0", "40.0", ""),
    ]
    assert rows(C.export_osm_value_with_osm_tags(compared, fields, conflicts_only=True)) == [
        rows(osm)[0]
    ]
    # the network key is the one suppressed, whatever its name
    by_network = C.export_gtfs_value_with_osm_tags(compared, fields, network_key="network")
    assert rows(by_network)[0][-1] == (
        "bench=no|gtfs_wheelchair_boarding=1|operator=Agency|shelter=yes"
    )
