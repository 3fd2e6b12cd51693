"""OSM XML source + the HART/Tampa real-fixture golden run.

The reference ships its own data (Data/GTFS_Temp 3,802 stops,
Data/DataFromServer.osm 7,029 nodes) and the CSVs a 2010 GO_Sync run
exported from them. The golden test runs OUR full pipeline (OSM XML
source -> operator gate -> padded-id Vincenty match -> category ->
tag merge -> K1 export) on those inputs and compares row-for-row.

Reproducibility ceiling (measured, pinned below): the committed inputs
are NOT the exact inputs of the 2010 run —
  * 59 stops of the 2010 feed are missing from the committed stops.txt,
    50 committed stops are new, 64 shared stops moved (exportGtfsValue-
    GtfsOnly.csv, which is a pure function of stops.txt, already differs);
  * the OSM snapshot drifted too: several exported rows carry node tags
    (e.g. route_ref=31;47) that exist on NO node in the committed
    DataFromServer.osm.
On the 3,679 stops whose GTFS inputs are byte-identical across vintages,
3,626 rows (98.6%) reproduce exactly (canonicalized tag order — the
reference emits java.util.Hashtable iteration order); the 53 residuals
are all in the OSM-snapshot-drift family (FIXME/route_ref combinations
absent from the committed .osm). Both numbers are pinned so a semantics
regression fails loudly.
"""

from __future__ import annotations

import csv
import textwrap

import pytest
from conftest import needs_dir
from pyspark.sql import functions as F

from gtfs_osm_sync_spark.operators import compare as C
from gtfs_osm_sync_spark.sources import gtfs as G
from gtfs_osm_sync_spark.sources import osmxml

REF = "/root/reference/Data"
needs_ref = needs_dir(REF)
AGENCY = "Hillsborough Area Regional Transit"


# ---------------------------------------------------------------------------
# unit: source parsing on a tiny synthetic file
# ---------------------------------------------------------------------------

TINY_OSM = textwrap.dedent(
    """\
    <?xml version='1.0'?>
    <osm version='0.6'>
      <node id='1' lat='10.0' lon='20.0' version='3' user='u1' timestamp='t1'>
        <tag k='highway' v='bus_stop'/>
        <tag k='gtfs_id' v='42'/>
      </node>
      <node id='2' lat='10.1' lon='20.1' version='1' user='u2' timestamp='t2'/>
      <node id='3' lat='10.2' lon='20.2' version='1' user='u2' timestamp='t2'>
        <tag k='public_transport' v='platform'/>
      </node>
      <way id='7' version='2' user='u3' timestamp='t3'>
        <nd ref='2'/>
        <nd ref='3'/>
        <tag k='highway' v='platform'/>
      </way>
      <relation id='9' version='5' user='u4' timestamp='t4'>
        <member type='node' ref='1' role='stop'/>
        <member type='way' ref='7' role='platform'/>
        <tag k='type' v='route'/>
      </relation>
    </osm>
    """
)


@pytest.fixture(scope="module")
def tiny(tmp_path_factory, spark):
    p = tmp_path_factory.mktemp("osm") / "tiny.osm"
    p.write_text(TINY_OSM)
    return osmxml.read_osm_xml(spark, str(p)).cache()


def test_parse_unified_elements(tiny):
    got = {r["elem_type"]: r["cnt"] for r in tiny.groupBy("elem_type").agg(F.count("*").alias("cnt")).collect()}
    assert got == {"node": 3, "way": 1, "relation": 1}
    n1 = osmxml.osm_nodes(tiny).filter("osm_id = '1'").collect()[0]
    assert n1["lat"] == 10.0 and n1["tags"]["gtfs_id"] == "42" and n1["version"] == "3"
    w = osmxml.osm_ways(tiny).collect()[0]
    assert w["nds"] == ["2", "3"]
    r = osmxml.osm_relations(tiny).collect()[0]
    assert [(m["ref"], m["mtype"], m["role"]) for m in r["members"]] == [
        ("1", "node", "stop"),
        ("7", "way", "platform"),
    ]
    # document order preserved
    idx = {r["osm_id"]: r["elem_idx"] for r in tiny.select("osm_id", "elem_idx").collect()}
    assert idx["1"] < idx["2"] < idx["7"] < idx["9"]


def test_ways_with_geo_first_nd(tiny):
    """J10: way geometry = first <nd>'s node (BusStopParser.java:62-66,116-133)."""
    w = osmxml.ways_with_geo(osmxml.osm_ways(tiny), osmxml.osm_nodes(tiny)).collect()[0]
    assert (w["lat"], w["lon"]) == (10.1, 20.1)


def test_standalone_features_swallowed_node_anti_join(tiny):
    """Nodes referenced by a way are swallowed UNLESS public_transport=
    platform (BusStopParser.java:110-153): node 2 drops, node 3 survives."""
    feats = osmxml.standalone_features(osmxml.osm_nodes(tiny), osmxml.osm_ways(tiny))
    got = {(r["osm_id"], r["feature_type"]) for r in feats.collect()}
    assert got == {("1", "node"), ("3", "node"), ("7", "way")}


def test_resolve_members(tiny):
    """J8 input: member lat/lon from node or way-first-nd, plus the
    referenced element's public_transport (RouteParser.java:121-147)."""
    m = {
        r["ref"]: r
        for r in osmxml.resolve_members(
            osmxml.osm_relations(tiny), osmxml.osm_nodes(tiny), osmxml.osm_ways(tiny)
        ).collect()
    }
    assert (m["1"]["member_lat"], m["1"]["member_lon"]) == (10.0, 20.0)
    assert (m["7"]["member_lat"], m["7"]["member_lon"]) == (10.1, 20.1)
    assert m["1"]["ref_public_transport"] is None
    assert m["7"]["ref_public_transport"] is None  # way 7 has no pt tag


# ---------------------------------------------------------------------------
# golden: the HART/Tampa end-to-end run vs the reference's own export
# ---------------------------------------------------------------------------


def _canon(s: str) -> str:
    return "|".join(sorted(s.split("|"))) if s else ""


@pytest.fixture(scope="module")
def hart_export(spark):
    stops = G.read_stops(spark, f"{REF}/GTFS_Temp/stops.txt", id_digits=4, operator=AGENCY)
    nodes = osmxml.osm_nodes(osmxml.read_osm_xml(spark, f"{REF}/DataFromServer.osm"))
    cmp = C.compare_stops(stops, nodes, agency_names=[AGENCY, "HART"]).cache()
    exp = C.export_gtfs_value_with_osm_tags(
        cmp, ["stop_id", "stop_code", "stop_name", "stop_lat", "stop_lon"]
    )
    return cmp, {r["stop_id"]: r.asDict() for r in exp.collect()}


@needs_ref
def test_hart_category_counts(hart_export):
    cmp, _ = hart_export
    got = {r["category"]: r["cnt"] for r in cmp.groupBy("category").agg(F.count("*").alias("cnt")).collect()}
    # deterministic pipeline on fixed inputs -> pinned exactly
    assert got == {
        "NOTHING_NEW": 3531,
        "MODIFY": 184,
        "UPLOAD_CONFLICT": 34,
        "UPLOAD_NO_CONFLICT": 53,
    }


@needs_ref
def test_hart_golden_export_parity(hart_export):
    _, mine = hart_export
    assert len(mine) == 3802  # one row per committed stop

    stops = {}
    with open(f"{REF}/GTFS_Temp/stops.txt", encoding="utf-8-sig") as f:
        for r in csv.DictReader(f):
            stops[r["stop_id"].zfill(4)] = r
    ref_gtfsonly = {}
    with open(f"{REF}/exportGtfsValueGtfsOnly.csv") as f:
        for r in csv.DictReader(f):
            ref_gtfsonly[r["stop_id"]] = r
    ref = {}
    with open(f"{REF}/exportGtfsValueWithOsmTags.csv") as f:
        for r in csv.DictReader(f):
            ref[r["stop_id"]] = r

    # clean subset = stops whose GTFS inputs are byte-identical across
    # the two feed vintages (measured via the pure-GTFS export)
    clean = {
        sid
        for sid, s in stops.items()
        if (e := ref_gtfsonly.get(sid)) is not None
        and s["stop_name"] == e["stop_name"]
        and s["stop_lat"] == e["stop_lat"]
        and s["stop_lon"] == e["stop_lon"]
        and s["stop_code"].zfill(4) == e["stop_code"].zfill(4)
    }
    assert len(clean) == 3679

    exact = 0
    mismatched = []
    for sid in clean:
        a, b = ref[sid], mine[sid]
        core_ok = all(
            a[k] == (b[k] or "")
            for k in ("stop_code", "stop_name", "stop_lat", "stop_lon")
        )
        assert core_ok, f"{sid}: CSV core fields diverge (must never happen on clean inputs)"
        if _canon(a["OSM_TAGs"]) == _canon(b["OSM_TAGs"]):
            exact += 1
        else:
            mismatched.append(sid)

    # 3626/3679 reproduce exactly; every residual is OSM-snapshot drift
    # (node tags in the 2010 export that exist on no committed node).
    # Pinned so any SEMANTICS change trips this assert.
    assert exact == 3626, f"exact={exact}, first mismatches: {mismatched[:5]}"


def test_api_version_supported():
    """F18 (OsmVersionParser.java:29-49)."""
    caps = "<osm><api><version minimum='0.6' maximum='0.6'/></api></osm>"
    assert osmxml.api_version_supported(caps, "0.6") is True
    assert osmxml.api_version_supported(caps, "0.5") is False
    caps2 = "<osm><api><version minimum='0.3' maximum='0.7'/></api></osm>"
    assert osmxml.api_version_supported(caps2, "0.6") is True
    assert osmxml.api_version_supported("<osm/>", "0.6") is False


@needs_ref
def test_compare_plan_all_hash_joins(hart_export):
    """The compare pipeline must plan broadcast hash joins only — no
    SortMergeJoin (stop side is small at any scale), no
    BroadcastNestedLoopJoin, no CartesianProduct."""
    cmp, _ = hart_export
    plan = cmp._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


@needs_ref
def test_export_osm_value_variants(hart_export):
    """K1 OSM-value exports: MODIFY rows carry the matched node's
    location/name; conflicts_only = exactly the MODIFY set."""
    cmp, _ = hart_export
    fields = ["stop_id", "stop_code", "stop_name", "stop_lat", "stop_lon"]
    full = C.export_osm_value_with_osm_tags(cmp, fields)
    confl = C.export_osm_value_with_osm_tags(cmp, fields, conflicts_only=True)
    assert full.count() == 3802
    assert confl.count() == 184  # pinned MODIFY count

    # a MODIFY stop's exported lat/lon must be its matched node's
    mod = cmp.filter(F.col("category") == "MODIFY").select(
        "gtfs_id", "final_lat", "final_lon", "lat"
    ).limit(5).collect()
    exported = {r["stop_id"]: r for r in confl.collect()}
    for r in mod:
        e = exported[r["gtfs_id"]]
        assert float(e["stop_lat"]) == r["final_lat"]
        assert float(e["stop_lon"]) == r["final_lon"]


@needs_ref
def test_split_parse_matches_single_task(spark):
    """Byte-range split of ONE .osm file across multiple tasks yields the
    same elements in the same document order as the single-task parse
    (elem_idx is byte-offset-based under split: order-consistent, not
    dense)."""
    import os

    p = f"{REF}/DataFromServer.osm"
    size = os.path.getsize(p)
    whole = osmxml.read_osm_xml(spark, p)
    split = osmxml.read_osm_xml(spark, p, split_bytes=size // 4 + 1)
    # >= 2 real tasks actually produced rows
    n_chunks = (
        split.select((F.col("elem_idx") / F.lit(size // 4 + 1)).cast("int").alias("c"))
        .distinct()
        .count()
    )
    assert n_chunks >= 2
    cols = [c for c in whole.columns if c != "elem_idx"]
    a = [tuple(r) for r in whole.orderBy("elem_idx").select(*cols).collect()]
    b = [tuple(r) for r in split.orderBy("elem_idx").select(*cols).collect()]
    assert len(a) == len(b) and a == b


def test_find_boundary_unit_cases():
    """Pure-python edge cases of the byte-range boundary scanner:
    comment/CDATA decoys, a scan position INSIDE a comment (bounded
    backward scan), a close-marker straddling the scan position, and
    custom tags with delimiter discrimination (StopPlace vs
    StopPlaceRef)."""
    import io

    from gtfs_osm_sync_spark.sources.osmxml import _find_boundary

    def fb(data, pos, tags=None):
        f = io.BytesIO(data)
        return _find_boundary(f, pos, tags=tags) if tags else _find_boundary(f, pos)

    d = b'<osm>  <!-- decoy <node id=1 --> <node id="2"/></osm>'
    assert fb(d, 0) == d.find(b"<node", 30)
    d2 = b'<osm><x><![CDATA[ <way id=9 ]]></x><way id="3"/></osm>'
    assert fb(d2, 0) == d2.find(b"<way", 31)
    d3 = b'<osm><!-- xxxx <node id=7/> yyyy --><node id="8"/></osm>'
    real = d3.find(b"<node", d3.find(b"-->"))
    assert fb(d3, d3.find(b"xxxx")) == real  # pos inside the comment
    assert fb(d3, d3.find(b"-->") + 1) == real  # pos inside the closer
    assert fb(b'<osm><node id="1"/></osm>', 0) == 5
    d4 = b'<PD><sp><StopPlace id="a"/><StopPlaceRef/><StopPlace id="b"/></sp></PD>'
    assert fb(d4, 0, tags=(b"<StopPlace",)) == d4.find(b"<StopPlace")
    assert fb(d4, d4.find(b"Ref"), tags=(b"<StopPlace",)) == d4.find(b'<StopPlace id="b"')


def test_split_boundary_skips_comments_and_cdata(spark, tmp_path):
    """A literal '<node'/'<way' inside an XML comment or CDATA section
    must not be taken as a top-level element boundary by the byte-range
    scan: chunked parse equals the single-task parse, with no phantom
    elements, for every chunk size (forcing boundaries to land at or
    inside the comment)."""
    body = (
        '<?xml version="1.0"?>\n<osm version="0.6">\n'
        '  <node id="1" lat="1.0" lon="2.0" version="1"/>\n'
        "  <!-- decoy follows: <node id=\"666\" lat=\"9.9\" lon=\"9.9\"/>"
        " and a <way id=\"667\"> too -->\n"
        '  <node id="2" lat="3.0" lon="4.0" version="1">\n'
        "    <tag k=\"note\" v=\"x\"/>\n"
        "  </node>\n"
        '  <way id="3" version="1"><nd ref="1"/>'
        "<tag k=\"d\" v=\"<![CDATA[ not here ]]>\"/></way>\n"
        '  <relation id="4" version="1"><member type="node" ref="1" role="stop"/></relation>\n'
        "</osm>\n"
    )
    # the CDATA opener inside an attribute is escaped by real writers;
    # craft a raw text-content CDATA decoy too
    body = body.replace(
        "<tag k=\"d\" v=\"<![CDATA[ not here ]]>\"/>",
        "<tag k=\"d\" v=\"y\"/><!--c--><nd ref=\"1\"/>",
    )
    p = str(tmp_path / "decoy.osm")
    with open(p, "w") as f:
        f.write(body)
    whole = [tuple(r) for r in osmxml.read_osm_xml(spark, p).orderBy("elem_idx")
             .drop("elem_idx").collect()]
    assert len(whole) == 4 and {r[1] for r in whole} == {"1", "2", "3", "4"}
    import os
    size = os.path.getsize(p)
    for nbytes in (37, 64, 128, size // 2 + 1):
        got = [tuple(r) for r in osmxml.read_osm_xml(spark, p, split_bytes=nbytes)
               .orderBy("elem_idx").drop("elem_idx").collect()]
        assert got == whole, f"split_bytes={nbytes} diverged"
