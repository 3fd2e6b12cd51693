"""GTFS-stop x OSM-node compare pipeline on real OSM data (the
reference's core task re-expressed as DataFrame joins).

Reference semantics (task/CompareData.java:1000-1290):

- operator gate: an OSM node participates only if its network tag is
  absent, 'missing', or matches the agency (OperatorInfo.java:112-126
  bidirectional case-insensitive containment) — CompareData.java:1040-1054.
- id match: node gtfs_id (zero-padded, OsmFormatter.java:36-42) equals a
  stop's id AND Vincenty distance < 400 m (CompareData.java:1068-1075).
  The node iteration is sequential file order and a matched stop enters
  noUpload, so when several nodes carry the same gtfs_id the FIRST in
  document order wins -> we rank candidates by (file_idx, elem_idx).
- category: distance <= 0.5 m (ERROR_TO_ZERO) and tag diff empty ->
  NOTHING_NEW; otherwise MODIFY (both the moved-location and
  different-tags branches, CompareData.java:1076-1148).
- tag diff (compareOsmTags, CompareData.java:443-467): for each gtfs tag
  k=v the OSM side must have k with a case-insensitively equal value, or
  a value containing v as a substring; anything else is a diff.
- conflicts: a stop with NO id match that has some eligible node within
  (0.5 m, 400 m) whose gtfs_id is not any GTFS id (null / 'missing' /
  foreign) is UPLOAD_CONFLICT with a FIXME tag
  (CompareData.java:1152-1222); everything else is UPLOAD_NO_CONFLICT
  (CompareData.java:1262-1283).
- same-location adoption (CompareData.java:1224-1262): a stop with NO id
  match but a gated-in node within ERROR_TO_ZERO whose public_transport
  equals the stop's expected OSM type is treated as the SAME stop: the
  node is adopted (MODIFY + noUpload, gtfs_id assigned), never uploaded
  as a duplicate. The reference's parallelStream makes the id-match vs
  adoption race order-dependent when both exist for one stop; here the
  id match deterministically wins and adoption applies only to stops
  with no id match anywhere, and only from FOREIGN nodes (id absent /
  'missing' / unknown to the feed) — a node carrying ANOTHER stop's
  valid id adopting depends on the reference's scan order (its inner
  loop breaks at whichever stop comes first); we pin the id-match-wins
  resolution, which also keeps the probe's streaming side foreign-only.
- node-side redundancy modifies (CompareData.java:1172-1210): each
  id-LESS node (gtfs_id tag absent or 'missing', no FIXME tag) that sits
  within (0.5 m, 400 m) of an unmatched stop itself enters the modify
  set with FIXME/note (+ network/gtfs_id 'missing' fills) — exposed as
  `redundant_node_modifies` so the osmChange sink can include them.
- merged tags: MODIFY keys take OSM values as default (addToReport,
  CompareData.java:290-299: addAndOverwriteTags(osm) + gtfs_id restored);
  NOTHING_NEW keeps gtfs values and only ADDS osm-only keys
  (OsmPrimitive.addTags, non-overwriting).

Plan shape: the id match is a hash equi-join on the padded id (cheap,
exact); the conflict and adoption probes go through the engine's
radius-join builder (spatial_join.cover_radius_join: cover-cell-exploded
SMALL stop side, hash join on the cover cell, bbox then haversine in
codegen). The haversine keep set is the proven superset of the Vincenty
one (functions.geo.VIN_OVER_HAV_MIN/MAX), so exact Vincenty runs only on
its survivors, and for conflicts only on the thin shells around each
threshold. No O(N*M) scan anywhere — the reference's nested
parallelStream loop (CompareData.java:1016-1069) becomes hash joins.
compare_stops and redundant_node_modifies read the same stages (_stage:
one id match, one unmatched-stop set, one foreign-node set) and persist
nothing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql import Window as W

from ..functions.geo import (
    VIN_OVER_HAV_MAX,
    VIN_OVER_HAV_MIN,
    haversine_m_col,
    vincenty_m_udf,
)
from ..functions.mappings import zero_pad_id
from .spatial_join import DEFAULT_RADIUS_M, ERROR_TO_ZERO_M, cover_radius_join

FIXME_REDUNDANT = "This bus stop could be redundant"  # CompareData.java:1155

# Vincenty for the id match, whose output keeps dist_m: Catalyst pushes a
# filter on a deterministic UDF's alias below the defining projection with
# the UDF inlined, so Vincenty would run twice per pair. A nondeterministic
# projection holds every filter above it; nothing downstream filters the
# id-match pairs. A separate UDF object: asNondeterministic() mutates its
# receiver, and the probes' filters must still cross vincenty_m_udf.
_vincenty_once = F.pandas_udf(vincenty_m_udf.func, T.DoubleType()).asNondeterministic()


def operator_gate(op_col, agency_names: list[str], alias_regexes: list[str] | None = None):
    """OperatorInfo.isTheSameOperator as a Column predicate
    (OperatorInfo.java:112-126): NULL or 'missing' passes; otherwise
    BIDIRECTIONAL case-insensitive containment against any configured
    agency name/abbreviation/alias, OR a full match of any configured
    alias regex (possibleOperatorRegexPattern, OperatorInfo.java:104-125
    — Pattern.CASE_INSENSITIVE + Matcher.matches, hence the (?i)^(?:…)$
    anchoring)."""
    up = F.upper(op_col)
    cond = op_col.isNull() | (op_col == "missing")
    for name in agency_names:
        n = F.lit(name.upper())
        cond = cond | up.contains(n) | n.contains(up)
    for rx in alias_regexes or []:
        cond = cond | op_col.rlike(f"(?i)^(?:{rx})$")
    return cond


def gtfs_tag_map(gtfs: DataFrame, network_key: str = "operator") -> DataFrame:
    """The reference gtfs Stop's tag table (Stop.java:40-84 constructor +
    GTFSReadIn.java:148-213 gtfs_<col> extras): gtfs_id, <network_key>,
    name, plus every gtfs_* column. Emitted as a map column `g_tags`
    built at plan time from the frame's schema."""
    pairs = [F.lit("gtfs_id"), F.col("gtfs_id"), F.lit(network_key), F.col("operator"),
             F.lit("name"), F.coalesce(F.col("name_raw"), F.lit("none"))]
    for c in gtfs.columns:
        if c.startswith("gtfs_") and c != "gtfs_id":
            pairs += [F.lit(c), F.col(c)]
    m = F.map_filter(F.create_map(*pairs), lambda k, v: v.isNotNull() & (v != ""))
    return gtfs.withColumn("g_tags", m)


def _diff_empty(osm_tags, g_tags):
    """compareOsmTags(osm, gtfs).isEmpty() as a Column: every gtfs tag key
    must exist on the OSM side with an equal (case-insensitive) value or
    a value containing it (CompareData.java:443-467)."""
    return F.forall(
        F.map_entries(g_tags),
        lambda e: F.element_at(osm_tags, e["key"]).isNotNull()
        & (
            (F.upper(F.element_at(osm_tags, e["key"])) == F.upper(e["value"]))
            | F.element_at(osm_tags, e["key"]).contains(e["value"])
        ),
    )


def _gated_nodes(
    nodes: DataFrame,
    agency_names: list[str],
    id_digits: int,
    network_key: str,
    alias_regexes: list[str] | None = None,
) -> DataFrame:
    """Operator-gated node layer with the padded gtfs_id folded into the
    tag map (CompareData.java:1028-1054) plus the raw id/operator values
    the node-side modify branch needs (null vs 'missing' distinction,
    CompareData.java:1177-1205)."""
    padded_gid = F.when(
        F.col("tags").getItem("gtfs_id").isNotNull()
        & (F.col("tags").getItem("gtfs_id") != "missing"),
        zero_pad_id(F.col("tags").getItem("gtfs_id"), id_digits),
    )
    # the reference pads gtfs_id IN PLACE inside the node's tag map before
    # any tag comparison (osmtag.put, CompareData.java:1031-1036) — an
    # unpadded node id must not register as a tag diff
    tags_padded = F.map_filter(
        F.map_zip_with(
            F.col("tags"),
            F.create_map(F.lit("gtfs_id"), padded_gid),
            lambda k, v, p: F.coalesce(p, v),
        ),
        lambda k, v: v.isNotNull(),
    )
    return nodes.filter(
        operator_gate(F.col("tags").getItem(network_key), agency_names, alias_regexes)
    ).select(
        F.col("osm_id"),
        F.col("version").cast("int").cast("string").alias("osm_version"),
        F.col("user").alias("osm_user"),
        F.col("timestamp").alias("osm_timestamp"),
        F.col("lat").alias("o_lat"),
        F.col("lon").alias("o_lon"),
        tags_padded.alias("osm_tags"),
        padded_gid.alias("osm_gtfs_id"),
        F.col("tags").getItem("gtfs_id").alias("o_gid_raw"),
        F.col("tags").getItem(network_key).alias("o_operator_raw"),
        F.col("tags").getItem("FIXME").isNotNull().alias("o_has_fixme"),
        (F.col("file_idx").cast("long") * F.lit(1 << 40) + F.col("elem_idx")).alias(
            "doc_order"
        ),
    )


def _stage(
    gtfs: DataFrame,
    nodes: DataFrame,
    agency_names: list[str],
    id_digits: int,
    radius_m: float,
    network_key: str,
    broadcast_stops: bool,
    alias_regexes: list[str] | None,
    known_ids: DataFrame | None,
):
    """The stages both compare outputs read, built once
    (CompareData.java:1016-1075). Returns (hint, idm, unmatched, foreign):

    - hint: the join hint of every build side.
    - idm: the id-match pairs, a hash equi-join of the tag-mapped stops
      and the gated nodes on the padded id, kept where Vincenty
      dist_m < radius_m (several nodes may match one stop).
    - unmatched: the tag-mapped stops with no id match.
    - foreign: the gated nodes whose gtfs_id is absent, 'missing' or
      held by no stop of `known_ids` (default: the stops) — the
      UPLOAD_CONFLICT gate (CompareData.java:1216-1222) and the only
      nodes that can be adopted or source a node-side modify.
    """
    g = gtfs_tag_map(gtfs, network_key)
    # shuffle path: HINT every build side to shuffled-hash — Catalyst's
    # static size estimates under filter/explode chains otherwise pick
    # BroadcastHashJoin and try to broadcast a multi-GiB side at 10^6+
    # stops (observed: 10 GiB broadcast attempt at 4M stops)
    hint = "broadcast" if broadcast_stops else "shuffle_hash"
    n = _gated_nodes(nodes, agency_names, id_digits, network_key, alias_regexes)
    # the stop side is the SMALL side at any scale (a transit feed is
    # 10^3-10^6 stops; the node layer is unbounded): broadcast it so the
    # id match is a map-side hash join over the node scan, never an SMJ.
    # vincenty < radius implies haversine < radius / VIN_OVER_HAV_MIN, so
    # the haversine prefilter drops no true match and far pairs (e.g. a
    # stale id 2.5 km away) skip the Python round-trip.
    idm = (
        g.hint(hint).join(n, g["gtfs_id"] == n["osm_gtfs_id"])
        .filter(
            haversine_m_col(F.col("lat"), F.col("lon"), F.col("o_lat"), F.col("o_lon"))
            < radius_m / VIN_OVER_HAV_MIN
        )
        .withColumn(
            "dist_m", _vincenty_once(F.col("o_lat"), F.col("o_lon"), F.col("lat"), F.col("lon"))
        )
        .filter(F.col("dist_m") < radius_m)
    )
    unmatched = g.join(idm.select("gtfs_id").distinct().hint(hint), "gtfs_id", "left_anti")
    # in a synced region most nodes carry valid ids: probing every gated
    # node instead of the foreign ones quadruples the streaming side
    # (measured: compare phase 134.9 s -> 196.3 s at 4M stops/2 cores)
    known = (known_ids if known_ids is not None else g).select(
        F.col("gtfs_id").alias("osm_gtfs_id")
    ).distinct()
    foreign = n.join(known.hint(hint), "osm_gtfs_id", "left_anti")
    return hint, idm, unmatched, foreign


def _adoptable():
    """The same-location adoption rule on a probe pair
    (CompareData.java:1224-1262): the node lies within ERROR_TO_ZERO of
    the stop and its public_transport equals the stop's expected OSM
    type. The reference NPEs on a pt-less node; here both must be
    non-null."""
    node_pt = F.col("osm_tags").getItem("public_transport")
    return (
        (F.col("dist_m") <= ERROR_TO_ZERO_M)
        & node_pt.isNotNull()
        & (node_pt == F.col("public_transport"))
    )


def _probe_pairs(
    foreign: DataFrame,
    unmatched: DataFrame,
    radius_m: float,
    hint: str,
    max_pre_m: float | None = None,
):
    """Radius join between the unmatched stops and the foreign nodes:
    cover-cell-exploded stop side (bounded — a transit feed) as the
    hinted build side, streaming node side, bbox + haversine in codegen,
    exact Vincenty on survivors. Returns pairs with Vincenty
    dist_m < radius_m.

    The stop side entering the join is slim (gtfs_id, lat, lon[,
    public_transport]): the full stop row (g_tags map, raw strings)
    riding the cell explosion into the build side is a multi-GB build
    that thrashes execution memory at 2M stops. Branches that need the
    full stop row re-attach it by gtfs_id.

    max_pre_m: a consumer that only needs pairs below some Vincenty
    threshold T passes T / VIN_OVER_HAV_MIN, so the join keeps, and the
    Python kernel sees, just that band."""
    slim_cols = ["gtfs_id", "lat", "lon"] + (
        ["public_transport"] if "public_transport" in unmatched.columns else []
    )
    reach_m = max_pre_m if max_pre_m is not None else radius_m / VIN_OVER_HAV_MIN
    return (
        cover_radius_join(
            foreign, unmatched.select(*slim_cols), ("o_lat", "o_lon"), ("lat", "lon"),
            reach_m, hint=hint,
        )
        .withColumn(
            "dist_m", vincenty_m_udf(F.col("o_lat"), F.col("o_lon"), F.col("lat"), F.col("lon"))
        )
        .filter(F.col("dist_m") < radius_m)
    )


def _conflict_stop_ids(
    foreign: DataFrame,
    unmatched: DataFrame,
    radius_m: float,
    hint: str,
) -> DataFrame:
    """Distinct gtfs_ids of unmatched stops with at least one foreign
    node at Vincenty distance in (ERROR_TO_ZERO_M, radius_m) — the
    UPLOAD_CONFLICT evidence — computed as EXISTENCE, not as a pair
    materialization: the dense-city worst case yields ~10^9 candidate
    pairs and ~10^8 true ones, none of which need to cross the Python
    Vincenty kernel.

    1. a LEFT SEMI radius join keeps the stops with a node whose
       haversine lies in the CERTAIN band (ERROR_TO_ZERO/VIN_OVER_HAV_MIN,
       radius/VIN_OVER_HAV_MAX), where the curvature bracket guarantees
       the Vincenty classification — no pairs emitted, no Python;
    2. only stops with NO certain pair fall through to an exact Vincenty
       refinement over their shell pairs, haversine in
       (ERROR_TO_ZERO/VIN_OVER_HAV_MAX, radius/VIN_OVER_HAV_MIN). Any pair
       with vin in (0.5, 400) has its haversine in that open interval,
       and a stop that reaches step 2 has no pair inside the certain
       band (step 1 would have kept it), so the refinement sees exactly
       the two thin shells and the returned id set is identical to the
       pair-based one.

    The node side ships only coordinates (existence needs nothing
    else) and is the shuffle-hash build side of both joins; both share
    one reach, hence one cover cell and one node exchange."""
    fn = foreign.select("o_lat", "o_lon")
    u = unmatched.select("gtfs_id", "lat", "lon")
    hi_shell = radius_m / VIN_OVER_HAV_MIN  # hav at or above => vin >= radius

    def near_nodes(stops: DataFrame, band: tuple, how: str) -> DataFrame:
        return cover_radius_join(
            stops, fn, ("lat", "lon"), ("o_lat", "o_lon"), hi_shell,
            band=band, how=how, hint="shuffle_hash", explode="left",
        )

    # hav above lo_sure => vin > ERROR_TO_ZERO; below hi_sure => vin < radius
    certain = (ERROR_TO_ZERO_M / VIN_OVER_HAV_MIN, radius_m / VIN_OVER_HAV_MAX)
    sure = near_nodes(u, certain, "left_semi").select("gtfs_id").distinct()
    amb = u.join(sure.hint(hint), "gtfs_id", "left_anti")
    # hav at or below ERROR_TO_ZERO / VIN_OVER_HAV_MAX => vin <= ERROR_TO_ZERO
    shell_refined = (
        near_nodes(amb, (ERROR_TO_ZERO_M / VIN_OVER_HAV_MAX, None), "inner")
        .withColumn(
            "dist_m",
            vincenty_m_udf(F.col("o_lat"), F.col("o_lon"), F.col("lat"), F.col("lon")),
        )
        .filter((F.col("dist_m") > ERROR_TO_ZERO_M) & (F.col("dist_m") < radius_m))
        .select("gtfs_id")
        .distinct()
    )
    return sure.unionByName(shell_refined).distinct()


def compare_stops(
    gtfs: DataFrame,
    nodes: DataFrame,
    agency_names: list[str],
    id_digits: int = 4,
    radius_m: float = DEFAULT_RADIUS_M,
    network_key: str = "operator",
    broadcast_stops: bool = True,
    alias_regexes: list[str] | None = None,
    known_ids: DataFrame | None = None,
) -> DataFrame:
    """Categorize every GTFS stop against the OSM node layer.

    known_ids: optional full-feed stop frame (or any frame with a
    gtfs_id column) defining the foreign-node id universe when `gtfs` is
    a SUBSET of the feed (incremental-sync delta re-compare: a node
    carrying some other stop's valid id is still not foreign); defaults
    to `gtfs` itself.

    broadcast_stops: a transit FEED (10^3-10^6 stops) broadcasts — every
    join becomes a map-side hash join over the streaming node scan. For a
    continental stop/feature layer that outgrows broadcast, pass False:
    the same equi-joins shuffle-hash-partition on their keys (gtfs_id /
    cover cell) and scale with cores instead of paying a serial broadcast
    build (measured: 1M-stop world 0.60 -> >=0.8 efficiency at 2->8
    cores; tools/bench_compare.py).

    Returns one row per stop: (gtfs_id, category, osm_id, osm_version,
    osm_user, osm_timestamp, dist_m, osm_tags, merged_tags, lat, lon,
    final_lat, final_lon) — merged_tags per the reference's
    finalStops default-value rules.
    """
    hint, idm, unmatched, foreign = _stage(
        gtfs, nodes, agency_names, id_digits, radius_m, network_key,
        broadcast_stops, alias_regexes, known_ids,
    )
    first_wins = W.partitionBy("gtfs_id").orderBy("doc_order")
    best = (
        idm.withColumn("_rn", F.row_number().over(first_wins))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    best = best.withColumn(
        "category",
        F.when(
            (F.col("dist_m") <= ERROR_TO_ZERO_M)
            & _diff_empty(F.col("osm_tags"), F.col("g_tags")),
            F.lit("NOTHING_NEW"),
        ).otherwise(F.lit("MODIFY")),
    )

    # same-location adoption (CompareData.java:1224-1262): the stop adopts
    # the node (MODIFY, enters noUpload). First node in document order
    # wins (parallelStream racy in the reference; pinned deterministic
    # here). PLAN SPECIALIZATION: a feed with no public_transport column
    # cannot adopt (the equality is NULL for every row), so the whole
    # branch — probe, window, union and the `rest` anti-join — is dropped
    # at build time (measured: 69.9 -> 59.5 s best-of-3 on the 4M-stop
    # compare phase at 8 cores).
    rest = unmatched
    if "public_transport" in gtfs.columns:
        # the probe is band-capped to the <= 0.5 m Vincenty neighborhood
        # adoption consumes; its pairs carry only the slim stop columns,
        # so the full stop row is re-attached to the tiny winner set by
        # an equi-join on gtfs_id with the adoption rows as build side
        adopted_slim = (
            _probe_pairs(
                foreign, unmatched, radius_m, hint,
                max_pre_m=ERROR_TO_ZERO_M / VIN_OVER_HAV_MIN,
            )
            .filter(_adoptable())
            .withColumn("_rn", F.row_number().over(first_wins))
            .filter(F.col("_rn") == 1)
            .drop("_rn", "lat", "lon", "public_transport")
        )
        adopted = unmatched.join(adopted_slim.hint(hint), "gtfs_id").withColumn(
            "category", F.lit("MODIFY")
        )
        best = best.unionByName(adopted.select(*best.columns))
        # adopted stops entered noUpload, so only the REST of the
        # unmatched stops can conflict (CompareData.java:1060)
        rest = unmatched.join(
            adopted_slim.select("gtfs_id").hint(hint), "gtfs_id", "left_anti"
        )

    # merged tags: MODIFY -> osm values win, gtfs_id restored; NOTHING_NEW
    # -> gtfs values win, osm-only keys added. map_zip_with merges by key.
    osm_wins = F.map_zip_with(
        F.col("g_tags"), F.col("osm_tags"), lambda k, gv, ov: F.coalesce(ov, gv)
    )
    gtfs_wins = F.map_zip_with(
        F.col("g_tags"), F.col("osm_tags"), lambda k, gv, ov: F.coalesce(gv, ov)
    )
    best = best.withColumn(
        "merged_tags",
        F.when(
            F.col("category") == "MODIFY",
            F.map_zip_with(
                osm_wins,
                F.create_map(F.lit("gtfs_id"), F.col("gtfs_id")),
                lambda k, mv, idv: F.coalesce(idv, mv),
            ),
        ).otherwise(gtfs_wins),
    ).withColumn(
        "final_lat", F.when(F.col("category") == "MODIFY", F.col("o_lat")).otherwise(F.col("lat"))
    ).withColumn(
        "final_lon", F.when(F.col("category") == "MODIFY", F.col("o_lon")).otherwise(F.col("lon"))
    )

    # conflict branch: ONE left outer join against the distinct flagged
    # id set (so it cannot duplicate rows) scans the rest frame once; the
    # per-row when() gives each category its columns
    conflict_flag = (
        _conflict_stop_ids(foreign, unmatched, radius_m, hint)
        .withColumn("_cfl", F.lit(1))
        .hint(hint)
    )
    is_cfl = F.col("_cfl").isNotNull()
    fixme_tags = F.map_zip_with(
        F.col("g_tags"),
        F.create_map(F.lit("FIXME"), F.lit(FIXME_REDUNDANT)),
        lambda k, gv, fv: F.coalesce(gv, fv),
    )
    rest_out = (
        rest.join(conflict_flag, "gtfs_id", "left")
        .withColumn(
            "category",
            F.when(is_cfl, F.lit("UPLOAD_CONFLICT")).otherwise(
                F.lit("UPLOAD_NO_CONFLICT")
            ),
        )
        .withColumn(
            "merged_tags", F.when(is_cfl, fixme_tags).otherwise(F.col("g_tags"))
        )
        .drop("_cfl")
    )

    null_osm = [
        F.lit(None).cast("string").alias(c)
        for c in ("osm_id", "osm_version", "osm_user", "osm_timestamp")
    ]
    out_cols = [
        "gtfs_id", "category", "osm_id", "osm_version", "osm_user", "osm_timestamp",
        "dist_m", "osm_tags", "merged_tags", "lat", "lon", "final_lat", "final_lon",
        "lat_raw", "lon_raw", "name_raw", "g_tags",
    ]
    unmatched_shape = (
        lambda df: df.select(
            "gtfs_id", "category", *null_osm,
            F.lit(None).cast("double").alias("dist_m"),
            F.lit(None).cast("map<string,string>").alias("osm_tags"),
            "merged_tags", "lat", "lon",
            F.col("lat").alias("final_lat"), F.col("lon").alias("final_lon"),
            "lat_raw", "lon_raw", "name_raw", "g_tags",
        )
    )
    return best.select(*out_cols).unionByName(unmatched_shape(rest_out))


NOTE_ADD_ID_OP = "Please add gtfs_id and operator after removing FIXME"  # CompareData.java:1184
NOTE_ADD_ID = "Please add gtfs_id after removing FIXME"  # CompareData.java:1189


def redundant_node_modifies(
    gtfs: DataFrame,
    nodes: DataFrame,
    agency_names: list[str],
    id_digits: int = 4,
    radius_m: float = DEFAULT_RADIUS_M,
    network_key: str = "operator",
    broadcast_stops: bool = True,
    alias_regexes: list[str] | None = None,
    known_ids: DataFrame | None = None,
) -> DataFrame:
    """Node-side redundancy modifies (CompareData.java:1172-1210): every
    gated-in node with NO usable gtfs_id (tag absent or 'missing') and no
    pre-existing FIXME that lies within (ERROR_TO_ZERO, radius) of some
    unmatched stop gains FIXME + note tags (addTag = put-if-absent,
    OsmPrimitive.java:44-52) plus 'missing' fills for absent
    network/gtfs_id keys, and enters the modify set feeding the osmChange
    sink — the reference's companion output to compare_stops'
    UPLOAD_CONFLICT rows. Returns one row per node (osm_id, version, lat,
    lon, user, timestamp, tags), sink-ready for osm_change_xml(modify=).

    Nodes consumed by the same-location adoption branch are excluded:
    the reference's `!modify.contains(es)` guard (CompareData.java:1179)
    skips nodes already queued for modification. Stops consumed by
    adoption are excluded too — under the reference's sequential
    reading an adopted stop enters noUpload (CompareData.java:1230)
    and later nodes skip it (:1060), so it cannot source a FIXME;
    this mirrors compare_stops' `rest` exclusion (pinned in
    test_redundant_modifies_skip_adopted_stop).
    """
    hint, _, unmatched, foreign = _stage(
        gtfs, nodes, agency_names, id_digits, radius_m, network_key,
        broadcast_stops, alias_regexes, known_ids,
    )
    pairs = _probe_pairs(foreign, unmatched, radius_m, hint)
    cand = pairs.filter(
        (F.col("dist_m") > ERROR_TO_ZERO_M)
        & F.col("osm_gtfs_id").isNull()
        & ~F.col("o_has_fixme")
    )
    if "public_transport" in gtfs.columns:
        # adopted nodes and adopted stops are both excluded (see the
        # docstring); impossible without a public_transport column, so
        # both subtrees drop at build time
        adoptable = pairs.filter(_adoptable())
        cand = cand.join(
            adoptable.select("osm_id").distinct().hint(hint), "osm_id", "left_anti"
        ).join(adoptable.select("gtfs_id").distinct().hint(hint), "gtfs_id", "left_anti")
    # one modify per node no matter how many stops flag it
    per_node = (
        cand.withColumn(
            "_rn", F.row_number().over(W.partitionBy("osm_id").orderBy("gtfs_id"))
        )
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    note = F.when(
        F.col("o_operator_raw").isNull() | (F.col("o_operator_raw") == "missing"),
        F.lit(NOTE_ADD_ID_OP),
    ).otherwise(F.lit(NOTE_ADD_ID))
    # addTag is put-if-absent: the node's existing value wins
    with_fixme = F.map_zip_with(
        F.col("osm_tags"),
        F.create_map(F.lit("FIXME"), F.lit(FIXME_REDUNDANT), F.lit("note"), note),
        lambda k, ov, av: F.coalesce(ov, av),
    )
    fills = F.create_map(
        F.lit(network_key),
        F.when(F.col("o_operator_raw").isNull(), F.lit("missing")),
        F.lit("gtfs_id"),
        F.when(F.col("o_gid_raw").isNull(), F.lit("missing")),
    )
    merged = F.map_filter(
        F.map_zip_with(with_fixme, fills, lambda k, mv, fv: F.coalesce(mv, fv)),
        lambda k, v: v.isNotNull(),
    )
    return per_node.select(
        "osm_id",
        F.col("osm_version").alias("version"),
        F.col("o_lat").alias("lat"),
        F.col("o_lon").alias("lon"),
        F.col("osm_user").alias("user"),
        F.col("osm_timestamp").alias("timestamp"),
        merged.alias("tags"),
    )


# export removals (WriteFile.exportStops, io/WriteFile.java:267-272) plus
# the 'none' and empty keys, which are never exported
_EXPORT_DROP = ("name", "source", "highway", "gtfs_id", "url", "transport:zone", "none", "")


def _export(
    df: DataFrame,
    gtfs_fields: list[str],
    network_key: str,
    tags,
    stop_name,
    stop_lat,
    stop_lon,
) -> DataFrame:
    """The K1 export row (io/WriteFile.java:214-296): stop_id, one column
    per CSV field (stop_name/stop_lat/stop_lon as given, any other field
    from the agency's gtfs_<field> tag) and OSM_TAGs, the `tags` map
    minus the consumed and suppressed keys as a k=v|k=v string. Tag
    order is canonicalized (sorted): the reference emits
    java.util.Hashtable iteration order, which is not a contract."""
    drop = set(_EXPORT_DROP) | {network_key} | {f"gtfs_{f}" for f in gtfs_fields}
    kept = F.map_filter(tags, lambda k, v: ~k.isin(*sorted(drop)))
    osm_tags_str = F.array_join(
        F.transform(
            F.array_sort(F.map_entries(kept)),
            lambda e: F.concat(e["key"], F.lit("="), e["value"]),
        ),
        "|",
    )
    special = {"stop_name": stop_name, "stop_lat": stop_lat, "stop_lon": stop_lon}
    cols = [
        special.get(f, F.element_at(F.col("g_tags"), F.lit(f"gtfs_{f}"))).alias(f)
        for f in gtfs_fields
        if f != "stop_id"
    ]
    return df.select(F.col("gtfs_id").alias("stop_id"), *cols, osm_tags_str.alias("OSM_TAGs"))


def export_gtfs_value_with_osm_tags(
    compared: DataFrame,
    gtfs_fields: list[str],
    network_key: str = "operator",
) -> DataFrame:
    """K1 'GTFS value + OSM tags' export (io/WriteFile.java:214-296 with
    gui/ReportViewer.java:3217-3228 semantics): the agency's raw values
    for the CSV fields, and the merged tags with the agency value winning
    on the keys the agency stop carries (addTags is non-overwriting)."""
    agency_wins = F.map_zip_with(
        F.col("g_tags"), F.col("merged_tags"), lambda k, gv, mv: F.coalesce(gv, mv)
    )
    return _export(
        compared, gtfs_fields, network_key, agency_wins,
        F.col("name_raw"), F.col("lat_raw"), F.col("lon_raw"),
    )


def relation_change_status(
    pairs: DataFrame,
    route_members: DataFrame,
    relation_members: DataFrame,
    route_col: str = "route_id",
    rel_col: str = "relation_id",
    ref_col: str = "ref",
) -> DataFrame:
    """Relation change detection (CompareData.java:822-828): a matched
    (gtfs route, osm relation) pair is modified ('m') when the OSM
    relation does NOT contain every member of the gtfs route
    (!em.containsAll(r.getOsmMembers())), else unchanged ('e'). The tag
    side of that check is compareOsmTags (q18's operator) composed by the
    caller.

    pairs: (route_col, rel_col); route_members: (route_col, ref_col);
    relation_members: (rel_col, ref_col). Plan: join route members
    through the pairing, LEFT ANTI against the relation's member set
    (hash join on (rel, ref)), any survivor marks the pair modified.
    Scales: every join is a key equi-join, partial-agg distinct.
    """
    g = pairs.join(route_members, route_col)
    missing = (
        g.join(relation_members, [rel_col, ref_col], "left_anti")
        .select(route_col, rel_col)
        .distinct()
        .withColumn("status", F.lit("m"))
    )
    return pairs.join(missing, [route_col, rel_col], "left").withColumn(
        "status", F.coalesce(F.col("status"), F.lit("e"))
    )


def export_osm_value_with_osm_tags(
    compared: DataFrame,
    gtfs_fields: list[str],
    network_key: str = "operator",
    conflicts_only: bool = False,
) -> DataFrame:
    """K1 'OSM value' exports (gui/ReportViewer.java:3230-3243 +
    io/WriteFile.java:214-296): the CSV name/lat/lon columns carry the
    FINAL default values (MODIFY stops take the matched node's location
    and name; others keep gtfs), tags from merged_tags. conflicts_only
    keeps stops whose default changed (osmDefaultOnlyChangedFinalStops,
    ReportViewer.java:419-439: MODIFY category)."""
    src = compared.filter(F.col("category") == "MODIFY") if conflicts_only else compared
    return _export(
        src, gtfs_fields, network_key, F.col("merged_tags"),
        F.coalesce(F.element_at(F.col("merged_tags"), F.lit("name")), F.col("name_raw")),
        F.col("final_lat").cast("string"), F.col("final_lon").cast("string"),
    )
