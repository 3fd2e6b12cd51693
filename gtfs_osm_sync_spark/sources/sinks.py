"""Report sinks (SURVEY §2.1 K1, K3, K4): CSV exports and OsmChange XML.

K1 is a plain df.write.csv with the reference's column/format rules
(io/WriteFile.java:214-296); the 'k=v|k=v' tag column comes from
tags_to_kv_string. Ordering is pinned to stop_id (lexical) — the
reference's String.hashCode selection sort (WriteFile.java:122-135) is a
Java artifact, documented deviation (SURVEY §4).

K4 builds osmChange XML (io/OsmPrinter.java:41-179 +
HttpRequest.getRequestContents 366-424) as a DataFrame of per-element XML
fragments assembled with format_string — all JVM expressions — plus a tiny
driver-side concat for the envelope. Create elements get negative temp
ids from -row_number() (HttpRequest.java:377-379).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from ..functions.tags import tags_to_kv_string
from ..functions.mappings import xml_escape


def export_stops_csv(
    df: DataFrame,
    path: str,
    with_tags: bool = True,
    conflicts_only: bool = False,
    category_col: str = "category",
) -> None:
    """K1: the 5 report exports (WriteFile.exportStops, WriteFile.java:214-294).

    Columns: stop_id, stop_code, stop_name, stop_lat, stop_lon[, OSM_TAGs].
    conflicts_only keeps UPLOAD_CONFLICT rows (ReportViewer.java:3212-3243).
    """
    out = df
    if conflicts_only and category_col in df.columns:
        out = out.filter(F.col(category_col) == "UPLOAD_CONFLICT")
    cols = [
        F.col("gtfs_id").alias("stop_id"),
        F.coalesce(F.col("gtfs_stop_code"), F.lit("")).alias("stop_code")
        if "gtfs_stop_code" in df.columns
        else F.lit("").alias("stop_code"),
        F.col("name").alias("stop_name"),
        F.col("lat").alias("stop_lat"),
        F.col("lon").alias("stop_lon"),
    ]
    if with_tags and "tags" in df.columns:
        cols.append(tags_to_kv_string(F.col("tags")).alias("OSM_TAGs"))
    out.select(*cols).orderBy("stop_id").coalesce(1).write.mode("overwrite").option(
        "header", True
    ).csv(path)


MAX_CHANGE_ELEMENTS = 1_000_000  # driver-memory guard for the in-memory doc


def _tag_frags() -> F.Column:
    """Sorted <tag k= v=/> lines, XML-escaped (F3); 'none' sentinel values
    suppressed (OsmPrinter.java:131-135)."""
    return F.concat_ws(
        "",
        F.transform(
            F.array_sort(
                F.filter(F.map_entries(F.col("tags")), lambda e: e["value"] != "none")
            ),
            lambda e: F.format_string(
                '    <tag k="%s" v="%s"/>\n',
                xml_escape(e["key"]),
                xml_escape(e["value"]),
            ),
        ),
    )


def _node_xml(changeset: str) -> F.Column:
    """One <node> element (OsmPrinter.writeBusStop, OsmPrinter.java:88-140)."""
    return F.format_string(
        '  <node id="%s" lat="%.7f" lon="%.7f" version="%s" changeset="%s">\n%s  </node>\n',
        F.col("elem_id").cast("string"),
        F.col("lat"),
        F.col("lon"),
        F.coalesce(F.col("version").cast("string"), F.lit("1")),
        F.lit(changeset),
        _tag_frags(),
    )


def _way_xml(changeset: str) -> F.Column:
    """One <way> element: <nd ref/> lines from the `nds` array, then tags
    (OsmPrinter.writeBusStop way branch, OsmPrinter.java:96-127:
    geoAddress empty, nd refs emitted in stored order)."""
    nd_frags = F.concat_ws(
        "",
        F.transform(
            F.coalesce(F.col("nds"), F.array().cast("array<string>")),
            lambda r: F.format_string('    <nd ref="%s"/>\n', r),
        ),
    )
    return F.format_string(
        '  <way id="%s" version="%s" changeset="%s">\n%s%s  </way>\n',
        F.col("elem_id").cast("string"),
        F.coalesce(F.col("version").cast("string"), F.lit("1")),
        F.lit(changeset),
        nd_frags,
        _tag_frags(),
    )


def _relation_xml(changeset: str, is_create: bool) -> F.Column:
    """One <relation> element: members in stored order, then tags
    (OsmPrinter.writeBusRoute, OsmPrinter.java:143-179). Creates carry
    version=<temp id> and an injected source=GO_Sync-style creator tag —
    the reference's exact create-branch behavior (OsmPrinter.java:152-157);
    member roles NULL -> role='' (OsmPrinter.java:160-166)."""
    member_frags = F.concat_ws(
        "",
        F.transform(
            F.coalesce(
                F.col("members"),
                F.array().cast("array<struct<ref:string,mtype:string,role:string>>"),
            ),
            lambda m: F.format_string(
                '    <member type="%s" ref="%s" role="%s"/>\n',
                m["mtype"],
                m["ref"],
                xml_escape(F.coalesce(m["role"], F.lit(""))),
            ),
        ),
    )
    creator = (
        '    <tag k="source" v="gtfs_osm_sync_spark"/>\n' if is_create else ""
    )
    version = (
        F.col("elem_id").cast("string")
        if is_create
        else F.coalesce(F.col("version").cast("string"), F.lit("1"))
    )
    return F.format_string(
        '  <relation id="%s" version="%s" changeset="%s">\n%s%s%s  </relation>\n',
        F.col("elem_id").cast("string"),
        version,
        F.lit(changeset),
        F.lit(creator),
        member_frags,
        _tag_frags(),
    )


def _element_xml(df: DataFrame, changeset: str, is_create: bool) -> F.Column:
    """Dispatch on primitive_type (node default — the reference's Stop
    carries its OsmPrimitiveType the same way, Stop.java:40-43)."""
    ptype = (
        F.col("primitive_type")
        if "primitive_type" in df.columns
        else F.lit("node")
    )
    out = F.when(F.lit(False), F.lit(""))
    if "nds" in df.columns:
        out = out.when(ptype == "way", _way_xml(changeset))
    if "members" in df.columns:
        out = out.when(ptype == "relation", _relation_xml(changeset, is_create))
    return out.otherwise(_node_xml(changeset))


def osm_change_xml(
    create: DataFrame | None,
    modify: DataFrame | None,
    delete: DataFrame | None,
    changeset: str = "0",
) -> str:
    """K4: assemble an osmChange document (OsmPrinter.java:41-179).

    Inputs need (lat, lon, tags[, version][, osm_id][, primitive_type]
    [, nds][, members]). Creates get negative temp ids -1..-n via
    -row_number() (HttpRequest.java:377-379); modify/delete use their
    osm_id. Ways emit <nd> refs in stored order; relations emit members
    (role rewrite upstream) then tags. Element XML is built executor-side;
    only the section concat happens on the driver (bounded by report
    size, same as the reference's in-memory StringBuilder).
    """
    sections = []
    for name, df in (("create", create), ("modify", modify), ("delete", delete)):
        if df is None:
            continue
        # driver-side size guard: the document is assembled in memory
        # (same contract as the reference's StringBuilder report); refuse
        # clearly instead of OOMing the driver on a mis-scoped input
        n = df.limit(MAX_CHANGE_ELEMENTS + 1).count()
        if n > MAX_CHANGE_ELEMENTS:
            raise ValueError(
                f"osmChange {name} section exceeds {MAX_CHANGE_ELEMENTS:,} "
                "elements; write per-element XML with df.write instead of "
                "the in-memory document (this sink mirrors the reference's "
                "bounded in-memory report)"
            )
        if name == "create":
            w = W.orderBy("gtfs_id" if "gtfs_id" in df.columns else "lat")
            df = df.withColumn("elem_id", -F.row_number().over(w))
        else:
            df = df.withColumn("elem_id", F.col("osm_id"))
        frags = df.select(
            _element_xml(df, changeset, name == "create").alias("xml")
        ).collect()
        body = "".join(r["xml"] for r in frags)
        sections.append(f" <{name}>\n{body} </{name}>\n")
    inner = "".join(sections)
    return (
        "<?xml version='1.0' encoding='UTF-8'?>\n"
        '<osmChange version="0.6" generator="gtfs_osm_sync_spark">\n'
        f"{inner}</osmChange>\n"
    )


def invert_changeset(df: DataFrame) -> DataFrame:
    """S10: changeset revert inversion (ChangesetDownloadParser.java:44-72):
    create -> delete, delete -> create, modify stays (prior version is
    re-uploaded). In the engine proper, SnapTable.rollback replaces this
    entirely (SURVEY §3.3); kept for parity with the reference's sources.
    """
    return df.withColumn(
        "action",
        F.when(F.col("action") == "create", "delete")
        .when(F.col("action") == "delete", "create")
        .otherwise("modify"),
    )


def text_report(df: DataFrame, category_col: str = "category") -> str:
    """K3: the human-readable numbered report (WriteFile.java:59-105):
    one numbered line per stop grouped by category. Bounded by report
    size (same contract as the reference's in-memory writer)."""
    if df.limit(MAX_CHANGE_ELEMENTS + 1).count() > MAX_CHANGE_ELEMENTS:
        raise ValueError(
            f"text report exceeds {MAX_CHANGE_ELEMENTS:,} rows; use the CSV "
            "exports (distributed writers) for bulk output"
        )
    rows = (
        df.select("gtfs_id", "name", category_col)
        .orderBy(category_col, "gtfs_id")
        .collect()
    )
    lines = []
    current = None
    i = 0
    for r in rows:
        if r[category_col] != current:
            current = r[category_col]
            i = 0
            lines.append(f"== {current} ==")
        i += 1
        lines.append(f"{i}. {r['gtfs_id']} {r['name']}")
    return "\n".join(lines) + "\n"


def revert_document(change: DataFrame, changeset: str = "0") -> str:
    """S10 composition (task/RevertChangeset.java:58-66): serialize the
    INVERSE of a parsed osmChange frame — created elements get deleted,
    deleted elements re-created, modified elements re-uploaded. Rows
    feeding the create/modify sections must carry full element content
    (an id-only delete section can't be re-created from the document
    alone; the reference refetches prior versions over HTTP — in this
    engine `SnapTable.rollback` is the first-class revert and this
    document form exists for API parity)."""
    inv = invert_changeset(change)
    if "elem_type" in inv.columns:
        inv = inv.withColumnRenamed("elem_type", "primitive_type")
    parts = {
        a: inv.filter(F.col("action") == a).drop("action")
        for a in ("create", "modify", "delete")
    }
    nonempty = {a: (df if not df.isEmpty() else None) for a, df in parts.items()}
    return osm_change_xml(
        nonempty["create"], nonempty["modify"], nonempty["delete"], changeset=changeset
    )
