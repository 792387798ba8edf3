"""The reference pipeline, re-expressed as Spark plans end-to-end.

Parity map (reference → here):
  generate_and_export_raw_geojson (R/functions.R:173-192) → build_raw_service_areas
  filter_certificates_csv        (R/functions.R:194-228) → via operators.relational
  process_chronology             (R/functions.R:270-277) → enrich_chronology
  build_certificates_df          (R/functions.R:306-380) → certificate_metadata
  generate_and_export_geojson    (R/functions.R:420-562) → build_service_areas

Everything is declarative DataFrame ops; the only UDF on the path is
st_make_valid (geometry repair). Dim-sized inputs (certificates,
patches) are broadcast; the KML fact side is never shuffled except
for the single group-by-certificate combine, and, when there are
acquisition merges, the merge's re-key shuffle over the combined
per-certificate rows. Each layer scans and repairs the KML set once.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from utility_service_areas_spark.functions.geometry import st_make_valid, st_union_multi
from utility_service_areas_spark.operators.relational import (
    filter_active_utilities,
    latest_per_group,
    sync_status_expr,
    tag_entities,
)
from utility_service_areas_spark.sources.kml import read_kml
from utility_service_areas_spark.operators.localrel import local_df

CERT_NUM_RE = r"(\d+(\.\d+)?)"  # matches CPCN '18.1' too (R/functions.R:180)


def _combine_by_certificate(kml: DataFrame, name: Column) -> DataFrame:
    """st_make_valid + group-by-cert st_combine (R/functions.R:466-471)
    on the certificate number read from ``name``; rows without one are
    dropped. One shuffle on certificate_number. ``parts`` holds each
    polygon and whether it came from a -plss-fix KML."""
    cert = F.nullif(F.regexp_extract(name, CERT_NUM_RE, 1), F.lit("")).cast("double")
    return (
        kml.withColumn("certificate_number", cert)
        .filter(F.col("certificate_number").isNotNull())
        .withColumn("geometry", st_make_valid(F.col("geometry")))
        .groupBy("certificate_number")
        .agg(
            F.collect_list(
                F.struct(
                    F.col("path").contains("-plss-fix").alias("is_patch"), "geometry"
                )
            ).alias("parts")
        )
    )


def _multipolygon(parts: Column) -> list[Column]:
    """geometry and n_source_polygons of the polygons in ``parts``."""
    return [
        F.transform(parts, lambda p: p["geometry"]).alias("geometry"),
        F.size(parts).cast("long").alias("n_source_polygons"),
    ]


def build_raw_service_areas(
    spark: SparkSession, kml_glob: str, certificates: DataFrame
) -> DataFrame:
    """Raw merged layer: every KML, no filtering/patching
    (R/functions.R:173-192)."""
    combined = _combine_by_certificate(
        read_kml(spark, kml_glob), F.col("placemark_name")
    ).select("certificate_number", *_multipolygon(F.col("parts")))
    return combined.join(F.broadcast(certificates), "certificate_number", "inner")


def enrich_chronology(chronology: DataFrame) -> DataFrame:
    """Parse order dates (sentinel for blanks) and sort-enrich
    (R/functions.R:251-277). Expects columns:
    certificate_number, docket_number, order_id, order_date (string
    M/D/Y), order_type, comment."""
    parsed = F.coalesce(
        F.to_date(F.col("order_date"), "M/d/yyyy"),
        F.to_date(F.lit("1900-01-01")),
    )
    return chronology.withColumn("order_date", parsed)


def certificate_metadata(
    certificates: DataFrame, chronology: DataFrame
) -> DataFrame:
    """Latest/earliest chronology metadata per certificate
    (R/functions.R:306-380): granted year (first order), last update
    (latest order), formatted order text."""
    latest = latest_per_group(
        chronology,
        ["certificate_number"],
        [F.col("order_date").desc(), F.col("order_id").desc()],
    ).select(
        "certificate_number",
        F.col("order_date").alias("certificate_last_update_date"),
        F.col("order_type").alias("certificate_last_update_type"),
        F.when(
            F.col("docket_number").isNotNull()
            & (F.col("docket_number") != "")
            & F.col("order_id").isNotNull()
            & (F.col("order_id") != ""),
            F.concat(F.col("docket_number"), F.lit("("), F.col("order_id"), F.lit(")")),
        )
        .otherwise(F.col("docket_number"))
        .alias("certificate_last_update_order"),
    )
    earliest = chronology.groupBy("certificate_number").agg(
        F.year(F.min("order_date")).cast("int").alias("certificate_granted_year")
    )
    return certificates.join(F.broadcast(latest), "certificate_number", "left").join(
        F.broadcast(earliest), "certificate_number", "left"
    )


def _active_certificates(
    certificates: DataFrame, operator_ids: list[int], inactive_ids: list[int]
) -> DataFrame:
    """filter_certificates_csv semantics (R/functions.R:194-228): drop
    operators, drop curated inactive ids, keep Active."""
    return filter_active_utilities(
        tag_entities(certificates, "certificate_number", operator_ids),
        "certificate_number",
        inactive_ids,
        F.col("certificate_status") == "Active",
    )


def _merge_acquisitions(
    combined: DataFrame, merge_patches: list[tuple[int, int]]
) -> DataFrame:
    """Acquisition merges (get_merge_geom, R/functions.R:421-444):
    cert2's polygons are appended into cert1's MultiPolygon (disjoint
    service areas: union == combine). Absorbed certs never survive as
    their own rows, even where the certificate filter would keep them
    (r15 review #5; on the real data every cert2 is Inactive anyway).
    Each cert2 row is re-keyed to its cert1 as an acquired part and one
    group-by collects the parts; a group needs exactly one own part.
    Parts are sorted (collect_list order is task-completion order, r15
    review #4): own polygons first, then absorbed ones by cert2."""
    if not merge_patches:
        return combined
    patches = F.broadcast(
        local_df(combined.sparkSession, merge_patches, ["cert1", "cert2"])
    )
    owner = F.coalesce(F.col("cert1").cast("double"), "certificate_number")
    parts = F.array_sort(
        F.collect_list(
            F.struct(
                F.col("cert1").isNotNull().alias("acquired"),
                "cert2",
                "geometry",
                "n_source_polygons",
            )
        )
    )
    return (
        combined.join(patches, combined.certificate_number == patches.cert2, "left")
        .groupBy(owner.alias("certificate_number"))
        .agg(parts.alias("parts"))
        .filter(F.size(F.filter("parts", lambda p: ~p["acquired"])) == 1)
        .select(
            "certificate_number",
            F.flatten(F.transform("parts", lambda p: p["geometry"])).alias("geometry"),
            F.col("parts")[0]["n_source_polygons"].alias("n_source_polygons"),
        )
    )


def build_service_areas(
    spark: SparkSession,
    kml_glob: str,
    certificates: DataFrame,
    chronology: DataFrame,
    operator_ids: list[int],
    inactive_ids: list[int],
    merge_patches: list[tuple[int, int]],
    assume_disjoint: bool = True,
) -> DataFrame:
    """Cleaned + patched layer (R/functions.R:420-562): filter to
    active utilities, combine KML geometry per certificate, apply
    acquisition merges (cert1 absorbs cert2's geometry), attach
    chronology metadata and the 3-state sync status.

    ``assume_disjoint=True`` (the reference's real data) keeps the
    acquisition merge as a MultiPolygon concat — union == combine when
    service areas don't overlap. ``False`` runs a true ``st_union``
    dissolve (R/functions.R:431 ``st_union(patched_geom, patch_geom)``)
    over each merged certificate's polygons, so overlapping
    acquisitions don't double-count area.
    """
    certs = _active_certificates(certificates, operator_ids, inactive_ids)
    basename = F.element_at(F.split(F.col("path"), "/"), -1)
    combined = _combine_by_certificate(
        read_kml(spark, kml_glob),
        F.coalesce(F.nullif(F.col("placemark_name"), F.lit("")), basename),
    )
    # if a -plss-fix KML exists, the original is dropped (R/functions.R:450-458)
    patched = F.filter(
        "parts",
        lambda p: p["is_patch"] | ~F.array_contains(F.col("parts")["is_patch"], True),
    )
    combined = _merge_acquisitions(
        combined.select("certificate_number", *_multipolygon(patched)), merge_patches
    )
    if merge_patches and not assume_disjoint:
        # True dissolve of the merged MultiPolygon — only the
        # certificates that actually absorbed another one pay the
        # overlay cost; untouched rows keep their geometry as-is.
        combined = combined.withColumn(
            "geometry",
            F.when(
                F.col("certificate_number").isin([c1 for c1, _ in merge_patches]),
                st_union_multi(F.col("geometry")),
            ).otherwise(F.col("geometry")),
        )

    meta = certificate_metadata(certs, enrich_chronology(chronology))
    joined = combined.join(F.broadcast(meta), "certificate_number", "inner")

    # geometry_is_current: KML date >= last service-area-affecting
    # chronology entry (R/functions.R:287-304); here the KML update
    # date arrives as a certificates column (kml_update_date).
    is_current = F.when(
        F.col("kml_update_date").isNull(), F.lit(None).cast("boolean")
    ).otherwise(F.col("kml_update_date") >= F.col("certificate_last_update_date"))
    return joined.select(
        "certificate_number",
        "entity",
        "certificate_name",
        F.col("cpcn_url").alias("certificate_url"),
        "certificate_granted_year",
        "certificate_last_update_date",
        "certificate_last_update_order",
        F.when(F.col("certificate_last_update_type") == "type not set", None)
        .otherwise(F.col("certificate_last_update_type"))
        .alias("certificate_last_update_type"),
        F.col("kml_update_date").alias("geometry_last_update"),
        is_current.alias("geometry_is_current"),
        sync_status_expr(is_current).alias("geometry_cert_sync_status"),
        "n_source_polygons",
        "geometry",
    )


def raw_layer_from_geojson(spark: SparkSession, raw_geojson: str) -> DataFrame:
    """The committed raw merged layer (service-areas-raw.geojson, the
    output of generate_and_export_raw_geojson, R/functions.R:173-192)
    re-read as one row per certificate with its MultiPolygon in the
    FILE'S polygon order (poly_idx rides the S4 reader through the
    shuffle so the reassembly is byte-stable)."""
    from utility_service_areas_spark.sources.geojson import read_geojson

    feats = read_geojson(spark, raw_geojson)
    return (
        feats.select(
            F.get_json_object(
                F.col("properties_json"), "$.certificate_number"
            )
            .cast("double")
            .alias("certificate_number"),
            "poly_idx",
            "geometry",
        )
        .groupBy("certificate_number")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("poly_idx", "geometry"))
                ),
                lambda s: s["geometry"],
            ).alias("geometry"),
            F.count(F.lit(1)).cast("long").alias("n_source_polygons"),
        )
    )


def replay_service_areas_from_raw(
    raw_layer: DataFrame,
    certificates: DataFrame,
    operator_ids: list[int],
    inactive_ids: list[int],
    merge_patches: list[tuple[int, int]],
) -> DataFrame:
    """Re-derive the cleaned/patched export's DERIVABLE subset from
    the repo's committed real inputs alone (VERDICT r14 task #2): the
    raw merged layer + the scraped certificates CSV — no KML dir, no
    network. Replays generate_and_export_geojson's derivable steps
    (R/functions.R:420-562):

      - active-utility filter (filter_certificates_csv semantics:
        drop operators, drop curated inactive ids, keep Active —
        R/functions.R:194-228); absorbed acquisition certs fall out
        of the same filter on the real data (every cert2 is Inactive
        or in inactive_ids);
      - acquisition merges (get_merge_geom, R/functions.R:421-444):
        cert1's MultiPolygon absorbs cert2's polygons. Concat
        semantics (the build_service_areas assume_disjoint posture);
        the reference's s2 st_union renumbers coordinates, so merge
        targets are pinned by AREA parity, not bytes;
      - export field mapping: certificate_url = cpcn_url,
        certificate_number to int (all integral after the filter).

    NOT derivable from committed inputs (documented, pinned as such
    in tests/test_reference_replay.py): the four PLSS-built features
    (289/741/765/767 — geometry comes from live PLSS query URLs), the
    four PLSS-patched geometries (365/395/412/635 — same), and every
    chronology-derived field (certificate_granted_year,
    certificate_last_update_*, geometry_last_update,
    geometry_is_current, sync status — the chronology scrape is not
    committed)."""
    certs = _active_certificates(certificates, operator_ids, inactive_ids)
    combined = _merge_acquisitions(raw_layer, merge_patches)
    joined = combined.join(F.broadcast(certs), "certificate_number", "inner")
    return joined.select(
        F.col("certificate_number").cast("int").alias("certificate_number"),
        "entity",
        "certificate_name",
        F.col("cpcn_url").alias("certificate_url"),
        "n_source_polygons",
        "geometry",
    )
