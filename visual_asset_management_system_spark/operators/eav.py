"""EAV metadata operators.

The reference stores metadata as narrow rows keyed by
``metadataKey / databaseId:assetId:filePath``
(AssetFileMetadataStorageTableV2; metadataService.py:1460-1479) and
collects them into a flat ``MD_`` object at indexing time
(assetIndexer.py:339-377, models/indexing.py:154-172).

Spark-native forms:
- ``metadata_map``   — map<string,string> per entity (the MD_ object):
  one shuffle (hash on the entity keys) under both aggregation levels.
- ``pivot_metadata`` — wide column-per-key form for a *known* key set;
  passing ``keys`` explicitly avoids Spark's two-pass pivot (the first
  pass is a distinct scan of all keys — at 100 TB that's a full extra
  shuffle worth avoiding; the reference caps keys at 500/entity anyway).

Last-write-wins: multiple writers per (entity, key) resolve with max()
by default — the deterministic stand-in for the reference's
last-writer-wins stream ordering (SURVEY §2.9).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def metadata_map(
    metadata: DataFrame,
    entity_keys: list[str] = ("database_id", "asset_id"),
    key_col: str = "metadata_key",
    value_col: str = "metadata_value",
    out_col: str = "metadata",
) -> DataFrame:
    """Collapse EAV rows into one map column per entity.

    Two-level aggregation on ONE exchange (the q21 form): a hash
    repartition on the entity keys satisfies the clustering of both the
    (entity, key) max and the per-entity collect, so neither aggregate
    adds a shuffle of its own — one Exchange where grouping twice would
    plan two (and, for a one-entity lookup, one Spark job fewer)."""
    deduped = (
        metadata.repartition(*entity_keys)
        .groupBy(*entity_keys, key_col)
        .agg(F.max(value_col).alias(value_col))
    )
    return deduped.groupBy(*entity_keys).agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col(key_col), F.col(value_col)))
        ).alias(out_col)
    )


#: the GeoJSON type vocabulary accepted by the ``geojson`` value type
#: (models/metadata.py:173-181 defers to the geojson library's parser).
GEOJSON_TYPES = (
    "Point", "MultiPoint", "LineString", "MultiLineString", "Polygon",
    "MultiPolygon", "GeometryCollection", "Feature", "FeatureCollection",
)


def type_valid(value: Column, value_type: Column) -> Column:
    """Does ``value`` parse as its declared metadata type? Re-expresses
    validate_metadata_value_common (models/metadata.py:74-221) — all 13
    declared types — as one JVM-side Column expression:

    - string / multiline_string / inline_controlled_list: always valid;
    - number: castable to double;  boolean: 'true'/'false' (exactly);
    - date: ISO date or timestamp (fromisoformat equivalent);
    - json: parseable; xyz / wxyz: JSON object with numeric coords;
    - matrix4x4: JSON 4×4 numeric array; geopoint: GeoJSON Point with a
      ≥2-element coordinates array; geojson: object with a valid GeoJSON
      ``type``; lla: lat ∈ [-90,90], long ∈ [-180,180], numeric alt.

    Empty/NULL values are always valid (the reference returns early;
    required-ness is schema validation's job, models/metadata.py:88-90).
    ``from_json`` nulls out unparseable fields, so "field is non-null"
    is exactly the reference's isinstance-number check.
    """
    v = value
    xyz = F.from_json(v, "x double, y double, z double")
    wxyz = F.from_json(v, "w double, x double, y double, z double")
    mat = F.from_json(v, "array<array<double>>")
    gp = F.from_json(v, "type string, coordinates array<double>")
    gj = F.from_json(v, "type string")
    lla = F.from_json(v, "lat double, long double, alt double")
    checks: list[tuple[str, Column]] = [
        ("string", F.lit(True)),
        ("multiline_string", F.lit(True)),
        ("inline_controlled_list", F.lit(True)),
        ("number", v.try_cast("double").isNotNull()),
        ("boolean", F.lower(v).isin("true", "false")),
        (
            "date",
            v.try_cast("timestamp").isNotNull()
            | v.try_cast("date").isNotNull(),
        ),
        ("json", F.try_parse_json(v).isNotNull()),
        (
            "xyz",
            xyz["x"].isNotNull() & xyz["y"].isNotNull() & xyz["z"].isNotNull(),
        ),
        (
            "wxyz",
            wxyz["w"].isNotNull() & wxyz["x"].isNotNull()
            & wxyz["y"].isNotNull() & wxyz["z"].isNotNull(),
        ),
        (
            "matrix4x4",
            mat.isNotNull()
            & (F.size(mat) == 4)
            & F.forall(mat, lambda r: r.isNotNull() & (F.size(r) == 4)),
        ),
        (
            "geopoint",
            (gp["type"] == "Point")
            & gp["coordinates"].isNotNull()
            & (F.size(gp["coordinates"]) >= 2),
        ),
        ("geojson", gj["type"].isin(*GEOJSON_TYPES)),
        (
            "lla",
            lla["lat"].between(-90, 90)
            & lla["long"].between(-180, 180)
            & lla["alt"].isNotNull(),
        ),
    ]
    expr = None
    for t, ok in checks:
        expr = (
            F.when(value_type == t, ok)
            if expr is None
            else expr.when(value_type == t, ok)
        )
    typed = expr.otherwise(F.lit(False))
    return F.when(v.isNull() | (v == ""), F.lit(True)).otherwise(
        F.coalesce(typed, F.lit(False))
    )


def validate_metadata(
    metadata: DataFrame,
    schemas: DataFrame,
    entity_keys: list[str] = ("database_id", "asset_id"),
) -> DataFrame:
    """Schema-validation operator: metadata vs declared schemas →
    violation rows (database_id, asset_id, metadata_key, violation).

    Mirrors common/metadataSchemaValidation.py semantics declaratively:
    - ``not_in_controlled_list`` — value outside the schema's allowed set
      (comma-delimited list; membership via delimiter-wrapped contains);
    - ``bad_type`` — value that fails its declared type's validation
      (all 13 types — see :func:`type_valid`);
    - ``missing_required`` — entity lacks a required key entirely.

    Scale shape: schemas is a tiny dimension (broadcast); the latest-
    value dedup shuffles once on the entity key; missing-required is a
    broadcast cross join of distinct entities × required keys followed
    by an anti-join — O(entities × required_keys), never O(metadata²).
    """
    keys = list(entity_keys)
    latest = metadata.groupBy(*keys, "metadata_key").agg(
        F.max("metadata_value").alias("metadata_value")
    )
    joined = latest.join(F.broadcast(schemas), "metadata_key")
    wrapped = lambda c: F.concat(F.lit(","), c, F.lit(","))  # noqa: E731
    not_allowed = joined.filter(
        F.col("allowed_values").isNotNull()
        & ~wrapped(F.col("allowed_values")).contains(
            wrapped(F.col("metadata_value"))
        )
    ).select(*keys, "metadata_key", F.lit("not_in_controlled_list").alias("violation"))
    bad_type = joined.filter(
        ~type_valid(F.col("metadata_value"), F.col("value_type"))
    ).select(*keys, "metadata_key", F.lit("bad_type").alias("violation"))
    entities = metadata.select(*keys).distinct()
    required = schemas.filter(F.col("required")).select("metadata_key")
    missing = (
        entities.crossJoin(F.broadcast(required))
        .join(latest.select(*keys, "metadata_key"), [*keys, "metadata_key"], "left_anti")
        .select(*keys, "metadata_key", F.lit("missing_required").alias("violation"))
    )
    return not_allowed.unionByName(bad_type).unionByName(missing)


def bulk_validation_tally(
    metadata: DataFrame,
    schemas: DataFrame,
    entity_keys: list[str] = ("database_id", "asset_id"),
) -> DataFrame:
    """Bulk-operation result counts (BulkOperationResponseModel,
    models/metadata.py:260-269): per entity, how many submitted metadata
    items validate vs fail. An item fails if it carries any per-item
    violation (bad_type / not_in_controlled_list); missing_required is a
    schema-level gap, not a submitted item, so it doesn't count here.

    One aggregation over items left-joined to their violations —
    map-side combinable, no driver loop."""
    keys = list(entity_keys)
    items = metadata.select(*keys, "metadata_key").distinct()
    item_viol = (
        validate_metadata(metadata, schemas, entity_keys)
        .filter(F.col("violation") != "missing_required")
        .select(*keys, "metadata_key")
        .distinct()
        .withColumn("_failed", F.lit(True))
    )
    return (
        items.join(item_viol, [*keys, "metadata_key"], "left")
        .groupBy(*keys)
        .agg(
            F.count(F.lit(1)).alias("total_items"),
            F.sum(F.when(F.col("_failed").isNull(), 1).otherwise(0)).alias(
                "success_count"
            ),
            F.sum(F.when(F.col("_failed").isNotNull(), 1).otherwise(0)).alias(
                "failure_count"
            ),
        )
    )


def pivot_metadata(
    metadata: DataFrame,
    keys: list[str],
    entity_keys: list[str] = ("database_id", "asset_id"),
    key_col: str = "metadata_key",
    value_col: str = "metadata_value",
) -> DataFrame:
    """Wide form: one column per metadata key (explicit key list)."""
    return (
        metadata.groupBy(*entity_keys)
        .pivot(key_col, keys)
        .agg(F.max(value_col))
    )
