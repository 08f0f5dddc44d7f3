"""The reference's Airbnb warehouse pipeline, recomposed from operators.

Parity map to /root/reference (every stage, same semantics, zero code
reuse — each stage is a call into the generic operator library):

| reference                           | here                          |
|-------------------------------------|-------------------------------|
| jobs/csv_to_parquet.py (staging)    | ``stage_listings/calendar/reviews`` via sources.read_csv_typed |
| jobs/final_dim_load.py dim_host     | ``build_dim_host`` (Scd2Spec + scd2_initial/merge) |
| jobs/final_dim_load.py dim_location | ``build_dim_location`` (operators.dims.location_dimension) |
| jobs/final_dim_load.py dim_listing  | ``build_dim_listing`` (same Scd2 operator, different spec) |
| jobs/final_dim_load.py dim_date     | ``build_dim_date`` (operators.dims.date_dimension) |
| jobs/final_fact_load.py             | ``build_fact_listing_daily`` (operators.facts.build_fact) |

Cleansing semantics preserved (citations in the cast maps below):
"t"/"true" boolean coercion (csv_to_parquet.py:35-37), money stripping
(:44), negative clamping (final_dim_load.py:44-47), N/A-or-0 null
defaults (:75-92), price imputation chain (final_fact_load.py:37-42),
day-type/rental-category derivations (final_fact_load.py:122-143,
final_dim_load.py:476-484).

The reference's host and listing blocks are ~90% copy-paste of each
other; here they differ ONLY in their Scd2Spec — the architectural point
of SURVEY §7.0.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from airbnb_pyspark_jobs_spark.functions.cleansing import (
    clamp_non_negative,
    coerce_boolean,
    fill_defaults,
    impute,
)
from airbnb_pyspark_jobs_spark.operators.dims import (
    date_dimension,
    location_dimension,
)
from airbnb_pyspark_jobs_spark.operators.facts import DimJoin, build_fact
from airbnb_pyspark_jobs_spark.operators.scd2 import Scd2Spec, scd2_initial, scd2_merge
from airbnb_pyspark_jobs_spark.sources.csv import read_csv_typed

# --- staging cast maps (jobs/csv_to_parquet.py:29-77, :89-96, :108-112) ---

# Complete staged-column inventory per jobs/csv_to_parquet.py:29-77
# (types from FIXTURES.md §A1). Feeds that extract a column subset pass
# strict=False.
LISTINGS_CAST_MAP: dict[str, str] = {
    "id": "string",
    "host_id": "string",
    "scrape_id": "string",
    "last_scraped": "timestamp",
    "host_since": "date",
    "host_is_superhost": "bool",
    "host_has_profile_pic": "bool",
    "host_identity_verified": "bool",
    "latitude": "decimal(10,6)",
    "longitude": "decimal(10,6)",
    "accommodates": "int",
    "price": "money",
    "bathrooms": "decimal(10,2)",
    "bedrooms": "int",
    "beds": "int",
    "minimum_nights": "int",
    "maximum_nights": "int",
    "minimum_minimum_nights": "int",
    "maximum_minimum_nights": "int",
    "minimum_maximum_nights": "int",
    "maximum_maximum_nights": "int",
    "minimum_nights_avg_ntm": "decimal(10,2)",
    "maximum_nights_avg_ntm": "decimal(10,2)",
    "calendar_updated": "date",
    "has_availability": "bool",
    "availability_30": "int",
    "availability_60": "int",
    "availability_90": "int",
    "availability_365": "int",
    "calendar_last_scraped": "date",
    "number_of_reviews": "int",
    "number_of_reviews_ltm": "int",
    "number_of_reviews_l30d": "int",
    "first_review": "date",
    "last_review": "date",
    "review_scores_rating": "double",
    "review_scores_accuracy": "double",
    "review_scores_cleanliness": "double",
    "review_scores_checkin": "double",
    "review_scores_communication": "double",
    "review_scores_location": "double",
    "review_scores_value": "double",
    "instant_bookable": "bool",
    "calculated_host_listings_count": "int",
    "calculated_host_listings_count_entire_homes": "int",
    "calculated_host_listings_count_private_rooms": "int",
    "calculated_host_listings_count_shared_rooms": "int",
    "reviews_per_month": "decimal(10,2)",
    "host_listings_count": "int",
    "host_total_listings_count": "int",
}

CALENDAR_CAST_MAP: dict[str, str] = {
    "listing_id": "string",
    "date": "date",
    "available": "bool",
    "price": "money",
    "adjusted_price": "money",
    "minimum_nights": "int",
    "maximum_nights": "int",
}

REVIEWS_CAST_MAP: dict[str, str] = {
    "listing_id": "string",
    "id": "string",
    "date": "date",
    "reviewer_id": "string",
}


def stage_listings(spark: SparkSession, path: str) -> DataFrame:
    # strict=False: the cast map is the FULL reference inventory; real
    # extracts sometimes carry a column subset.
    return read_csv_typed(spark, path, LISTINGS_CAST_MAP, strict=False)


def stage_calendar(spark: SparkSession, path: str) -> DataFrame:
    return read_csv_typed(spark, path, CALENDAR_CAST_MAP, strict=False)


# --- dimensions (jobs/final_dim_load.py) ---

HOST_SPEC = Scd2Spec(
    natural_key=("host_src_id",),
    tracked_cols=(
        "host_name",
        "host_since",
        "host_location",
        "host_response_time",
        "host_is_superhost",
        "host_listings_count",
        "host_has_profile_pic",
        "host_identity_verified",
    ),
    surrogate_key="host_key",
)

LISTING_SPEC = Scd2Spec(
    natural_key=("listing_src_id",),
    tracked_cols=(
        "name",
        "property_type",
        "room_type",
        "accommodates",
        "bathrooms",
        "bedrooms",
        "beds",
        "price",
        "minimum_nights",
        "maximum_nights",
        "has_availability",
        "instant_bookable",
        "number_of_reviews",
        "review_scores_rating",
    ),
    surrogate_key="listing_key",
)

_HOST_DEFAULTS = {
    "host_name": "N/A",
    "host_location": "N/A",
    "host_response_time": "N/A",
    "host_listings_count": 0,
}


def _conform_hosts(listings: DataFrame) -> DataFrame:
    """Host snapshot from staged listings: project, cleanse, dedup
    (jobs/final_dim_load.py:49-92 semantics)."""
    hosts = listings.select(
        F.col("host_id").cast("long").alias("host_src_id"),
        F.col("host_name"),
        F.col("host_since"),
        F.col("host_location"),
        F.trim(F.col("host_response_time")).alias("host_response_time"),
        F.col("host_is_superhost"),
        F.col("host_listings_count"),
        F.col("host_has_profile_pic"),
        F.col("host_identity_verified"),
    ).filter(F.col("host_src_id").isNotNull())
    hosts = fill_defaults(hosts, _HOST_DEFAULTS)
    hosts = hosts.na.fill(False, ["host_is_superhost", "host_has_profile_pic", "host_identity_verified"])
    hosts = clamp_non_negative(hosts, ["host_listings_count"])
    return hosts.dropDuplicates(["host_src_id"])


def _conform_listings(listings: DataFrame) -> DataFrame:
    """Listing snapshot (jobs/final_dim_load.py:261-326 semantics)."""
    snap = listings.select(
        F.col("id").cast("long").alias("listing_src_id"),
        "name",
        "property_type",
        "room_type",
        "accommodates",
        "bathrooms",
        "bedrooms",
        "beds",
        "price",
        "minimum_nights",
        "maximum_nights",
        "has_availability",
        "instant_bookable",
        "number_of_reviews",
        "review_scores_rating",
    ).filter(F.col("listing_src_id").isNotNull())
    snap = fill_defaults(
        snap, {"name": "N/A", "property_type": "N/A", "room_type": "N/A"}
    )
    snap = snap.na.fill(0, ["accommodates", "bedrooms", "beds", "minimum_nights", "maximum_nights", "number_of_reviews"])
    snap = snap.na.fill(0.0, ["review_scores_rating"])
    snap = clamp_non_negative(
        snap, ["accommodates", "bedrooms", "beds", "minimum_nights", "maximum_nights", "number_of_reviews"]
    )
    return snap.dropDuplicates(["listing_src_id"])


def build_dim_host(
    listings: DataFrame, existing: DataFrame | None, as_of: str
) -> DataFrame:
    snap = _conform_hosts(listings)
    if existing is None:
        return scd2_initial(snap, HOST_SPEC, as_of)
    return scd2_merge(existing, snap, HOST_SPEC, as_of)


def build_dim_listing(
    listings: DataFrame, existing: DataFrame | None, as_of: str
) -> DataFrame:
    snap = _conform_listings(listings)
    if existing is None:
        return scd2_initial(snap, LISTING_SPEC, as_of)
    return scd2_merge(existing, snap, LISTING_SPEC, as_of)


def build_dim_location(listings: DataFrame) -> DataFrame:
    return location_dimension(listings)


def build_dim_date(spark: SparkSession, start: str = "2010-01-01", end: str = "2030-12-31") -> DataFrame:
    return date_dimension(spark, start, end)


# --- fact (jobs/final_fact_load.py) ---


def _rental_category(min_nights: Column) -> Column:
    """final_fact_load.py:137-139 semantics."""
    return (
        F.when(min_nights <= 7, "SHORT_TERM")
        .when(min_nights <= 30, "MEDIUM_TERM")
        .otherwise("LONG_TERM")
    )


def build_fact_listing_daily(
    calendar: DataFrame,
    listings: DataFrame,
    dim_listing: DataFrame,
    dim_host: DataFrame,
    dim_location: DataFrame,
    pre_partition: tuple[int, str] | None = None,
) -> DataFrame:
    """Grain: listing × calendar day. The reference's 4-stage join chain
    (J6-J9, jobs/final_fact_load.py:60-120) as one build_fact call.

    Current dimension versions only (is_valid slice — the reference
    filters at read, :20-21); dims broadcast; calendar optionally
    pre-partitioned on listing_id (:44).
    """
    cal = (
        calendar.select(
            F.col("listing_id").cast("long").alias("listing_id"),
            F.col("date"),
            # fact job's re-coercion: anything not 'f' counts available
            # (final_fact_load.py:33-36)
            coerce_boolean("available", null_as=True, other_as=True).alias("available"),
            impute("price", F.lit(100.00).cast("decimal(10,2)")).alias("price"),
            impute("adjusted_price", "price", F.lit(100.00).cast("decimal(10,2)")).alias(
                "adjusted_price"
            ),
            "minimum_nights",
            "maximum_nights",
        )
        .filter(F.col("date").isNotNull())
    )

    src = listings.select(
        F.col("id").cast("long").alias("src_listing_id"),
        F.col("host_id").cast("long").alias("src_host_id"),
        F.col("latitude").cast("decimal(10,6)").alias("src_lat"),
        F.col("longitude").cast("decimal(10,6)").alias("src_long"),
    )

    dim_l = dim_listing.filter(F.col("is_valid")).select("listing_key", "listing_src_id")
    dim_h = dim_host.filter(F.col("is_valid")).select("host_key", "host_src_id")
    dim_loc = dim_location.select(
        "location_src_id",
        F.col("latitude").alias("loc_lat"),
        F.col("longitude").alias("loc_long"),
    )

    fact = build_fact(
        base=cal,
        dims=[
            DimJoin(dim=dim_l, on={"listing_id": "listing_src_id"}, take=("listing_key",)),
            DimJoin(dim=src, on={"listing_id": "src_listing_id"}, take=("src_host_id", "src_lat", "src_long")),
            DimJoin(dim=dim_h, on={"src_host_id": "host_src_id"}, take=("host_key",)),
            DimJoin(
                dim=dim_loc,
                on={"src_lat": "loc_lat", "src_long": "loc_long"},
                take=("location_src_id",),
            ),
        ],
        grain=("listing_id", "date"),
        derived={
            "day_type": F.when(
                F.dayofweek("date").isin(1, 7), "WEEKEND"
            ).otherwise("WEEKDAY"),
            "rental_category": _rental_category(F.col("minimum_nights")),
        },
        keep=(
            "listing_id",
            "date",
            "available",
            "price",
            "adjusted_price",
            "minimum_nights",
            "maximum_nights",
        ),
        pre_partition=pre_partition,
    )
    return fact
