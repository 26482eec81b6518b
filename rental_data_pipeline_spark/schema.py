"""Listing data model: union schema, rename map, typed field lists.

The reference's records are dynamic ``dict``s (SURVEY §1.1); here the
~60-field union becomes an explicit nullable ``StructType`` so parquet
scans prune columns and Catalyst folds the per-field expressions.

Sources of truth in the reference (cited for parity, not copied as
code): the RU→EN rename map (``data_process/flatten.py:4-55``), the
numeric/date/temp field lists (``data_process/normalize.py:107-159``),
and identity/geo fields built by ``scraper/html_parser.py``.
"""

from __future__ import annotations

from pyspark.sql import types as T

# P1: RU/alias key → EN column name (ref flatten.py:4-55). Unknown keys
# pass through unchanged (flatten.py:63) — see operators.flatten.
FIELD_MAPPINGS: dict[str, str] = {
    # Rental terms
    "Залог": "security_deposit",
    "deposit": "security_deposit",
    "Комиссии": "commission",
    "Комиссия": "commission",
    "Оплата ЖКХ": "utilities_payment",
    "Предоплата": "prepayment",
    "Предоплаты": "prepayment",
    "Срок аренды": "rental_period",
    "lease_term": "rental_period",
    "Торг": "negotiable",
    "Условия проживания": "living_conditions",
    "Балкон/лоджия": "balcony",
    "Вид из окон": "view",
    "Высота потолков": "ceiling_height",
    "Год постройки": "year_built",
    "Жилая площадь": "living_area",
    "Комнат в аренду": "rooms_for_rent",
    "Комнат в квартире": "rooms_in_apartment",
    "Общая площадь": "total_area",
    "Планировка": "layout",
    "Площадь комнат": "room_area",
    "Площадь кухни": "kitchen_area",
    "Ремонт": "renovation",
    "Санузел": "bathroom",
    "Спальных мест": "sleeping_places",
    "Тип жилья": "apartment_type",
    "Этаж": "floor_combined",
    "Аварийность": "emergency",
    "Газоснабжение": "gas_supply",
    "Количество лифтов": "elevators",
    "Мусоропровод": "garbage_chute",
    "Отопление": "heating",
    "Парковка": "parking",
    "Подъезды": "entrances",
    "Строительная серия": "building_series",
    "Тип дома": "building_type",
    "Тип перекрытий": "ceiling_type",
    "Холодильник": "has_refrigerator",
    "Посудомоечная машина": "has_dishwasher",
    "Стиральная машина": "has_washing_machine",
    "Кондиционер": "has_air_conditioner",
    "Интернет": "has_internet",
    "Ванна": "has_bathtub",
    "Мебель в комнатах": "has_room_furniture",
    "Телевизор": "has_tv",
    "Мебель на кухне": "has_kitchen_furniture",
    "Душевая кабина": "has_shower_cabin",
}

# X3: fields coerced by parse_numeric_value (ref normalize.py:107-129).
NUMERIC_FIELDS: tuple[str, ...] = (
    "price_value",
    "estimated_price",
    "security_deposit",
    "commission",
    "prepayment",
    "total_area",
    "living_area",
    "kitchen_area",
    "ceiling_height",
    "total_floors",
    "floor",
    "room_count",
    "total_views",
    "today_views",
    "unique_views",
    "sleeping_places",
    "distance",
    "room_area",
    "rooms_for_rent",
    "rooms_in_apartment",
    "price_change_value",
)

# X4: fields coerced by parse_russian_date (ref normalize.py:135-142).
DATE_FIELDS: tuple[str, ...] = (
    "timestamp",
    "updated_date",
    "last_active",
    "publication_date",
    "unpublished_date",
    "price_change_date",
)

# P2: temp columns dropped post-normalize (ref normalize.py:148-159).
TEMP_COLUMNS: tuple[str, ...] = (
    "street_href",
    "building_href",
    "raw_address",
    "raw_full_address",
    "floor_combined",
    "offer_stats",
)

# J3: never overwritten on update (ref merge.py:77-84); updated_date is
# consumed by CDC and never stored.
PROTECTED_COLUMNS: tuple[str, ...] = ("timestamp", "image_urls")

# CDC columns produced by the merge (ref merge.py:29-74,97-108).
CDC_COLUMNS: tuple[str, ...] = (
    "publication_date",
    "last_active",
    "unpublished_date",
    "price_change_value",
    "price_change_date",
    "total_price_changes",
    "price_changes",
    "price_changes_dates",
)

_STRING_FIELDS = (
    "offer_id",
    "offer_url",
    "title",
    "description",
    "address",
    "full_address",
    "city",
    "district",
    "neighborhood",
    "street",
    "street_id",
    "building",
    "building_id",
    "metro",
    "metro_id",
    "rental_period",
    "utilities_payment",
    "negotiable",
    "living_conditions",
    "balcony",
    "view",
    "layout",
    "renovation",
    "bathroom",
    "apartment_type",
    "year_built",
    "emergency",
    "gas_supply",
    "elevators",
    "garbage_chute",
    "heating",
    "parking",
    "entrances",
    "building_series",
    "building_type",
    "ceiling_type",
    "status",
    "price_changes",
    "price_changes_dates",
)

_BOOLEAN_FIELDS = (
    "is_unpublished",
    "has_refrigerator",
    "has_dishwasher",
    "has_washing_machine",
    "has_air_conditioner",
    "has_internet",
    "has_bathtub",
    "has_room_furniture",
    "has_tv",
    "has_kitchen_furniture",
    "has_shower_cabin",
)

_DOUBLE_FIELDS = (
    "price_value",
    "estimated_price",
    "security_deposit",
    "commission",
    "prepayment",
    "total_area",
    "living_area",
    "kitchen_area",
    "ceiling_height",
    "distance",
    "room_area",
)

_LONG_FIELDS = (
    "total_floors",
    "floor",
    "room_count",
    "total_views",
    "today_views",
    "unique_views",
    "sleeping_places",
    "rooms_for_rent",
    "rooms_in_apartment",
    "price_change_value",
    "total_price_changes",
)

_TIMESTAMP_FIELDS = (
    "timestamp",
    "updated_date",
    "last_active",
    "publication_date",
    "unpublished_date",
    "price_change_date",
)

_ARRAY_FIELDS = ("image_urls", "features")


def listing_schema(include_updated_date: bool = True) -> T.StructType:
    """The normalized listing union schema (SURVEY §1.3)."""
    fields: list[T.StructField] = []
    for name in _STRING_FIELDS:
        fields.append(T.StructField(name, T.StringType(), True))
    for name in _BOOLEAN_FIELDS:
        fields.append(T.StructField(name, T.BooleanType(), True))
    for name in _DOUBLE_FIELDS:
        fields.append(T.StructField(name, T.DoubleType(), True))
    for name in _LONG_FIELDS:
        fields.append(T.StructField(name, T.LongType(), True))
    for name in _TIMESTAMP_FIELDS:
        if name == "updated_date" and not include_updated_date:
            continue
        fields.append(T.StructField(name, T.TimestampType(), True))
    for name in _ARRAY_FIELDS:
        fields.append(T.StructField(name, T.ArrayType(T.StringType()), True))
    return T.StructType(fields)


STATE_SCHEMA = listing_schema(include_updated_date=False)
SNAPSHOT_SCHEMA = listing_schema(include_updated_date=True)


# The ten testdata tables (``sources.tables.load_table``), as Spark's
# parquet footer inference reads them at sf0.001, sf0.01 and sf0.1 and
# as ``perfbench/registry.py`` generates them: field order and types
# exactly, every field nullable. Declaring them lets a read skip the
# footer-inference job. The tz-naive micros timestamps read as
# TIMESTAMP_NTZ; a TIMESTAMP(NANOS) ``events.ts`` is handled at the
# source.
TESTDATA_SCHEMAS: dict[str, str] = {
    "region": "r_regionkey INT, r_name STRING",
    "nation": "n_nationkey INT, n_name STRING, n_regionkey INT",
    "customer": (
        "c_custkey BIGINT, c_name STRING, c_nationkey INT, c_acctbal DOUBLE, "
        "c_mktsegment STRING"
    ),
    "supplier": "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE",
    "part": (
        "p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING, "
        "p_size INT, p_retailprice DOUBLE"
    ),
    "orders": (
        "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, "
        "o_totalprice DOUBLE, o_orderdate TIMESTAMP_NTZ, o_orderpriority STRING"
    ),
    "lineitem": (
        "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, "
        "l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE, "
        "l_discount DOUBLE, l_tax DOUBLE, l_returnflag STRING, "
        "l_linestatus STRING, l_shipdate TIMESTAMP_NTZ"
    ),
    "events": (
        "event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, event_type STRING, "
        "value DOUBLE, props STRING"
    ),
    "documents": (
        "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"
    ),
    "embeddings": "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT",
}
