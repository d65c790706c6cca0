"""Yelp-style business records + expected triples (FIXTURES.md §3).

Mirrors the shape produced by `src/main/python/preproc_yelp_business.py`
and consumed by the Cypher importer `src/main/cypher/load_yelp.cql:1-111` —
the reference's record→typed-edges "triple extraction". Deterministic
seeded generator; expected triples follow the importer's NULL guards
(`FOREACH (ignoreMe IN CASE WHEN x IS NULL ...)`).
"""

from __future__ import annotations

import random

CITIES = [("Springfield", "IL"), ("Shelbyville", "IL"), ("Portland", "OR"),
          ("Salem", "OR"), ("Austin", "TX")]
CATEGORIES = ["Cafe", "Bar", "Bakery", "BookStore", "Gym", "Diner"]
ATTRS = ["BikeParking", "BusinessAcceptsCreditCards", "GoodForKids",
         "HasTV", "OutdoorSeating"]
WIFI = ["free", "no", "paid", None]
ALCOHOL = ["full_bar", "beer_and_wine", "none", None]
ATTIRE = ["casual", "dressy", None]
NOISE = ["quiet", "average", "loud", None]
PRICE = ["1", "2", "3", "4", None]
BIZ_SEED = 42


def generate_biz(n: int):
    """Returns (records, expected_triples) — records as list of dicts."""
    rng = random.Random(BIZ_SEED)
    records = []
    triples: set[tuple[str, str, str]] = set()
    for i in range(n):
        bid = f"biz{i:05d}"
        city, state = rng.choice(CITIES)
        cats = sorted(rng.sample(CATEGORIES, rng.randint(1, 3)))
        attrs = sorted(rng.sample(ATTRS, rng.randint(0, 3)))
        stars = rng.choice([1.0, 1.5, 2.0, 2.5, 3.0, 3.5, 4.0, 4.5, 5.0])
        rec = {
            "business_id": bid,
            "name": f"Business {i}",
            "address": f"{i} Main St",
            "postal_code": f"{10000 + i % 900}",
            "latitude": round(30.0 + (i % 100) * 0.01, 4),
            "longitude": round(-90.0 - (i % 100) * 0.01, 4),
            "review_count": rng.randint(1, 500),
            "stars": stars,
            "city": city,
            "state": state,
            "categories": cats,
            "attributes": attrs,
            "wifi": rng.choice(WIFI),
            "alcohol": rng.choice(ALCOHOL),
            "attire": rng.choice(ATTIRE),
            "noise_level": rng.choice(NOISE),
            "price_range": rng.choice(PRICE),
        }
        records.append(rec)
        for c in cats:
            triples.add((bid, "IN_CATEGORY", c))
        for a in attrs:
            triples.add((bid, "HAS_ATTRIBUTE", a))
        triples.add((bid, "IN_CITY", city))
        triples.add((city, "IN_STATE", state))
        triples.add((bid, "RATING", str(stars)))
        for pred, val in (
            ("HAS_WIFI", rec["wifi"]),
            ("HAS_ALCOHOL_SORTS", rec["alcohol"]),
            ("HAS_ATTIRE", rec["attire"]),
            ("HAS_NOISE_LEVEL", rec["noise_level"]),
            ("HAS_PRICE_RANGE", rec["price_range"]),
        ):
            if val is not None:
                triples.add((bid, pred, val))
    return records, triples


BIZ_SCHEMA = (
    "business_id string, name string, address string, postal_code string, "
    "latitude double, longitude double, review_count long, stars double, "
    "city string, state string, categories array<string>, "
    "attributes array<string>, wifi string, alcohol string, attire string, "
    "noise_level string, price_range string"
)


def biz_spark_df(spark, n: int):
    records, _ = generate_biz(n)
    return spark.createDataFrame(
        [tuple(r.values()) for r in records], BIZ_SCHEMA
    )


def biz_triples(df):
    """The load_yelp.cql emission over a biz DataFrame (all 6 scalar + 2
    array relation kinds, plus the city→state edge)."""
    from pyspark.sql import functions as F

    from ..operators.triples import emit_record_triples

    main = emit_record_triples(
        df,
        "business_id",
        relations=[
            ("IN_CITY", "city"),
            ("RATING", "stars"),
            ("HAS_WIFI", "wifi"),
            ("HAS_ALCOHOL_SORTS", "alcohol"),
            ("HAS_ATTIRE", "attire"),
            ("HAS_NOISE_LEVEL", "noise_level"),
            ("HAS_PRICE_RANGE", "price_range"),
        ],
        explode_relations=[
            ("IN_CATEGORY", "categories"),
            ("HAS_ATTRIBUTE", "attributes"),
        ],
    )
    city_state = emit_record_triples(df, "city", relations=[("IN_STATE", "state")])
    return main.unionByName(city_state).dropDuplicates(["subj", "pred", "obj"])
