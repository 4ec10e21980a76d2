"""End-to-end semantic parity on reference-shaped retail fixtures
(FIXTURES.md schemas: purchase/customer/zipcode/products_info with the
reference's semantic traps baked in): the T1 silver join + T2 mart kernel run
through the SAME generic operators the testdata queries use, asserting the
golden behaviors SURVEY.md §7.4 pins:

  - duplicate zipcode.short_zipcode FANS OUT customers (no accidental dedup)
  - NULL residence / customer_id keep left rows with all-null right columns
  - unmatched 4-key product combos keep purchase rows (left join)
  - Korean (non-ASCII) strings survive group-by keys and parquet round-trips
  - Hive-partitioned write by affiliate/year/month + dynamic month overwrite
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from aws_glue_etl_sample_hist_spark.functions.datetime_fns import with_date_parts
from aws_glue_etl_sample_hist_spark.io.sinks import write_partitioned
from aws_glue_etl_sample_hist_spark.operators.aggregates import grouped_sales_agg
from aws_glue_etl_sample_hist_spark.operators.joins import left_join_drop_keys

CUSTOMER = [
    # customer_id, sex, age_group (reference Korean band labels), residence
    ("00001", "F", "45세~49세", "101"),
    ("00002", "M", "20세~24세", "202"),
    ("00003", "F", "60세이상", None),  # TRAP: null residence
    ("00004", "F", "45세~49세", "999"),  # TRAP: residence not in zipcode
]
ZIPCODE = [
    # short_zipcode, province_city, city_county
    ("101", "서울특별시", "종로구"),
    ("101", "서울특별시", "중구"),  # TRAP: duplicate short_zipcode -> fan-out
    ("202", "부산광역시", "해운대구"),
]
PRODUCTS = [
    # affiliate, division_cd, main_category_cd, sub_category_cd, main_desc, sub_desc
    ("A", "01", "0101", "A010101", "일용잡화", "세제"),
    ("A", "02", "0201", "A020101", "식품", "과일"),
    ("B", "01", "0101", "B010101", "의류", "남성복"),
]
PURCHASE = [
    # affiliate, receipt_no, division_cd, main_category_cd, sub_category_cd,
    # customer_id, store_cd, purchase_date, purchase_time, amount
    ("A", "r1", "01", "0101", "A010101", "00001", "s1", "20140101", "10", 100.0),
    ("A", "r2", "01", "0101", "A010101", "00002", "s1", "20140102", "11", 200.0),
    ("A", "r3", "02", "0201", "A020101", "00003", "s2", "20140215", "12", 300.0),
    ("A", "r4", "09", "0909", "A090909", "00001", "s1", "20140215", "13", 400.0),  # TRAP: no product match
    ("B", "r5", "01", "0101", "B010101", None, "s3", "20140101", "14", 500.0),  # TRAP: null customer
    ("B", "r6", "01", "0101", "B010101", "00004", "s3", "20140216", "15", 600.0),
]
PURCHASE_COLS = [
    "affiliate", "receipt_no", "division_cd", "main_category_cd", "sub_category_cd",
    "customer_id", "store_cd", "purchase_date", "purchase_time", "amount",
]


@pytest.fixture(scope="module")
def retail(spark):
    return {
        "customer": spark.createDataFrame(CUSTOMER, ["customer_id", "sex", "age_group", "residence"]),
        "zipcode": spark.createDataFrame(
            ZIPCODE, ["short_zipcode", "province_city", "city_county"]
        ),
        "products_info": spark.createDataFrame(
            PRODUCTS,
            ["affiliate", "division_cd", "main_category_cd", "sub_category_cd",
             "main_category_desc", "sub_category_desc"],
        ),
        "purchase": spark.createDataFrame(PURCHASE, PURCHASE_COLS),
    }


def _silver(retail):
    """The reference T1 join order (jb_de_enhancement_t1_fulljoin_s2s.py:53-86):
    customer⟕zipcode first, then purchase⟕products (4-key), then ⟕cust_zip."""
    cust_zip = left_join_drop_keys(
        retail["customer"], retail["zipcode"], [("residence", "short_zipcode")]
    )
    wide = left_join_drop_keys(
        retail["purchase"],
        retail["products_info"],
        [
            ("affiliate", "affiliate"),
            ("division_cd", "division_cd"),
            ("main_category_cd", "main_category_cd"),
            ("sub_category_cd", "sub_category_cd"),
        ],
    )
    return left_join_drop_keys(wide, cust_zip, [("customer_id", "customer_id")])


def test_silver_fanout_and_null_semantics(retail):
    silver = _silver(retail).cache()
    rows = silver.collect()
    # 6 purchases; customer 00001 (residence 101) fans out x2 on the dup
    # zipcode and appears on purchases r1 AND r4 -> 6 + 2 = 8 rows
    assert len(rows) == 8

    by_receipt = {}
    for r in rows:
        by_receipt.setdefault(r.receipt_no, []).append(r)
    assert len(by_receipt["r1"]) == 2  # fan-out preserved
    assert {r.city_county for r in by_receipt["r1"]} == {"종로구", "중구"}
    # null residence: row kept, zipcode columns null
    (r3,) = by_receipt["r3"]
    assert r3.age_group == "60세이상" and r3.province_city is None
    # unmatched product combo: rows kept, product desc null (and customer
    # 00001's zipcode fan-out applies here too)
    assert len(by_receipt["r4"]) == 2
    assert all(r.main_category_desc is None and r.amount == 400.0 for r in by_receipt["r4"])
    # null customer_id: row kept, all customer/zip columns null
    (r5,) = by_receipt["r5"]
    assert r5.sex is None and r5.province_city is None
    # unmatched residence (999): kept with null zip columns
    (r6,) = by_receipt["r6"]
    assert r6.age_group == "45세~49세" and r6.province_city is None


def test_mart_salesbyageproducts_golden(retail):
    """A1-shaped 7-key mart over the fixture silver, golden numbers by hand."""
    silver = with_date_parts(_silver(retail))
    mart = grouped_sales_agg(
        silver,
        ["affiliate", "purchase_year", "purchase_month", "age_group",
         "division_cd", "main_category_desc", "sub_category_desc"],
        "amount",
    )
    got = {
        (r.affiliate, r.purchase_month, r.age_group, r.main_category_desc): (
            r.total_purchase_amount, r.count_of_purchase,
        )
        for r in mart.collect()
    }
    # r1 fans out x2 -> double-counted in the mart exactly like the reference
    assert got[("A", "01", "45세~49세", "일용잡화")] == (200.0, 2)
    assert got[("A", "01", "20세~24세", "일용잡화")] == (200.0, 1)
    assert got[("A", "02", "60세이상", "식품")] == (300.0, 1)
    # r4's fan-out double-counts in the mart exactly like the reference would
    assert got[("A", "02", "45세~49세", None)] == (800.0, 2)  # null product keys
    assert got[("B", "01", None, "의류")] == (500.0, 1)  # null customer keys
    assert got[("B", "02", "45세~49세", "의류")] == (600.0, 1)


def test_partitioned_write_dynamic_month_overwrite(spark, retail, tmp_path):
    silver = with_date_parts(_silver(retail))
    out = str(tmp_path / "silver_retail")
    write_partitioned(
        silver, out, partition_by=["affiliate", "purchase_year", "purchase_month"]
    )
    back = spark.read.parquet(out)
    assert back.count() == 8
    # Korean strings survive the parquet round-trip in partition-pruned reads
    jan_a = back.filter((F.col("affiliate") == "A") & (F.col("purchase_month") == "01"))
    assert {r.main_category_desc for r in jan_a.collect()} == {"일용잡화"}

    # dynamic overwrite of ONE month: rewrite 2014-02 only; January untouched
    feb = silver.filter(F.col("purchase_month") == "02")
    write_partitioned(
        feb, out, partition_by=["affiliate", "purchase_year", "purchase_month"]
    )
    after = spark.read.parquet(out)
    assert after.count() == 8  # like-for-like replacement, no loss, no dupes


def test_a10_presto_integer_division_variant(retail):
    """SURVEY §2.4 A10 flags that Athena/Presto computes
    count(customer_id)/count(distinct customer_id) as BIGINT / BIGINT --
    INTEGER division. The engine's default keeps true division (pinned by
    the DuckDB oracle); `presto_int_division=True` must reproduce the
    reference's truncating answer. Affiliate A: 4 purchases / 3 distinct
    customers -> Presto 1, true 1.33. NULL customer_id stays excluded from
    both counts (affiliate B: 1/1)."""
    from aws_glue_etl_sample_hist_spark.operators.aggregates import customer_base_stats

    purchase = retail["purchase"]

    default = {
        r.affiliate: r.purchase_per_customer
        for r in customer_base_stats(
            purchase, "affiliate", "customer_id", "amount"
        ).collect()
    }
    assert default == {"A": 1.33, "B": 1.0}

    presto = {
        r.affiliate: r.purchase_per_customer
        for r in customer_base_stats(
            purchase, "affiliate", "customer_id", "amount", presto_int_division=True
        ).collect()
    }
    assert presto == {"A": 1, "B": 1}
