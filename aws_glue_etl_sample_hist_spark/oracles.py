"""DuckDB oracle SQL, one entry per query in
`aws_glue_etl_sample_hist_spark.queries.QUERIES`.

This replicates the reference's own verification pattern -- the Spark
pipeline's outputs cross-checked with a second SQL engine (Athena/Presto,
document/glue_t1.md:30-54) -- with DuckDB as the second engine. Column names
and rounding are kept EXACTLY in sync with the Spark side; aggregated doubles
are rounded in both engines so accumulation order can't flip value hashes.

DuckDB-vs-Spark dialect notes baked in here:
  - strftime(ts, '%Y%m%d' / '%A') == Spark date_format 'yyyyMMdd' / 'EEEE'
  - isodow(ts) == Spark weekday(ts)+1  (1=Monday, the Presto convention)
  - DuckDB SUM(integer) returns HUGEINT -> always CAST to BIGINT
  - DuckDB `/` on integers is float division (matches Spark)
"""

from __future__ import annotations

_SILVER_FROM = """
    FROM lineitem l
    LEFT JOIN orders o   ON l.l_orderkey = o.o_orderkey
    LEFT JOIN part p     ON l.l_partkey  = p.p_partkey
    LEFT JOIN customer c ON o.o_custkey  = c.c_custkey
    LEFT JOIN nation n   ON c.c_nationkey = n.n_nationkey
    LEFT JOIN region r   ON n.n_regionkey = r.r_regionkey
"""

ORACLE_SQL: dict[str, str] = {
    "pricing_summary": """
        SELECT l_returnflag, l_linestatus,
               ROUND(SUM(l_quantity), 2)                                        AS sum_qty,
               ROUND(SUM(l_extendedprice), 2)                                   AS sum_base_price,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)                AS sum_disc_price,
               ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)  AS sum_charge,
               ROUND(AVG(l_quantity), 4)                                        AS avg_qty,
               ROUND(AVG(l_extendedprice), 4)                                   AS avg_price,
               ROUND(AVG(l_discount), 6)                                        AS avg_disc,
               COUNT(*)                                                         AS count_order
        FROM lineitem
        WHERE strftime(l_shipdate, '%Y%m%d') <= '19980902'
        GROUP BY l_returnflag, l_linestatus
    """,
    "bronze_purchases": """
        SELECT l_orderkey, l_linenumber,
               strftime(l_shipdate, '%Y%m%d') AS purchase_date,
               strftime(l_shipdate, '%Y')     AS purchase_year,
               strftime(l_shipdate, '%m')     AS purchase_month,
               strftime(l_shipdate, '%d')     AS purchase_day,
               l_extendedprice                AS amount
        FROM lineitem
        WHERE strftime(l_shipdate, '%Y%m%d') BETWEEN '19960101' AND '19961231'
    """,
    "silver_denorm": f"""
        SELECT l.l_orderkey, l.l_linenumber, l.l_partkey, l.l_suppkey,
               l.l_quantity, l.l_extendedprice, l.l_discount,
               l.l_returnflag, l.l_linestatus,
               strftime(l.l_shipdate, '%Y%m%d') AS purchase_date,
               strftime(l.l_shipdate, '%Y')     AS purchase_year,
               strftime(l.l_shipdate, '%m')     AS purchase_month,
               strftime(l.l_shipdate, '%d')     AS purchase_day,
               o.o_custkey, o.o_orderstatus, o.o_orderpriority,
               c.c_name, c.c_mktsegment, c.c_acctbal,
               n.n_name, r.r_name,
               p.p_name, p.p_brand, p.p_type, p.p_size
        {_SILVER_FROM}
    """,
    "mart_sales_by_segment_product": f"""
        SELECT strftime(l.l_shipdate, '%Y') AS purchase_year,
               strftime(l.l_shipdate, '%m') AS purchase_month,
               c.c_mktsegment, p.p_brand, p.p_type, l.l_returnflag, n.n_name,
               ROUND(SUM(l.l_extendedprice), 2) AS total_purchase_amount,
               COUNT(l.l_extendedprice)         AS count_of_purchase
        {_SILVER_FROM}
        GROUP BY 1, 2, 3, 4, 5, 6, 7
    """,
    "mart_sales_by_customer": """
        WITH agg AS (
            SELECT o.o_custkey,
                   strftime(l.l_shipdate, '%Y') AS purchase_year,
                   strftime(l.l_shipdate, '%m') AS purchase_month,
                   ROUND(SUM(l.l_extendedprice), 2) AS total_purchase_amount,
                   COUNT(l.l_extendedprice)         AS count_of_purchase
            FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
            GROUP BY 1, 2, 3
        )
        SELECT agg.o_custkey AS customer_id, agg.purchase_year, agg.purchase_month,
               c.c_name, c.c_mktsegment, n.n_name,
               agg.total_purchase_amount, agg.count_of_purchase
        FROM agg
        LEFT JOIN customer c ON agg.o_custkey = c.c_custkey
        LEFT JOIN nation n   ON c.c_nationkey = n.n_nationkey
    """,
    "mart_sales_by_datetime": """
        SELECT strftime(l_shipdate, '%Y') AS purchase_year,
               strftime(l_shipdate, '%m') AS purchase_month,
               strftime(l_shipdate, '%d') AS purchase_day,
               strftime(l_shipdate, '%A') AS day_of_week,
               CAST(isodow(l_shipdate) AS BIGINT) AS day_num,
               ROUND(SUM(l_extendedprice), 2) AS total_purchase_amount,
               COUNT(l_extendedprice)         AS count_of_purchase
        FROM lineitem
        GROUP BY 1, 2, 3, 4, 5
    """,
    "mart_sales_by_region": f"""
        SELECT strftime(l.l_shipdate, '%Y') AS purchase_year,
               strftime(l.l_shipdate, '%m') AS purchase_month,
               r.r_name, n.n_name,
               ROUND(SUM(l.l_extendedprice), 2) AS total_purchase_amount,
               COUNT(l.l_extendedprice)         AS count_of_purchase
        {_SILVER_FROM}
        GROUP BY 1, 2, 3, 4
        ORDER BY 1, 2, 3, total_purchase_amount DESC, count_of_purchase DESC
    """,
    "monthly_revenue": """
        SELECT strftime(l_shipdate, '%Y') AS purchase_year,
               strftime(l_shipdate, '%m') AS purchase_month,
               ROUND(SUM(l_extendedprice) / 1000000, 2) AS revenue_musd,
               COUNT(l_extendedprice)                   AS count_of_purchase
        FROM lineitem
        GROUP BY 1, 2
    """,
    "weekday_hour_revenue": """
        SELECT strftime(ts, '%A')             AS day_of_week,
               CAST(isodow(ts) AS BIGINT)     AS day_num,
               CAST(hour(ts) AS BIGINT)       AS hour_of_day,
               ROUND(SUM(value), 2)           AS total_value,
               COUNT(value)                   AS count_of_events
        FROM events
        GROUP BY 1, 2, 3
    """,
    "product_category_revenue": """
        SELECT p.p_brand, p.p_type,
               ROUND(SUM(l.l_extendedprice) / 1000000, 2) AS revenue_musd,
               COUNT(l.l_extendedprice)                   AS count_of_purchase
        FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey
        GROUP BY 1, 2
    """,
    "segment_category_revenue": f"""
        SELECT c.c_mktsegment, p.p_brand,
               ROUND(SUM(l.l_extendedprice) / 1000000, 2) AS revenue_musd,
               COUNT(l.l_extendedprice)                   AS count_of_purchase
        {_SILVER_FROM}
        GROUP BY 1, 2
        ORDER BY 1, 2, revenue_musd DESC
    """,
    "region_revenue": f"""
        SELECT r.r_name, n.n_name,
               ROUND(SUM(l.l_extendedprice) / 1000000, 2) AS revenue_musd,
               COUNT(l.l_extendedprice)                   AS count_of_purchase
        {_SILVER_FROM}
        GROUP BY 1, 2
    """,
    "customer_base_stats": """
        SELECT o_orderpriority,
               COUNT(DISTINCT o_custkey) AS count_of_customers,
               COUNT(o_custkey)          AS count_of_purchase,
               ROUND(COUNT(o_custkey) / COUNT(DISTINCT o_custkey), 2)     AS purchase_per_customer,
               ROUND(SUM(o_totalprice) / COUNT(o_custkey) / 10000, 2)     AS amount_per_purchase_10k,
               ROUND(SUM(o_totalprice) / COUNT(DISTINCT o_custkey) / 10000, 2)
                                                                          AS amount_per_customer_10k
        FROM orders
        GROUP BY 1
    """,
    "customer_monthly_stats": """
        SELECT o_custkey AS customer_id,
               strftime(o_orderdate, '%Y') AS purchase_year,
               strftime(o_orderdate, '%m') AS purchase_month,
               COUNT(o_orderkey) AS count_of_purchase,
               ROUND(SUM(o_totalprice) / COUNT(o_orderkey) / 10000, 2) AS amount_per_purchase_10k
        FROM orders
        GROUP BY 1, 2, 3
    """,
    "adhoc_join_limit": """
        WITH customer_info AS (
            SELECT c.c_custkey, c.c_name, c.c_mktsegment, n.n_name
            FROM customer c LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
        )
        SELECT o.o_orderkey, o.o_orderdate_str, o.o_totalprice,
               ci.c_name, ci.c_mktsegment, ci.n_name
        FROM (
            SELECT o_orderkey, o_custkey, o_totalprice,
                   strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate_str
            FROM orders
            WHERE strftime(o_orderdate, '%Y%m%d') BETWEEN '19960101' AND '19961231'
        ) o
        LEFT JOIN customer_info ci ON o.o_custkey = ci.c_custkey
        ORDER BY o.o_orderdate_str, o.o_orderkey
        LIMIT 20
    """,
    "top_parts": """
        WITH agg AS (
            SELECT l_partkey,
                   ROUND(SUM(l_extendedprice), 2) AS total_purchase_amount,
                   COUNT(l_extendedprice)         AS count_of_purchase
            FROM lineitem
            GROUP BY 1
        )
        SELECT agg.l_partkey, p.p_name, p.p_brand,
               agg.total_purchase_amount, agg.count_of_purchase
        FROM agg LEFT JOIN part p ON agg.l_partkey = p.p_partkey
        ORDER BY agg.total_purchase_amount DESC, agg.l_partkey ASC
        LIMIT 20
    """,
    "customer_running_total": """
        WITH monthly AS (
            SELECT o_custkey,
                   strftime(o_orderdate, '%Y') AS purchase_year,
                   strftime(o_orderdate, '%m') AS purchase_month,
                   ROUND(SUM(o_totalprice), 2) AS monthly_amount
            FROM orders
            GROUP BY 1, 2, 3
        )
        SELECT o_custkey AS customer_id, purchase_year, purchase_month, monthly_amount,
               ROUND(SUM(monthly_amount) OVER (
                   PARTITION BY o_custkey ORDER BY purchase_year, purchase_month
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_amount
        FROM monthly
    """,
    "order_set_ops": """
        SELECT customer_id, 'both' AS cohort FROM (
            SELECT DISTINCT o_custkey AS customer_id FROM orders
            WHERE strftime(o_orderdate, '%Y') = '1996'
            INTERSECT
            SELECT DISTINCT o_custkey FROM orders
            WHERE strftime(o_orderdate, '%Y') = '1997'
        )
        UNION ALL
        SELECT customer_id, 'only_1996' AS cohort FROM (
            SELECT DISTINCT o_custkey AS customer_id FROM orders
            WHERE strftime(o_orderdate, '%Y') = '1996'
            EXCEPT
            SELECT DISTINCT o_custkey FROM orders
            WHERE strftime(o_orderdate, '%Y') = '1997'
        )
    """,
    "customers_without_orders": """
        SELECT c_custkey, c_name, c_mktsegment
        FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    "customer_order_ranks": """
        WITH o AS (
            SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate, c_mktsegment
            FROM orders LEFT JOIN customer ON o_custkey = c_custkey
        )
        SELECT o_orderkey,
               o_custkey AS customer_id,
               c_mktsegment,
               o_totalprice,
               CAST(row_number() OVER (PARTITION BY o_custkey
                    ORDER BY o_orderdate, o_orderkey) AS BIGINT) AS order_seq,
               CAST(rank() OVER (PARTITION BY c_mktsegment
                    ORDER BY o_totalprice DESC, o_orderkey ASC) AS BIGINT)
                    AS segment_spend_rank,
               CAST(datediff('day',
                    lag(o_orderdate) OVER (PARTITION BY o_custkey
                        ORDER BY o_orderdate, o_orderkey),
                    o_orderdate) AS BIGINT) AS days_since_prev
        FROM o
        QUALIFY segment_spend_rank <= 100
    """,
    # ---------------- LLM-data-pipeline extensions ----------------
    "text_stats": r"""
        WITH t AS (
            SELECT doc_id, lang,
                   CAST(length(text) AS BIGINT) AS n_chars_measured,
                   regexp_split_to_array(trim(text), '\s+') AS toks
            FROM documents
        ), d AS (
            SELECT doc_id, lang, n_chars_measured,
                   CAST(len(toks) AS BIGINT) AS n_tokens,
                   CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct_tokens,
                   CAST(len(list_filter(toks,
                        x -> list_contains(['the','a','of','and','is'], x))) AS BIGINT)
                        AS n_stopwords,
                   CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT)
                        AS sum_token_len
            FROM t
        )
        SELECT doc_id, lang, n_chars_measured, n_tokens, n_distinct_tokens,
               FLOOR((n_distinct_tokens / n_tokens) * 10000 + 0.5) / 10000
                   AS distinct_ratio,
               FLOOR((n_stopwords / n_tokens) * 10000 + 0.5) / 10000
                   AS stopword_ratio,
               FLOOR((sum_token_len / n_tokens) * 10000 + 0.5) / 10000
                   AS avg_token_len,
               FLOOR((0.4 * (n_distinct_tokens / n_tokens)
                   + 0.3 * (1 - n_stopwords / n_tokens)
                   + 0.3 * least(n_tokens / 100.0, 1.0)) * 10000 + 0.5)
                   / 10000 AS quality_score
        FROM d
    """,
    "text_langid": r"""
        WITH v AS (
            SELECT doc_id, lang, text,
                   len(list_filter(toks, x -> list_contains(
                       ['the','a','of','and','is','to','in'], x))) AS v_en,
                   len(list_filter(toks, x -> list_contains(
                       ['le','la','les','de','et','un','une'], x))) AS v_fr,
                   len(list_filter(toks, x -> list_contains(
                       ['el','los','de','y','un','una','que'], x))) AS v_es,
                   len(list_filter(toks, x -> list_contains(
                       ['der','die','das','und','ein','zu','ist'], x))) AS v_de
            FROM (SELECT doc_id, lang, text,
                         regexp_split_to_array(trim(text), '\s+') AS toks
                  FROM documents)
        ), g AS (
            SELECT doc_id, lang,
                   CASE WHEN regexp_matches(text, '[\x{4e00}-\x{9fff}]') THEN 'zh'
                        WHEN greatest(v_en, v_fr, v_es, v_de) = 0 THEN 'unknown'
                        WHEN v_en = greatest(v_en, v_fr, v_es, v_de) THEN 'en'
                        WHEN v_fr = greatest(v_en, v_fr, v_es, v_de) THEN 'fr'
                        WHEN v_es = greatest(v_en, v_fr, v_es, v_de) THEN 'es'
                        ELSE 'de' END AS lang_guess
            FROM v
        )
        SELECT doc_id, lang, lang_guess,
               CAST(lang_guess = lang AS INTEGER) AS match_flag
        FROM g
    """,
    "text_tokens": r"""
        SELECT doc_id,
               CAST(len(toks) AS BIGINT) AS n_tokens,
               CAST(list_sum(list_transform(toks,
                    x -> CAST(ceil(length(x) / 4.0) AS BIGINT))) AS BIGINT) AS n_subword_est
        FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents)
    """,
    "text_fingerprint": r"""
        SELECT doc_id, md5(text) AS content_hash,
               list_min(list_transform(
                   generate_series(1, greatest(len(toks) - 4, 1)),
                   i -> md5(array_to_string(toks[i:i+4], ' ')))) AS min_shingle_md5
        FROM (SELECT doc_id, text,
                     regexp_split_to_array(trim(text), '\s+') AS toks
              FROM documents)
    """,
    "text_tfidf_top_terms": r"""
        WITH tok AS (
            SELECT doc_id,
                   unnest(regexp_split_to_array(trim(text), '\s+')) AS term
            FROM documents
        ), tf AS (
            SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2
        ), dfreq AS (
            SELECT term, COUNT(*) AS df FROM tf GROUP BY 1
        ), nd AS (SELECT COUNT(*) AS n_docs FROM documents)
        SELECT doc_id, term, tf, df,
               ROUND(tf * ln(n_docs / df), 6) AS tfidf,
               CAST(row_number() OVER (
                   PARTITION BY doc_id
                   ORDER BY ROUND(tf * ln(n_docs / df), 6) DESC, term ASC
               ) AS BIGINT) AS rank
        FROM tf JOIN dfreq USING (term), nd
        QUALIFY rank <= 3
    """,
    "text_bigram_lm": r"""
        WITH bg AS (
            SELECT unnest(list_transform(
                generate_series(1, greatest(len(toks) - 1, 1)),
                i -> array_to_string(toks[i:i+1], ' '))) AS bigram
            FROM (SELECT regexp_split_to_array(trim(text), '\s+') AS toks
                  FROM documents)
        ), c AS (
            SELECT bigram, COUNT(*) AS n FROM bg GROUP BY 1 HAVING COUNT(*) >= 3
        ), s AS (
            SELECT split_part(bigram, ' ', 1) AS w1,
                   split_part(bigram, ' ', 2) AS w2, n
            FROM c
        ), t AS (
            SELECT w1, CAST(SUM(n) AS BIGINT) AS w1_n FROM s GROUP BY 1
        )
        SELECT s.w1, s.w2, s.n, ROUND(s.n / t.w1_n, 6) AS p_cond
        FROM s JOIN t ON s.w1 = t.w1
    """,
    "corpus_decontamination": r"""
        WITH sh AS (
            SELECT DISTINCT doc_id,
                   unnest(list_transform(
                       generate_series(1, greatest(len(toks) - 4, 1)),
                       i -> array_to_string(toks[i:i+4], ' '))) AS shingle
            FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
                  FROM documents)
        ), hits AS (
            SELECT a.doc_id, COUNT(*) AS n
            FROM (SELECT * FROM sh WHERE doc_id >= 10) a
            JOIN (SELECT DISTINCT shingle FROM sh WHERE doc_id < 10) b USING (shingle)
            GROUP BY 1
        )
        SELECT d.doc_id,
               COALESCE(hits.n, 0) AS n_contaminated_shingles,
               CAST(COALESCE(hits.n, 0) > 0 AS INTEGER) AS is_contaminated
        FROM (SELECT doc_id FROM documents WHERE doc_id >= 10) d
        LEFT JOIN hits ON d.doc_id = hits.doc_id
    """,
    "text_repetition": r"""
        WITH sh AS (
            SELECT doc_id,
                   unnest(list_transform(
                       generate_series(1, greatest(len(toks) - 1, 1)),
                       i -> array_to_string(toks[i:i+1], ' '))) AS shingle
            FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
                  FROM documents)
        ), per AS (
            SELECT doc_id, shingle, COUNT(*) AS cnt FROM sh GROUP BY 1, 2
        )
        -- CAST(.. AS BIGINT) everywhere SUM() appears: DuckDB SUM(BIGINT) is
        -- HUGEINT, which pandas fetches as float64 and the driver's canon hash
        -- then mismatches against Spark's int64 (CORRECTNESS_r03/r04 red rows).
        -- Same pattern as corpus_shard_pack below.
        SELECT doc_id,
               CAST(SUM(cnt) AS BIGINT) AS n_shingles,
               COUNT(*) AS n_distinct,
               CAST((10000 * (SUM(cnt) - COUNT(*))) // SUM(cnt) AS BIGINT)
                   AS dup_ratio_bp,
               MAX(cnt) AS top_count,
               CAST((10000 * MAX(cnt)) // SUM(cnt) AS BIGINT) AS top_ratio_bp
        FROM per
        GROUP BY 1
    """,
    "corpus_sample": """
        SELECT doc_id, lang FROM documents
        WHERE CAST(('0x' || substr(md5('sample:' || CAST(doc_id AS VARCHAR)), 1, 8))
                   AS BIGINT) % 1000000 < 100000
    """,
    "corpus_sample_stratified": """
        SELECT doc_id, lang FROM documents
        WHERE CAST(('0x' || substr(md5('sample:' || CAST(doc_id AS VARCHAR)), 1, 8))
                   AS BIGINT) % 1000000
              < (CASE WHEN lang = 'en' THEN 100000 ELSE 500000 END)
    """,
    "corpus_shard_pack": r"""
        WITH t AS (
            SELECT doc_id,
                   CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
                       AS n_tokens
            FROM documents
        )
        SELECT doc_id, n_tokens,
               CAST(SUM(n_tokens) OVER (ORDER BY doc_id
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens,
               CAST((SUM(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
                     - n_tokens) // 5000 AS BIGINT) AS shard
        FROM t
    """,
    "dedup_exact": """
        SELECT md5(text) AS content_hash,
               MIN(doc_id) AS keeper_doc_id,
               COUNT(doc_id) AS n_copies
        FROM documents
        GROUP BY 1
    """,
    "dedup_ngram_jaccard": r"""
        WITH sh AS (
            SELECT DISTINCT doc_id,
                   unnest(list_transform(
                       generate_series(1, greatest(len(toks) - 2, 1)),
                       i -> array_to_string(toks[i:i+2], ' '))) AS shingle
            FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
                  FROM documents)
        ), sizes AS (
            SELECT doc_id, COUNT(shingle) AS n FROM sh GROUP BY 1
        ), inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
            FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT doc_a, doc_b, n_common,
               sa.n AS size_a, sb.n AS size_b,
               ROUND(n_common / (sa.n + sb.n - n_common), 4) AS jaccard
        FROM inter
        JOIN sizes sa ON inter.doc_a = sa.doc_id
        JOIN sizes sb ON inter.doc_b = sb.doc_id
        WHERE ROUND(n_common / (sa.n + sb.n - n_common), 4) >= 0.2
    """,
    "dedup_minhash_lsh": r"""
        WITH sh AS (
            SELECT DISTINCT doc_id,
                   unnest(list_transform(
                       generate_series(1, greatest(len(toks) - 2, 1)),
                       i -> array_to_string(toks[i:i+2], ' '))) AS shingle
            FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
                  FROM documents)
        ), w AS (
            SELECT doc_id,
                   CAST(('0x' || substr(md5(shingle), 1, 8)) AS BIGINT) AS x1,
                   CAST(('0x' || substr(md5(shingle), 9, 8)) AS BIGINT) * 2 + 1 AS step
            FROM sh
        ), hashes AS (
            SELECT doc_id, i.h AS h, MIN(x1 + i.h * step) AS min_hash
            FROM w CROSS JOIN (SELECT unnest(generate_series(0, 11)) AS h) i
            GROUP BY 1, 2
        ), bands AS (
            SELECT doc_id, h // 3 AS band,
                   string_agg(CAST(min_hash AS VARCHAR), ',' ORDER BY h) AS band_sig
            FROM hashes
            GROUP BY 1, 2
        )
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared_bands
        FROM bands a
        JOIN bands b ON a.band = b.band AND a.band_sig = b.band_sig
                     AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    """,
    "dedup_clusters": r"""
        WITH RECURSIVE sh AS (
            SELECT DISTINCT doc_id,
                   unnest(list_transform(
                       generate_series(1, greatest(len(toks) - 2, 1)),
                       i -> array_to_string(toks[i:i+2], ' '))) AS shingle
            FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
                  FROM documents)
        ), shf AS (
            -- max_df = 100 skew guard, mirroring dedup_clusters(max_df=100)
            SELECT * FROM sh WHERE shingle IN (
                SELECT shingle FROM sh GROUP BY 1 HAVING COUNT(*) <= 100)
        ), sizes AS (
            SELECT doc_id, COUNT(shingle) AS n FROM shf GROUP BY 1
        ), inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
            FROM shf a JOIN shf b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ), p AS (
            SELECT doc_a, doc_b
            FROM inter
            JOIN sizes sa ON inter.doc_a = sa.doc_id
            JOIN sizes sb ON inter.doc_b = sb.doc_id
            WHERE ROUND(n_common / (sa.n + sb.n - n_common), 4) >= 0.2
        ), edges AS (
            SELECT doc_a AS src, doc_b AS dst FROM p
            UNION SELECT doc_b, doc_a FROM p
        ), reach(src, dst) AS (
            SELECT src, dst FROM edges
            UNION
            SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
        ), labeled AS (
            SELECT d.doc_id,
                   LEAST(d.doc_id, COALESCE(MIN(r.dst), d.doc_id)) AS cluster_id
            FROM documents d LEFT JOIN reach r ON r.src = d.doc_id
            GROUP BY d.doc_id
        )
        SELECT doc_id, cluster_id,
               CAST(doc_id = cluster_id AS INTEGER) AS is_keeper
        FROM labeled
    """,
    "cleaned_corpus": r"""
        WITH RECURSIVE sh AS (
            SELECT DISTINCT doc_id,
                   unnest(list_transform(
                       generate_series(1, greatest(len(toks) - 2, 1)),
                       i -> array_to_string(toks[i:i+2], ' '))) AS shingle
            FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
                  FROM documents)
        ), shf AS (
            -- max_df = 100 skew guard, mirroring dedup_clusters(max_df=100)
            SELECT * FROM sh WHERE shingle IN (
                SELECT shingle FROM sh GROUP BY 1 HAVING COUNT(*) <= 100)
        ), sizes AS (
            SELECT doc_id, COUNT(shingle) AS n FROM shf GROUP BY 1
        ), inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
            FROM shf a JOIN shf b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ), p AS (
            SELECT doc_a, doc_b
            FROM inter
            JOIN sizes sa ON inter.doc_a = sa.doc_id
            JOIN sizes sb ON inter.doc_b = sb.doc_id
            WHERE ROUND(n_common / (sa.n + sb.n - n_common), 4) >= 0.2
        ), edges AS (
            SELECT doc_a AS src, doc_b AS dst FROM p
            UNION SELECT doc_b, doc_a FROM p
        ), reach(src, dst) AS (
            SELECT src, dst FROM edges
            UNION
            SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
        ), labeled AS (
            SELECT d.doc_id,
                   LEAST(d.doc_id, COALESCE(MIN(r.dst), d.doc_id)) AS cluster_id
            FROM documents d LEFT JOIN reach r ON r.src = d.doc_id
            GROUP BY d.doc_id
        ), q AS (
            SELECT doc_id, lang,
                   FLOOR((0.4 * (len(list_distinct(toks)) / len(toks))
                       + 0.3 * (1 - len(list_filter(toks,
                             x -> list_contains(['the','a','of','and','is'], x)))
                             / len(toks))
                       + 0.3 * least(len(toks) / 100.0, 1.0)) * 10000 + 0.5)
                   / 10000 AS quality_score
            FROM (SELECT doc_id, lang,
                         regexp_split_to_array(trim(text), '\s+') AS toks
                  FROM documents)
        )
        SELECT q.doc_id, q.lang, q.quality_score, labeled.cluster_id
        FROM q JOIN labeled ON q.doc_id = labeled.doc_id
        WHERE labeled.cluster_id = q.doc_id AND q.quality_score >= 0.5
    """,
    "dedup_simhash": r"""
        WITH tok AS (
            SELECT doc_id,
                   CAST(('0x' || substr(md5(t.tok), 1, 8)) AS BIGINT) AS hv
            FROM (SELECT doc_id,
                         unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
                  FROM documents) t
        ), votes AS (
            SELECT doc_id, b.bit,
                   SUM(CASE WHEN ((hv >> b.bit) & 1) = 1 THEN 1 ELSE -1 END) AS v
            FROM tok CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS bit) b
            GROUP BY 1, 2
        ), fp AS (
            SELECT doc_id,
                   CAST(SUM(CASE WHEN v >= 0 THEN (CAST(1 AS BIGINT) << bit)
                            ELSE 0 END) AS BIGINT) AS simhash
            FROM votes
            GROUP BY 1
        )
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.simhash AS sim_a, b.simhash AS sim_b,
               CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
        FROM fp a JOIN fp b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
    "embedding_cosine_topk": """
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id IN (0,1,2,3,4)),
        scored AS (
            SELECT q.query_id, e.vec_id AS neighbor_id,
                   list_dot_product(q.qv, e.v)
                   / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.v, e.v)))
                   AS cos_raw
            FROM q JOIN e ON e.vec_id != q.query_id
        )
        SELECT query_id, neighbor_id,
               CAST(row_number() OVER (PARTITION BY query_id
                    ORDER BY cos_raw DESC, neighbor_id ASC) AS BIGINT) AS rank,
               ROUND(cos_raw, 6) AS cosine
        FROM scored
        QUALIFY rank <= 10
    """,
    "embedding_lsh_ann": """
        WITH e AS (
            SELECT vec_id, embedding::DOUBLE[] AS v,
                   (CASE WHEN embedding[1]  >= 0 THEN '1' ELSE '0' END ||
                    CASE WHEN embedding[17] >= 0 THEN '1' ELSE '0' END ||
                    CASE WHEN embedding[33] >= 0 THEN '1' ELSE '0' END ||
                    CASE WHEN embedding[49] >= 0 THEN '1' ELSE '0' END) AS bucket
            FROM embeddings
        ),
        q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM e WHERE vec_id IN (0,1,2,3,4)),
        scored AS (
            SELECT q.query_id, q.bucket, e.vec_id AS neighbor_id,
                   list_dot_product(q.qv, e.v)
                   / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.v, e.v)))
                   AS cos_raw
            FROM q JOIN e ON e.bucket = q.bucket AND e.vec_id != q.query_id
        )
        SELECT query_id, bucket, neighbor_id,
               CAST(row_number() OVER (PARTITION BY query_id
                    ORDER BY cos_raw DESC, neighbor_id ASC) AS BIGINT) AS rank,
               ROUND(cos_raw, 6) AS cosine
        FROM scored
        QUALIFY rank <= 5
    """,
    "embedding_ivf_ann": """
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        cent AS (SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id < 8),
        assigned AS (
            SELECT e.vec_id, e.v, cent_id AS cell,
                   row_number() OVER (PARTITION BY e.vec_id ORDER BY
                       list_dot_product(cent.cv, e.v)
                       / (sqrt(list_dot_product(cent.cv, cent.cv))
                          * sqrt(list_dot_product(e.v, e.v))) DESC,
                       cent_id ASC) AS rn
            FROM e CROSS JOIN cent
            QUALIFY rn = 1
        ),
        q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id IN (0,1,2,3,4)),
        probes AS (
            SELECT query_id, qv, cent_id AS cell,
                   row_number() OVER (PARTITION BY query_id ORDER BY
                       list_dot_product(cent.cv, q.qv)
                       / (sqrt(list_dot_product(cent.cv, cent.cv))
                          * sqrt(list_dot_product(q.qv, q.qv))) DESC,
                       cent_id ASC) AS rn
            FROM q CROSS JOIN cent
            QUALIFY rn <= 2
        ),
        scored AS (
            SELECT p.query_id, a.vec_id AS neighbor_id,
                   list_dot_product(p.qv, a.v)
                   / (sqrt(list_dot_product(p.qv, p.qv)) * sqrt(list_dot_product(a.v, a.v)))
                   AS cos_raw
            FROM probes p JOIN assigned a ON a.cell = p.cell
            WHERE a.vec_id != p.query_id
        )
        SELECT query_id, neighbor_id,
               CAST(row_number() OVER (PARTITION BY query_id
                    ORDER BY cos_raw DESC, neighbor_id ASC) AS BIGINT) AS rank,
               ROUND(cos_raw, 6) AS cosine
        FROM scored
        QUALIFY rank <= 5
    """,
    "embedding_near_dup": """
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               ROUND(list_dot_product(a.v, b.v)
                   / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))),
                   6) AS cosine
        FROM e a JOIN e b ON a.vec_id < b.vec_id
        WHERE list_dot_product(a.v, b.v)
              / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.4
    """,
    "embedding_quantize_int8": """
        WITH e AS (
            SELECT vec_id, embedding::DOUBLE[] AS v,
                   greatest(list_max(list_transform(embedding::DOUBLE[], x -> abs(x))),
                            1e-12) AS mx
            FROM embeddings
        ), q AS (
            SELECT vec_id, mx,
                   list_transform(v, x -> CAST(floor(x * (127.0 / mx) + 0.5) AS BIGINT)) AS qv
            FROM e
        )
        SELECT vec_id,
               ROUND(127.0 / mx, 6) AS scale,
               CAST(list_sum(list_transform(qv, x -> abs(x))) AS BIGINT) AS q_l1,
               md5(array_to_string(qv, ',')) AS q_md5
        FROM q
    """,
    "embedding_near_dup_bucketed": """
        WITH e AS (
            SELECT vec_id, embedding::DOUBLE[] AS v,
                   (CASE WHEN embedding[1]  >= 0 THEN '1' ELSE '0' END ||
                    CASE WHEN embedding[5]  >= 0 THEN '1' ELSE '0' END ||
                    CASE WHEN embedding[9]  >= 0 THEN '1' ELSE '0' END ||
                    CASE WHEN embedding[13] >= 0 THEN '1' ELSE '0' END) AS b0,
                   (CASE WHEN embedding[17] >= 0 THEN '1' ELSE '0' END ||
                    CASE WHEN embedding[21] >= 0 THEN '1' ELSE '0' END ||
                    CASE WHEN embedding[25] >= 0 THEN '1' ELSE '0' END ||
                    CASE WHEN embedding[29] >= 0 THEN '1' ELSE '0' END) AS b1,
                   (CASE WHEN embedding[33] >= 0 THEN '1' ELSE '0' END ||
                    CASE WHEN embedding[37] >= 0 THEN '1' ELSE '0' END ||
                    CASE WHEN embedding[41] >= 0 THEN '1' ELSE '0' END ||
                    CASE WHEN embedding[45] >= 0 THEN '1' ELSE '0' END) AS b2,
                   (CASE WHEN embedding[49] >= 0 THEN '1' ELSE '0' END ||
                    CASE WHEN embedding[53] >= 0 THEN '1' ELSE '0' END ||
                    CASE WHEN embedding[57] >= 0 THEN '1' ELSE '0' END ||
                    CASE WHEN embedding[61] >= 0 THEN '1' ELSE '0' END) AS b3
            FROM embeddings
        ), cand AS (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b
            FROM e a JOIN e b ON a.b0 = b.b0 AND a.vec_id < b.vec_id
            UNION
            SELECT a.vec_id, b.vec_id
            FROM e a JOIN e b ON a.b1 = b.b1 AND a.vec_id < b.vec_id
            UNION
            SELECT a.vec_id, b.vec_id
            FROM e a JOIN e b ON a.b2 = b.b2 AND a.vec_id < b.vec_id
            UNION
            SELECT a.vec_id, b.vec_id
            FROM e a JOIN e b ON a.b3 = b.b3 AND a.vec_id < b.vec_id
        )
        , en AS (
            -- normalize once, exactly like the operator (norm hoisted,
            -- per-element divide); pair test becomes a plain dot product
            SELECT vec_id, list_transform(v, x -> x / n) AS nv
            FROM (SELECT vec_id, v,
                         greatest(sqrt(list_dot_product(v, v)), 1e-12) AS n
                  FROM e)
        )
        SELECT c.id_a, c.id_b,
               ROUND(list_dot_product(ea.nv, eb.nv), 6) AS cosine
        FROM cand c
        JOIN en ea ON ea.vec_id = c.id_a
        JOIN en eb ON eb.vec_id = c.id_b
        WHERE list_dot_product(ea.nv, eb.nv) >= 0.4
    """,
    # ---------------- event-stream analytics ----------------
    "events_windowed_agg": """
        SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S')
                   AS window_start,
               event_type,
               COUNT(*) AS n_events,
               COUNT(DISTINCT user_id) AS n_users,
               ROUND(SUM(value), 4) AS sum_value
        FROM events
        GROUP BY 1, 2
    """,
    "events_sessionize": """
        WITH flagged AS (
            SELECT user_id, value, event_id,
                   epoch_us(ts) AS us,
                   CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                             OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                        THEN 1 ELSE 0 END AS is_new
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), numbered AS (
            SELECT user_id, value, us,
                   SUM(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id
                                     ROWS UNBOUNDED PRECEDING) AS session_seq
            FROM flagged
        )
        SELECT user_id,
               CAST(session_seq AS BIGINT) AS session_seq,
               COUNT(*) AS n_events,
               MIN(us) AS session_start_us,
               MAX(us) AS session_end_us,
               ROUND(SUM(value), 4) AS session_value
        FROM numbered
        GROUP BY 1, 2
    """,
    # ---------------- multimodal plumbing ----------------
    # payload = utf8(text); docs are ASCII so byte offsets == char offsets
    "multimodal_media_meta": """
        SELECT doc_id,
               CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                    ELSE 'video' END AS media_type,
               octet_length(encode(text)) AS n_bytes,
               sha256(text) AS sha256_hex,
               CAST(octet_length(encode(text)) % 640 + 1 AS INTEGER) AS width,
               CAST(ord(substr(text, 1, 1)) * 3 % 480 + 1 AS INTEGER) AS height
        FROM documents
    """,
    "multimodal_frame_sample": """
        WITH v AS (
            SELECT doc_id, text, octet_length(encode(text)) // 16 AS n_frames
            FROM documents WHERE doc_id % 3 = 2
        )
        SELECT doc_id,
               CAST(f.i AS BIGINT) AS frame_idx,
               md5(substr(text, CAST(f.i AS INTEGER) * 16 + 1, 16)) AS frame_md5
        FROM v, LATERAL (SELECT unnest(generate_series(0, CAST(n_frames - 1 AS BIGINT), 4)) AS i) f
    """,
    "multimodal_type_stats": """
        WITH m AS (
            SELECT CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                        ELSE 'video' END AS media_type,
                   octet_length(encode(text)) AS n_bytes,
                   octet_length(encode(text)) % 640 + 1 AS width,
                   ord(substr(text, 1, 1)) * 3 % 480 + 1 AS height
            FROM documents
        )
        SELECT media_type,
               COUNT(*) AS n_docs,
               CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
               ROUND(AVG(width), 4) AS avg_width,
               ROUND(AVG(height), 4) AS avg_height
        FROM m
        GROUP BY 1
    """,
    "multimodal_thumbnail": """
        SELECT doc_id,
               CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                    ELSE 'video' END AS media_type,
               CAST(length(text) AS BIGINT) AS n_bytes,
               CAST(len(generate_series(1, length(text), 8)) AS BIGINT) AS thumb_n_bytes,
               md5(array_to_string(list_transform(
                   generate_series(1, length(text), 8),
                   i -> substr(text, CAST(i AS INTEGER), 1)), '')) AS thumb_md5
        FROM documents
    """,
    "multimodal_byte_features": """
        WITH c AS (
            SELECT doc_id,
                   CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                        ELSE 'video' END AS media_type,
                   list_transform(generate_series(1, length(text)),
                                  i -> ord(substr(text, CAST(i AS INTEGER), 1))) AS codes
            FROM documents
        )
        SELECT doc_id, media_type,
               CAST(len(codes) AS BIGINT) AS n_bytes,
               CAST(len(list_filter(codes, x -> x < 64)) AS BIGINT) AS b_q1,
               CAST(len(list_filter(codes, x -> x >= 64 AND x < 128)) AS BIGINT) AS b_q2,
               CAST(len(list_filter(codes, x -> x >= 128 AND x < 192)) AS BIGINT) AS b_q3,
               CAST(len(list_filter(codes, x -> x >= 192)) AS BIGINT) AS b_q4,
               printf('%.4f', list_avg(codes)) AS mean_byte
        FROM c
    """,
    "stream_events_windowed": """
        SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S')
                   AS window_start,
               event_type,
               COUNT(*) AS n_events,
               ROUND(SUM(value), 4) AS sum_value
        FROM events
        GROUP BY 1, 2
    """,
    "stream_events_sessionize": """
        WITH flagged AS (
            SELECT user_id, value, event_id,
                   epoch_us(ts) AS us,
                   CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                             OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                        THEN 1 ELSE 0 END AS is_new
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), numbered AS (
            SELECT user_id, value, us,
                   SUM(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id
                                     ROWS UNBOUNDED PRECEDING) AS session_seq
            FROM flagged
        )
        SELECT user_id,
               CAST(session_seq AS BIGINT) AS session_seq,
               COUNT(*) AS n_events,
               MIN(us) AS session_start_us,
               MAX(us) AS session_end_us,
               ROUND(SUM(value), 4) AS session_value
        FROM numbered
        GROUP BY 1, 2
    """,
    "events_asof_last_order": """
        WITH r AS (
            SELECT o_custkey AS user_id,
                   CAST(o_orderdate AS TIMESTAMP) AS ots,
                   MAX(o_orderkey) AS last_order_key,
                   ROUND(arg_max(o_totalprice, o_orderkey), 2) AS last_order_price
            FROM orders
            GROUP BY 1, 2
        )
        SELECT e.event_id, e.user_id, r.last_order_key, r.last_order_price
        FROM events e ASOF LEFT JOIN r
            ON e.user_id = r.user_id AND e.ts >= r.ots
    """,
    "stream_events_purchase_follow": """
        SELECT p.user_id,
               c.event_id AS click_event_id,
               strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
               ROUND(p.value, 4) AS purchase_value
        FROM events p JOIN events c
          ON p.user_id = c.user_id
         AND p.event_type = 'purchase' AND c.event_type = 'click'
         AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 30 MINUTES
    """,
    "stream_events_dedup": """
        SELECT event_type,
               COUNT(*) AS n_events,
               ROUND(SUM(value), 4) AS sum_value
        FROM events
        GROUP BY 1
    """,
    "quality_quantiles_by_lang": r"""
        WITH q AS (
            SELECT lang,
                   FLOOR((0.4 * (len(list_distinct(toks)) / len(toks))
                       + 0.3 * (1 - len(list_filter(toks,
                             x -> list_contains(['the','a','of','and','is'], x)))
                             / len(toks))
                       + 0.3 * least(len(toks) / 100.0, 1.0)) * 10000 + 0.5)
                   / 10000 AS quality_score
            FROM (SELECT lang,
                         regexp_split_to_array(trim(text), '\s+') AS toks
                  FROM documents)
        )
        SELECT lang,
               COUNT(*) AS n_docs,
               ROUND(quantile_cont(quality_score, 0.5), 6) AS p50,
               ROUND(quantile_cont(quality_score, 0.9), 6) AS p90
        FROM q
        GROUP BY 1
    """,
    # Sketch-accuracy contracts: the Spark query computes the sketch AND its
    # exact bound in one plan and emits booleans; the oracle asserts the
    # exact group keys/counts and all-true flags. This replaces the former
    # rows-only (`no_oracle`) driver rows for the three sketch queries.
    "quality_quantiles_by_lang_approx": """
        SELECT lang,
               COUNT(*) AS n_docs,
               TRUE AS p50_in_rank_window,
               TRUE AS p90_in_rank_window
        FROM documents
        GROUP BY 1
    """,
    "customer_base_stats_approx": """
        SELECT o_orderpriority,
               COUNT(o_custkey) AS count_of_purchase,
               TRUE AS hll_within_rel_err
        FROM orders
        GROUP BY 1
    """,
    "embedding_ivf_ann_trained": """
        SELECT unnest(generate_series(0, 4))::BIGINT AS query_id,
               CAST(5 AS BIGINT) AS n_neighbors,
               TRUE AS ranks_complete,
               TRUE AS cosine_monotone,
               TRUE AS overall_recall_ok
    """,
    "events_daily_pivot": """
        SELECT strftime(ts, '%Y-%m-%d') AS event_date,
               COUNT(*) FILTER (event_type = 'click')    AS click,
               COUNT(*) FILTER (event_type = 'error')    AS error,
               COUNT(*) FILTER (event_type = 'purchase') AS purchase,
               COUNT(*) FILTER (event_type = 'signup')   AS signup,
               COUNT(*) FILTER (event_type = 'view')     AS view
        FROM events
        GROUP BY 1
    """,
    "events_rollup": """
        SELECT strftime(ts, '%Y-%m-%d') AS event_date, event_type,
               COUNT(*) AS n_events,
               ROUND(SUM(value), 4) AS sum_value,
               CAST(GROUPING(event_date) * 2 + GROUPING(event_type) AS BIGINT) AS lvl
        FROM events
        GROUP BY ROLLUP(event_date, event_type)
    """,
    "events_cube": """
        SELECT event_type,
               CAST(hour(ts) AS BIGINT) AS hour_of_day,
               COUNT(*) AS n_events,
               ROUND(SUM(value), 4) AS sum_value,
               CAST(GROUPING(event_type) * 2 + GROUPING(hour_of_day) AS BIGINT) AS lvl
        FROM events
        GROUP BY CUBE(event_type, hour_of_day)
    """,
    "events_session_window": """
        WITH flagged AS (
            SELECT user_id, value, event_id,
                   epoch_us(ts) AS us,
                   CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                             OR epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 1800000000
                        THEN 1 ELSE 0 END AS is_new
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), numbered AS (
            SELECT user_id, value, us,
                   SUM(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id
                                     ROWS UNBOUNDED PRECEDING) AS session_seq
            FROM flagged
        )
        SELECT user_id,
               MIN(us) AS session_start_us,
               MAX(us) + 1800000000 AS session_end_us,
               COUNT(*) AS n_events,
               ROUND(SUM(value), 4) AS session_value
        FROM numbered
        GROUP BY user_id, session_seq
    """,
    "events_type_stats_salted": """
        SELECT event_type,
               COUNT(*) AS n_events,
               ROUND(SUM(value), 4) AS sum_value,
               MIN(value) AS min_value,
               MAX(value) AS max_value
        FROM events
        GROUP BY 1
    """,
    "events_json_extract": """
        SELECT event_type,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
                   AS sum_k,
               MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
               MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
        FROM events
        GROUP BY 1
    """,
    # ---- round-3 LLM-pipeline additions ----
    "stream_events_cdc_lake": """
        SELECT event_id, event_type,
               ROUND(CASE WHEN event_type = 'purchase' THEN value * 2
                          ELSE value END, 4) AS value,
               CAST(CASE WHEN event_type = 'purchase' THEN 2 ELSE 1 END AS BIGINT)
                   AS version
        FROM events
    """,
    "text_pii_redact": r"""
        WITH t AS (
            SELECT doc_id,
                   text || ' contact user' || CAST(doc_id AS VARCHAR)
                        || '@example.com from 10.' || CAST(doc_id % 200 AS VARCHAR)
                        || '.0.' || CAST(doc_id % 250 AS VARCHAR)
                        || ' call 010-' || lpad(CAST((doc_id * 7) % 10000 AS VARCHAR), 4, '0')
                        || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t2
            FROM documents
        )
        SELECT doc_id,
               CAST(len(regexp_extract_all(t2,
                    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
                   AS n_email,
               CAST(len(regexp_extract_all(t2,
                    '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS BIGINT)
                   AS n_ipv4,
               CAST(len(regexp_extract_all(t2,
                    '\b[0-9]{3}-[0-9]{3,4}-[0-9]{4}\b')) AS BIGINT) AS n_phone,
               md5(regexp_replace(regexp_replace(regexp_replace(t2,
                    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<email>', 'g'),
                    '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<ipv4>', 'g'),
                    '\b[0-9]{3}-[0-9]{3,4}-[0-9]{4}\b', '<phone>', 'g')) AS redacted_md5
        FROM t
    """,
    "corpus_chunk": r"""
        WITH t AS (
            SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
            FROM documents
        ), s AS (
            SELECT doc_id, toks,
                   unnest(generate_series(1,
                       CAST(ceil(greatest(len(toks) - 32, 0) / 16.0) * 16 + 1
                            AS BIGINT), 16)) AS start
            FROM t
        )
        SELECT doc_id,
               CAST((start - 1) // 16 AS BIGINT) AS chunk_idx,
               CAST(least(32, len(toks) - start + 1) AS BIGINT) AS chunk_tokens,
               md5(array_to_string(toks[start:start+31], ' ')) AS chunk_md5
        FROM s
    """,
    "text_token_dedup": r"""
        WITH t AS (
            SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
            FROM documents
        ), k AS (
            SELECT doc_id, toks,
                   list_filter(toks, (x, i) -> list_position(toks, x) = i) AS kept
            FROM t
        )
        SELECT doc_id,
               CAST(len(toks) AS BIGINT) AS n_tokens,
               CAST(len(kept) AS BIGINT) AS n_kept,
               ROUND(1 - len(kept) / len(toks), 4) AS trim_ratio,
               md5(array_to_string(kept, ' ')) AS dedup_md5
        FROM k
    """,
    "text_perplexity": r"""
        WITH bg AS (
            SELECT doc_id, unnest(list_transform(
                generate_series(1, greatest(len(toks) - 1, 1)),
                i -> array_to_string(toks[i:i+1], ' '))) AS bigram
            FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
                  FROM documents)
        ), c AS (
            SELECT split_part(bigram, ' ', 1) AS w1, bigram, COUNT(*) AS n
            FROM bg GROUP BY 1, 2
        ), w1t AS (
            SELECT w1, CAST(SUM(n) AS BIGINT) AS w1_n FROM c GROUP BY 1
        ), probs AS (
            SELECT c.bigram, ln(c.n / w1t.w1_n) AS logp
            FROM c JOIN w1t USING (w1)
        )
        SELECT bg.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_bigrams,
               ROUND(AVG(logp), 6) AS avg_logp,
               ROUND(exp(-AVG(logp)), 4) AS ppl
        FROM bg JOIN probs USING (bigram)
        GROUP BY 1
    """,
    "corpus_shuffle": """
        WITH t AS (
            SELECT doc_id,
                   CAST(('0x' || substr(md5('shuffle:' || CAST(doc_id AS VARCHAR)), 1, 8))
                        AS BIGINT) % 1000000 AS draw
            FROM documents
        )
        SELECT doc_id, draw,
               CAST(draw % 8 AS BIGINT) AS shard,
               CAST(row_number() OVER (PARTITION BY draw % 8
                    ORDER BY draw ASC, doc_id ASC) AS BIGINT) AS pos
        FROM t
    """,
    "corpus_mixture": r"""
        WITH d AS (
            SELECT doc_id, lang,
                   CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
                       AS n_tokens
            FROM documents
        ), tot AS (
            SELECT lang, CAST(SUM(n_tokens) AS BIGINT) AS stratum_tokens
            FROM d GROUP BY 1
        ), thr AS (
            SELECT lang,
                   least(1000000, floor(10000.0 * (CASE lang WHEN 'en' THEN 0.5
                        WHEN 'zh' THEN 0.2 WHEN 'fr' THEN 0.3 ELSE 0.0 END)
                        / stratum_tokens * 1000000)) AS thr
            FROM tot
        )
        SELECT d.doc_id, d.lang, d.n_tokens
        FROM d JOIN thr USING (lang)
        WHERE CAST(('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 8))
                   AS BIGINT) % 1000000 < thr
    """,
    "embedding_cell_stats": """
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        c AS (SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id < 8),
        scored AS (
            SELECT e.vec_id, c.cent_id,
                   list_dot_product(c.cv, e.v)
                   / greatest(sqrt(list_dot_product(c.cv, c.cv))
                              * sqrt(list_dot_product(e.v, e.v)), 1e-12) AS cent_cos
            FROM e CROSS JOIN c
        ), a AS (
            SELECT vec_id, cent_id AS cell, cent_cos
            FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                        ORDER BY cent_cos DESC, cent_id ASC) AS rn
                  FROM scored)
            WHERE rn = 1
        ), n AS (SELECT COUNT(*) AS n_total FROM e)
        SELECT cell,
               CAST(COUNT(*) AS BIGINT) AS n_members,
               ROUND(COUNT(*) / n.n_total, 6) AS share,
               ROUND(AVG(cent_cos), 6) AS mean_cos,
               ROUND(MIN(cent_cos), 6) AS min_cos,
               MIN(vec_id) AS min_vec_id
        FROM a CROSS JOIN n
        GROUP BY cell, n.n_total
    """,
    "dedup_incremental": r"""
        WITH sh AS (
            SELECT DISTINCT doc_id,
                   unnest(list_transform(
                       generate_series(1, greatest(len(toks) - 2, 1)),
                       i -> array_to_string(toks[i:i+2], ' '))) AS shingle
            FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
                  FROM documents)
        ), w AS (
            SELECT doc_id,
                   CAST(('0x' || substr(md5(shingle), 1, 8)) AS BIGINT) AS x1,
                   CAST(('0x' || substr(md5(shingle), 9, 8)) AS BIGINT) * 2 + 1 AS step
            FROM sh
        ), hashes AS (
            SELECT doc_id, i.h AS h, MIN(x1 + i.h * step) AS min_hash
            FROM w CROSS JOIN (SELECT unnest(generate_series(0, 11)) AS h) i
            GROUP BY 1, 2
        ), bands AS (
            SELECT doc_id, h // 3 AS band,
                   string_agg(CAST(min_hash AS VARCHAR), ',' ORDER BY h) AS band_sig
            FROM hashes GROUP BY 1, 2
        ), cand AS (
            SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS old_id
            FROM bands n JOIN bands o ON n.band = o.band AND n.band_sig = o.band_sig
            WHERE n.doc_id % 2 = 1 AND o.doc_id % 2 = 0
        ), sizes AS (
            SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1
        ), inter AS (
            SELECT a.doc_id AS new_id, b.doc_id AS old_id, COUNT(*) AS n_common
            FROM sh a JOIN sh b ON a.shingle = b.shingle
            JOIN cand c ON c.new_id = a.doc_id AND c.old_id = b.doc_id
            GROUP BY 1, 2
        ), verified AS (
            SELECT new_id, old_id,
                   ROUND(n_common / (sn.n + so.n - n_common), 4) AS jaccard
            FROM inter
            JOIN sizes sn ON inter.new_id = sn.doc_id
            JOIN sizes so ON inter.old_id = so.doc_id
            WHERE ROUND(n_common / (sn.n + so.n - n_common), 4) >= 0.5
        ), best AS (
            SELECT new_id, old_id AS best_match, jaccard
            FROM (SELECT *, row_number() OVER (PARTITION BY new_id
                      ORDER BY jaccard DESC, old_id ASC) AS rn FROM verified)
            WHERE rn = 1
        )
        SELECT d.doc_id,
               best.best_match IS NOT NULL AS is_dup,
               best.best_match,
               best.jaccard
        FROM (SELECT doc_id FROM documents WHERE doc_id % 2 = 1) d
        LEFT JOIN best ON d.doc_id = best.new_id
    """,
    "events_incident_windows": """
        WITH ints AS (
            SELECT CAST(ts AS DATE) AS day, MIN(ts) AS start
            FROM events WHERE event_type = 'error' GROUP BY 1
        ), i2 AS (
            SELECT strftime(day, '%Y-%m-%d') AS incident_day,
                   epoch_us(start) AS start_us, start,
                   start + INTERVAL 2 HOUR AS e
            FROM ints
        )
        SELECT incident_day,
               MIN(start_us) AS start_us,
               COUNT(*) AS n_events,
               COUNT(DISTINCT user_id) AS n_users,
               ROUND(SUM(value), 4) AS sum_value
        FROM events ev JOIN i2 ON ev.ts >= i2.start AND ev.ts < i2.e
        GROUP BY 1
    """,
    "customer_rolling_revenue": """
        WITH daily AS (
            SELECT o_custkey AS customer_id,
                   date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
                       AS day_num,
                   ROUND(SUM(o_totalprice), 2) AS day_revenue
            FROM orders GROUP BY 1, 2
        )
        SELECT customer_id,
               CAST(day_num AS BIGINT) AS day_num,
               day_revenue,
               ROUND(SUM(day_revenue) OVER w, 2) AS rolling_90d,
               COUNT(day_revenue) OVER w AS n_days_in_window
        FROM daily
        WINDOW w AS (PARTITION BY customer_id ORDER BY day_num
                     RANGE BETWEEN 89 PRECEDING AND CURRENT ROW)
    """,
    "events_daily_gapfill": """
        WITH ev AS (
            SELECT event_type, CAST(ts AS DATE) AS day, value FROM events
        ), bounds AS (
            SELECT MIN(day) AS lo, MAX(day) AS hi FROM ev
        ), spine AS (
            SELECT t.event_type, CAST(s.d AS DATE) AS day
            FROM (SELECT DISTINCT event_type FROM ev) t
            CROSS JOIN (
                SELECT unnest(generate_series(CAST(lo AS TIMESTAMP),
                                              CAST(hi AS TIMESTAMP),
                                              INTERVAL 1 DAY)) AS d
                FROM bounds
            ) s
        ), daily AS (
            SELECT event_type, day, COUNT(*) AS n_events,
                   ROUND(SUM(value), 4) AS day_value
            FROM ev GROUP BY 1, 2
        )
        SELECT spine.event_type,
               strftime(spine.day, '%Y-%m-%d') AS day_str,
               COALESCE(daily.n_events, 0) AS n_events,
               ROUND(COALESCE(daily.day_value, 0.0), 4) AS day_value,
               ROUND(last_value(daily.day_value IGNORE NULLS) OVER (
                   PARTITION BY spine.event_type ORDER BY spine.day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4)
                   AS ffill_value
        FROM spine LEFT JOIN daily
          ON spine.event_type = daily.event_type AND spine.day = daily.day
    """,
    "events_user_state_scd2": """
        WITH e AS (
            SELECT user_id, epoch_us(ts) AS us, event_id, event_type,
                   CASE WHEN lag(event_type) OVER w IS NULL
                             OR lag(event_type) OVER w <> event_type
                        THEN 1 ELSE 0 END AS chg
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), r AS (
            SELECT *, SUM(chg) OVER (PARTITION BY user_id ORDER BY us, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
            FROM e
        ), iv AS (
            SELECT user_id, run, MIN(event_type) AS state,
                   MIN(us) AS valid_from_us, COUNT(*) AS n_events
            FROM r GROUP BY 1, 2
        )
        SELECT user_id, state, valid_from_us,
               lead(valid_from_us) OVER w2 AS valid_to_us,
               lead(valid_from_us) OVER w2 IS NULL AS is_current,
               n_events
        FROM iv
        WINDOW w2 AS (PARTITION BY user_id ORDER BY valid_from_us)
    """,
    "events_funnel": """
        WITH s1 AS (
            SELECT user_id, ts, event_type,
                   MIN(CASE WHEN event_type = 'view' THEN ts END)
                       OVER (PARTITION BY user_id) AS t1
            FROM events
        ), s2 AS (
            SELECT *, MIN(CASE WHEN event_type = 'click' AND ts >= t1 THEN ts END)
                      OVER (PARTITION BY user_id) AS t2
            FROM s1
        ), s3 AS (
            SELECT *, MIN(CASE WHEN event_type = 'purchase' AND ts >= t2 THEN ts END)
                      OVER (PARTITION BY user_id) AS t3
            FROM s2
        ), per AS (
            SELECT user_id, MIN(t1) AS t1, MIN(t2) AS t2, MIN(t3) AS t3
            FROM s3 GROUP BY 1
        ), c AS (
            SELECT COUNT(t1) AS n1, COUNT(t2) AS n2, COUNT(t3) AS n3 FROM per
        )
        SELECT CAST(1 AS BIGINT) AS step_idx, 'view' AS step, n1 AS n_users,
               ROUND(n1 / CAST(n1 AS DOUBLE), 4) AS conversion FROM c
        UNION ALL
        SELECT 2, 'click', n2, ROUND(n2 / CAST(n1 AS DOUBLE), 4) FROM c
        UNION ALL
        SELECT 3, 'purchase', n3, ROUND(n3 / CAST(n1 AS DOUBLE), 4) FROM c
    """,
    "customer_cohort_retention": """
        WITH base AS (
            SELECT o_custkey AS customer_id,
                   year(o_orderdate) * 12 + month(o_orderdate) - 1 AS ym
            FROM orders
        ), coh AS (
            SELECT customer_id, ym,
                   MIN(ym) OVER (PARTITION BY customer_id) AS cohort
            FROM base
        ), grid AS (
            SELECT cohort, ym - cohort AS months_since,
                   COUNT(DISTINCT customer_id) AS n_active
            FROM coh GROUP BY 1, 2
        ), sized AS (
            SELECT *, MAX(CASE WHEN months_since = 0 THEN n_active END)
                      OVER (PARTITION BY cohort) AS cohort_size
            FROM grid
        )
        SELECT CAST(cohort // 12 AS VARCHAR) || '-' ||
                   lpad(CAST(cohort % 12 + 1 AS VARCHAR), 2, '0') AS cohort_month,
               CAST(months_since AS BIGINT) AS months_since,
               n_active, cohort_size,
               ROUND(n_active / CAST(cohort_size AS DOUBLE), 4) AS retention_pct
        FROM sized
    """,
    "customer_rfm": """
        WITH per AS (
            SELECT o_custkey AS customer_id,
                   MAX(CAST(o_orderdate AS DATE)) AS last_day,
                   COUNT(*) AS frequency,
                   ROUND(SUM(o_totalprice), 2) AS monetary
            FROM orders GROUP BY 1
        ), a AS (
            -- "asof" is a DuckDB reserved word (ASOF JOIN); use asof_day
            SELECT MAX(CAST(o_orderdate AS DATE)) AS asof_day FROM orders
        ), p2 AS (
            SELECT customer_id,
                   date_diff('day', last_day, asof_day) AS recency_days,
                   frequency, monetary
            FROM per CROSS JOIN a
        ), cuts AS (
            SELECT ROUND(quantile_cont(recency_days, 0.25), 6) AS r25,
                   ROUND(quantile_cont(recency_days, 0.50), 6) AS r50,
                   ROUND(quantile_cont(recency_days, 0.75), 6) AS r75,
                   ROUND(quantile_cont(frequency, 0.25), 6) AS f25,
                   ROUND(quantile_cont(frequency, 0.50), 6) AS f50,
                   ROUND(quantile_cont(frequency, 0.75), 6) AS f75,
                   ROUND(quantile_cont(monetary, 0.25), 6) AS m25,
                   ROUND(quantile_cont(monetary, 0.50), 6) AS m50,
                   ROUND(quantile_cont(monetary, 0.75), 6) AS m75
            FROM p2
        ), scored AS (
            SELECT customer_id,
                   CAST(recency_days AS BIGINT) AS recency_days,
                   CAST(frequency AS BIGINT) AS frequency,
                   monetary,
                   CAST(1 + CAST(recency_days < r75 AS INTEGER)
                          + CAST(recency_days < r50 AS INTEGER)
                          + CAST(recency_days < r25 AS INTEGER) AS BIGINT) AS r_score,
                   CAST(1 + CAST(frequency > f25 AS INTEGER)
                          + CAST(frequency > f50 AS INTEGER)
                          + CAST(frequency > f75 AS INTEGER) AS BIGINT) AS f_score,
                   CAST(1 + CAST(monetary > m25 AS INTEGER)
                          + CAST(monetary > m50 AS INTEGER)
                          + CAST(monetary > m75 AS INTEGER) AS BIGINT) AS m_score
            FROM p2 CROSS JOIN cuts
        )
        SELECT *, CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR) ||
                  CAST(m_score AS VARCHAR) AS rfm_segment
        FROM scored
    """,
    "corpus_decontamination_bloom": r"""
        WITH sh AS (
            SELECT DISTINCT doc_id,
                   unnest(list_transform(
                       generate_series(1, greatest(len(toks) - 4, 1)),
                       i -> array_to_string(toks[i:i+4], ' '))) AS shingle
            FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
                  FROM documents)
        ), hits AS (
            SELECT a.doc_id, COUNT(*) AS n
            FROM (SELECT * FROM sh WHERE doc_id >= 10) a
            JOIN (SELECT DISTINCT shingle FROM sh WHERE doc_id < 10) b USING (shingle)
            GROUP BY 1
        )
        SELECT d.doc_id,
               COALESCE(hits.n, 0) AS n_contaminated_shingles,
               CAST(COALESCE(hits.n, 0) > 0 AS INTEGER) AS is_contaminated
        FROM (SELECT doc_id FROM documents WHERE doc_id >= 10) d
        LEFT JOIN hits ON d.doc_id = hits.doc_id
    """,
    "corpus_split_leakage_safe": r"""
        WITH RECURSIVE sh AS (
            SELECT DISTINCT doc_id,
                   unnest(list_transform(
                       generate_series(1, greatest(len(toks) - 2, 1)),
                       i -> array_to_string(toks[i:i+2], ' '))) AS shingle
            FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
                  FROM documents)
        ), shf AS (
            SELECT * FROM sh WHERE shingle IN (
                SELECT shingle FROM sh GROUP BY 1 HAVING COUNT(*) <= 100)
        ), sizes AS (
            SELECT doc_id, COUNT(shingle) AS n FROM shf GROUP BY 1
        ), inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
            FROM shf a JOIN shf b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ), p AS (
            SELECT doc_a, doc_b
            FROM inter
            JOIN sizes sa ON inter.doc_a = sa.doc_id
            JOIN sizes sb ON inter.doc_b = sb.doc_id
            WHERE ROUND(n_common / (sa.n + sb.n - n_common), 4) >= 0.2
        ), edges AS (
            SELECT doc_a AS src, doc_b AS dst FROM p
            UNION SELECT doc_b, doc_a FROM p
        ), reach(src, dst) AS (
            SELECT src, dst FROM edges
            UNION
            SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
        ), labeled AS (
            SELECT d.doc_id,
                   LEAST(d.doc_id, COALESCE(MIN(r.dst), d.doc_id)) AS cluster_id
            FROM documents d LEFT JOIN reach r ON r.src = d.doc_id
            GROUP BY d.doc_id
        )
        SELECT doc_id, cluster_id,
               CASE WHEN CAST(('0x' || substr(md5('split:' ||
                        CAST(cluster_id AS VARCHAR)), 1, 8)) AS BIGINT)
                        % 1000000 < 800000 THEN 'train'
                    WHEN CAST(('0x' || substr(md5('split:' ||
                        CAST(cluster_id AS VARCHAR)), 1, 8)) AS BIGINT)
                        % 1000000 < 900000 THEN 'val'
                    ELSE 'test' END AS split
        FROM labeled
    """,
    "text_gopher_quality": r"""
        WITH t AS (
            SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
            FROM documents
        ), s AS (
            SELECT doc_id,
                   CAST(len(toks) AS BIGINT) AS n_tokens,
                   ROUND(list_sum(list_transform(toks, x -> len(x))) / len(toks), 4)
                       AS mean_word_len,
                   CAST(len(list_filter(toks,
                        x -> list_contains(['the','a','of','and','is'], x))) AS BIGINT)
                       AS stopword_hits,
                   ROUND(len(list_filter(toks, x -> regexp_matches(x, '^[0-9]+$')))
                         / len(toks), 4) AS numeric_frac
            FROM t
        ), r AS (
            SELECT *,
                   (n_tokens >= 50 AND n_tokens <= 100000) AS r_word_count,
                   (mean_word_len >= 3.0 AND mean_word_len <= 10.0) AS r_mean_word_len,
                   (stopword_hits >= 2) AS r_stopwords,
                   (numeric_frac <= 0.2) AS r_numeric
            FROM s
        )
        SELECT *, (r_word_count AND r_mean_word_len AND r_stopwords AND r_numeric)
                  AS keep
        FROM r
    """,
    "corpus_strip_boilerplate": r"""
        WITH t AS (
            SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
            FROM documents
        ), c AS (
            SELECT doc_id,
                   CAST((start - 1) // 16 AS BIGINT) AS chunk_idx,
                   array_to_string(toks[start:start+15], ' ') AS chunk
            FROM (SELECT doc_id, toks,
                         unnest(generate_series(1, greatest(len(toks), 1), 16)) AS start
                  FROM t)
        ), hot AS (
            SELECT chunk FROM c GROUP BY chunk HAVING COUNT(DISTINCT doc_id) >= 2
        ), m AS (
            SELECT c.doc_id, c.chunk_idx, c.chunk, hot.chunk IS NOT NULL AS is_hot
            FROM c LEFT JOIN hot USING (chunk)
        )
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_chunks,
               CAST(SUM(CASE WHEN is_hot THEN 0 ELSE 1 END) AS BIGINT) AS n_kept,
               md5(coalesce(string_agg(chunk, ' ' ORDER BY chunk_idx)
                            FILTER (WHERE NOT is_hot), '')) AS clean_md5
        FROM m GROUP BY doc_id
    """,
    "embedding_semantic_dedup": """
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        c AS (SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id < 8),
        a AS (
            SELECT vec_id, v, cent_id AS cell
            FROM (SELECT e.vec_id, e.v, c.cent_id,
                         row_number() OVER (PARTITION BY e.vec_id ORDER BY
                             list_dot_product(c.cv, e.v)
                             / greatest(sqrt(list_dot_product(c.cv, c.cv))
                                        * sqrt(list_dot_product(e.v, e.v)), 1e-12) DESC,
                             c.cent_id ASC) AS rn
                  FROM e CROSS JOIN c)
            WHERE rn = 1
        ), an AS (
            -- normalize once, exactly like the operator: norm hoisted, then
            -- per-element divide; pair test becomes a plain dot product
            SELECT vec_id, cell,
                   list_transform(v, x -> x / n) AS nv
            FROM (SELECT vec_id, cell, v,
                         greatest(sqrt(list_dot_product(v, v)), 1e-12) AS n
                  FROM a)
        ), dup AS (
            SELECT DISTINCT b.vec_id AS dup_id
            FROM an x JOIN an b ON x.cell = b.cell AND x.vec_id < b.vec_id
            WHERE list_dot_product(x.nv, b.nv) >= 0.4
        )
        SELECT a.vec_id, a.cell, dup.dup_id IS NOT NULL AS is_dup
        FROM a LEFT JOIN dup ON a.vec_id = dup.dup_id
    """,
    "embedding_pq_codes": """
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        cb AS (SELECT vec_id AS code_id, v AS cv FROM e WHERE vec_id < 16),
        enc AS (
            SELECT vec_id, s, code_id, dist
            FROM (
                SELECT e.vec_id, s.s, cb.code_id,
                       list_sum(list_transform(generate_series(1, 16),
                           i -> (e.v[s.s * 16 + i] - cb.cv[s.s * 16 + i]) ^ 2)) AS dist,
                       row_number() OVER (PARTITION BY e.vec_id, s.s
                            ORDER BY list_sum(list_transform(generate_series(1, 16),
                                i -> (e.v[s.s * 16 + i] - cb.cv[s.s * 16 + i]) ^ 2)) ASC,
                                cb.code_id ASC) AS rn
                FROM e
                CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS s) s
                CROSS JOIN cb
            )
            WHERE rn = 1
        )
        SELECT vec_id,
               string_agg(CAST(code_id AS VARCHAR), '-' ORDER BY s) AS codes,
               ROUND(SUM(dist), 6) AS recon_err,
               md5(string_agg(CAST(code_id AS VARCHAR), ',' ORDER BY s)) AS code_md5
        FROM enc GROUP BY vec_id
    """,
    "embedding_pq_topk": """
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        cb AS (SELECT vec_id AS code_id, v AS cv FROM e WHERE vec_id < 16),
        enc AS (
            SELECT vec_id, s, code_id
            FROM (
                SELECT e.vec_id, s.s, cb.code_id,
                       row_number() OVER (PARTITION BY e.vec_id, s.s
                            ORDER BY list_sum(list_transform(generate_series(1, 16),
                                i -> (e.v[s.s * 16 + i] - cb.cv[s.s * 16 + i]) ^ 2)) ASC,
                                cb.code_id ASC) AS rn
                FROM e
                CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS s) s
                CROSS JOIN cb
            )
            WHERE rn = 1
        ), q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id IN (0,1,2,3,4)),
        adc AS (
            SELECT q.query_id, enc.vec_id AS neighbor_id,
                   SUM(list_sum(list_transform(generate_series(1, 16),
                       i -> (q.qv[enc.s * 16 + i] - cb.cv[enc.s * 16 + i]) ^ 2)))
                       AS adc_raw
            FROM q JOIN enc ON enc.vec_id != q.query_id
            JOIN cb ON cb.code_id = enc.code_id
            GROUP BY 1, 2
        )
        SELECT query_id, neighbor_id,
               CAST(row_number() OVER (PARTITION BY query_id
                    ORDER BY adc_raw ASC, neighbor_id ASC) AS BIGINT) AS rank,
               ROUND(adc_raw, 6) AS adc_dist
        FROM adc
        QUALIFY rank <= 5
    """,
    # ---------------------------------------- semantic decontamination + robust stats
    "corpus_semantic_decontamination": """
        WITH en AS (
            SELECT vec_id, list_transform(v, x -> x / n) AS nv
            FROM (SELECT vec_id, embedding::DOUBLE[] AS v,
                         greatest(sqrt(list_dot_product(embedding::DOUBLE[],
                                                        embedding::DOUBLE[])), 1e-12) AS n
                  FROM embeddings)
        ),
        bench AS (SELECT vec_id AS bench_id, nv AS bv FROM en WHERE vec_id < 10),
        corpus AS (SELECT vec_id, nv FROM en WHERE vec_id >= 10)
        SELECT c.vec_id,
               ROUND(MAX(list_dot_product(c.nv, b.bv)), 6) AS max_bench_cosine,
               MAX(list_dot_product(c.nv, b.bv)) >= 0.5    AS is_contaminated
        FROM corpus c CROSS JOIN bench b
        GROUP BY c.vec_id
    """,
    "customer_spend_outliers_mad": """
        WITH spend AS (
            SELECT o.o_custkey, SUM(o.o_totalprice) AS total_spend, c.c_mktsegment
            FROM orders o
            JOIN customer c ON c.c_custkey = o.o_custkey
            GROUP BY o.o_custkey, c.c_mktsegment
        ),
        stats AS (
            SELECT c_mktsegment,
                   median(CAST(total_spend AS DOUBLE)) AS med,
                   mad(CAST(total_spend AS DOUBLE))    AS mad_v
            FROM spend GROUP BY c_mktsegment
        )
        SELECT s.o_custkey AS customer_id, s.c_mktsegment,
               ROUND(s.total_spend, 2) AS total_spend,
               ROUND(0.6745 * (s.total_spend - t.med) / NULLIF(t.mad_v, 0), 4)
                   AS robust_z,
               COALESCE(ABS(ROUND(0.6745 * (s.total_spend - t.med)
                                  / NULLIF(t.mad_v, 0), 4)) > 3.5, FALSE) AS is_outlier
        FROM spend s JOIN stats t ON t.c_mktsegment = s.c_mktsegment
    """,
    # ---------------------------------------- VARIANT semi-structured
    "events_variant_stats": """
        WITH k AS (
            SELECT event_type,
                   CAST(json_extract(props, '$.k') AS BIGINT) AS k
            FROM events
        )
        SELECT event_type,
               COUNT(k)                         AS n_with_k,
               ROUND(median(k), 1)              AS median_k,
               CAST(COALESCE(SUM(CASE WHEN k > 50 THEN 1 ELSE 0 END), 0) AS BIGINT)
                   AS n_high
        FROM k
        GROUP BY event_type
    """,
    # ---------------------------------------- reshape (unpivot/melt)
    "events_unpivot": """
        WITH wide AS (
            SELECT strftime(ts, '%Y-%m-%d') AS event_date,
                   COUNT(*) FILTER (event_type = 'click')    AS click,
                   COUNT(*) FILTER (event_type = 'error')    AS error,
                   COUNT(*) FILTER (event_type = 'purchase') AS purchase,
                   COUNT(*) FILTER (event_type = 'signup')   AS signup,
                   COUNT(*) FILTER (event_type = 'view')     AS view
            FROM events
            GROUP BY 1
        )
        SELECT event_date, event_type, CAST(n_events AS BIGINT) AS n_events
        FROM wide
        UNPIVOT (n_events FOR event_type IN (click, error, purchase, signup, view))
    """,
    # ---------------------------------------- event-path analysis
    "events_markov_transitions": """
        WITH pairs AS (
            SELECT lag(event_type) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) AS prev_type,
                   event_type AS next_type
            FROM events
        ),
        counts AS (
            SELECT prev_type, next_type, COUNT(*) AS n_transitions
            FROM pairs WHERE prev_type IS NOT NULL
            GROUP BY prev_type, next_type
        )
        SELECT prev_type, next_type, n_transitions,
               ROUND(n_transitions / CAST(SUM(n_transitions) OVER
                     (PARTITION BY prev_type) AS DOUBLE), 6) AS p_next_given_prev
        FROM counts
    """,
    # ---------------------------------------- stream-static + applyInPandas
    "stream_events_enriched": """
        SELECT c.c_mktsegment, e.event_type,
               COUNT(*)             AS n_events,
               ROUND(SUM(e.value), 4) AS sum_value
        FROM events e
        LEFT JOIN customer c ON c.c_custkey = e.user_id
        GROUP BY c.c_mktsegment, e.event_type
    """,
    "events_user_trend_pandas": """
        WITH daily AS (
            SELECT user_id,
                   datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS x,
                   SUM(value) AS y
            FROM events
            GROUP BY 1, 2
        )
        SELECT user_id,
               COUNT(*)                       AS n_days,
               ROUND(regr_slope(y, x), 4)     AS slope,
               ROUND(regr_intercept(y, x), 4) AS intercept
        FROM daily
        GROUP BY user_id
    """,
    # ---------------------------------------- window / grouping completeness
    "customer_spend_deciles": """
        WITH spend AS (
            SELECT o.o_custkey, ROUND(SUM(o.o_totalprice), 2) AS total_spend,
                   c.c_mktsegment
            FROM orders o
            JOIN customer c ON c.c_custkey = o.o_custkey
            GROUP BY o.o_custkey, c.c_mktsegment
        )
        SELECT o_custkey AS customer_id, c_mktsegment, total_spend,
               CAST(ntile(10) OVER w AS BIGINT) AS spend_decile,
               ROUND(percent_rank() OVER w, 6)  AS pct_rank,
               ROUND(cume_dist() OVER w, 6)     AS cume_dist
        FROM spend
        WINDOW w AS (PARTITION BY c_mktsegment
                     ORDER BY total_spend DESC, o_custkey ASC)
    """,
    "events_grouping_sets": """
        SELECT event_type,
               strftime(ts, '%Y-%m-%d') AS day,
               CAST(GROUPING(event_type, strftime(ts, '%Y-%m-%d')) AS BIGINT) AS gid,
               COUNT(*)                 AS n_events,
               ROUND(SUM(value), 4)     AS sum_value
        FROM events
        GROUP BY GROUPING SETS (
            (event_type, strftime(ts, '%Y-%m-%d')),
            (event_type),
            (strftime(ts, '%Y-%m-%d')),
            ()
        )
    """,
    "part_fuzzy_matches": """
        WITH blk AS (
            SELECT p_partkey, p_name, split_part(p_name, ' ', 1) AS b
            FROM part
        )
        SELECT a.p_partkey AS part_a, b.p_partkey AS part_b,
               a.p_name AS name_a, b.p_name AS name_b,
               CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS edit_dist
        FROM blk a
        JOIN blk b ON a.b = b.b AND a.p_partkey < b.p_partkey
        WHERE levenshtein(a.p_name, b.p_name) <= 3
          AND a.p_name <> b.p_name
    """,
    # ---------------------------------------- statistical aggregates
    "events_value_trend": """
        WITH daily AS (
            SELECT event_type,
                   datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS x,
                   SUM(value) AS y
            FROM events
            GROUP BY 1, 2
        )
        SELECT event_type,
               COUNT(*)                            AS n_days,
               ROUND(regr_slope(y, x), 4)          AS slope,
               ROUND(regr_intercept(y, x), 4)      AS intercept,
               ROUND(corr(y, x), 6)                AS r
        FROM daily
        GROUP BY event_type
    """,
    # ---------------------------------------- corpus accounting
    "corpus_zipf": r"""
        WITH toks AS (
            SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
            FROM documents
        ),
        counts AS (
            SELECT term, COUNT(*) AS freq FROM toks WHERE term <> '' GROUP BY term
        ),
        total AS (SELECT SUM(freq) AS t FROM counts),
        top AS (
            SELECT term, freq FROM counts
            ORDER BY freq DESC, term ASC LIMIT 50
        )
        SELECT CAST(row_number() OVER (ORDER BY freq DESC, term ASC) AS BIGINT) AS rank,
               term, CAST(freq AS BIGINT) AS freq,
               ROUND(freq / CAST(t AS DOUBLE), 6) AS share,
               ROUND(SUM(freq) OVER (ORDER BY freq DESC, term ASC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     / CAST(t AS DOUBLE), 6) AS cum_share
        FROM top, total
    """,
    "corpus_source_budget": r"""
        WITH per_source AS (
            SELECT source, COUNT(*) AS n_docs,
                   SUM(len(regexp_split_to_array(trim(text), '\s+'))) AS n_tokens
            FROM documents GROUP BY source
        ),
        total AS (SELECT SUM(n_tokens) AS t FROM per_source)
        SELECT source,
               CAST(n_docs AS BIGINT)   AS n_docs,
               CAST(n_tokens AS BIGINT) AS n_tokens,
               ROUND(n_tokens / CAST(t AS DOUBLE), 6) AS token_share,
               ROUND(SUM(n_tokens) OVER (ORDER BY n_tokens DESC, source ASC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     / CAST(t AS DOUBLE), 6) AS cum_share
        FROM per_source, total
    """,
    # ---------------------------------------- data-quality audit
    "dq_audit": """
        WITH checks AS (
            SELECT 'lineitem.l_orderkey.not_null' AS check_id, 'lineitem' AS table_name,
                   COUNT(*) AS n_rows,
                   COALESCE(SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END), 0) AS n_violations
            FROM lineitem
            UNION ALL
            SELECT 'lineitem.l_quantity.positive', 'lineitem', COUNT(*),
                   COALESCE(SUM(CASE WHEN NOT (l_quantity > 0) THEN 1 ELSE 0 END), 0)
            FROM lineitem
            UNION ALL
            SELECT 'lineitem.l_extendedprice.non_negative', 'lineitem', COUNT(*),
                   COALESCE(SUM(CASE WHEN NOT (l_extendedprice >= 0) THEN 1 ELSE 0 END), 0)
            FROM lineitem
            UNION ALL
            SELECT 'lineitem.l_discount.in_unit_interval', 'lineitem', COUNT(*),
                   COALESCE(SUM(CASE WHEN NOT (l_discount BETWEEN 0.0 AND 1.0) THEN 1 ELSE 0 END), 0)
            FROM lineitem
            UNION ALL
            SELECT 'lineitem.l_returnflag.in_domain', 'lineitem', COUNT(*),
                   COALESCE(SUM(CASE WHEN l_returnflag NOT IN ('A','N','R') THEN 1 ELSE 0 END), 0)
            FROM lineitem
            UNION ALL
            SELECT 'orders.o_custkey.not_null', 'orders', COUNT(*),
                   COALESCE(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END), 0)
            FROM orders
            UNION ALL
            SELECT 'orders.o_totalprice.positive', 'orders', COUNT(*),
                   COALESCE(SUM(CASE WHEN NOT (o_totalprice > 0) THEN 1 ELSE 0 END), 0)
            FROM orders
            UNION ALL
            SELECT 'orders.o_orderdate.not_null', 'orders', COUNT(*),
                   COALESCE(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END), 0)
            FROM orders
            UNION ALL
            -- DISTINCT subselect (not COUNT(DISTINCT k)) so NULL keys count
            -- as a group, matching Spark's groupBy-NULLs-together unique
            -- check (round-3 ADVICE: COUNT(DISTINCT) drops NULLs)
            SELECT 'customer.c_custkey.unique', 'customer', COUNT(*),
                   COUNT(*) - (SELECT COUNT(*) FROM (SELECT DISTINCT c_custkey FROM customer))
            FROM customer
            UNION ALL
            SELECT 'orders.o_orderkey.unique', 'orders', COUNT(*),
                   COUNT(*) - (SELECT COUNT(*) FROM (SELECT DISTINCT o_orderkey FROM orders))
            FROM orders
            UNION ALL
            SELECT 'lineitem.pk.unique', 'lineitem', COUNT(*),
                   COUNT(*) - (SELECT COUNT(*) FROM (SELECT DISTINCT l_orderkey, l_linenumber FROM lineitem))
            FROM lineitem
            UNION ALL
            SELECT 'part.p_partkey.unique', 'part', COUNT(*),
                   COUNT(*) - (SELECT COUNT(*) FROM (SELECT DISTINCT p_partkey FROM part))
            FROM part
            UNION ALL
            SELECT 'supplier.s_suppkey.unique', 'supplier', COUNT(*),
                   COUNT(*) - (SELECT COUNT(*) FROM (SELECT DISTINCT s_suppkey FROM supplier))
            FROM supplier
            UNION ALL
            SELECT 'lineitem.l_orderkey.fk_orders', 'lineitem',
                   (SELECT COUNT(*) FROM lineitem WHERE l_orderkey IS NOT NULL),
                   (SELECT COUNT(*) FROM lineitem l WHERE l.l_orderkey IS NOT NULL
                      AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
            UNION ALL
            SELECT 'lineitem.l_partkey.fk_part', 'lineitem',
                   (SELECT COUNT(*) FROM lineitem WHERE l_partkey IS NOT NULL),
                   (SELECT COUNT(*) FROM lineitem l WHERE l.l_partkey IS NOT NULL
                      AND NOT EXISTS (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey))
            UNION ALL
            SELECT 'lineitem.l_suppkey.fk_supplier', 'lineitem',
                   (SELECT COUNT(*) FROM lineitem WHERE l_suppkey IS NOT NULL),
                   (SELECT COUNT(*) FROM lineitem l WHERE l.l_suppkey IS NOT NULL
                      AND NOT EXISTS (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey))
            UNION ALL
            SELECT 'orders.o_custkey.fk_customer', 'orders',
                   (SELECT COUNT(*) FROM orders WHERE o_custkey IS NOT NULL),
                   (SELECT COUNT(*) FROM orders o WHERE o.o_custkey IS NOT NULL
                      AND NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
            UNION ALL
            SELECT 'customer.c_nationkey.fk_nation', 'customer',
                   (SELECT COUNT(*) FROM customer WHERE c_nationkey IS NOT NULL),
                   (SELECT COUNT(*) FROM customer c WHERE c.c_nationkey IS NOT NULL
                      AND NOT EXISTS (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey))
            UNION ALL
            SELECT 'nation.n_regionkey.fk_region', 'nation',
                   (SELECT COUNT(*) FROM nation WHERE n_regionkey IS NOT NULL),
                   (SELECT COUNT(*) FROM nation n WHERE n.n_regionkey IS NOT NULL
                      AND NOT EXISTS (SELECT 1 FROM region r WHERE r.r_regionkey = n.n_regionkey))
        )
        SELECT check_id, table_name,
               CAST(n_rows AS BIGINT)       AS n_rows,
               CAST(n_violations AS BIGINT) AS n_violations,
               n_violations = 0             AS passed
        FROM checks
    """,
    "dq_profile_orders": """
        WITH base AS (SELECT * FROM orders)
        SELECT 'orders' AS table_name, column_name, n_rows, n_nulls,
               n_distinct, min_value, max_value
        FROM (
            SELECT 'o_orderkey' AS column_name, COUNT(*) AS n_rows,
                   CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
                   CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
                   MIN(CAST(o_orderkey AS VARCHAR)) AS min_value,
                   MAX(CAST(o_orderkey AS VARCHAR)) AS max_value
            FROM base
            UNION ALL
            SELECT 'o_custkey', COUNT(*),
                   CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                   CAST(COUNT(DISTINCT o_custkey) AS BIGINT),
                   MIN(CAST(o_custkey AS VARCHAR)), MAX(CAST(o_custkey AS VARCHAR))
            FROM base
            UNION ALL
            SELECT 'o_orderstatus', COUNT(*),
                   CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                   CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT),
                   MIN(o_orderstatus), MAX(o_orderstatus)
            FROM base
            UNION ALL
            SELECT 'o_totalprice', COUNT(*),
                   CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                   CAST(COUNT(DISTINCT o_totalprice) AS BIGINT),
                   MIN(CAST(o_totalprice AS VARCHAR)), MAX(CAST(o_totalprice AS VARCHAR))
            FROM base
            UNION ALL
            SELECT 'o_orderdate', COUNT(*),
                   CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                   CAST(COUNT(DISTINCT o_orderdate) AS BIGINT),
                   MIN(CAST(o_orderdate AS VARCHAR)), MAX(CAST(o_orderdate AS VARCHAR))
            FROM base
            UNION ALL
            SELECT 'o_orderpriority', COUNT(*),
                   CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                   CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT),
                   MIN(o_orderpriority), MAX(o_orderpriority)
            FROM base
        ) col
    """,
    # ---------------------------------------- embedding ops (round 3b)
    # filled in below the dict literal: random_projection needs the same
    # seeded matrix the Spark side uses (similarity.rademacher_matrix)
    "embedding_centroid_outliers": """
        WITH ex AS (
            -- unnest + generate_subscripts zip positionally (DuckDB has no
            -- WITH ORDINALITY)
            SELECT vec_id, label,
                   unnest(embedding)               AS val,
                   generate_subscripts(embedding, 1) AS i
            FROM embeddings
        ),
        cent AS (SELECT label, i, AVG(val) AS c FROM ex GROUP BY label, i),
        dist AS (
            SELECT e.vec_id, e.label,
                   SQRT(SUM((e.val - c.c) * (e.val - c.c))) AS dist
            FROM ex e
            JOIN cent c ON c.label = e.label AND c.i = e.i
            GROUP BY e.vec_id, e.label
        ),
        stats AS (
            SELECT label, AVG(dist) AS mu, STDDEV_SAMP(dist) AS sd
            FROM dist GROUP BY label
        )
        SELECT d.vec_id, d.label,
               ROUND(d.dist, 6) AS dist,
               ROUND((d.dist - s.mu) / NULLIF(s.sd, 0), 4) AS z_score,
               COALESCE(ROUND((d.dist - s.mu) / NULLIF(s.sd, 0), 4) > 2.0, FALSE)
                   AS is_outlier
        FROM dist d
        JOIN stats s ON s.label = d.label
    """,
    # ---------------------------------------- classic warehouse shapes
    "orders_with_returns": """
        SELECT o_orderpriority, COUNT(*) AS n_orders
        FROM orders o
        WHERE EXISTS (
            SELECT 1 FROM lineitem l
            WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R'
        )
        GROUP BY o_orderpriority
    """,
    "customer_order_histogram": """
        WITH per_cust AS (
            SELECT c.c_custkey, COUNT(o.o_orderkey) AS n_orders
            FROM customer c
            LEFT JOIN orders o ON o.o_custkey = c.c_custkey
            GROUP BY c.c_custkey
        )
        SELECT n_orders, COUNT(*) AS n_customers
        FROM per_cust
        GROUP BY n_orders
        ORDER BY n_customers DESC, n_orders DESC
    """,
    "top_supplier_revenue": """
        WITH revenue AS (
            SELECT l_suppkey,
                   ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
            FROM lineitem
            WHERE strftime(l_shipdate, '%Y%m%d') BETWEEN '19960101' AND '19960331'
            GROUP BY l_suppkey
        )
        SELECT CAST(s.s_suppkey AS BIGINT) AS s_suppkey, s.s_name, r.total_revenue
        FROM revenue r
        JOIN supplier s ON s.s_suppkey = r.l_suppkey
        WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    """,
    "rich_idle_customers": """
        SELECT c_mktsegment,
               COUNT(*)                    AS n_customers,
               ROUND(SUM(c_acctbal), 2)    AS total_acctbal
        FROM customer c
        WHERE c.c_acctbal > (SELECT AVG(c_acctbal) FROM customer WHERE c_acctbal > 0)
          AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        GROUP BY c_mktsegment
    """,
    "part_small_qty_revenue": """
        WITH pruned AS (
            SELECT l.*
            FROM lineitem l
            JOIN part p ON p.p_partkey = l.l_partkey
            WHERE p.p_brand = 'Brand#3'
        ), per_part AS (
            SELECT l_partkey, AVG(l_quantity) AS avg_qty
            FROM pruned GROUP BY l_partkey
        )
        SELECT ROUND(SUM(l.l_extendedprice) / 7.0, 2) AS avg_yearly,
               COUNT(*) AS n_lineitems
        FROM pruned l
        JOIN per_part a ON a.l_partkey = l.l_partkey
        WHERE l.l_quantity < 0.5 * a.avg_qty
    """,
}

# training_corpus = cleaned_corpus MINUS the higher id of every banded
# embedding near-dup pair: composed from the two proven oracle blocks by
# injecting the anti-filter into cleaned_corpus's final WHERE (an OR over
# band equalities is set-equivalent to the Spark path's band UNION)
_EMB_BANDED = """SELECT vec_id, embedding::DOUBLE[] AS v,
       (CASE WHEN embedding[1]  >= 0 THEN '1' ELSE '0' END ||
        CASE WHEN embedding[5]  >= 0 THEN '1' ELSE '0' END ||
        CASE WHEN embedding[9]  >= 0 THEN '1' ELSE '0' END ||
        CASE WHEN embedding[13] >= 0 THEN '1' ELSE '0' END) AS b0,
       (CASE WHEN embedding[17] >= 0 THEN '1' ELSE '0' END ||
        CASE WHEN embedding[21] >= 0 THEN '1' ELSE '0' END ||
        CASE WHEN embedding[25] >= 0 THEN '1' ELSE '0' END ||
        CASE WHEN embedding[29] >= 0 THEN '1' ELSE '0' END) AS b1,
       (CASE WHEN embedding[33] >= 0 THEN '1' ELSE '0' END ||
        CASE WHEN embedding[37] >= 0 THEN '1' ELSE '0' END ||
        CASE WHEN embedding[41] >= 0 THEN '1' ELSE '0' END ||
        CASE WHEN embedding[45] >= 0 THEN '1' ELSE '0' END) AS b2,
       (CASE WHEN embedding[49] >= 0 THEN '1' ELSE '0' END ||
        CASE WHEN embedding[53] >= 0 THEN '1' ELSE '0' END ||
        CASE WHEN embedding[57] >= 0 THEN '1' ELSE '0' END ||
        CASE WHEN embedding[61] >= 0 THEN '1' ELSE '0' END) AS b3
    FROM embeddings"""

_EMB_LOSERS = f"""SELECT DISTINCT eb.vec_id
    FROM ({_EMB_BANDED}) ea JOIN ({_EMB_BANDED}) eb
      ON (ea.b0 = eb.b0 OR ea.b1 = eb.b1 OR ea.b2 = eb.b2 OR ea.b3 = eb.b3)
     AND ea.vec_id < eb.vec_id
    WHERE list_dot_product(ea.v, eb.v)
          / (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v)))
          >= 0.4"""


# margin-based bitext mining: banded candidates, 6-dp cosine ranking,
# k-NN hubness denominators, ratio margin, both-direction argmax picks
ORACLE_SQL["embedding_bitext_mine"] = f"""
    WITH eb AS ({_EMB_BANDED}),
    el AS (
        SELECT eb.vec_id, em.label, eb.v, eb.b0, eb.b1, eb.b2, eb.b3
        FROM eb JOIN embeddings em ON eb.vec_id = em.vec_id
        WHERE em.label IN (0, 1)
    ),
    en AS (
        SELECT vec_id, label, b0, b1, b2, b3,
               list_transform(v, x -> x / n) AS nv
        FROM (SELECT *, greatest(sqrt(list_dot_product(v, v)), 1e-12) AS n
              FROM el)
    ),
    cand AS MATERIALIZED (
        SELECT s.vec_id AS src_id, t.vec_id AS tgt_id,
               CAST(FLOOR(list_dot_product(s.nv, t.nv) * 1e6 + 0.5) AS BIGINT)
                   AS c6
        FROM en s JOIN en t
          ON (s.b0 = t.b0 OR s.b1 = t.b1 OR s.b2 = t.b2 OR s.b3 = t.b3)
        WHERE s.label = 0 AND t.label = 1
    ),
    ds AS (
        SELECT src_id, CAST(SUM(c6) AS BIGINT) AS s_sum,
               CAST(COUNT(*) AS BIGINT) AS s_n
        FROM (SELECT src_id, c6,
                     ROW_NUMBER() OVER (PARTITION BY src_id
                                        ORDER BY c6 DESC, tgt_id ASC)
                         AS rn
              FROM cand)
        WHERE rn <= 4 GROUP BY 1
    ),
    dt AS (
        SELECT tgt_id, CAST(SUM(c6) AS BIGINT) AS t_sum,
               CAST(COUNT(*) AS BIGINT) AS t_n
        FROM (SELECT tgt_id, c6,
                     ROW_NUMBER() OVER (PARTITION BY tgt_id
                                        ORDER BY c6 DESC, src_id ASC)
                         AS rn
              FROM cand)
        WHERE rn <= 4 GROUP BY 1
    ),
    m AS MATERIALIZED (
        -- integer-exact margin: both engines divide the SAME two BIGINTs,
        -- floor-form 6-dp rounding (engine-portable, the _r4 convention)
        SELECT c.src_id, c.tgt_id, c.c6 / 1e6 AS cosine,
               FLOOR(2.0 * c.c6 * ds.s_n * dt.t_n
                     / greatest(ds.s_sum * dt.t_n + dt.t_sum * ds.s_n,
                                CAST(1 AS BIGINT)) * 1e6 + 0.5) / 1e6 AS margin
        FROM cand c JOIN ds USING (src_id) JOIN dt USING (tgt_id)
    ),
    best AS (
        SELECT src_id, tgt_id, cosine, margin
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY src_id
                                           ORDER BY margin DESC, tgt_id ASC)
                            AS rk
              FROM m)
        WHERE rk = 1 AND margin >= 1.0
    ),
    tbest AS (
        SELECT src_id AS back_src, tgt_id
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY tgt_id
                                           ORDER BY margin DESC, src_id ASC)
                            AS rt
              FROM m)
        WHERE rt = 1
    )
    SELECT b.src_id, b.tgt_id, b.cosine, b.margin,
           COALESCE(t.back_src = b.src_id, FALSE) AS mutual
    FROM best b LEFT JOIN tbest t USING (tgt_id)
"""

# bitext recall audit: the truth side replays the SAME micro-cosine /
# floor-form margin arithmetic over ALL cross-shard pairs (exact k-NN
# denominators, no banding); candidates reuse the miner's oracle verbatim
ORACLE_SQL["embedding_bitext_recall"] = f"""
    WITH el AS (
        SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
        WHERE label IN (0, 1)
    ),
    en AS (
        SELECT vec_id, label, list_transform(v, x -> x / n) AS nv
        FROM (SELECT *, greatest(sqrt(list_dot_product(v, v)), 1e-12) AS n
              FROM el)
    ),
    allp AS MATERIALIZED (
        SELECT s.vec_id AS src_id, t.vec_id AS tgt_id,
               CAST(FLOOR(list_dot_product(s.nv, t.nv) * 1e6 + 0.5) AS BIGINT)
                   AS c6
        FROM en s JOIN en t ON s.label = 0 AND t.label = 1
    ),
    ds AS (
        SELECT src_id, CAST(SUM(c6) AS BIGINT) AS s_sum,
               CAST(COUNT(*) AS BIGINT) AS s_n
        FROM (SELECT src_id, c6,
                     ROW_NUMBER() OVER (PARTITION BY src_id
                                        ORDER BY c6 DESC, tgt_id ASC) AS rn
              FROM allp)
        WHERE rn <= 4 GROUP BY 1
    ),
    dt AS (
        SELECT tgt_id, CAST(SUM(c6) AS BIGINT) AS t_sum,
               CAST(COUNT(*) AS BIGINT) AS t_n
        FROM (SELECT tgt_id, c6,
                     ROW_NUMBER() OVER (PARTITION BY tgt_id
                                        ORDER BY c6 DESC, src_id ASC) AS rn
              FROM allp)
        WHERE rn <= 4 GROUP BY 1
    ),
    m AS (
        SELECT a.src_id, a.tgt_id,
               FLOOR(2.0 * a.c6 * ds.s_n * dt.t_n
                     / greatest(ds.s_sum * dt.t_n + dt.t_sum * ds.s_n,
                                CAST(1 AS BIGINT)) * 1e6 + 0.5) / 1e6 AS margin
        FROM allp a JOIN ds USING (src_id) JOIN dt USING (tgt_id)
    ),
    truth AS (
        SELECT src_id, tgt_id, margin
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY src_id
                                           ORDER BY margin DESC, tgt_id ASC)
                            AS rk
              FROM m)
        WHERE rk = 1 AND margin >= 1.0
    ),
    cand AS (
        SELECT src_id, tgt_id FROM ({ORACLE_SQL["embedding_bitext_mine"]})
    )
    SELECT CASE WHEN margin < 1.02 THEN '1.00-1.02'
                WHEN margin < 1.05 THEN '1.02-1.05'
                ELSE '1.05+' END AS margin_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_true_pairs,
           CAST(SUM(CASE WHEN c.src_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hit,
           ROUND(SUM(CASE WHEN c.src_id IS NOT NULL THEN 1 ELSE 0 END) * 1.0
                 / COUNT(*), 4) AS recall
    FROM truth tr
    LEFT JOIN cand c ON tr.src_id = c.src_id AND tr.tgt_id = c.tgt_id
    GROUP BY 1
"""


# Luhn checksum audit: reversed-digit doubling arithmetic replayed exactly
ORACLE_SQL["customer_id_luhn_audit"] = r"""
    WITH d AS (
        SELECT c_mktsegment,
               regexp_extract(c_name, '([0-9]{9})', 1) AS ds
        FROM customer
    ),
    v AS (
        SELECT c_mktsegment,
               CASE WHEN length(ds) >= 2 AND regexp_matches(ds, '^[0-9]+$')
               THEN CAST(list_sum(list_transform(
                        generate_series(1, length(ds)),
                        i -> CASE WHEN i % 2 = 0 THEN
                                 CASE WHEN 2 * CAST(substr(reverse(ds), i, 1)
                                               AS INT) > 9
                                      THEN 2 * CAST(substr(reverse(ds), i, 1)
                                                    AS INT) - 9
                                      ELSE 2 * CAST(substr(reverse(ds), i, 1)
                                                    AS INT) END
                             ELSE CAST(substr(reverse(ds), i, 1) AS INT)
                             END)) % 10 = 0 AS INT)
               ELSE NULL END AS ok
        FROM d
    )
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(ok) AS BIGINT) AS n_luhn_valid,
           (10000 * CAST(SUM(ok) AS BIGINT)) // CAST(COUNT(*) AS BIGINT)
               AS pass_rate_bp
    FROM v
    GROUP BY 1
"""


# SemDeDup trained-quantizer CONTRACT oracle (the pagerank-converged
# witness pattern, VERDICT r10 item 1): the Spark side computes the
# prune-rule witnesses IN-PLAN conditioned on the actual (k-means||-
# trained or two-level-routed) cells, through TWO routes that share
# nothing below the assignment (production normalize-then-dot pair
# frame vs raw-vector re-derivation with a reversed join -- ADVICE
# r11); the oracle re-derives the exact vec_id key set and asserts
# every witness TRUE -- certifying the "dropped => lower-id >= tau
# partner in my cell, kept => none" rule BELOW the cell assignment.
# The assignment itself is certified by the agreement-audit rows and
# the brute-force pytest, not by these witnesses.
ORACLE_SQL["embedding_semantic_dedup_trained"] = """
    SELECT vec_id,
           TRUE AS dup_has_partner_ok,
           TRUE AS keeper_has_none_ok
    FROM embeddings
"""


# Assignment agreement (ivf_assign's kernel vs an in-plan Catalyst argmax):
# the oracle pins the key-set cardinality and the >= 99.99%-agreement
# witness (the pagerank-witness form)
ORACLE_SQL["embedding_assign_arrow_agreement"] = """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
           TRUE AS agree_ge_9999bp
    FROM embeddings
"""


def _two_level_agreement_sql(n_fine: int = 32, kc: int = 6, nprobe: int = 3) -> str:
    """Two-level quantizer agreement oracle: replays (1) the greedy
    k-center coarse-level selection over the fine centroids (Gonzalez
    1985, similarity.kcenter_coarse) as an unrolled CTE chain -- each
    step an argmin over the incrementally greatest()-folded max-cosine-
    to-selected, ties to the smallest id, EXACTLY the driver-side
    Python loop's sequential IEEE arithmetic -- then (2) fine->coarse
    routing, (3) the vectors' top-``nprobe`` coarse cells, and (4) the
    within-probe fine argmax, against (5) the flat exact assignment.
    Raw-double cosine ordering with id tie-breaks throughout (the
    ivf_assign oracle convention)."""

    def cos(x: str, y: str) -> str:
        return (
            f"list_dot_product({x}, {y}) / greatest(sqrt(list_dot_product"
            f"({x}, {x})) * sqrt(list_dot_product({y}, {y})), 1e-12)"
        )

    parts = [
        "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),",
        f"f AS (SELECT vec_id AS fid, v AS fv FROM e WHERE vec_id < {n_fine}),",
        "g0 AS (SELECT MIN(fid) AS id FROM f),",
        f"m0 AS (SELECT f.fid, f.fv, {cos('f.fv', 's.fv')} AS mc\n"
        "        FROM f JOIN f s ON s.fid = (SELECT id FROM g0)),",
    ]
    for j in range(1, kc):
        prev = " UNION ALL ".join(f"SELECT id FROM g{i}" for i in range(j))
        parts.append(
            f"g{j} AS (SELECT fid AS id FROM m{j - 1}\n"
            f"        WHERE fid NOT IN ({prev})\n"
            "        ORDER BY mc ASC, fid ASC LIMIT 1),"
        )
        if j < kc - 1:
            parts.append(
                f"m{j} AS (SELECT m.fid, m.fv, greatest(m.mc, "
                f"{cos('m.fv', 's.fv')}) AS mc\n"
                f"        FROM m{j - 1} m JOIN f s ON s.fid = (SELECT id FROM g{j})),"
            )
    sel = " UNION ALL ".join(f"SELECT id FROM g{i}" for i in range(kc))
    parts.append(
        f"c AS (SELECT fid AS cid, fv AS cv FROM f WHERE fid IN ({sel})),"
    )
    parts.append(
        f"""f2c AS (
        SELECT cid, fid, fv FROM (
            SELECT c.cid, f.fid, f.fv,
                   ROW_NUMBER() OVER (PARTITION BY f.fid ORDER BY
                       {cos('c.cv', 'f.fv')} DESC, c.cid ASC) AS rn
            FROM c CROSS JOIN f)
        WHERE rn = 1
    ),
    vc AS (
        SELECT vec_id, v, cid FROM (
            SELECT e.vec_id, e.v, c.cid,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                       {cos('c.cv', 'e.v')} DESC, c.cid ASC) AS rn
            FROM e CROSS JOIN c)
        WHERE rn <= {nprobe}
    ),
    two AS (
        SELECT vec_id, fid AS cell_2l FROM (
            SELECT vc.vec_id, f2c.fid,
                   ROW_NUMBER() OVER (PARTITION BY vc.vec_id ORDER BY
                       {cos('f2c.fv', 'vc.v')} DESC, f2c.fid ASC) AS rn
            FROM vc JOIN f2c ON vc.cid = f2c.cid)
        WHERE rn = 1
    ),
    ex AS (
        SELECT vec_id, fid AS cell_exact FROM (
            SELECT e.vec_id, f.fid,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                       {cos('f.fv', 'e.v')} DESC, f.fid ASC) AS rn
            FROM e CROSS JOIN f)
        WHERE rn = 1
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
           CAST(SUM(CASE WHEN two.cell_2l = ex.cell_exact
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_agree,
           CAST(COUNT(DISTINCT two.cell_2l) AS BIGINT) AS n_cells_used,
           (10000 * CAST(SUM(CASE WHEN two.cell_2l = ex.cell_exact
                             THEN 1 ELSE 0 END) AS BIGINT))
               // CAST(COUNT(*) AS BIGINT) AS agreement_bp
    FROM two JOIN ex USING (vec_id)"""
    )
    return "\n    ".join(parts)


ORACLE_SQL["embedding_two_level_agreement"] = _two_level_agreement_sql()


def _two_level_pair_recall_sql(
    n_fine: int = 32,
    kc: int = 8,
    nprobe: int = 2,
    tau: float = 0.4,
    tight: float = 0.9,
) -> str:
    """Dup-pair preservation oracle for the two-level handoff (VERDICT
    r11 item 3): replays (1) the in-plan clustered fixture (each base
    embedding + two single-coordinate +0.2 perturbed copies, double
    arithmetic both engines), (2) the greedy k-center coarse chain and
    both assignment routes over the fixture (the
    `_two_level_agreement_sql` machinery at the production handoff
    shape kc=8, nprobe=2), and (3) the flat-cell pair join, tau filter,
    tight/loose bucket split and preservation counts -- all on the same
    IEEE doubles, so the measured preservation number is hash-checked,
    not asserted.

    PRECONDITION (ADVICE r12): the md5-sampled base corpus must yield
    >= ``n_fine`` (32) vectors -- the fine-centroid LIMIT and the kc
    greedy g_j CTEs assume it; with a degenerate corpus the scalar
    subselects go NULL inside the cosine and the replay silently
    diverges from Spark's `kcenter_coarse`, which clamps via
    min(n_coarse, len(ids)). The Spark query guards this loudly
    (queries.py q_embedding_two_level_pair_recall raises on a sampled
    corpus < 32), so a degenerate run fails with a clear error instead
    of a confusing hash mismatch. Current fixtures (>= 500 rows at
    every sf, cap 2000) sample the full corpus at sf <= 0.1."""

    parts = _two_level_fixture_parts(n_fine, kc)
    cos = _tl_cos
    parts.append(
        f"""vc AS MATERIALIZED (
        SELECT vec_id, v, cid FROM (
            SELECT fx.vec_id, fx.v, c.cid,
                   ROW_NUMBER() OVER (PARTITION BY fx.vec_id ORDER BY
                       {cos('c.cv', 'fx.v')} DESC, c.cid ASC) AS rn
            FROM fx CROSS JOIN c)
        WHERE rn <= {nprobe}
    ),
    two AS MATERIALIZED (
        SELECT vec_id, fid AS cell_2l FROM (
            SELECT vc.vec_id, f2c.fid,
                   ROW_NUMBER() OVER (PARTITION BY vc.vec_id ORDER BY
                       {cos('f2c.fv', 'vc.v')} DESC, f2c.fid ASC) AS rn
            FROM vc JOIN f2c ON vc.cid = f2c.cid)
        WHERE rn = 1
    ),
    {_two_level_truth_ctes(tau)}
    SELECT CASE WHEN t.c >= {tight!r} THEN 'tight_ge90'
                ELSE 'loose_40_90' END AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(CASE WHEN ta.cell_2l = tb.cell_2l
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_preserved,
           (10000 * CAST(SUM(CASE WHEN ta.cell_2l = tb.cell_2l
                             THEN 1 ELSE 0 END) AS BIGINT))
               // CAST(COUNT(*) AS BIGINT) AS preserved_bp
    FROM truth t
    JOIN two ta ON ta.vec_id = t.id_a
    JOIN two tb ON tb.vec_id = t.id_b
    GROUP BY 1"""
    )
    return "\n    ".join(parts)


def _tl_cos(x: str, y: str) -> str:
    """Raw-double cosine in DuckDB list algebra (the ivf_assign oracle
    convention), shared by the two-level replay generators."""
    return (
        f"list_dot_product({x}, {y}) / greatest(sqrt(list_dot_product"
        f"({x}, {x})) * sqrt(list_dot_product({y}, {y})), 1e-12)"
    )


def _two_level_fixture_parts(n_fine: int, kc: int) -> list[str]:
    """Shared CTE prefix of the two-level handoff audits: the md5-capped
    planted-cluster fixture, the 32 seeded fine centroids, the unrolled
    greedy k-center coarse chain (every CTE MATERIALIZED -- DuckDB
    inlines plain CTEs and the doubly-self-referencing chain explodes
    exponentially otherwise), and the fine->coarse routing f2c. Ends
    mid-WITH; callers append their probe/assignment CTEs + final
    SELECT. Mirrors queries._two_level_recall_fixture float-for-float."""
    cos = _tl_cos
    parts = [
        "WITH e0 AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),",
        # base-corpus cap (~2000 vectors) through the portable md5 draw,
        # threshold computed from the LIVE count exactly like the Spark
        # side's int(min(1, 2000/n) * 1e6) (FLOOR == python int() here)
        "e AS MATERIALIZED (SELECT vec_id, v FROM e0\n"
        "       WHERE CAST(('0x' || substr(md5('tlpair:' || CAST(vec_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000000\n"
        "             < FLOOR(least(1.0, 2000.0 / (SELECT COUNT(*) FROM e0)) * 1000000)),",
        "fx AS MATERIALIZED (SELECT vec_id, v FROM e\n"
        "       UNION ALL\n"
        "       SELECT vec_id + 1000000, [v[1] + 0.2] || v[2:] FROM e\n"
        "       UNION ALL\n"
        "       SELECT vec_id + 2000000, [v[1]] || [v[2] + 0.2] || v[3:] FROM e),",
        f"f AS MATERIALIZED (SELECT vec_id AS fid, v AS fv FROM e ORDER BY vec_id LIMIT {n_fine}),",
        "g0 AS MATERIALIZED (SELECT MIN(fid) AS id FROM f),",
        f"m0 AS MATERIALIZED (SELECT f.fid, f.fv, {cos('f.fv', 's.fv')} AS mc\n"
        "        FROM f JOIN f s ON s.fid = (SELECT id FROM g0)),",
    ]
    for j in range(1, kc):
        prev = " UNION ALL ".join(f"SELECT id FROM g{i}" for i in range(j))
        parts.append(
            f"g{j} AS MATERIALIZED (SELECT fid AS id FROM m{j - 1}\n"
            f"        WHERE fid NOT IN ({prev})\n"
            "        ORDER BY mc ASC, fid ASC LIMIT 1),"
        )
        if j < kc - 1:
            parts.append(
                f"m{j} AS MATERIALIZED (SELECT m.fid, m.fv, greatest(m.mc, "
                f"{cos('m.fv', 's.fv')}) AS mc\n"
                f"        FROM m{j - 1} m JOIN f s ON s.fid = (SELECT id FROM g{j})),"
            )
    sel = " UNION ALL ".join(f"SELECT id FROM g{i}" for i in range(kc))
    parts.append(
        f"c AS MATERIALIZED (SELECT fid AS cid, fv AS cv FROM f WHERE fid IN ({sel})),"
    )
    parts.append(
        f"""f2c AS MATERIALIZED (
        SELECT cid, fid, fv FROM (
            SELECT c.cid, f.fid, f.fv,
                   ROW_NUMBER() OVER (PARTITION BY f.fid ORDER BY
                       {cos('c.cv', 'f.fv')} DESC, c.cid ASC) AS rn
            FROM c CROSS JOIN f)
        WHERE rn = 1
    ),"""
    )
    return parts


def _two_level_truth_ctes(tau: float) -> str:
    """The exact/flat assignment + normalized truth-pair CTEs shared by
    both audit tails (ex -> exn -> truth), as one mid-WITH fragment."""
    cos = _tl_cos
    return f"""ex AS MATERIALIZED (
        SELECT vec_id, v, fid AS cell_exact FROM (
            SELECT fx.vec_id, fx.v, f.fid,
                   ROW_NUMBER() OVER (PARTITION BY fx.vec_id ORDER BY
                       {cos('f.fv', 'fx.v')} DESC, f.fid ASC) AS rn
            FROM fx CROSS JOIN f)
        WHERE rn = 1
    ),
    exn AS MATERIALIZED (
        -- normalize ONCE before the pair join (the semantic_dedup perf
        -- form, mirrored by the Spark side so floats stay in lockstep):
        -- per-pair cost is one dot, not dot + two norms
        SELECT vec_id, cell_exact,
               list_transform(v, x -> x /
                   greatest(sqrt(list_dot_product(v, v)), 1e-12)) AS nv
        FROM ex
    ),
    truth AS MATERIALIZED (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               list_dot_product(a.nv, b.nv) AS c
        FROM exn a JOIN exn b
          ON a.cell_exact = b.cell_exact AND a.vec_id < b.vec_id
        WHERE list_dot_product(a.nv, b.nv) >= {tau!r}
    )"""


def _two_level_nprobe_curve_sql(
    n_fine: int = 32,
    kc: int = 8,
    nprobes: tuple[int, ...] = (2, 3, 4),
    tau: float = 0.4,
    tight: float = 0.9,
) -> str:
    """The nprobe preservation-vs-cost curve oracle (VERDICT r12 item 4):
    ONE shared fixture / k-center chain / truth replay, with the probe
    window widened per curve point -- vc keeps its rank column cut at
    max(nprobes), and each two_{np} re-runs only the within-probe fine
    argmax over the rn <= np prefix (exactly how Spark's sweep reuses
    one trained coarse level across probe depths). Final SELECT is the
    per-np preservation UNION ALL, one row per (nprobe, bucket)."""
    cos = _tl_cos
    parts = _two_level_fixture_parts(n_fine, kc)
    parts.append(
        f"""vc AS MATERIALIZED (
        SELECT vec_id, v, cid, rn FROM (
            SELECT fx.vec_id, fx.v, c.cid,
                   ROW_NUMBER() OVER (PARTITION BY fx.vec_id ORDER BY
                       {cos('c.cv', 'fx.v')} DESC, c.cid ASC) AS rn
            FROM fx CROSS JOIN c)
        WHERE rn <= {max(nprobes)}
    ),"""
    )
    for np_ in nprobes:
        parts.append(
            f"""two_{np_} AS MATERIALIZED (
        SELECT vec_id, fid AS cell_2l FROM (
            SELECT vcp.vec_id, f2c.fid,
                   ROW_NUMBER() OVER (PARTITION BY vcp.vec_id ORDER BY
                       {cos('f2c.fv', 'vcp.v')} DESC, f2c.fid ASC) AS rn2
            FROM (SELECT * FROM vc WHERE rn <= {np_}) vcp
            JOIN f2c ON vcp.cid = f2c.cid)
        WHERE rn2 = 1
    ),"""
        )
    parts.append(_two_level_truth_ctes(tau))
    selects = []
    for np_ in nprobes:
        selects.append(
            f"""SELECT CAST({np_} AS BIGINT) AS nprobe,
           CASE WHEN t.c >= {tight!r} THEN 'tight_ge90'
                ELSE 'loose_40_90' END AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(CASE WHEN ta.cell_2l = tb.cell_2l
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_preserved,
           (10000 * CAST(SUM(CASE WHEN ta.cell_2l = tb.cell_2l
                             THEN 1 ELSE 0 END) AS BIGINT))
               // CAST(COUNT(*) AS BIGINT) AS preserved_bp
    FROM truth t
    JOIN two_{np_} ta ON ta.vec_id = t.id_a
    JOIN two_{np_} tb ON tb.vec_id = t.id_b
    GROUP BY 1, 2"""
        )
    parts.append("\n    UNION ALL\n    ".join(selects))
    return "\n    ".join(parts)


ORACLE_SQL["embedding_two_level_pair_recall"] = _two_level_pair_recall_sql()
ORACLE_SQL["embedding_two_level_nprobe_curve"] = _two_level_nprobe_curve_sql()

ORACLE_SQL["training_corpus"] = ORACLE_SQL["cleaned_corpus"].replace(
    "WHERE labeled.cluster_id = q.doc_id AND q.quality_score >= 0.5",
    "WHERE labeled.cluster_id = q.doc_id AND q.quality_score >= 0.5\n"
    f"          AND q.doc_id NOT IN ({_EMB_LOSERS})",
)

# the sql_* queries are the same semantics exercised through the engine's
# spark.sql surface (sql.py) -- their oracles are identical by construction
for _name in (
    "monthly_revenue",
    "weekday_hour_revenue",
    "region_revenue",
    "customer_base_stats",
    "product_category_revenue",
    "segment_category_revenue",
    "customer_monthly_stats",
):
    ORACLE_SQL[f"sql_{_name}"] = ORACLE_SQL[_name]

# numpy-kernel twin of the brute-force top-k: identical results by design
ORACLE_SQL["embedding_cosine_topk_pandas"] = ORACLE_SQL["embedding_cosine_topk"]

# salted-join A7: replicate-the-small-side construction is result-identical
ORACLE_SQL["product_category_revenue_salted"] = ORACLE_SQL["product_category_revenue"]


def _random_projection_sql() -> str:
    """The random-projection oracle shares the Spark side's seeded matrix
    verbatim (similarity.rademacher_matrix is hash-derived, no RNG), inlined
    as list_dot_product literals -- the same dual-engine trick as the
    sampling oracles' md5 draw."""
    from aws_glue_etl_sample_hist_spark.operators.similarity import rademacher_matrix

    rows = rademacher_matrix(64, 16, "rp")
    cols = ",\n               ".join(
        "ROUND(list_dot_product(CAST(embedding AS DOUBLE[]), ["
        + ", ".join(repr(v) for v in row)
        + f"]), 6) AS p{i:02d}"
        for i, row in enumerate(rows)
    )
    return f"SELECT vec_id,\n               {cols}\n        FROM embeddings"


ORACLE_SQL["embedding_random_projection"] = _random_projection_sql()

# the UDTF chunker is contract-identical to the JVM chunker; same oracle
ORACLE_SQL["corpus_chunk_udtf"] = ORACLE_SQL["corpus_chunk"]

# triangle census composes over the SAME edge list the LSH oracle produces
ORACLE_SQL["dedup_triangles"] = f"""
    WITH edges AS (
        SELECT doc_a, doc_b FROM ({ORACLE_SQL["dedup_minhash_lsh"]})
    ),
    tri AS (
        SELECT e1.doc_a AS a, e1.doc_b AS b, e2.doc_b AS c
        FROM edges e1
        JOIN edges e2 ON e2.doc_a = e1.doc_b
        JOIN edges e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b
    )
    SELECT doc_id, COUNT(*) AS n_triangles
    FROM (
        SELECT a AS doc_id FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri
    )
    GROUP BY doc_id
"""

ORACLE_SQL["corpus_sample_weighted"] = """
    SELECT doc_id, lang, source, n_chars,
           ROUND(POW(u, 1.0 / n_chars), 8) AS sample_score
    FROM (
        SELECT doc_id, lang, source, n_chars,
               (CAST(('0x' || substr(md5('wsample:' || CAST(doc_id AS VARCHAR)), 1, 8))
                     AS BIGINT) % 1000000 + 1) / 1000000.0 AS u
        FROM documents
        WHERE n_chars > 0
    )
    ORDER BY sample_score DESC, doc_id ASC
    LIMIT 100
"""

ORACLE_SQL["nation_trade_matrix"] = """
    SELECT sn.n_name AS supp_nation,
           cn.n_name AS cust_nation,
           strftime(l.l_shipdate, '%Y') AS ship_year,
           CAST(ROUND(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                                AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue,
           COUNT(*) AS n_lineitems
    FROM lineitem l
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation sn  ON sn.n_nationkey = s.s_nationkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation cn  ON cn.n_nationkey = c.c_nationkey
    GROUP BY 1, 2, 3
"""

ORACLE_SQL["promo_revenue_share"] = """
    SELECT strftime(l.l_shipdate, '%Y-%m') AS ship_month,
           ROUND(CAST(SUM(CASE WHEN p.p_type = 'PROMO'
                              THEN CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))
                              ELSE CAST(0 AS DECIMAL(18,6)) END) * 100
                      / SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6)))
                      AS DOUBLE), 4) AS promo_pct,
           CAST(ROUND(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))), 2)
                AS DOUBLE) AS total_revenue
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE strftime(l.l_shipdate, '%Y') = '1996'
    GROUP BY 1
"""

ORACLE_SQL["special_revenue"] = """
    SELECT CAST(ROUND(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))), 2)
                AS DOUBLE) AS revenue,
           COUNT(*) AS n_lineitems
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 20)
       OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 10 AND 30
           AND l.l_quantity BETWEEN 10 AND 30)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 20 AND 50
           AND l.l_quantity BETWEEN 20 AND 40)
"""

ORACLE_SQL["shipping_priority"] = """
    SELECT o.o_orderkey,
           strftime(o.o_orderdate, '%Y-%m-%d') AS order_date,
           o.o_orderpriority,
           CAST(ROUND(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                               AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue
    FROM orders o
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE CAST(o.o_orderdate AS DATE) < DATE '1996-06-30'
      AND CAST(l.l_shipdate AS DATE) > DATE '1996-06-30'
    GROUP BY 1, 2, 3
    ORDER BY revenue DESC, o.o_orderkey ASC
    LIMIT 10
"""

ORACLE_SQL["returned_revenue_customers"] = """
    SELECT c.c_custkey, c.c_name, c.c_acctbal, n.n_name,
           CAST(ROUND(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                               AS DECIMAL(18,6))), 2) AS DOUBLE) AS returned_revenue,
           COUNT(*) AS n_returned_items
    FROM lineitem l
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n   ON n.n_nationkey = c.c_nationkey
    WHERE l.l_returnflag = 'R'
      AND strftime(l.l_shipdate, '%Y%m%d') BETWEEN '19960701' AND '19961231'
    GROUP BY 1, 2, 3, 4
    ORDER BY returned_revenue DESC, c.c_custkey ASC
    LIMIT 20
"""

ORACLE_SQL["nation_balance_sheet"] = """
    WITH cust AS (
        SELECT c_nationkey AS nationkey, ROUND(SUM(c_acctbal), 2) AS cust_balance
        FROM customer WHERE c_nationkey < 20 GROUP BY 1
    ),
    supp AS (
        SELECT s_nationkey AS nationkey, ROUND(SUM(s_acctbal), 2) AS supp_balance
        FROM supplier WHERE s_nationkey >= 5 GROUP BY 1
    ),
    merged AS (
        SELECT COALESCE(c.nationkey, s.nationkey) AS nationkey,
               COALESCE(c.cust_balance, 0.0) AS cust_balance,
               COALESCE(s.supp_balance, 0.0) AS supp_balance
        FROM cust c FULL OUTER JOIN supp s ON s.nationkey = c.nationkey
    )
    SELECT m.nationkey, n.n_name, m.cust_balance, m.supp_balance,
           ROUND(m.cust_balance + m.supp_balance, 2) AS combined,
           CAST(dense_rank() OVER (ORDER BY ROUND(m.cust_balance + m.supp_balance, 2) DESC)
                AS BIGINT) AS balance_rank
    FROM merged m
    LEFT JOIN nation n ON n.n_nationkey = m.nationkey
"""

ORACLE_SQL["local_supplier_volume"] = """
    SELECT n.n_name AS nation_name,
           strftime(l.l_shipdate, '%Y') AS ship_year,
           CAST(ROUND(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                               AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue,
           COUNT(*) AS n_lineitems
    FROM lineitem l
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n   ON n.n_nationkey = s.s_nationkey
                   AND n.n_nationkey = c.c_nationkey
    JOIN region r   ON r.r_regionkey = n.n_regionkey
    WHERE r.r_name = 'REGION_1'
    GROUP BY 1, 2
"""

ORACLE_SQL["corpus_lang_source_chi2"] = """
    WITH cells AS (
        SELECT lang, source, COUNT(*) AS n FROM documents GROUP BY 1, 2
    ),
    scored AS (
        SELECT lang, source, n,
               POW(n - SUM(n) OVER (PARTITION BY lang)
                       * SUM(n) OVER (PARTITION BY source)
                       / CAST(SUM(n) OVER () AS DOUBLE), 2)
               / (SUM(n) OVER (PARTITION BY lang)
                  * SUM(n) OVER (PARTITION BY source)
                  / CAST(SUM(n) OVER () AS DOUBLE)) AS contrib
        FROM cells
    )
    SELECT lang, source, CAST(n AS BIGINT) AS n,
           ROUND(contrib, 6) AS chi2_contrib,
           CAST(NULL AS BIGINT) AS df
    FROM scored
    UNION ALL
    SELECT NULL, NULL, CAST(SUM(n) AS BIGINT), ROUND(SUM(contrib), 6),
           CAST((COUNT(DISTINCT lang) - 1) * (COUNT(DISTINCT source) - 1) AS BIGINT)
    FROM scored
"""

# ---------------------------------------------------------------- round 4

ORACLE_SQL["documents_bm25_topk"] = r"""
    WITH toks AS (
        SELECT doc_id,
               unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        FROM documents
    ),
    tf AS (
        SELECT doc_id, term, COUNT(*) AS tf
        FROM toks WHERE term IN ('spark', 'window', 'merge')
        GROUP BY 1, 2
    ),
    dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
    stats AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
               AVG(len(regexp_split_to_array(trim(text), '\s+'))) AS avgdl
        FROM documents
    ),
    dl AS (
        SELECT doc_id,
               CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE) AS dl
        FROM documents
    ),
    scored AS (
        SELECT tf.doc_id,
               COUNT(*) AS n_terms_matched,
               ROUND(SUM(
                   ln(1 + (n_docs - df + 0.5) / (df + 0.5))
                   * tf * (1.2 + 1)
                   / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))
               ), 4) AS score
        FROM tf
        JOIN dfreq USING (term)
        JOIN dl ON dl.doc_id = tf.doc_id
        CROSS JOIN stats
        GROUP BY tf.doc_id
    )
    SELECT doc_id, CAST(n_terms_matched AS BIGINT) AS n_terms_matched, score
    FROM scored ORDER BY score DESC, doc_id ASC LIMIT 10
"""

ORACLE_SQL["corpus_bigram_pmi"] = r"""
    WITH t AS (
        SELECT regexp_split_to_array(trim(lower(text)), '\s+') AS toks
        FROM documents
    ),
    bg AS (
        SELECT toks[CAST(i AS INTEGER)] AS w1, toks[CAST(i AS INTEGER) + 1] AS w2
        FROM t, UNNEST(generate_series(1, len(toks) - 1)) AS u(i)
    ),
    bgf AS (SELECT w1, w2 FROM bg WHERE w1 <> '' AND w2 <> ''),
    bgc AS (
        SELECT w1, w2, COUNT(*) AS c_xy FROM bgf GROUP BY 1, 2 HAVING COUNT(*) >= 5
    ),
    uni AS (
        SELECT term, COUNT(*) AS c FROM (
            SELECT unnest(toks) AS term FROM t
        ) WHERE term <> '' GROUP BY 1
    ),
    totals AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_bigrams FROM bgf),
    ntok AS (SELECT CAST(SUM(c) AS DOUBLE) AS n_tokens FROM uni),
    scored AS (
        SELECT bgc.w1, bgc.w2, CAST(c_xy AS BIGINT) AS c_xy,
               ROUND(ln((c_xy / n_bigrams)
                     / ((ux.c / n_tokens) * (uy.c / n_tokens))), 4) AS pmi
        FROM bgc
        JOIN uni ux ON ux.term = bgc.w1
        JOIN uni uy ON uy.term = bgc.w2
        CROSS JOIN totals CROSS JOIN ntok
    ),
    top AS (
        SELECT * FROM scored ORDER BY pmi DESC, w1 ASC, w2 ASC LIMIT 30
    )
    SELECT CAST(row_number() OVER (ORDER BY pmi DESC, w1 ASC, w2 ASC) AS BIGINT) AS rank,
           w1, w2, c_xy, pmi
    FROM top
"""

ORACLE_SQL["text_word_entropy"] = r"""
    WITH pt AS (
        SELECT doc_id, term, COUNT(*) AS c FROM (
            SELECT doc_id,
                   unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
            FROM documents
        ) WHERE term <> '' GROUP BY 1, 2
    )
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           ROUND(COUNT(*) / CAST(SUM(c) AS DOUBLE), 6) AS type_token_ratio,
           ROUND(-SUM(c * ln(c)) / SUM(c) + ln(SUM(c)), 6) AS entropy_nats
    FROM pt GROUP BY doc_id
"""

ORACLE_SQL["mart_incremental_update"] = """
    SELECT strftime(o_orderdate, '%Y-%m') AS month,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS sum_price,
           ROUND(SUM(o_totalprice) / COUNT(*), 4) AS avg_price
    FROM orders GROUP BY 1
"""

ORACLE_SQL["events_distinct_rolling7"] = """
    WITH ud AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
    days AS (SELECT DISTINCT day FROM ud),
    contrib AS (
        SELECT DISTINCT ud.day + CAST(x AS INTEGER) AS day, user_id
        FROM ud, UNNEST(generate_series(0, 6)) AS u(x)
    )
    SELECT c.day AS day, CAST(COUNT(*) AS BIGINT) AS n_users_7d
    FROM contrib c JOIN days d USING (day)
    GROUP BY 1
"""

ORACLE_SQL["orders_median_mode"] = """
    WITH base AS (
        SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders,
               ROUND(quantile_cont(o_totalprice, 0.5), 4) AS median_price
        FROM orders GROUP BY 1
    ),
    c AS (
        SELECT o_orderpriority, o_orderstatus, COUNT(*) AS c
        FROM orders GROUP BY 1, 2
    ),
    m AS (
        SELECT o_orderpriority, o_orderstatus AS mode_status,
               CAST(c AS BIGINT) AS mode_count,
               row_number() OVER (PARTITION BY o_orderpriority
                                  ORDER BY c DESC, o_orderstatus ASC) AS rn
        FROM c
    )
    SELECT b.o_orderpriority, n_orders, median_price, mode_status, mode_count
    FROM base b JOIN m USING (o_orderpriority) WHERE rn = 1
"""

ORACLE_SQL["part_set_similarity_join"] = r"""
    WITH t AS (
        SELECT DISTINCT rid, tok FROM (
            SELECT p_partkey AS rid,
                   unnest(regexp_split_to_array(trim(lower(
                       p_name || ' ' || p_brand || ' ' || p_type || ' '
                              || CAST(p_size AS VARCHAR))), '\s+')) AS tok
            FROM part
        ) WHERE tok <> ''
    ),
    sizes AS (SELECT rid, COUNT(*) AS sz FROM t GROUP BY 1),
    inter AS (
        SELECT a.rid AS id_a, b.rid AS id_b, COUNT(*) AS n_inter
        FROM t a JOIN t b ON a.tok = b.tok AND a.rid < b.rid
        GROUP BY 1, 2
    ),
    j AS (
        SELECT id_a, id_b, n_inter, sa.sz + sb.sz - n_inter AS n_union
        FROM inter
        JOIN sizes sa ON sa.rid = id_a
        JOIN sizes sb ON sb.rid = id_b
    )
    SELECT id_a AS partkey_a, id_b AS partkey_b,
           CAST(n_inter AS BIGINT) AS n_inter,
           CAST(n_union AS BIGINT) AS n_union,
           ROUND(n_inter / CAST(n_union AS DOUBLE), 6) AS jaccard
    FROM j
    WHERE ROUND(n_inter / CAST(n_union AS DOUBLE), 6) >= 0.6
"""

ORACLE_SQL["supplier_pareto"] = """
    WITH rev AS (
        SELECT l_suppkey, SUM(l_extendedprice * (1 - l_discount)) AS rev
        FROM lineitem GROUP BY 1
    ),
    dims AS (
        SELECT s_suppkey, r_name
        FROM supplier
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
    ),
    per AS (
        SELECT r_name, rev, s_suppkey FROM rev JOIN dims ON l_suppkey = s_suppkey
    ),
    ranked AS (
        SELECT r_name, rev,
               SUM(rev) OVER (PARTITION BY r_name
                              ORDER BY rev DESC, s_suppkey ASC
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - rev AS cum_before,
               SUM(rev) OVER (PARTITION BY r_name) AS total,
               MAX(rev) OVER (PARTITION BY r_name) AS top_rev
        FROM per
    )
    SELECT r_name,
           CAST(COUNT(*) AS BIGINT) AS n_suppliers,
           CAST(SUM(CASE WHEN cum_before < 0.8 * total THEN 1 ELSE 0 END) AS BIGINT)
               AS n_top80,
           ROUND(MAX(top_rev / total), 6) AS top1_share
    FROM ranked GROUP BY 1
"""

ORACLE_SQL["corpus_winsorized_length"] = """
    WITH pcts AS (
        SELECT lang, quantile_cont(n_chars, 0.05) AS p05,
               quantile_cont(n_chars, 0.95) AS p95
        FROM documents GROUP BY 1
    )
    SELECT d.lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(ANY_VALUE(p05), 4) AS p05,
           ROUND(ANY_VALUE(p95), 4) AS p95,
           ROUND(AVG(n_chars), 4) AS mean_chars,
           ROUND(AVG(GREATEST(p05, LEAST(p95, n_chars))), 4) AS winsorized_mean
    FROM documents d JOIN pcts USING (lang)
    GROUP BY 1
"""

ORACLE_SQL["events_heavy_hitters"] = """
    WITH tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM events)
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS freq
    FROM events, tot
    GROUP BY user_id, n
    HAVING COUNT(*) >= CEIL(n * 0.0075)
"""

ORACLE_SQL["events_hopping_window"] = """
    WITH expanded AS (
        SELECT time_bucket(INTERVAL '15 minutes', ts)
               - CAST(x AS INTEGER) * INTERVAL '15 minutes' AS w_start,
               event_type, value
        FROM events, UNNEST(generate_series(0, 3)) AS u(x)
    )
    SELECT w_start, event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 4) AS sum_value
    FROM expanded GROUP BY 1, 2
"""

ORACLE_SQL["customer_order_value_window"] = """
    WITH e AS (
        SELECT o_custkey,
               first_value(o_totalprice) OVER w AS first_price,
               nth_value(o_totalprice, 2) OVER w AS second_price,
               last_value(o_totalprice) OVER w AS last_price
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey
                     ORDER BY o_orderdate ASC, o_orderkey ASC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    )
    SELECT o_custkey,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(ANY_VALUE(first_price), 2) AS first_price,
           ROUND(ANY_VALUE(second_price), 2) AS second_price,
           ROUND(ANY_VALUE(last_price), 2) AS last_price
    FROM e GROUP BY 1 HAVING COUNT(*) >= 3
"""

ORACLE_SQL["corpus_tokens_hof"] = r"""
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(list_max(list_transform(toks, t -> length(t))) AS BIGINT)
               AS max_token_len,
           CAST(len(list_filter(toks, t -> regexp_matches(t, '^[0-9]+$'))) AS BIGINT)
               AS n_digit_tokens,
           len(list_filter(toks, t -> regexp_matches(t, '[0-9]'))) > 0 AS has_digit,
           ROUND(list_sum(list_transform(toks, t -> length(t)))
                 / CAST(len(toks) AS DOUBLE), 4) AS avg_token_len
    FROM (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
        FROM documents
    )
"""

ORACLE_SQL["events_ohlc"] = """
    WITH e AS (
        SELECT CAST(ts AS DATE) AS day, event_type, value,
               strftime(ts, '%Y-%m-%d %H:%M:%S.%f') || '#'
                   || lpad(CAST(event_id AS VARCHAR), 12, '0') AS k
        FROM events
    )
    SELECT day, event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(arg_min(value, k), 4) AS open,
           ROUND(MAX(value), 4) AS high,
           ROUND(MIN(value), 4) AS low,
           ROUND(arg_max(value, k), 4) AS close
    FROM e GROUP BY 1, 2
"""

ORACLE_SQL["stream_events_hopping"] = """
    WITH expanded AS (
        SELECT time_bucket(INTERVAL '15 minutes', ts)
               - CAST(x AS INTEGER) * INTERVAL '15 minutes' AS w_start,
               event_type, value
        FROM events, UNNEST(generate_series(0, 3)) AS u(x)
    )
    SELECT strftime(w_start, '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 4) AS sum_value
    FROM expanded GROUP BY 1, 2
"""

ORACLE_SQL["orders_month_spine_recursive"] = """
    WITH RECURSIVE spine(m, mx) AS (
        SELECT CAST(date_trunc('month', MIN(o_orderdate)) AS DATE),
               CAST(date_trunc('month', MAX(o_orderdate)) AS DATE)
        FROM orders
        UNION ALL
        SELECT CAST(m + INTERVAL '1 month' AS DATE), mx FROM spine WHERE m < mx
    ),
    agg AS (
        SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
               COUNT(*) AS n, SUM(o_totalprice) AS s
        FROM orders GROUP BY 1
    )
    SELECT strftime(spine.m, '%Y-%m') AS month,
           CAST(COALESCE(agg.n, 0) AS BIGINT) AS n_orders,
           ROUND(COALESCE(agg.s, 0.0), 2) AS sum_price
    FROM spine LEFT JOIN agg ON spine.m = agg.m
"""

# full-probe IVF over the persisted index == exact brute force
ORACLE_SQL["embedding_ivf_index_search"] = ORACLE_SQL["embedding_cosine_topk"]

# the BMP round-trip must reproduce channel means computed straight from
# the text bytes (flat pixel i = byte text[i mod n]; channel = i mod 3)
ORACLE_SQL["multimodal_bmp_decode"] = """
    WITH px AS (
        SELECT doc_id, x,
               ascii(substr(text, CAST(x % len(text) AS INTEGER) + 1, 1)) AS v
        FROM documents, UNNEST(generate_series(0, 95)) AS u(x)
    )
    SELECT doc_id,
           CAST(8 AS BIGINT) AS width,
           CAST(4 AS BIGINT) AS height,
           printf('%.4f', AVG(CASE WHEN x % 3 = 0 THEN v END)) AS mean_r,
           printf('%.4f', AVG(CASE WHEN x % 3 = 1 THEN v END)) AS mean_g,
           printf('%.4f', AVG(CASE WHEN x % 3 = 2 THEN v END)) AS mean_b
    FROM px GROUP BY doc_id
"""

ORACLE_SQL["multimodal_wav_decode"] = """
    WITH sm AS (
        SELECT doc_id, x,
               ascii(substr(text, CAST(x % len(text) AS INTEGER) + 1, 1)) - 128 AS v
        FROM documents, UNNEST(generate_series(0, 63)) AS u(x)
    )
    SELECT doc_id,
           CAST(1 AS BIGINT) AS n_channels,
           CAST(8000 AS BIGINT) AS sample_rate,
           CAST(64 AS BIGINT) AS n_samples,
           printf('%.4f', sqrt(AVG(CAST(v AS DOUBLE) * v))) AS rms
    FROM sm GROUP BY doc_id
"""

# frame f's luma = text bytes cycled from offset f*32 (np.roll then resize):
# pixel i of frame f = byte text[(f*32 + i) mod n]
ORACLE_SQL["multimodal_y4m_decode"] = """
    WITH px AS (
        SELECT doc_id, f, i,
               ascii(substr(text,
                   CAST((f * 32 + i) % len(text) AS INTEGER) + 1, 1)) AS v
        FROM documents,
             UNNEST(generate_series(0, 2)) AS uf(f),
             UNNEST(generate_series(0, 31)) AS ui(i)
    )
    SELECT doc_id,
           CAST(f AS BIGINT) AS frame_idx,
           CAST(8 AS BIGINT) AS width,
           CAST(4 AS BIGINT) AS height,
           printf('%.4f', AVG(CAST(v AS DOUBLE))) AS mean_y
    FROM px GROUP BY doc_id, f
"""

ORACLE_SQL["orders_price_histogram"] = """
    WITH b AS (SELECT MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi FROM orders),
    binned AS (
        SELECT LEAST(9, CAST(FLOOR((o_totalprice - lo) * 10.0 / (hi - lo)) AS BIGINT))
                   AS bin, lo, hi
        FROM orders, b
    )
    SELECT bin,
           ROUND(ANY_VALUE(lo) + bin * (ANY_VALUE(hi) - ANY_VALUE(lo)) / 10.0, 4) AS bin_lo,
           ROUND(ANY_VALUE(lo) + (bin + 1) * (ANY_VALUE(hi) - ANY_VALUE(lo)) / 10.0, 4) AS bin_hi,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM binned GROUP BY bin
"""

ORACLE_SQL["hybrid_retrieval_rrf"] = r"""
    WITH toks AS (
        SELECT doc_id,
               unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        FROM documents
    ),
    tf AS (
        SELECT doc_id, term, COUNT(*) AS tf
        FROM toks WHERE term IN ('spark', 'window', 'merge')
        GROUP BY 1, 2
    ),
    dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
    stats AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
               AVG(len(regexp_split_to_array(trim(text), '\s+'))) AS avgdl
        FROM documents
    ),
    dl AS (
        SELECT doc_id,
               CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE) AS dl
        FROM documents
    ),
    bm25 AS (
        SELECT tf.doc_id,
               ROUND(SUM(
                   ln(1 + (n_docs - df + 0.5) / (df + 0.5))
                   * tf * (1.2 + 1)
                   / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))
               ), 4) AS score
        FROM tf
        JOIN dfreq USING (term)
        JOIN dl ON dl.doc_id = tf.doc_id
        CROSS JOIN stats
        GROUP BY tf.doc_id
    ),
    lex AS (
        SELECT doc_id,
               row_number() OVER (ORDER BY score DESC, doc_id ASC) AS lex_rank
        FROM bm25
        QUALIFY lex_rank <= 20
    ),
    e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
    sem AS (
        SELECT e.vec_id AS doc_id,
               row_number() OVER (ORDER BY
                   list_dot_product(q.qv, e.v)
                   / (sqrt(list_dot_product(q.qv, q.qv))
                      * sqrt(list_dot_product(e.v, e.v))) DESC,
                   e.vec_id ASC) AS sem_rank
        FROM e, q WHERE e.vec_id != 0
        QUALIFY sem_rank <= 20
    ),
    fused AS (
        SELECT COALESCE(lex.doc_id, sem.doc_id) AS doc_id,
               ROUND(COALESCE(1.0 / (60.0 + lex_rank), 0)
                     + COALESCE(1.0 / (60.0 + sem_rank), 0), 6) AS rrf_score,
               CAST(COALESCE(lex_rank, 0) AS BIGINT) AS lex_rank,
               CAST(COALESCE(sem_rank, 0) AS BIGINT) AS sem_rank
        FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id
    ),
    top AS (
        SELECT * FROM fused ORDER BY rrf_score DESC, doc_id ASC LIMIT 10
    )
    SELECT CAST(row_number() OVER (ORDER BY rrf_score DESC, doc_id ASC) AS BIGINT)
               AS rank,
           doc_id, rrf_score, lex_rank, sem_rank
    FROM top
"""

# persisted-PQ search == in-plan ADC for the same seeded codebook
ORACLE_SQL["embedding_pq_index_search"] = ORACLE_SQL["embedding_pq_topk"]

# BPE rounds unrolled: pair-count agg -> argmax -> list_reduce greedy merge
# shared BPE oracle CTE chain: word vocab -> 3 unrolled merge rounds
# (pair-count agg -> argmax -> list_reduce greedy merge) ending at v3,
# the post-merge vocab. Reused by merges / compression / encode oracles.
_BPE_V3_CTES = r"""
    WITH w AS (
        SELECT word, COUNT(*) AS freq FROM (
            SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS word
            FROM documents
        ) WHERE word <> '' GROUP BY 1
    ),
    v0 AS (
        SELECT word, freq,
               list_append(
                   list_transform(generate_series(1, length(word)),
                                  i -> substr(word, CAST(i AS INTEGER), 1)),
                   '</w>') AS symbols
        FROM w
    )
    , p1 AS (
        SELECT l, r, SUM(freq) AS c FROM (
            SELECT freq,
                   symbols[CAST(i AS INTEGER)] AS l,
                   symbols[CAST(i AS INTEGER) + 1] AS r
            FROM v0, UNNEST(generate_series(1, len(symbols) - 1)) u(i)
        ) GROUP BY 1, 2 HAVING SUM(freq) >= 2
    ),
    t1 AS (SELECT l, r, c FROM p1 ORDER BY c DESC, l ASC, r ASC LIMIT 1),
    v1 AS (
        SELECT word, freq,
               string_split(
                   list_reduce(symbols, (acc, x) ->
                       CASE WHEN (acc = t1.l OR acc LIKE '%' || chr(31) || t1.l)
                                 AND x = t1.r
                            THEN substr(acc, 1, length(acc) - length(t1.l))
                                 || t1.l || t1.r
                            ELSE acc || chr(31) || x END),
                   chr(31)) AS symbols
        FROM v0, t1
    )
    , p2 AS (
        SELECT l, r, SUM(freq) AS c FROM (
            SELECT freq,
                   symbols[CAST(i AS INTEGER)] AS l,
                   symbols[CAST(i AS INTEGER) + 1] AS r
            FROM v1, UNNEST(generate_series(1, len(symbols) - 1)) u(i)
        ) GROUP BY 1, 2 HAVING SUM(freq) >= 2
    ),
    t2 AS (SELECT l, r, c FROM p2 ORDER BY c DESC, l ASC, r ASC LIMIT 1),
    v2 AS (
        SELECT word, freq,
               string_split(
                   list_reduce(symbols, (acc, x) ->
                       CASE WHEN (acc = t2.l OR acc LIKE '%' || chr(31) || t2.l)
                                 AND x = t2.r
                            THEN substr(acc, 1, length(acc) - length(t2.l))
                                 || t2.l || t2.r
                            ELSE acc || chr(31) || x END),
                   chr(31)) AS symbols
        FROM v1, t2
    )
    , p3 AS (
        SELECT l, r, SUM(freq) AS c FROM (
            SELECT freq,
                   symbols[CAST(i AS INTEGER)] AS l,
                   symbols[CAST(i AS INTEGER) + 1] AS r
            FROM v2, UNNEST(generate_series(1, len(symbols) - 1)) u(i)
        ) GROUP BY 1, 2 HAVING SUM(freq) >= 2
    ),
    t3 AS (SELECT l, r, c FROM p3 ORDER BY c DESC, l ASC, r ASC LIMIT 1),
    v3 AS (
        SELECT word, freq,
               string_split(
                   list_reduce(symbols, (acc, x) ->
                       CASE WHEN (acc = t3.l OR acc LIKE '%' || chr(31) || t3.l)
                                 AND x = t3.r
                            THEN substr(acc, 1, length(acc) - length(t3.l))
                                 || t3.l || t3.r
                            ELSE acc || chr(31) || x END),
                   chr(31)) AS symbols
        FROM v2, t3
    )
"""

ORACLE_SQL["corpus_bpe_merges"] = _BPE_V3_CTES + r"""
    SELECT CAST(1 AS BIGINT) AS round, l AS merge_left, r AS merge_right,
           CAST(c AS BIGINT) AS pair_count FROM t1
    UNION ALL SELECT 2, l, r, CAST(c AS BIGINT) FROM t2
    UNION ALL SELECT 3, l, r, CAST(c AS BIGINT) FROM t3
"""

ORACLE_SQL["corpus_bpe_compression"] = _BPE_V3_CTES + r"""
    SELECT CAST(len(symbols) AS BIGINT) AS n_symbols,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(freq) AS BIGINT) AS total_freq
    FROM v3 GROUP BY 1
"""

ORACLE_SQL["part_entity_resolution"] = r"""
    WITH RECURSIVE t AS (
        SELECT DISTINCT rid, tok FROM (
            SELECT p_partkey AS rid,
                   unnest(regexp_split_to_array(trim(lower(
                       p_name || ' ' || p_brand || ' ' || p_type || ' '
                              || CAST(p_size AS VARCHAR))), '\s+')) AS tok
            FROM part
        ) WHERE tok <> ''
    ),
    sizes AS (SELECT rid, COUNT(*) AS sz FROM t GROUP BY 1),
    inter AS (
        SELECT a.rid AS id_a, b.rid AS id_b, COUNT(*) AS n_inter
        FROM t a JOIN t b ON a.tok = b.tok AND a.rid < b.rid
        GROUP BY 1, 2
    ),
    p AS (
        SELECT id_a, id_b
        FROM inter
        JOIN sizes sa ON sa.rid = id_a
        JOIN sizes sb ON sb.rid = id_b
        WHERE ROUND(n_inter / CAST(sa.sz + sb.sz - n_inter AS DOUBLE), 6) >= 0.6
    ),
    edges AS (
        SELECT id_a AS src, id_b AS dst FROM p
        UNION SELECT id_b, id_a FROM p
    ),
    reach(src, dst) AS (
        SELECT src, dst FROM edges
        UNION
        SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    ),
    labeled AS (
        SELECT pt.p_partkey,
               LEAST(pt.p_partkey, COALESCE(MIN(r.dst), pt.p_partkey))
                   AS cluster_id
        FROM part pt LEFT JOIN reach r ON r.src = pt.p_partkey
        GROUP BY pt.p_partkey
    ),
    agg AS (
        SELECT cluster_id,
               CAST(COUNT(*) AS BIGINT) AS n_members,
               ROUND(AVG(p_retailprice), 4) AS avg_price,
               ROUND(MIN(p_retailprice), 2) AS min_price,
               ROUND(MAX(p_retailprice), 2) AS max_price
        FROM labeled JOIN part USING (p_partkey)
        GROUP BY 1 HAVING COUNT(*) >= 2
    )
    SELECT agg.*, pt.p_name AS canonical_name
    FROM agg JOIN part pt ON pt.p_partkey = agg.cluster_id
"""

ORACLE_SQL["join_key_skew_audit"] = """
    WITH prof AS (
        SELECT 'lineitem' AS table_name, 'l_suppkey' AS key_column,
               CAST(l_suppkey AS VARCHAR) AS k
        FROM lineitem
        UNION ALL
        SELECT 'orders', 'o_custkey', CAST(o_custkey AS VARCHAR) FROM orders
        UNION ALL
        SELECT 'events', 'user_id', CAST(user_id AS VARCHAR) FROM events
        UNION ALL
        SELECT 'documents', 'lang', lang FROM documents
    ),
    counts AS (
        SELECT table_name, key_column, k, COUNT(*) AS c
        FROM prof GROUP BY 1, 2, 3
    )
    SELECT table_name, key_column,
           CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(c) AS BIGINT) AS n_rows,
           CAST(MAX(c) AS BIGINT) AS max_key_rows,
           ROUND(AVG(c), 4) AS avg_key_rows,
           ROUND(MAX(c) / AVG(c), 4) AS skew_ratio,
           arg_min(k, lpad(CAST(1000000000000 - c AS VARCHAR), 13, '0') || '#' || k) AS top_key
    FROM counts GROUP BY 1, 2
"""

ORACLE_SQL["text_quality_classifier"] = r"""
    WITH weights AS (
        SELECT i AS bucket,
               CAST(CAST('0x' || substr(md5('w_' || i), 1, 8) AS BIGINT) AS DOUBLE)
                   / 4294967295.0 * 2.0 - 1.0 AS w
        FROM UNNEST(generate_series(0, 255)) t(i)
    ),
    feats AS (
        SELECT doc_id,
               CAST('0x' || substr(md5(term), 1, 8) AS BIGINT) % 256 AS bucket,
               COUNT(*) AS c
        FROM (
            SELECT doc_id,
                   unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
            FROM documents
        ) WHERE term <> ''
        GROUP BY 1, 2
    ),
    z AS (
        SELECT doc_id,
               CAST(SUM(c) AS BIGINT) AS n_tokens,
               SUM(w * c) / SUM(c) AS zv
        FROM feats JOIN weights USING (bucket)
        GROUP BY 1
    )
    SELECT doc_id, n_tokens,
           ROUND(1.0 / (1.0 + exp(-zv * 10.0)), 6) AS score,
           zv > 0 AS keep
    FROM z
"""

ORACLE_SQL["orders_geomean_udaf"] = """
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(exp(AVG(ln(o_totalprice))), 4) AS geomean_price,
           ROUND(exp(AVG(ln(o_totalprice))), 4) AS geomean_builtin
    FROM orders GROUP BY 1
"""

# the mapInArrow twin computes the identical histogram
ORACLE_SQL["multimodal_byte_features_arrow"] = ORACLE_SQL["multimodal_byte_features"]

ORACLE_SQL["orders_nullsafe_join"] = """
    WITH o AS (
        SELECT *, NULLIF(o_orderpriority, '1-URGENT') AS tier FROM orders
    ),
    tiers AS (
        SELECT tier,
               COALESCE('tier:' || tier, 'tier:urgent') AS tier_label
        FROM (SELECT DISTINCT tier FROM o)
    )
    SELECT tier_label,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS sum_price
    FROM o JOIN tiers d ON o.tier IS NOT DISTINCT FROM d.tier
    GROUP BY 1
"""

ORACLE_SQL["corpus_dataset_card"] = r"""
    WITH base AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT)
                   AS n_tokens,
               ROUND(AVG(n_chars), 4) AS mean_chars,
               COUNT(DISTINCT md5(text)) AS n_uniq
        FROM documents
    ),
    langs AS (SELECT lang, COUNT(*) AS c FROM documents GROUP BY 1),
    ls AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_langs,
               arg_min(lang, lpad(CAST(1000000000000 - c AS VARCHAR), 13, '0')
                             || '#' || lang) AS top_lang,
               MAX(c) AS top_c,
               SUM(c) AS total,
               ROUND(-SUM(c * ln(c)) / SUM(c) + ln(SUM(c)), 6)
                   AS lang_entropy_nats
        FROM langs
    )
    SELECT n_docs, n_tokens, mean_chars,
           ROUND(1.0 - n_uniq / CAST(n_docs AS DOUBLE), 6) AS exact_dup_rate,
           n_langs, top_lang,
           ROUND(top_c / CAST(total AS DOUBLE), 6) AS top_lang_share,
           lang_entropy_nats
    FROM base, ls
"""

ORACLE_SQL["events_cusum_alerts"] = """
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(COUNT(*) AS DOUBLE) AS n
        FROM events GROUP BY 1, 2
    ),
    stats AS (
        SELECT event_type, AVG(n) AS mu, stddev_samp(n) AS sigma
        FROM daily GROUP BY 1
    ),
    cum AS (
        SELECT daily.event_type, day, CAST(n AS BIGINT) AS n_events,
               SUM(n - mu - 0.5 * sigma)
                   OVER (PARTITION BY daily.event_type ORDER BY day
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS c,
               3.0 * sigma AS h
        FROM daily JOIN stats USING (event_type)
    )
    SELECT event_type, day, n_events,
           ROUND(c - LEAST(0.0, MIN(c) OVER (PARTITION BY event_type ORDER BY day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 4) AS cusum,
           (c - LEAST(0.0, MIN(c) OVER (PARTITION BY event_type ORDER BY day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))) > h AS alert
    FROM cum
"""

ORACLE_SQL["orders_market_basket"] = """
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_orders FROM orders),
    ic AS (SELECT l_partkey, COUNT(*) AS c FROM li GROUP BY 1),
    pairs AS (
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
               COUNT(*) AS support
        FROM li a JOIN li b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
    ),
    scored AS (
        SELECT part_a, part_b, CAST(support AS BIGINT) AS support,
               ROUND(n_orders * support / (ca.c * cb.c), 4) AS lift
        FROM pairs
        JOIN ic ca ON ca.l_partkey = part_a
        JOIN ic cb ON cb.l_partkey = part_b
        CROSS JOIN n
    )
    SELECT * FROM scored
    ORDER BY support DESC, lift DESC, part_a ASC, part_b ASC
    LIMIT 25
"""

ORACLE_SQL["orders_benford_audit"] = r"""
    WITH d AS (
        SELECT CAST(substr(regexp_replace(format('{:.10f}', o_totalprice),
                                          '[0.,]', '', 'g'), 1, 1) AS BIGINT) AS d
        FROM orders
    ),
    counts AS (SELECT d, COUNT(*) AS c FROM d WHERE d >= 1 GROUP BY 1),
    total AS (SELECT CAST(SUM(c) AS DOUBLE) AS n FROM counts)
    SELECT d, CAST(c AS BIGINT) AS n_orders,
           ROUND(c / n, 6) AS observed_share,
           ROUND(log10(1.0 + 1.0 / d), 6) AS benford_share,
           ROUND(pow(c / n - log10(1.0 + 1.0 / d), 2)
                 / log10(1.0 + 1.0 / d) * n, 4) AS chi2_contrib
    FROM counts, total
"""

ORACLE_SQL["events_exp_smoothing"] = """
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               SUM(value) AS x
        FROM events GROUP BY 1, 2
    ),
    idx AS (
        SELECT event_type, day, x,
               CAST(row_number() OVER (PARTITION BY event_type ORDER BY day)
                    AS DOUBLE) AS t
        FROM daily
    ),
    terms AS (
        SELECT event_type, day, x, t,
               CASE WHEN t = 1 THEN x
                    ELSE x * 0.3 / pow(0.7, t - 1) END AS term
        FROM idx
    )
    SELECT event_type, day, ROUND(x, 4) AS x,
           ROUND(pow(0.7, t - 1)
                 * SUM(term) OVER (PARTITION BY event_type ORDER BY day
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                 4) AS smoothed
    FROM terms
"""

# PNG is lossless, and its fixture (8x4 tile from cycled text bytes) is the
# same as BMP's -- so the decode must reproduce the identical channel means
ORACLE_SQL["multimodal_png_decode"] = ORACLE_SQL["multimodal_bmp_decode"]

# JPEG is lossy: exact means are not SQL-reproducible, so the contract is
# within-bounds (decoded channel means within 3/255 of the true byte means,
# asserted Spark-side; the oracle pins dims + the boolean outcome)
ORACLE_SQL["multimodal_jpeg_decode"] = """
    SELECT doc_id,
           CAST(8 AS BIGINT) AS width,
           CAST(8 AS BIGINT) AS height,
           TRUE AS r_ok, TRUE AS g_ok, TRUE AS b_ok
    FROM documents
"""

# train->apply: doc-word multiplicities joined to the 3-merge vocab (v3)
ORACLE_SQL["corpus_bpe_encode"] = _BPE_V3_CTES + r"""
    , docw AS (
        SELECT doc_id, word, COUNT(*) AS n FROM (
            SELECT doc_id,
                   unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS word
            FROM documents
        ) WHERE word <> '' GROUP BY 1, 2
    )
    SELECT doc_id,
           CAST(SUM(n) AS BIGINT) AS n_words,
           CAST(SUM(n * len(v3.symbols)) AS BIGINT) AS n_tokens
    FROM docw JOIN v3 USING (word)
    GROUP BY 1
    ORDER BY doc_id
"""

# PageRank, 3 iterations unrolled. Both engines quantize transition probs
# and per-round ranks to 12 dp, so double-summation order cannot surface.
ORACLE_SQL["nations_pagerank"] = """
    WITH edges AS (
        SELECT sn.n_name AS src, cn.n_name AS dst,
               CAST(ROUND(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                                   AS DECIMAL(18,6))), 2) AS DOUBLE) AS w
        FROM lineitem l
        JOIN orders o   ON o.o_orderkey = l.l_orderkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation sn  ON sn.n_nationkey = s.s_nationkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation cn  ON cn.n_nationkey = c.c_nationkey
        GROUP BY 1, 2
    ),
    nodes AS (
        SELECT DISTINCT node FROM (
            SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges
        )
    ),
    nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
    outw AS (SELECT src, SUM(w) AS s FROM edges GROUP BY 1),
    norm AS (
        SELECT e.src, e.dst, ROUND(e.w / o.s, 12) AS p
        FROM edges e JOIN outw o USING (src)
    ),
    r0 AS (SELECT node, ROUND(1.0 / nn.n, 12) AS r FROM nodes, nn),
    r1 AS (
        SELECT nodes.node, ROUND(0.15 / nn.n + 0.85 * COALESCE(c.v, 0), 12) AS r
        FROM nodes CROSS JOIN nn
        LEFT JOIN (SELECT norm.dst, SUM(r0.r * norm.p) AS v
                   FROM norm JOIN r0 ON r0.node = norm.src GROUP BY 1) c
          ON c.dst = nodes.node
    ),
    r2 AS (
        SELECT nodes.node, ROUND(0.15 / nn.n + 0.85 * COALESCE(c.v, 0), 12) AS r
        FROM nodes CROSS JOIN nn
        LEFT JOIN (SELECT norm.dst, SUM(r1.r * norm.p) AS v
                   FROM norm JOIN r1 ON r1.node = norm.src GROUP BY 1) c
          ON c.dst = nodes.node
    ),
    r3 AS (
        SELECT nodes.node, ROUND(0.15 / nn.n + 0.85 * COALESCE(c.v, 0), 12) AS r
        FROM nodes CROSS JOIN nn
        LEFT JOIN (SELECT norm.dst, SUM(r2.r * norm.p) AS v
                   FROM norm JOIN r2 ON r2.node = norm.src GROUP BY 1) c
          ON c.dst = nodes.node
    )
    SELECT node AS n_name, ROUND(r, 6) AS pagerank FROM r3 ORDER BY n_name
"""

ORACLE_SQL["region_top_customers_lateral"] = """
    SELECT r.r_name, t.c_name, t.spend
    FROM region r,
    LATERAL (
        SELECT c.c_name,
               CAST(ROUND(SUM(CAST(o.o_totalprice AS DECIMAL(18,6))), 2)
                    AS DOUBLE) AS spend
        FROM customer c
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        JOIN orders o ON o.o_custkey = c.c_custkey
        WHERE n.n_regionkey = r.r_regionkey
        GROUP BY c.c_name
        ORDER BY spend DESC, c.c_name
        LIMIT 2
    ) t
    ORDER BY r.r_name, t.spend DESC, t.c_name
"""

# Spark dayofweek is 1-based Sunday-first; DuckDB dayofweek is 0-based
ORACLE_SQL["events_seasonal_decompose"] = """
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM events GROUP BY 1, 2
    )
    SELECT day, event_type,
           CAST(dayofweek(day) + 1 AS BIGINT) AS weekday,
           n_events,
           ROUND(AVG(n_events) OVER (PARTITION BY event_type, dayofweek(day)), 4)
               AS seasonal,
           ROUND(n_events - AVG(n_events)
                 OVER (PARTITION BY event_type, dayofweek(day)), 4) AS residual
    FROM daily
"""

# the XML hop must be value-lossless: oracle recomputes the mart from parquet
ORACLE_SQL["orders_xml_roundtrip"] = """
    SELECT strftime(o_orderdate, '%Y-%m') AS month,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE)
               AS total_price
    FROM orders GROUP BY 1 ORDER BY 1
"""

# TTL-state dedup: duplicates arrive within the watermark, so the answer
# is still the single-copy batch aggregate
ORACLE_SQL["stream_events_dedup_ttl"] = ORACLE_SQL["stream_events_dedup"]

# df log-odds drift between first/second half of the corpus by doc_id
ORACLE_SQL["corpus_vocab_drift"] = r"""
    WITH mid AS (SELECT quantile_cont(doc_id, 0.5) AS m FROM documents),
    terms AS (
        SELECT DISTINCT
               CAST(doc_id > mid.m AS INTEGER) AS half,
               unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term,
               doc_id
        FROM documents, mid
        WHERE TRUE
    ),
    per_half AS (
        SELECT term,
               SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS df_a,
               SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS df_b
        FROM (SELECT * FROM terms WHERE term <> '')
        GROUP BY 1
    ),
    n AS (
        SELECT SUM(CASE WHEN doc_id <= mid.m THEN 1 ELSE 0 END) AS n_a,
               SUM(CASE WHEN doc_id > mid.m THEN 1 ELSE 0 END) AS n_b
        FROM documents, mid
    )
    SELECT term,
           CAST(df_a AS BIGINT) AS df_a,
           CAST(df_b AS BIGINT) AS df_b,
           ROUND(log2(((df_b + 1) / CAST(n_b + 2 AS DOUBLE))
                      / ((df_a + 1) / CAST(n_a + 2 AS DOUBLE))), 6) AS log2_odds
    FROM per_half, n
    WHERE df_a + df_b >= 20
    ORDER BY ABS(log2_odds) DESC, term ASC
    LIMIT 30
"""

# distribution-matched resampling accounting: non-en pool matched to the
# en reference's 20-token-bucket length histogram, integer-ppm rates
ORACLE_SQL["corpus_length_matched_sample"] = r"""
    WITH d AS (
        SELECT doc_id, lang,
               LEAST(10, len(regexp_split_to_array(trim(text), '\s+')) // 20)
                   AS bucket
        FROM documents
    ),
    ref AS (SELECT bucket, COUNT(*) AS n_ref FROM d WHERE lang = 'en' GROUP BY 1),
    pool AS (SELECT bucket, COUNT(*) AS n_pool FROM d WHERE lang <> 'en' GROUP BY 1),
    tot AS (
        SELECT (SELECT COUNT(*) FROM d WHERE lang = 'en') AS t_ref,
               (SELECT COUNT(*) FROM d WHERE lang <> 'en') AS t_pool
    ),
    rates AS (
        SELECT COALESCE(ref.bucket, pool.bucket) AS bucket,
               CAST(COALESCE(n_ref, 0) AS BIGINT) AS n_ref,
               CAST(COALESCE(n_pool, 0) AS BIGINT) AS n_pool,
               CAST(CASE WHEN COALESCE(n_pool, 0) = 0 THEN 0
                    ELSE LEAST(1000000,
                         (1000000 * COALESCE(n_ref, 0) * t_pool)
                         // (GREATEST(t_ref, 1) * n_pool)) END AS BIGINT)
                   AS rate_ppm
        FROM ref FULL OUTER JOIN pool ON ref.bucket = pool.bucket
        CROSS JOIN tot
    ),
    kept AS (
        SELECT d.bucket, COUNT(*) AS n_sampled
        FROM d JOIN rates ON rates.bucket = d.bucket
        WHERE d.lang <> 'en'
          AND CAST(('0x' || substr(md5('match:' || CAST(d.doc_id AS VARCHAR)), 1, 8))
                   AS BIGINT) % 1000000 < rates.rate_ppm
        GROUP BY 1
    )
    SELECT rates.bucket,
           n_ref, n_pool, rate_ppm,
           CAST(COALESCE(kept.n_sampled, 0) AS BIGINT) AS n_sampled
    FROM rates LEFT JOIN kept ON kept.bucket = rates.bucket
    ORDER BY rates.bucket
"""

# per-language tokens/words under the 3-merge vocab (fertility)
ORACLE_SQL["corpus_bpe_fertility"] = _BPE_V3_CTES + r"""
    , docw AS (
        SELECT doc_id, word, COUNT(*) AS n FROM (
            SELECT doc_id,
                   unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS word
            FROM documents
        ) WHERE word <> '' GROUP BY 1, 2
    ),
    per_doc AS (
        SELECT doc_id,
               SUM(n) AS n_words,
               SUM(n * len(v3.symbols)) AS n_tokens
        FROM docw JOIN v3 USING (word) GROUP BY 1
    )
    SELECT d.lang,
           CAST(SUM(per_doc.n_words) AS BIGINT) AS n_words,
           CAST(SUM(per_doc.n_tokens) AS BIGINT) AS n_tokens,
           ROUND(CAST(SUM(per_doc.n_tokens) AS DOUBLE) / SUM(per_doc.n_words), 6)
               AS fertility
    FROM per_doc JOIN documents d USING (doc_id)
    GROUP BY 1 ORDER BY 1
"""

# shared CTE chain for the ExactSubstr family (k = 8): duplicated k-window
# start positions merged into maximal per-doc token spans
_SUBSTR_SPAN_CTES = r"""
    WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        FROM documents
    ), sh AS (
        SELECT doc_id, i - 1 AS pos,
               md5(array_to_string(toks[i:i+7], chr(31))) AS h
        FROM toks, LATERAL unnest(generate_series(1, len(toks) - 7)) AS t(i)
        WHERE len(toks) >= 8
    ), dup AS (
        SELECT h FROM sh GROUP BY h HAVING COUNT(*) >= 2
    ), marked AS (
        SELECT sh.doc_id, sh.pos FROM sh JOIN dup USING (h)
    ), runs AS (
        SELECT doc_id, MIN(pos) AS s, MAX(pos) + 7 AS e
        FROM (
            SELECT doc_id, pos,
                   pos - row_number() OVER (
                       PARTITION BY doc_id ORDER BY pos) AS island
            FROM marked
        ) GROUP BY doc_id, island
    ), flagged AS (
        SELECT doc_id, s, e,
               CASE WHEN s > COALESCE(MAX(e) OVER (
                        PARTITION BY doc_id ORDER BY s
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                        -2) + 1
                    THEN 1 ELSE 0 END AS new_grp
        FROM runs
    ), grouped AS (
        SELECT doc_id, s, e,
               SUM(new_grp) OVER (
                   PARTITION BY doc_id ORDER BY s
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
        FROM flagged
    ), spans AS (
        SELECT doc_id, MIN(s) AS span_start, MAX(e) AS span_end
        FROM grouped GROUP BY doc_id, grp
    )
"""

ORACLE_SQL["corpus_substring_dedup"] = _SUBSTR_SPAN_CTES + r"""
    SELECT doc_id,
           CAST(span_start AS BIGINT) AS span_start,
           CAST(span_end AS BIGINT) AS span_end,
           CAST(span_end - span_start + 1 AS BIGINT) AS n_tokens
    FROM spans
"""

ORACLE_SQL["corpus_substring_dedup_apply"] = _SUBSTR_SPAN_CTES + r"""
    , tok AS (
        SELECT doc_id, i - 1 AS pos, toks[i] AS tok
        FROM toks, LATERAL unnest(generate_series(1, len(toks))) AS t(i)
    ), keep AS (
        SELECT t.doc_id, t.pos, t.tok
        FROM tok t
        WHERE NOT EXISTS (
            SELECT 1 FROM spans s
            WHERE s.doc_id = t.doc_id
              AND t.pos BETWEEN s.span_start AND s.span_end)
    ), agg AS (
        SELECT doc_id,
               string_agg(tok, ' ' ORDER BY pos) AS cleaned_text,
               COUNT(*) AS n_kept
        FROM keep GROUP BY doc_id
    )
    SELECT d.doc_id,
           COALESCE(a.cleaned_text, '') AS cleaned_text,
           CAST(len(t.toks) AS BIGINT) AS n_tokens,
           CAST(len(t.toks) - COALESCE(a.n_kept, 0) AS BIGINT) AS n_removed
    FROM documents d
    JOIN toks t USING (doc_id)
    LEFT JOIN agg a USING (doc_id)
"""

ORACLE_SQL["corpus_dsir_select"] = r"""
    WITH tok AS (
        SELECT doc_id, source,
               regexp_split_to_array(trim(text), '\s+') AS toks
        FROM documents
    ), grams AS (
        SELECT doc_id, source, unnest(toks) AS gram FROM tok
        UNION ALL
        SELECT doc_id, source, toks[i] || ' ' || toks[i + 1]
        FROM tok, LATERAL unnest(generate_series(1, len(toks) - 1)) AS t(i)
        WHERE len(toks) >= 2
    ), b AS (
        SELECT doc_id, source,
               CAST(('0x' || substr(md5('dsir:' || gram), 1, 8)) AS BIGINT)
                   % 4096 AS bucket
        FROM grams
    ), t_counts AS (
        SELECT bucket, COUNT(*) AS t_n FROM b WHERE source = 'src0'
        GROUP BY bucket
    ), p_counts AS (
        SELECT bucket, COUNT(*) AS p_n FROM b WHERE source <> 'src0'
        GROUP BY bucket
    ), totals AS (
        SELECT (SELECT COALESCE(SUM(t_n), 0) FROM t_counts) AS t_total,
               (SELECT COALESCE(SUM(p_n), 0) FROM p_counts) AS p_total
    ), ratios AS (
        SELECT COALESCE(t.bucket, p.bucket) AS bucket,
               ln((COALESCE(t_n, 0) + 1) / CAST(t_total + 4096 AS DOUBLE))
             - ln((COALESCE(p_n, 0) + 1) / CAST(p_total + 4096 AS DOUBLE))
                   AS log_ratio
        FROM t_counts t FULL OUTER JOIN p_counts p ON t.bucket = p.bucket,
             totals
    ), doc_w AS (
        SELECT doc_id, SUM(n * log_ratio) AS log_weight
        FROM (
            SELECT doc_id, bucket, COUNT(*) AS n FROM b
            WHERE source <> 'src0' GROUP BY doc_id, bucket
        ) JOIN ratios USING (bucket)
        GROUP BY doc_id
    ), scored AS (
        SELECT doc_id, log_weight,
               log_weight - ln(-ln(
                   (CAST(('0x' || substr(md5('dsir:' || CAST(doc_id AS VARCHAR)), 1, 8))
                         AS BIGINT) % 1000000 + 0.5) / 1000000.0
               )) AS score
        FROM doc_w
    )
    SELECT doc_id,
           ROUND(log_weight, 6) AS log_weight,
           ROUND(score, 6) AS score
    FROM scored
    ORDER BY score DESC, doc_id ASC
    LIMIT 100
"""

# audio spectrogram: sample x of the 64-sample PCM = text byte (x mod n)
# minus 128, Hann-weighted within its 16-sample frame (numpy.hanning's
# symmetric 0.5 - 0.5*cos(2*pi*j/15)); the one-sided DFT is recomputed as
# an explicit sum-of-cos/sin. Energy is compared in dB (see the operator
# docstring: log-compression keeps the naive-DFT-vs-FFT float drift far
# below the 4-dp grid).
ORACLE_SQL["multimodal_audio_spectrogram"] = """
    WITH sm AS (
        SELECT doc_id, x // 16 AS f, x % 16 AS n,
               (ascii(substr(text, CAST(x % len(text) AS INTEGER) + 1, 1)) - 128)
               * (0.5 - 0.5 * cos(2 * pi() * (x % 16) / 15.0)) AS u
        FROM documents, UNNEST(generate_series(0, 63)) AS ux(x)
    ), dft AS (
        SELECT doc_id, f, k,
               SUM(u * cos(2 * pi() * k * n / 16.0)) AS re,
               SUM(u * sin(2 * pi() * k * n / 16.0)) AS im
        FROM sm, UNNEST(generate_series(0, 8)) AS uk(k)
        GROUP BY doc_id, f, k
    ), mag AS (
        SELECT doc_id, f, k, sqrt(re * re + im * im) AS m FROM dft
    )
    SELECT doc_id,
           CAST(f AS BIGINT) AS frame_idx,
           printf('%.4f', 10 * log10(1 + SUM(m * m))) AS energy_db,
           printf('%.4f', CASE WHEN SUM(m) > 0
                          THEN SUM(k * m) / SUM(m) ELSE 0.0 END) AS centroid
    FROM mag GROUP BY doc_id, f
"""

# shot boundaries: pixel i of frame f = text byte ((f*16 + i) mod n),
# inverted for f >= 3 (the planted cut); score = mean abs luma diff vs the
# previous frame. Exact: integer pixel arithmetic, mean over 32 = a
# dyadic-denominator rational both engines represent identically.
ORACLE_SQL["multimodal_shot_boundaries"] = """
    WITH px AS (
        SELECT doc_id, f, i,
               CASE WHEN f >= 3 THEN 255 - v ELSE v END AS y
        FROM (
            SELECT doc_id, f, i,
                   ascii(substr(text,
                       CAST((f * 16 + i) % len(text) AS INTEGER) + 1, 1)) AS v
            FROM documents,
                 UNNEST(generate_series(0, 5)) AS uf(f),
                 UNNEST(generate_series(0, 31)) AS ui(i)
        )
    )
    SELECT a.doc_id,
           CAST(a.f AS BIGINT) AS frame_idx,
           printf('%.4f', AVG(ABS(CAST(a.y AS DOUBLE) - b.y))) AS diff_score,
           AVG(ABS(CAST(a.y AS DOUBLE) - b.y)) > 64.0 AS is_cut
    FROM px a JOIN px b ON a.doc_id = b.doc_id AND a.i = b.i AND b.f = a.f - 1
    WHERE a.f >= 1
    GROUP BY a.doc_id, a.f
"""

# PCA contract: the Spark query computes the fit AND its witnesses in one
# run (variance-of-projection == eigenvalue ties the distributed moment
# pass to the driver eigh); the oracle asserts exact keys/counts and
# all-true flags, the sketch-contract pattern.
ORACLE_SQL["embedding_pca"] = """
    SELECT CAST(c AS BIGINT) AS component,
           (SELECT COUNT(*) FROM embeddings) AS n_vectors,
           TRUE AS eig_monotone,
           TRUE AS orthonormal_ok,
           TRUE AS proj_var_matches
    FROM UNNEST(generate_series(0, 3)) AS u(c)
"""

# hard-negative mining: sign-LSH buckets as in near_dup_bucketed, but the
# candidate join is the OUTPUT-BOUNDED ring form mirroring the operator --
# bucket members ranked by vec_id, each anchor paired only with its next 8
# bucket neighbors per band (pos difference in [1, 8]); then pairs
# symmetrized to anchor perspective, different-label filter, and the
# deterministic (ROUNDED cosine desc, neg_id asc) row_number top-3 --
# ranking on the rounded value is what makes rank order engine-invariant
# at float ties.
ORACLE_SQL["embedding_hard_negatives"] = """
    WITH e AS (
        SELECT vec_id, embedding::DOUBLE[] AS v,
               (CASE WHEN embedding[1]  >= 0 THEN '1' ELSE '0' END ||
                CASE WHEN embedding[5]  >= 0 THEN '1' ELSE '0' END ||
                CASE WHEN embedding[9]  >= 0 THEN '1' ELSE '0' END ||
                CASE WHEN embedding[13] >= 0 THEN '1' ELSE '0' END) AS b0,
               (CASE WHEN embedding[17] >= 0 THEN '1' ELSE '0' END ||
                CASE WHEN embedding[21] >= 0 THEN '1' ELSE '0' END ||
                CASE WHEN embedding[25] >= 0 THEN '1' ELSE '0' END ||
                CASE WHEN embedding[29] >= 0 THEN '1' ELSE '0' END) AS b1,
               (CASE WHEN embedding[33] >= 0 THEN '1' ELSE '0' END ||
                CASE WHEN embedding[37] >= 0 THEN '1' ELSE '0' END ||
                CASE WHEN embedding[41] >= 0 THEN '1' ELSE '0' END ||
                CASE WHEN embedding[45] >= 0 THEN '1' ELSE '0' END) AS b2,
               (CASE WHEN embedding[49] >= 0 THEN '1' ELSE '0' END ||
                CASE WHEN embedding[53] >= 0 THEN '1' ELSE '0' END ||
                CASE WHEN embedding[57] >= 0 THEN '1' ELSE '0' END ||
                CASE WHEN embedding[61] >= 0 THEN '1' ELSE '0' END) AS b3
        FROM embeddings
    ), bands AS (
        SELECT vec_id, 0 AS band, b0 AS sig FROM e
        UNION ALL SELECT vec_id, 1, b1 FROM e
        UNION ALL SELECT vec_id, 2, b2 FROM e
        UNION ALL SELECT vec_id, 3, b3 FROM e
    ), pos AS (
        SELECT vec_id, band, sig,
               ROW_NUMBER() OVER (PARTITION BY band, sig
                                  ORDER BY vec_id) AS pos
        FROM bands
    ), cand AS (
        SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
        FROM pos a JOIN pos b
          ON a.band = b.band AND a.sig = b.sig
         AND b.pos > a.pos AND b.pos <= a.pos + 8
    ), en AS (
        SELECT vec_id, list_transform(v, x -> x / n) AS nv
        FROM (SELECT vec_id, v,
                     greatest(sqrt(list_dot_product(v, v)), 1e-12) AS n
              FROM e)
    ), p AS (
        SELECT c.id_a, c.id_b,
               ROUND(list_dot_product(ea.nv, eb.nv), 6) AS cosine
        FROM cand c
        JOIN en ea ON ea.vec_id = c.id_a
        JOIN en eb ON eb.vec_id = c.id_b
        WHERE list_dot_product(ea.nv, eb.nv) >= 0.0
    ), sym AS (
        SELECT id_a AS anchor_id, id_b AS neg_id, cosine FROM p
        UNION ALL
        SELECT id_b, id_a, cosine FROM p
    ), ranked AS (
        SELECT s.anchor_id, s.neg_id, s.cosine,
               ROW_NUMBER() OVER (PARTITION BY s.anchor_id
                                  ORDER BY s.cosine DESC, s.neg_id ASC) AS rnk
        FROM sym s
        JOIN embeddings la ON la.vec_id = s.anchor_id
        JOIN embeddings lb ON lb.vec_id = s.neg_id
        WHERE la.label <> lb.label
    )
    SELECT anchor_id, neg_id, cosine, CAST(rnk AS BIGINT) AS rank
    FROM ranked WHERE rnk <= 3
"""

# incremental-PCA contract: associative moments => merged-halves fit ==
# full fit; the oracle asserts exact keys/counts and all-true witnesses.
ORACLE_SQL["embedding_pca_incremental"] = """
    SELECT CAST(c AS BIGINT) AS component,
           (SELECT COUNT(*) FROM embeddings) AS n_vectors,
           TRUE AS eig_matches,
           TRUE AS component_aligned
    FROM UNNEST(generate_series(0, 3)) AS u(c)
"""

# distinct-n diversity: unique/total unigram + bigram ratios per source
ORACLE_SQL["corpus_distinct_ngrams"] = """
    WITH tok AS (
        SELECT doc_id, source,
               regexp_split_to_array(trim(text), '\\s+') AS toks
        FROM documents
    ), uni AS (
        SELECT source, unnest(toks) AS g FROM tok
    ), bi AS (
        SELECT source, toks[i] || ' ' || toks[i + 1] AS g
        FROM tok, LATERAL unnest(generate_series(1, len(toks) - 1)) AS t(i)
        WHERE len(toks) >= 2
    ), u AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_unigrams,
               CAST(COUNT(DISTINCT g) AS BIGINT) AS distinct_unigrams,
               ROUND(COUNT(DISTINCT g) / CAST(COUNT(*) AS DOUBLE), 6)
                   AS unigrams_diversity
        FROM uni GROUP BY source
    ), b AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_bigrams,
               CAST(COUNT(DISTINCT g) AS BIGINT) AS distinct_bigrams,
               ROUND(COUNT(DISTINCT g) / CAST(COUNT(*) AS DOUBLE), 6)
                   AS bigrams_diversity
        FROM bi GROUP BY source
    )
    SELECT * FROM u JOIN b USING (source)
"""

# keep-first ExactSubstr: same span chain, but the canonical (min doc_id,
# pos) occurrence of each duplicated window is exempt -- one copy of every
# duplicated passage survives. COUNT/ROW_NUMBER over the shingle hash
# replace the dup semi-join.
_SUBSTR_KEEP_FIRST_CTES = _SUBSTR_SPAN_CTES.replace(
    """    ), dup AS (
        SELECT h FROM sh GROUP BY h HAVING COUNT(*) >= 2
    ), marked AS (
        SELECT sh.doc_id, sh.pos FROM sh JOIN dup USING (h)
    ), runs AS (""",
    """    ), occ AS (
        SELECT doc_id, pos,
               COUNT(*) OVER (PARTITION BY h) AS n_occ,
               ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
        FROM sh
    ), marked AS (
        SELECT doc_id, pos FROM occ WHERE n_occ >= 2 AND rn > 1
    ), runs AS (""",
)
assert "ROW_NUMBER() OVER (PARTITION BY h" in _SUBSTR_KEEP_FIRST_CTES

ORACLE_SQL["corpus_substring_dedup_keep_first"] = _SUBSTR_KEEP_FIRST_CTES + r"""
    SELECT doc_id,
           CAST(span_start AS BIGINT) AS span_start,
           CAST(span_end AS BIGINT) AS span_end,
           CAST(span_end - span_start + 1 AS BIGINT) AS n_tokens
    FROM spans
"""

# keep-first APPLY: the keep-first span CTEs + the same cut-and-rebuild
# suffix the default apply oracle uses (sliced off programmatically so the
# two stay identical by construction).
_APPLY_SUFFIX = ORACLE_SQL["corpus_substring_dedup_apply"][len(_SUBSTR_SPAN_CTES):]
assert _APPLY_SUFFIX.lstrip().startswith(", tok AS (")
ORACLE_SQL["corpus_substring_dedup_apply_keep_first"] = (
    _SUBSTR_KEEP_FIRST_CTES + _APPLY_SUFFIX
)

# energy-VAD segments: the spectrogram DFT energies (thresholded on the
# SAME 4-dp-rounded value the operator casts back) merged gaps-and-islands
ORACLE_SQL["multimodal_audio_segments"] = """
    WITH sm AS (
        SELECT doc_id, x // 16 AS f, x % 16 AS n,
               (ascii(substr(text, CAST(x % len(text) AS INTEGER) + 1, 1)) - 128)
               * (0.5 - 0.5 * cos(2 * pi() * (x % 16) / 15.0)) AS u
        FROM documents, UNNEST(generate_series(0, 63)) AS ux(x)
    ), dft AS (
        SELECT doc_id, f, k,
               SUM(u * cos(2 * pi() * k * n / 16.0)) AS re,
               SUM(u * sin(2 * pi() * k * n / 16.0)) AS im
        FROM sm, UNNEST(generate_series(0, 8)) AS uk(k)
        GROUP BY doc_id, f, k
    ), fr AS (
        SELECT doc_id, f AS frame_idx,
               CAST(printf('%.4f',
                    10 * log10(1 + SUM(re * re + im * im))) AS DOUBLE) AS e
        FROM dft GROUP BY doc_id, f
    ), act AS (
        SELECT doc_id, frame_idx,
               frame_idx - ROW_NUMBER() OVER (
                   PARTITION BY doc_id ORDER BY frame_idx) AS island
        FROM fr WHERE e > 51.0
    )
    SELECT doc_id,
           CAST(MIN(frame_idx) AS BIGINT) AS seg_start,
           CAST(MAX(frame_idx) AS BIGINT) AS seg_end,
           CAST(COUNT(*) AS BIGINT) AS n_frames
    FROM act GROUP BY doc_id, island
"""

# k-means|| contract: deterministic init (md5 draws + seeded driver
# reduction) must beat the first-k-by-id seeded quantizer -- all-true row.
ORACLE_SQL["embedding_kmeans_parallel"] = """
    SELECT CAST(8 AS BIGINT) AS n_centroids,
           TRUE AS all_unit_norm,
           TRUE AS beats_seeded
"""

# image dHash dedup: pixel (y, x, c) of the 8x9 RGB grid = text byte
# ((y*27 + x*3 + c) mod n); integer luma (299r + 587g + 114b) // 1000;
# bit(y, x) = lum(y, x) < lum(y, x+1); hash = 64 bits row-major; groups
# with >= 2 members.
ORACLE_SQL["multimodal_image_dedup"] = """
    WITH px AS (
        SELECT doc_id, y, x, c,
               ascii(substr(text,
                   CAST((y * 27 + x * 3 + c) % len(text) AS INTEGER) + 1, 1)) AS v
        FROM documents,
             UNNEST(generate_series(0, 7)) AS uy(y),
             UNNEST(generate_series(0, 8)) AS ux(x),
             UNNEST(generate_series(0, 2)) AS uc(c)
    ), lum AS (
        SELECT doc_id, y, x,
               (299 * MAX(CASE WHEN c = 0 THEN v END)
              + 587 * MAX(CASE WHEN c = 1 THEN v END)
              + 114 * MAX(CASE WHEN c = 2 THEN v END)) // 1000 AS l
        FROM px GROUP BY doc_id, y, x
    ), bits AS (
        SELECT a.doc_id, a.y, a.x,
               CASE WHEN a.l < b.l THEN '1' ELSE '0' END AS bit
        FROM lum a JOIN lum b
          ON a.doc_id = b.doc_id AND a.y = b.y AND b.x = a.x + 1
        WHERE a.x < 8
    ), h AS (
        -- pack the 64 bits (row-major, MSB first) into a signed BIGINT via
        -- two's complement, mirroring operators.multimodal._pack_bits_s64
        SELECT doc_id,
               CAST(CASE WHEN hu >= 9223372036854775808
                         THEN hu - 18446744073709551616
                         ELSE hu END AS BIGINT) AS dhash
        FROM (
            SELECT doc_id,
                   SUM(CASE WHEN bit = '1'
                            THEN CAST(1 AS HUGEINT) << CAST(63 - (y * 8 + x) AS INTEGER)
                            ELSE 0 END) AS hu
            FROM bits GROUP BY doc_id
        )
    )
    SELECT dhash,
           CAST(COUNT(*) AS BIGINT) AS n_images,
           MIN(doc_id) AS keeper_id
    FROM h GROUP BY dhash HAVING COUNT(*) >= 2
"""

# shot keyframes: the shot-boundary pixel CTEs -> cut flags -> running-sum
# shot ids over all 6 frames -> per-shot min/max/middle
ORACLE_SQL["multimodal_shot_keyframes"] = """
    WITH px AS (
        SELECT doc_id, f, i,
               CASE WHEN f >= 3 THEN 255 - v ELSE v END AS y
        FROM (
            SELECT doc_id, f, i,
                   ascii(substr(text,
                       CAST((f * 16 + i) % len(text) AS INTEGER) + 1, 1)) AS v
            FROM documents,
                 UNNEST(generate_series(0, 5)) AS uf(f),
                 UNNEST(generate_series(0, 31)) AS ui(i)
        )
    ), cuts AS (
        SELECT a.doc_id, a.f AS frame_idx,
               AVG(ABS(CAST(a.y AS DOUBLE) - b.y)) > 64.0 AS is_cut
        FROM px a JOIN px b ON a.doc_id = b.doc_id AND a.i = b.i AND b.f = a.f - 1
        WHERE a.f >= 1
        GROUP BY a.doc_id, a.f
    ), frames AS (
        SELECT doc_id, f AS frame_idx
        FROM (SELECT DISTINCT doc_id FROM px),
             UNNEST(generate_series(0, 5)) AS uf(f)
    ), shots AS (
        SELECT fr.doc_id, fr.frame_idx,
               SUM(CASE WHEN COALESCE(c.is_cut, FALSE) THEN 1 ELSE 0 END)
                   OVER (PARTITION BY fr.doc_id ORDER BY fr.frame_idx
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS shot_idx
        FROM frames fr
        LEFT JOIN cuts c
          ON c.doc_id = fr.doc_id AND c.frame_idx = fr.frame_idx
    )
    SELECT doc_id,
           CAST(shot_idx AS BIGINT) AS shot_idx,
           CAST(MIN(frame_idx) AS BIGINT) AS start_frame,
           CAST(MAX(frame_idx) AS BIGINT) AS end_frame,
           CAST((MIN(frame_idx) + MAX(frame_idx)) // 2 AS BIGINT) AS keyframe_idx
    FROM shots GROUP BY doc_id, shot_idx
"""

# streaming PCA maintenance contract: streamed moment accumulation must
# reproduce the batch fit; 3 repartitioned files -> 3 micro-batches.
ORACLE_SQL["stream_embedding_pca"] = """
    SELECT CAST(c AS BIGINT) AS component,
           (SELECT COUNT(*) FROM embeddings) AS n_vectors,
           CAST(3 AS BIGINT) AS n_batches,
           TRUE AS eig_matches,
           TRUE AS component_aligned
    FROM UNNEST(generate_series(0, 3)) AS u(c)
"""

# skip-gram pairs: all (i, j) with |i - j| in [1, 2] within each doc
ORACLE_SQL["corpus_skipgram_pairs"] = r"""
    WITH tok AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        FROM documents
    ), pos AS (
        SELECT doc_id, i, toks[i] AS w, len(toks) AS n
        FROM tok, LATERAL unnest(generate_series(1, len(toks))) AS t(i)
    )
    SELECT a.w AS center, b.w AS context,
           CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM pos a JOIN pos b
      ON a.doc_id = b.doc_id
     AND b.i BETWEEN a.i - 2 AND a.i + 2
     AND b.i <> a.i
    GROUP BY a.w, b.w
"""

# target encoding: smoothed category mean + leave-one-out per row
ORACLE_SQL["orders_target_encoding"] = """
    WITH stats AS (
        SELECT o_orderpriority,
               SUM(o_totalprice) AS s,
               COUNT(o_totalprice) AS n
        FROM orders GROUP BY o_orderpriority
    ), g AS (SELECT AVG(o_totalprice) AS gm FROM orders)
    SELECT o.o_orderkey, o.o_orderpriority,
           ROUND((st.s + 10.0 * g.gm) / (st.n + 10.0), 4) AS te_encoded,
           CASE WHEN st.n > 1
                THEN ROUND((st.s - o.o_totalprice) / (st.n - 1), 4)
           END AS te_loo
    FROM orders o JOIN stats st USING (o_orderpriority), g
"""

# video frame-hash dedup: frame f's luma pixel i = text byte
# ((f*16 + i) mod n), inverted for f >= 3; per (frame row r, col x < 7)
# bit = y(r*8+x) < y(r*8+x+1); 28-bit hash per (doc, frame); distinct
# per-doc hash sets; df <= 100 stop-frame guard; pairs sharing >= 3.
ORACLE_SQL["multimodal_video_dedup"] = """
    WITH px AS (
        SELECT doc_id, f, i,
               CASE WHEN f >= 3 THEN 255 - v ELSE v END AS y
        FROM (
            SELECT doc_id, f, i,
                   ascii(substr(text,
                       CAST((f * 16 + i) % len(text) AS INTEGER) + 1, 1)) AS v
            FROM documents,
                 UNNEST(generate_series(0, 5)) AS uf(f),
                 UNNEST(generate_series(0, 31)) AS ui(i)
        )
    ), bits AS (
        SELECT a.doc_id, a.f,
               (a.i // 8) AS r, (a.i % 8) AS x,
               CASE WHEN a.y < b.y THEN '1' ELSE '0' END AS bit
        FROM px a JOIN px b
          ON a.doc_id = b.doc_id AND a.f = b.f AND b.i = a.i + 1
        WHERE a.i % 8 < 7
    ), fh AS (
        -- 28 bits (by r, x; MSB first) packed into a BIGINT, mirroring
        -- operators.multimodal._pack_bits_s64 (sign never engaged at 28)
        SELECT doc_id, f,
               CAST(SUM(CASE WHEN bit = '1'
                             THEN CAST(1 AS HUGEINT) << CAST(27 - (r * 7 + x) AS INTEGER)
                             ELSE 0 END) AS BIGINT) AS fhash
        FROM bits GROUP BY doc_id, f
    ), h AS (
        SELECT DISTINCT doc_id, fhash FROM fh
    ), rare AS (
        SELECT fhash FROM h GROUP BY fhash HAVING COUNT(*) <= 100
    ), kept AS (
        SELECT h.doc_id, h.fhash FROM h JOIN rare USING (fhash)
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM kept a JOIN kept b
      ON a.fhash = b.fhash AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    HAVING COUNT(*) >= 3
"""

# SGNS negative-sampling table: unigram^0.75 normalized + cumulative in
# token order (vocab-bounded window -- deterministic cumsum sequence)
ORACLE_SQL["corpus_negative_sampling_table"] = r"""
    WITH tok AS (
        SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        FROM documents
    ), c AS (
        SELECT token, CAST(COUNT(*) AS BIGINT) AS n FROM tok GROUP BY token
    ), t AS (SELECT SUM(POW(n, 0.75)) AS z FROM c)
    SELECT token, n,
           ROUND(POW(n, 0.75) / z, 6) AS p_neg,
           ROUND(SUM(POW(n, 0.75)) OVER (
               ORDER BY token
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / z, 6)
               AS cum_p
    FROM c, t
"""

# k-anonymity audit over (nation, segment) quasi-identifiers
ORACLE_SQL["customer_k_anonymity"] = """
    SELECT c_nationkey, c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS class_size,
           COUNT(*) < 5 AS at_risk
    FROM customer GROUP BY 1, 2
"""

# native streaming session windows drain to exactly the batch
# F.session_window answer -- the oracle is shared verbatim
ORACLE_SQL["stream_events_session_native"] = ORACLE_SQL["events_session_window"]

# converged PageRank CONTRACT oracle: the rank values are data-dependent
# (round count varies), so the oracle re-derives the graph's node set and
# asserts the per-node stochastic-matrix witnesses the Spark side computed
# in-plan -- rank in (0,1), ranks sum to 1, epsilon-stop before the cap.
# Any violated flag hash-mismatches against this all-true frame.
ORACLE_SQL["nations_pagerank_converged"] = """
    WITH edges AS (
        SELECT sn.n_name AS src, cn.n_name AS dst
        FROM lineitem l
        JOIN orders o   ON o.o_orderkey = l.l_orderkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation sn  ON sn.n_nationkey = s.s_nationkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation cn  ON cn.n_nationkey = c.c_nationkey
        GROUP BY 1, 2
    )
    SELECT node AS n_name,
           TRUE AS rank_in_unit,
           TRUE AS sum_to_one,
           TRUE AS converged
    FROM (
        SELECT DISTINCT node FROM (
            SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges
        )
    )
"""

# banded-hamming image near-dup: the image_dedup pixel/luma/bit/pack CTEs
# over TWO images per doc (original + first-red-channel +96 variant), then
# the 4x16-bit band equi-join and exact bit_count(xor) <= 3 rerank --
# the SQL mirror of operators.multimodal.image_near_dup_hamming.
ORACLE_SQL["multimodal_image_near_dup"] = """
    WITH px AS (
        SELECT 2 * doc_id + var AS img_id, y, x, c,
               CASE WHEN var = 1 AND y = 0 AND x = 0 AND c = 0
                    THEN (v + 96) % 256 ELSE v END AS v
        FROM (
            SELECT doc_id, y, x, c,
                   ascii(substr(text,
                       CAST((y * 27 + x * 3 + c) % len(text) AS INTEGER) + 1, 1)) AS v
            FROM documents,
                 UNNEST(generate_series(0, 7)) AS uy(y),
                 UNNEST(generate_series(0, 8)) AS ux(x),
                 UNNEST(generate_series(0, 2)) AS uc(c)
        ), UNNEST(generate_series(0, 1)) AS uv(var)
    ), lum AS (
        SELECT img_id, y, x,
               (299 * MAX(CASE WHEN c = 0 THEN v END)
              + 587 * MAX(CASE WHEN c = 1 THEN v END)
              + 114 * MAX(CASE WHEN c = 2 THEN v END)) // 1000 AS l
        FROM px GROUP BY img_id, y, x
    ), bits AS (
        SELECT a.img_id, a.y, a.x,
               CASE WHEN a.l < b.l THEN 1 ELSE 0 END AS bit
        FROM lum a JOIN lum b
          ON a.img_id = b.img_id AND a.y = b.y AND b.x = a.x + 1
        WHERE a.x < 8
    ), h AS (
        SELECT img_id,
               CAST(CASE WHEN hu >= 9223372036854775808
                         THEN hu - 18446744073709551616
                         ELSE hu END AS BIGINT) AS dhash
        FROM (
            SELECT img_id,
                   SUM(CASE WHEN bit = 1
                            THEN CAST(1 AS HUGEINT) << CAST(63 - (y * 8 + x) AS INTEGER)
                            ELSE 0 END) AS hu
            FROM bits GROUP BY img_id
        )
    ), bands0 AS (
        SELECT img_id, dhash, band,
               (dhash >> CAST(48 - 16 * band AS INTEGER)) & 65535 AS chunk
        FROM h, UNNEST(generate_series(0, 3)) AS ub(band)
    ), cool AS (
        SELECT band, chunk FROM bands0 GROUP BY band, chunk
        HAVING COUNT(*) <= 256
    ), bands AS (
        SELECT bands0.* FROM bands0 JOIN cool USING (band, chunk)
    ), cand AS (
        SELECT DISTINCT a.img_id AS id_a, b.img_id AS id_b,
               a.dhash AS h_a, b.dhash AS h_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.chunk = b.chunk AND a.img_id < b.img_id
    )
    SELECT id_a, id_b,
           CAST(bit_count(xor(h_a, h_b)) AS BIGINT) AS hamming
    FROM cand
    WHERE bit_count(xor(h_a, h_b)) <= 3
"""

# ANN recall contract rows (the HLL pattern): the oracle asserts exact
# query keys + k and all-true witnesses; the measured recall is
# deterministic (seeded quantizers) but only contract-bounded in SQL.
ORACLE_SQL["embedding_ivf_recall"] = """
    SELECT vec_id AS query_id,
           CAST(10 AS BIGINT) AS k,
           TRUE AS exact_side_full,
           TRUE AS recall_ok
    FROM embeddings WHERE vec_id < 5
"""

ORACLE_SQL["embedding_pq_recall"] = """
    SELECT vec_id AS query_id,
           CAST(10 AS BIGINT) AS k,
           TRUE AS exact_side_full,
           TRUE AS recall_ok
    FROM embeddings WHERE vec_id < 5
"""

# DSIR quality contract: one all-true row; the KL comparison itself is
# deterministic (md5 draws) but not SQL-bounded -- PERF.md carries the
# measured divergences.
ORACLE_SQL["corpus_dsir_quality"] = """
    SELECT 0.25::DOUBLE AS sel_fraction,
           TRUE AS n_selected_matches,
           TRUE AS improves_over_random,
           TRUE AS kl_finite
"""

# asymmetric containment dedup: the jaccard inverted-index CTEs plus the
# max_df stop-shingle guard, intersection computed once per unordered pair
# then fanned into both directed rows
ORACLE_SQL["dedup_containment"] = r"""
    WITH sh0 AS (
        SELECT DISTINCT doc_id,
               unnest(list_transform(
                   generate_series(1, greatest(len(toks) - 2, 1)),
                   i -> array_to_string(toks[i:i+2], ' '))) AS shingle
        FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
              FROM documents)
    ), keep AS (
        SELECT shingle FROM sh0 GROUP BY shingle
        HAVING COUNT(DISTINCT doc_id) <= 100
    ), sh AS (
        SELECT sh0.doc_id, sh0.shingle FROM sh0 JOIN keep USING (shingle)
    ), sizes AS (
        SELECT doc_id, COUNT(shingle) AS n FROM sh GROUP BY 1
    ), inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ), pair2 AS (
        SELECT doc_a, doc_b, n_common, sa.n AS size_a, sb.n AS size_b
        FROM inter JOIN sizes sa ON inter.doc_a = sa.doc_id
                   JOIN sizes sb ON inter.doc_b = sb.doc_id
    ), directed AS (
        SELECT doc_a AS doc_id, doc_b AS container_id, n_common,
               size_a AS size
        FROM pair2
        UNION ALL
        SELECT doc_b, doc_a, n_common, size_b FROM pair2
    )
    SELECT doc_id, container_id, n_common, size,
           ROUND(n_common / size, 4) AS containment
    FROM directed
    WHERE ROUND(n_common / size, 4) >= 0.8
"""

# length-bucketed context packing: closed-form per-bucket bin capacity,
# row_number binning, per-bin padding accounting
ORACLE_SQL["corpus_context_pack"] = r"""
    WITH d AS (
        SELECT doc_id, len(regexp_split_to_array(trim(text), '\s+')) AS nt
        FROM documents
    ), b AS (
        SELECT doc_id, nt, nt // 32 AS lbucket,
               GREATEST(1, 512 // ((nt // 32 + 1) * 32)) AS dpb
        FROM d
    ), r AS (
        SELECT doc_id, nt, lbucket, dpb,
               ROW_NUMBER() OVER (PARTITION BY lbucket ORDER BY doc_id) AS rk
        FROM b
    )
    SELECT CAST(lbucket AS BIGINT) AS lbucket,
           CAST((rk - 1) // dpb AS BIGINT) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(nt) AS BIGINT) AS sum_tokens,
           CAST(GREATEST(0, 512 - SUM(nt)) AS BIGINT) AS padding,
           BOOL_OR(nt >= 512) AS any_truncated
    FROM r GROUP BY 1, 2
"""

# PSI drift monitor: fixed-width buckets + add-one smoothing, alert on the
# ROUNDED value so the flag is engine-exact
ORACLE_SQL["corpus_psi_drift"] = """
    WITH c AS (
        SELECT source AS grp, LEAST(n_chars // 256, 15) AS bucket,
               COUNT(*) AS n
        FROM documents GROUP BY 1, 2
    ), grid AS (
        SELECT g.grp, b.bucket
        FROM (SELECT DISTINCT grp FROM c) g,
             UNNEST(generate_series(0, 15)) AS b(bucket)
    ), dense AS (
        SELECT grid.grp, grid.bucket, COALESCE(c.n, 0) AS n
        FROM grid LEFT JOIN c
          ON c.grp = grid.grp AND c.bucket = grid.bucket
    ), tot AS (
        SELECT grp, SUM(n) AS t FROM dense GROUP BY 1
    ), dist AS (
        SELECT dense.grp, bucket, (n + 1) / (t + 16.0) AS p
        FROM dense JOIN tot USING (grp)
    ), ref AS (
        SELECT bucket, p AS p_ref FROM dist WHERE grp = 'src0'
    )
    SELECT grp AS source,
           ROUND(SUM((p - p_ref) * (ln(p) - ln(p_ref))), 6) AS psi,
           ROUND(SUM((p - p_ref) * (ln(p) - ln(p_ref))), 6) > 0.2 AS drifted
    FROM dist JOIN ref USING (bucket)
    WHERE grp <> 'src0'
    GROUP BY 1
"""

# streaming drift monitor: per deterministic split (user_id % 3), PSI of
# the split's value histogram vs the GLOBAL reference -- the availableNow
# drain yields one micro-batch per split, so the streaming answer equals
# this batch SQL
ORACLE_SQL["stream_quality_drift"] = """
    WITH e AS (
        SELECT user_id % 3 AS split,
               LEAST(CAST(FLOOR(value / 32) AS INTEGER), 15) AS bucket
        FROM events
    ), c AS (
        SELECT split, bucket, COUNT(*) AS n FROM e GROUP BY 1, 2
    ), grid AS (
        SELECT s.split, b.bucket
        FROM (SELECT DISTINCT split FROM e) s,
             UNNEST(generate_series(0, 15)) AS b(bucket)
    ), dense AS (
        SELECT grid.split, grid.bucket, COALESCE(c.n, 0) AS n
        FROM grid LEFT JOIN c
          ON c.split = grid.split AND c.bucket = grid.bucket
    ), tot AS (
        SELECT split, SUM(n) AS t FROM dense GROUP BY 1
    ), dist AS (
        SELECT dense.split, bucket, (n + 1) / (t + 16.0) AS p, t
        FROM dense JOIN tot USING (split)
    ), gref AS (
        SELECT b.bucket,
               (COALESCE(cg.n, 0) + 1)
                   / ((SELECT COUNT(*) FROM e) + 16.0) AS p_ref
        FROM UNNEST(generate_series(0, 15)) AS b(bucket)
        LEFT JOIN (SELECT bucket, COUNT(*) AS n FROM e GROUP BY 1) cg
          ON cg.bucket = b.bucket
    )
    SELECT CAST(split AS INTEGER) AS split,
           CAST(MAX(t) AS BIGINT) AS n_events,
           ROUND(SUM((p - p_ref) * (ln(p) - ln(p_ref))), 6) AS psi,
           ROUND(SUM((p - p_ref) * (ln(p) - ln(p_ref))), 6) > 0.2 AS drifted
    FROM dist JOIN gref USING (bucket)
    GROUP BY split
"""

# Count-Min sketch: md5 hash columns make the sketch deterministic, so the
# oracle recomputes it EXACTLY -- estimates and both bound witnesses
ORACLE_SQL["corpus_token_cms"] = r"""
    WITH tok AS (
        SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS item
        FROM documents
    ), tot AS (SELECT COUNT(*) AS n FROM tok),
    truec AS (SELECT item, COUNT(*) AS true_n FROM tok GROUP BY 1),
    q AS (
        SELECT item, true_n FROM truec
        ORDER BY true_n DESC, item ASC LIMIT 20
    ), cells AS (
        SELECT CAST(('0x' || substr(md5('cms' || r || ':' || item), 1, 8))
                    AS BIGINT) % 1024 AS c, r
        FROM tok, UNNEST(generate_series(0, 3)) AS ur(r)
    ), sketch AS (
        SELECT r, c, COUNT(*) AS n FROM cells GROUP BY 1, 2
    ), qc AS (
        SELECT q.item, q.true_n, ur.r,
               CAST(('0x' || substr(md5('cms' || ur.r || ':' || q.item), 1, 8))
                    AS BIGINT) % 1024 AS c
        FROM q, UNNEST(generate_series(0, 3)) AS ur(r)
    ), est AS (
        SELECT qc.item, MAX(qc.true_n) AS true_n,
               MIN(COALESCE(s.n, 0)) AS est_n
        FROM qc LEFT JOIN sketch s ON s.r = qc.r AND s.c = qc.c
        GROUP BY qc.item
    )
    SELECT item,
           CAST(est_n AS BIGINT) AS est_n,
           CAST(true_n AS BIGINT) AS true_n,
           est_n >= true_n AS never_under,
           est_n <= true_n + CAST(CEIL(2.0 * (SELECT n FROM tot) / 1024)
                                  AS BIGINT) AS within_eps
    FROM est
"""

# unigram-LM tokenizer training: EM fixpoint -> contract row (the
# converged-PageRank pattern); the lattice math is pinned by the
# pure-python parity unit test
ORACLE_SQL["corpus_unigram_train"] = """
    SELECT TRUE AS vocab_in_bounds,
           TRUE AS em_monotone,
           TRUE AS probs_normalized,
           TRUE AS encode_compresses
"""

# interpolated Kneser-Ney held-out perplexity: closed-form arithmetic over
# deterministic hash-split counts -- recomputed exactly, incl. verdicts
ORACLE_SQL["corpus_kn_perplexity"] = r"""
    WITH d AS (
        SELECT doc_id, lang,
               CAST(('0x' || substr(md5('knsplit:' || CAST(doc_id AS VARCHAR)), 1, 8))
                    AS BIGINT) % 1000000 < 800000 AS tr,
               regexp_split_to_array(trim(text), '\s+') AS toks
        FROM documents
    ), bg AS (
        SELECT lang, tr,
               array_to_string(toks[i:i+1], ' ') AS bigram,
               split_part(array_to_string(toks[i:i+1], ' '), ' ', 1) AS w1,
               split_part(array_to_string(toks[i:i+1], ' '), ' ', 2) AS w2
        FROM d, LATERAL unnest(generate_series(1, greatest(len(toks) - 1, 1))) AS t(i)
    ), c_bg AS (
        SELECT bigram, COUNT(*) AS c FROM bg WHERE tr GROUP BY 1
    ), w1s AS (
        SELECT w1, COUNT(*) AS c1, COUNT(DISTINCT w2) AS n1fw
        FROM bg WHERE tr GROUP BY 1
    ), w2c AS (
        SELECT w2, COUNT(*) AS n1l
        FROM (SELECT DISTINCT w1, w2 FROM bg WHERE tr) GROUP BY 1
    ), scal AS (
        SELECT (SELECT COUNT(DISTINCT bigram) FROM bg WHERE tr) AS t_types,
               (SELECT COUNT(*) FROM (
                   SELECT w1 AS w FROM bg WHERE tr
                   UNION SELECT w2 FROM bg WHERE tr)) AS v
    ), ev AS (
        SELECT e.lang,
               CASE WHEN c_bg.c IS NOT NULL
                    THEN greatest(c_bg.c - 0.75, 0) / w1s.c1
                    ELSE 0.0 END
             + CASE WHEN w1s.c1 IS NOT NULL
                    THEN 0.75 * w1s.n1fw / w1s.c1 ELSE 1.0 END
               * ((COALESCE(w2c.n1l, 0) + 1) / (scal.t_types + scal.v + 1.0))
               AS p_kn,
               CASE WHEN w1s.c1 IS NOT NULL
                    THEN (COALESCE(c_bg.c, 0) + 1) / (w1s.c1 + scal.v + 1.0)
                    ELSE 1.0 / (scal.v + 1.0) END AS p_lap
        FROM bg e
        LEFT JOIN c_bg USING (bigram)
        LEFT JOIN w1s USING (w1)
        LEFT JOIN w2c USING (w2)
        CROSS JOIN scal
        WHERE NOT e.tr
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_eval_bigrams,
           ROUND(EXP(-AVG(LN(p_kn))), 4) AS ppl_kn,
           ROUND(EXP(-AVG(LN(p_lap))), 4) AS ppl_laplace,
           ROUND(EXP(-AVG(LN(p_kn))), 4)
               < ROUND(EXP(-AVG(LN(p_lap))), 4) AS kn_beats_laplace
    FROM ev GROUP BY lang
"""

# count-capped class balancing: per-stratum md5-ordered row_number <= cap
ORACLE_SQL["corpus_balanced_sample"] = """
    SELECT doc_id, lang, CAST(rk AS BIGINT) AS sample_rank
    FROM (
        SELECT doc_id, lang,
               ROW_NUMBER() OVER (
                   PARTITION BY lang
                   ORDER BY CAST(('0x' || substr(md5('balance:' ||
                       CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                       % 1000000 ASC,
                       doc_id ASC) AS rk
        FROM documents
    )
    WHERE rk <= 60
"""

# matryoshka truncation audit: contract keys (5 queries x 2 prefix widths),
# all-true flags; the 64-dim row is the structural identity invariant
ORACLE_SQL["embedding_matryoshka_recall"] = """
    SELECT vec_id AS query_id,
           CAST(10 AS BIGINT) AS k,
           TRUE AS exact_side_full,
           TRUE AS recall_ok,
           CAST(d AS BIGINT) AS dims
    FROM embeddings, UNNEST([16, 64]) AS u(d)
    WHERE vec_id < 5
"""

# incremental CC maintenance: the hash-checked claim IS the contraction
# identity -- incremental labels must equal the full recompute, so the
# oracle is dedup_clusters' recursive-CTE full recompute verbatim
ORACLE_SQL["dedup_clusters_incremental"] = ORACLE_SQL["dedup_clusters"]

# streaming incremental cluster maintenance: full-recompute recursive CTE
# (the dedup_clusters oracle WITHOUT the df guard -- the streaming path
# drops max_df so per-batch Jaccard pairs are doc-local and order-free)
ORACLE_SQL["stream_dedup_clusters"] = r"""
    WITH RECURSIVE sh AS (
        SELECT DISTINCT doc_id,
               unnest(list_transform(
                   generate_series(1, greatest(len(toks) - 2, 1)),
                   i -> array_to_string(toks[i:i+2], ' '))) AS shingle
        FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
              FROM documents)
    ), sizes AS (
        SELECT doc_id, COUNT(shingle) AS n FROM sh GROUP BY 1
    ), inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ), p AS (
        SELECT doc_a, doc_b
        FROM inter
        JOIN sizes sa ON inter.doc_a = sa.doc_id
        JOIN sizes sb ON inter.doc_b = sb.doc_id
        WHERE ROUND(n_common / (sa.n + sb.n - n_common), 4) >= 0.2
    ), edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM p
        UNION SELECT doc_b, doc_a FROM p
    ), reach(src, dst) AS (
        SELECT src, dst FROM edges
        UNION
        SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    ), labeled AS (
        SELECT d.doc_id,
               LEAST(d.doc_id, COALESCE(MIN(r.dst), d.doc_id)) AS cluster_id
        FROM documents d LEFT JOIN reach r ON r.src = d.doc_id
        GROUP BY d.doc_id
    )
    SELECT doc_id, cluster_id,
           CAST(doc_id = cluster_id AS INTEGER) AS is_keeper
    FROM labeled
"""

# Kaplan-Meier: reverse-cumulative risk sets + ln-sum survival product
# over the bounded lifetime histogram; 1e-300 floor mirrors the Spark
# guard for the d == n last-event edge
ORACLE_SQL["customer_survival_km"] = """
    WITH life AS (
        SELECT o_custkey,
               date_diff('day', MIN(o_orderdate), MAX(o_orderdate)) AS t_days,
               CASE WHEN date_diff('day', MAX(o_orderdate),
                        (SELECT MAX(o_orderdate) FROM orders)) > 90
                    THEN 1 ELSE 0 END AS ev
        FROM orders GROUP BY 1
    ), hist AS (
        SELECT t_days, COUNT(*) AS n_at, SUM(ev) AS n_events
        FROM life GROUP BY 1
    ), risk AS (
        SELECT t_days, n_at, n_events,
               SUM(n_at) OVER (ORDER BY t_days DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_risk
        FROM hist
    )
    SELECT CAST(t_days AS BIGINT) AS t_days,
           CAST(n_risk AS BIGINT) AS n_risk,
           CAST(n_events AS BIGINT) AS n_events,
           ROUND(EXP(SUM(LN(GREATEST(1.0 - n_events / CAST(n_risk AS DOUBLE),
                                     1e-300)))
               OVER (ORDER BY t_days ASC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 6)
               AS survival
    FROM risk
    QUALIFY n_events > 0
"""

# trained-PQ improvement contract: deterministic training => stable flags
ORACLE_SQL["embedding_pq_trained"] = """
    SELECT CAST(4 AS BIGINT) AS m,
           CAST(16 AS BIGINT) AS n_codes,
           TRUE AS trained_beats_seeded,
           TRUE AS errs_finite
"""

# label-propagation communities: 3 synchronized rounds unrolled in SQL
# (the 3-round-PageRank exact-twin pattern), ties to smallest label
ORACLE_SQL["nations_communities"] = """
    WITH edges AS (
        SELECT sn.n_name AS src, cn.n_name AS dst,
               CAST(ROUND(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                                   AS DECIMAL(38,6))), 2) AS DOUBLE) AS w
        FROM lineitem l
        JOIN orders o   ON o.o_orderkey = l.l_orderkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation sn  ON sn.n_nationkey = s.s_nationkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation cn  ON cn.n_nationkey = c.c_nationkey
        GROUP BY 1, 2
    ), sym AS (
        SELECT src AS u, dst AS v, w FROM edges
        UNION ALL SELECT dst, src, w FROM edges
    ), nodes AS (SELECT DISTINCT u AS node FROM sym),
    l0 AS (SELECT node, node AS label FROM nodes),
    v1 AS (
        SELECT s.v, l.label, ROUND(SUM(s.w), 6) AS wsum
        FROM sym s JOIN l0 l ON l.node = s.u GROUP BY 1, 2
    ), p1 AS (
        SELECT v AS node, label FROM (
            SELECT v, label, ROW_NUMBER() OVER (
                PARTITION BY v ORDER BY wsum DESC, label ASC) AS rk
            FROM v1) WHERE rk = 1
    ), l1 AS (
        SELECT n.node, COALESCE(p.label, n.node) AS label
        FROM nodes n LEFT JOIN p1 p USING (node)
    ), v2 AS (
        SELECT s.v, l.label, ROUND(SUM(s.w), 6) AS wsum
        FROM sym s JOIN l1 l ON l.node = s.u GROUP BY 1, 2
    ), p2 AS (
        SELECT v AS node, label FROM (
            SELECT v, label, ROW_NUMBER() OVER (
                PARTITION BY v ORDER BY wsum DESC, label ASC) AS rk
            FROM v2) WHERE rk = 1
    ), l2 AS (
        SELECT n.node, COALESCE(p.label, n.node) AS label
        FROM nodes n LEFT JOIN p2 p USING (node)
    ), v3 AS (
        SELECT s.v, l.label, ROUND(SUM(s.w), 6) AS wsum
        FROM sym s JOIN l2 l ON l.node = s.u GROUP BY 1, 2
    ), p3 AS (
        SELECT v AS node, label FROM (
            SELECT v, label, ROW_NUMBER() OVER (
                PARTITION BY v ORDER BY wsum DESC, label ASC) AS rk
            FROM v3) WHERE rk = 1
    ), l3 AS (
        SELECT n.node, COALESCE(p.label, n.node) AS label
        FROM nodes n LEFT JOIN p3 p USING (node)
    )
    SELECT node AS n_name, label AS community FROM l3
"""

# l-diversity audit: distinct sensitive-bucket count per quasi-id class
ORACLE_SQL["customer_l_diversity"] = """
    SELECT c_nationkey, c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS class_size,
           CAST(COUNT(DISTINCT CASE
                WHEN c_acctbal < 0 THEN 'negative'
                WHEN c_acctbal < 5000 THEN 'low'
                ELSE 'high' END) AS BIGINT) AS l_distinct,
           COUNT(DISTINCT CASE
                WHEN c_acctbal < 0 THEN 'negative'
                WHEN c_acctbal < 5000 THEN 'low'
                ELSE 'high' END) < 2 AS below_l
    FROM customer GROUP BY 1, 2
"""

# streaming merged-MG heavy hitters: candidates are a guaranteed superset,
# the re-count is exact -- shares the batch oracle verbatim
ORACLE_SQL["stream_events_heavy_hitters"] = ORACLE_SQL["events_heavy_hitters"]

# log-rank test: observed/expected/variance sums over the lifetime
# histogram, closed form; 1e-12 variance floor mirrors the Spark guard
ORACLE_SQL["customer_survival_logrank"] = """
    WITH life AS (
        SELECT o.o_custkey,
               date_diff('day', MIN(o.o_orderdate), MAX(o.o_orderdate)) AS t_days,
               CASE WHEN date_diff('day', MAX(o.o_orderdate),
                        (SELECT MAX(o_orderdate) FROM orders)) > 90
                    THEN 1 ELSE 0 END AS ev,
               CASE WHEN MAX(c.c_mktsegment) = 'BUILDING' THEN 1 ELSE 0 END AS g1
        FROM orders o LEFT JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY 1
    ), hist AS (
        SELECT t_days, COUNT(*) AS n_at, SUM(g1) AS n1_at,
               SUM(ev) AS d, SUM(ev * g1) AS o1
        FROM life GROUP BY 1
    ), risk AS (
        SELECT t_days, d, o1,
               SUM(n_at) OVER (ORDER BY t_days DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n,
               SUM(n1_at) OVER (ORDER BY t_days DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n1
        FROM hist
    ), terms AS (
        SELECT d, o1,
               d * n1 / CAST(n AS DOUBLE) AS e1,
               CASE WHEN n > 1
                    THEN d * (n1 / CAST(n AS DOUBLE))
                         * (1 - n1 / CAST(n AS DOUBLE))
                         * (n - d) / (n - 1.0)
                    ELSE 0.0 END AS v
        FROM risk WHERE d > 0
    )
    SELECT CAST(SUM(d) AS BIGINT) AS n_events_total,
           ROUND(POW(SUM(o1 - e1), 2) / GREATEST(SUM(v), 1e-12), 6) AS chi2,
           POW(SUM(o1 - e1), 2) / GREATEST(SUM(v), 1e-12) > 3.841
               AS reject_at_05
    FROM terms
"""

# A/B test: md5-bucketed variants, pooled two-proportion z, closed form
ORACLE_SQL["events_ab_test"] = """
    WITH pu AS (
        SELECT user_id,
               MAX(CASE WHEN event_type = 'purchase' AND value > 150 THEN 1 ELSE 0 END) AS conv,
               CASE WHEN CAST(('0x' || substr(md5('abtest:' ||
                        CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT)
                        % 1000000 < 500000
                    THEN 1 ELSE 0 END AS variant
        FROM events GROUP BY user_id
    ), g AS (
        SELECT variant, COUNT(*) AS n, SUM(conv) AS x
        FROM pu GROUP BY 1
    ), j AS (
        SELECT a.n AS n1, a.x AS x1, b.n AS n0, b.x AS x0
        FROM (SELECT n, x FROM g WHERE variant = 1) a,
             (SELECT n, x FROM g WHERE variant = 0) b
    )
    SELECT CAST(n1 AS BIGINT) AS n_treat,
           CAST(n0 AS BIGINT) AS n_control,
           ROUND(x1 / CAST(n1 AS DOUBLE), 6) AS cr_treat,
           ROUND(x0 / CAST(n0 AS DOUBLE), 6) AS cr_control,
           ROUND((x1 / CAST(n1 AS DOUBLE) - x0 / CAST(n0 AS DOUBLE))
               / SQRT(GREATEST(
                   ((x1 + x0) / CAST(n1 + n0 AS DOUBLE))
                   * (1 - (x1 + x0) / CAST(n1 + n0 AS DOUBLE))
                   * (1.0 / n1 + 1.0 / n0), 1e-300)), 6) AS z,
           ABS((x1 / CAST(n1 AS DOUBLE) - x0 / CAST(n0 AS DOUBLE))
               / SQRT(GREATEST(
                   ((x1 + x0) / CAST(n1 + n0 AS DOUBLE))
                   * (1 - (x1 + x0) / CAST(n1 + n0 AS DOUBLE))
                   * (1.0 / n1 + 1.0 / n0), 1e-300))) > 1.96 AS reject_at_05
    FROM j
"""

# NDCG@10 of the BM25 ranking vs term-coverage graded relevance: the
# bm25 CTEs + DCG over the top-10 and IDCG over the corpus-ideal ordering
ORACLE_SQL["retrieval_ndcg"] = r"""
    WITH toks AS (
        SELECT doc_id,
               unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        FROM documents
    ),
    tf AS (
        SELECT doc_id, term, COUNT(*) AS tf
        FROM toks WHERE term IN ('dup', 'key', 'fast')
        GROUP BY 1, 2
    ),
    dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
    stats AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
               AVG(len(regexp_split_to_array(trim(text), '\s+'))) AS avgdl
        FROM documents
    ),
    dl AS (
        SELECT doc_id,
               CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE) AS dl
        FROM documents
    ),
    scored AS (
        SELECT tf.doc_id,
               COUNT(*) AS n_terms_matched,
               ROUND(SUM(
                   ln(1 + (n_docs - df + 0.5) / (df + 0.5))
                   * tf * (1.2 + 1)
                   / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))
               ), 4) AS score
        FROM tf
        JOIN dfreq USING (term)
        JOIN dl ON dl.doc_id = tf.doc_id
        CROSS JOIN stats
        GROUP BY tf.doc_id
    ),
    top AS (
        SELECT doc_id, CAST(n_terms_matched AS DOUBLE) AS rel,
               ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS rank
        FROM scored ORDER BY score DESC, doc_id ASC LIMIT 10
    ),
    dcg AS (
        SELECT SUM((POW(2.0, rel) - 1) / LOG2(rank + 1)) AS dcg FROM top
    ),
    rel_all AS (
        SELECT doc_id, CAST(COUNT(DISTINCT term) AS DOUBLE) AS rel
        FROM toks WHERE term IN ('dup', 'key', 'fast')
        GROUP BY 1
    ),
    ideal AS (
        SELECT rel,
               ROW_NUMBER() OVER (ORDER BY rel DESC, doc_id ASC) AS rank
        FROM rel_all ORDER BY rel DESC, doc_id ASC LIMIT 10
    ),
    idcg AS (
        SELECT SUM((POW(2.0, rel) - 1) / LOG2(rank + 1)) AS idcg FROM ideal
    )
    SELECT CAST(10 AS BIGINT) AS k,
           ROUND(dcg, 6) AS dcg,
           ROUND(idcg, 6) AS idcg,
           ROUND(dcg / idcg, 6) AS ndcg
    FROM dcg, idcg
"""

# empirical LSH S-curve: recall of the banded-MinHash candidate join
# against exact Jaccard >= 0.2 truth, per 0.2-wide bucket; composes the
# two existing dedup oracles verbatim, so recall is recomputed EXACTLY
ORACLE_SQL["dedup_lsh_recall"] = f"""
    WITH exact AS (
        SELECT doc_a, doc_b, jaccard
        FROM ({ORACLE_SQL["dedup_ngram_jaccard"]})
    ),
    cand AS (
        SELECT doc_a, doc_b FROM ({ORACLE_SQL["dedup_minhash_lsh"]})
    )
    SELECT CASE WHEN jaccard < 0.4 THEN '0.2-0.4'
                WHEN jaccard < 0.6 THEN '0.4-0.6'
                WHEN jaccard < 0.8 THEN '0.6-0.8'
                ELSE '0.8-1.0' END AS j_bucket,
           COUNT(*) AS n_true_pairs,
           CAST(SUM(CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_candidates,
           ROUND(SUM(CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END) * 1.0
                 / COUNT(*), 4) AS recall
    FROM exact e
    LEFT JOIN cand c ON e.doc_a = c.doc_a AND e.doc_b = c.doc_b
    GROUP BY 1
"""

# sampled production mode of the recall audit: a CTE named `documents`
# SHADOWS the base view (main.documents) with the deterministic md5
# half-sample, so the two composed oracles below recompute over exactly
# the docs Spark's hash_sample(0.5, salt='lshrecall') keeps
ORACLE_SQL["dedup_lsh_recall_sampled"] = f"""
    WITH documents AS (
        SELECT * FROM main.documents
        WHERE CAST(('0x' || substr(md5('lshrecall:' || CAST(doc_id AS VARCHAR)),
                    1, 8)) AS BIGINT) % 1000000 < 500000
    ),
    exact AS (
        SELECT doc_a, doc_b, jaccard
        FROM ({ORACLE_SQL["dedup_ngram_jaccard"]})
    ),
    cand AS (
        SELECT doc_a, doc_b FROM ({ORACLE_SQL["dedup_minhash_lsh"]})
    )
    SELECT CASE WHEN jaccard < 0.4 THEN '0.2-0.4'
                WHEN jaccard < 0.6 THEN '0.4-0.6'
                WHEN jaccard < 0.8 THEN '0.6-0.8'
                ELSE '0.8-1.0' END AS j_bucket,
           COUNT(*) AS n_true_pairs,
           CAST(SUM(CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_candidates,
           ROUND(SUM(CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END) * 1.0
                 / COUNT(*), 4) AS recall
    FROM exact e
    LEFT JOIN cand c ON e.doc_a = c.doc_a AND e.doc_b = c.doc_b
    GROUP BY 1
"""


def _auc_sql(scored_rel: str) -> str:
    """Exact Mann-Whitney AUC + tie-corrected z over a relation with
    columns (s, y) -- mirrors operators.analytics.roc_auc's value-grouped
    rank construction term for term."""
    return f"""
        SELECT CAST(n_pos AS BIGINT) AS n_pos,
               CAST(n_neg AS BIGINT) AS n_neg,
               ROUND(u / (n_pos * n_neg), 6) AS auc,
               ROUND(u, 4) AS u,
               ROUND((u - n_pos * n_neg / 2.0)
                     / GREATEST(SQRT(n_pos * n_neg / 12.0
                         * ((n + 1) - tie_term / (n * (n - 1)))), 1e-300),
                     6) AS z,
               ABS((u - n_pos * n_neg / 2.0)
                   / GREATEST(SQRT(n_pos * n_neg / 12.0
                       * ((n + 1) - tie_term / (n * (n - 1)))), 1e-300))
                   > 1.96 AS significant
        FROM (
            SELECT SUM(tp * avg_rank) - SUM(tp) * (SUM(tp) + 1) / 2.0 AS u,
                   SUM(tp) AS n_pos,
                   SUM(t - tp) AS n_neg,
                   SUM(t) AS n,
                   SUM(POW(t, 3) - t) AS tie_term
            FROM (
                SELECT t, tp,
                       COALESCE(SUM(t) OVER (ORDER BY s
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND 1 PRECEDING), 0) + 1 + (t - 1) / 2.0
                           AS avg_rank
                FROM (
                    SELECT s, COUNT(*) AS t, SUM(y) AS tp
                    FROM {scored_rel} GROUP BY s
                )
            )
        )
    """


ORACLE_SQL["text_quality_auc"] = f"""
    WITH g AS ({ORACLE_SQL["text_gopher_quality"]}),
    cls AS ({ORACLE_SQL["text_quality_classifier"]}),
    scored_model AS (
        SELECT cls.score AS s, CAST(g.keep AS INT) AS y
        FROM cls JOIN g USING (doc_id)
    ),
    scored_dens AS (
        SELECT ROUND(stopword_hits / n_tokens, 6) AS s,
               CAST(keep AS INT) AS y
        FROM g
    )
    SELECT *, 'model' AS scorer FROM ({_auc_sql("scored_model")})
    UNION ALL
    SELECT *, 'stopword_density' AS scorer FROM ({_auc_sql("scored_dens")})
"""

ORACLE_SQL["quality_rater_agreement"] = f"""
    WITH g AS ({ORACLE_SQL["text_gopher_quality"]}),
    cls AS ({ORACLE_SQL["text_quality_classifier"]}),
    j AS (
        SELECT CAST(g.keep AS INT) AS a, CAST(cls.keep AS INT) AS b
        FROM g JOIN cls USING (doc_id)
    ),
    agg AS (
        SELECT COUNT(*) AS n,
               AVG(CASE WHEN a = b THEN 1 ELSE 0 END) AS po,
               AVG(a) AS pa, AVG(b) AS pb
        FROM j
    )
    SELECT n AS n_docs,
           ROUND(po, 6) AS po,
           ROUND(pa * pb + (1 - pa) * (1 - pb), 6) AS pe,
           ROUND((po - (pa * pb + (1 - pa) * (1 - pb)))
                 / (1 - (pa * pb + (1 - pa) * (1 - pb))), 6) AS kappa
    FROM agg
"""

ORACLE_SQL["quality_calibration"] = f"""
    WITH g AS ({ORACLE_SQL["text_gopher_quality"]}),
    cls AS ({ORACLE_SQL["text_quality_classifier"]}),
    scored AS (
        SELECT cls.score AS score, CAST(g.keep AS INT) AS y
        FROM cls JOIN g USING (doc_id)
    )
    SELECT LEAST(CAST(FLOOR(score * 10) AS BIGINT), 9) AS bin,
           ROUND(LEAST(CAST(FLOOR(score * 10) AS BIGINT), 9) / 10, 2) AS lo,
           COUNT(*) AS n_docs,
           ROUND(AVG(score), 6) AS mean_score,
           ROUND(AVG(y), 6) AS frac_pos,
           ROUND(AVG(POW(score - y, 2)), 6) AS brier
    FROM scored
    GROUP BY 1
"""

# per-type A/B z-tests + Benjamini-Hochberg: same md5 variant split and
# pooled-variance z as events_ab_test, the same Abramowitz-Stegun 26.2.17
# normal polynomial as the Spark side, the same running-min q-values
ORACLE_SQL["events_ab_fdr"] = """
    WITH pu AS (
        SELECT event_type, user_id,
               MAX(CASE WHEN value > 150 THEN 1 ELSE 0 END) AS conv,
               CASE WHEN CAST(('0x' || substr(md5('abtest:' ||
                        CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT)
                        % 1000000 < 500000
                    THEN 1 ELSE 0 END AS variant
        FROM events GROUP BY 1, 2
    ), g AS (
        SELECT event_type,
               CAST(SUM(variant) AS BIGINT) AS n1,
               CAST(SUM(variant * conv) AS BIGINT) AS x1,
               CAST(SUM(1 - variant) AS BIGINT) AS n0,
               CAST(SUM((1 - variant) * conv) AS BIGINT) AS x0
        FROM pu GROUP BY 1
    ), tests AS (
        SELECT *,
               ROUND((x1 / CAST(n1 AS DOUBLE) - x0 / CAST(n0 AS DOUBLE))
                   / SQRT(GREATEST(
                       ((x1 + x0) / CAST(n1 + n0 AS DOUBLE))
                       * (1 - (x1 + x0) / CAST(n1 + n0 AS DOUBLE))
                       * (1.0 / n1 + 1.0 / n0), 1e-300)), 6) AS z
        FROM g
    ), pvals AS (
        SELECT *,
               ROUND(2.0 * (EXP(-ABS(z) * ABS(z) / 2.0) / 2.5066282746310002)
                   * (0.319381530 * (1.0 / (1.0 + 0.2316419 * ABS(z)))
                      - 0.356563782 * POW(1.0 / (1.0 + 0.2316419 * ABS(z)), 2)
                      + 1.781477937 * POW(1.0 / (1.0 + 0.2316419 * ABS(z)), 3)
                      - 1.821255978 * POW(1.0 / (1.0 + 0.2316419 * ABS(z)), 4)
                      + 1.330274429 * POW(1.0 / (1.0 + 0.2316419 * ABS(z)), 5)),
                   6) AS p_value
        FROM tests
    ), stepped AS (
        SELECT *,
               COUNT(*) OVER () AS m,
               ROW_NUMBER() OVER (ORDER BY p_value ASC, event_type ASC)
                   AS p_rank
        FROM pvals
    )
    SELECT event_type, n1, x1, n0, x0, z, p_value,
           CAST(p_rank AS BIGINT) AS p_rank,
           ROUND(LEAST(MIN(p_value * m / p_rank) OVER (
               ORDER BY p_rank DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 1.0), 6)
               AS q_value,
           ROUND(LEAST(MIN(p_value * m / p_rank) OVER (
               ORDER BY p_rank DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 1.0), 6)
               <= 0.10 AS discovery
    FROM stepped
"""


def _mmr_sql(k: int = 10, lam: float = 0.7, n_cand: int = 20) -> str:
    """Unrolled-greedy MMR oracle: stage i picks the argmax of
    lam*rel - (1-lam)*max(sim to already-selected), rounded 6 dp, id
    tie-break -- the literal trajectory mmr_rerank walks. Coefficients
    are emitted with full repr so the SQL doubles equal the Python
    doubles (1 - 0.7 is 0.30000000000000004, not 0.3)."""
    l_ = repr(float(lam))
    oml = repr(1.0 - float(lam))
    stages = [
        f"""sel1 AS MATERIALIZED (
        SELECT doc_id, CAST(1 AS BIGINT) AS mmr_rank,
               ROUND({l_} * rel, 7) AS mmr_score
        FROM cand ORDER BY ROUND({l_} * rel, 7) DESC, doc_id ASC LIMIT 1
    )"""
    ]
    for i in range(2, k + 1):
        prev = " UNION ALL ".join(
            f"SELECT doc_id FROM sel{j}" for j in range(1, i)
        )
        stages.append(
            f"""sel{i} AS MATERIALIZED (
        SELECT doc_id, CAST({i} AS BIGINT) AS mmr_rank,
               ROUND({l_} * rel - {oml} * pen, 7) AS mmr_score
        FROM (
            -- LEFT JOIN + COALESCE: a candidate with no embedding pair
            -- to the selected set pays penalty 0 (the operator's
            -- documented missing-embedding contract), not a drop
            SELECT c.doc_id, c.rel, COALESCE(MAX(s._sim), 0.0) AS pen
            FROM cand c
            LEFT JOIN sims s ON s._da = c.doc_id AND s._db IN ({prev})
            WHERE c.doc_id NOT IN ({prev})
            GROUP BY c.doc_id, c.rel
        )
        ORDER BY mmr_score DESC, doc_id ASC LIMIT 1
    )"""
        )
    final = " UNION ALL ".join(
        f"SELECT * FROM sel{j}" for j in range(1, k + 1)
    )
    return f"""
    WITH toks AS (
        SELECT doc_id,
               unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term
        FROM documents
    ),
    tf AS (
        SELECT doc_id, term, COUNT(*) AS tf
        FROM toks WHERE term IN ('spark', 'window', 'merge')
        GROUP BY 1, 2
    ),
    dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
    stats AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
               AVG(len(regexp_split_to_array(trim(text), '\\s+'))) AS avgdl
        FROM documents
    ),
    dl AS (
        SELECT doc_id,
               CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS DOUBLE) AS dl
        FROM documents
    ),
    bm25 AS MATERIALIZED (
        SELECT tf.doc_id,
               ROUND(SUM(
                   ln(1 + (n_docs - df + 0.5) / (df + 0.5))
                   * tf * (1.2 + 1)
                   / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))
               ), 4) AS score
        FROM tf
        JOIN dfreq USING (term)
        JOIN dl ON dl.doc_id = tf.doc_id
        CROSS JOIN stats
        GROUP BY tf.doc_id
        ORDER BY score DESC, tf.doc_id ASC LIMIT {n_cand}
    ),
    cand AS MATERIALIZED (
        SELECT doc_id, ROUND(score / MAX(score) OVER (), 6) AS rel
        FROM bm25
    ),
    cvecs AS MATERIALIZED (
        SELECT e.vec_id AS _vid, e.embedding::DOUBLE[] AS _v
        FROM embeddings e JOIN cand ON e.vec_id = cand.doc_id
    ),
    sims AS MATERIALIZED (
        SELECT a._vid AS _da, b._vid AS _db,
               ROUND(list_dot_product(a._v, b._v)
                     / (sqrt(list_dot_product(a._v, a._v))
                        * sqrt(list_dot_product(b._v, b._v))), 6) AS _sim
        FROM cvecs a JOIN cvecs b ON a._vid != b._vid
    ),
    {", ".join(stages)}
    SELECT * FROM ({final})
"""


ORACLE_SQL["retrieval_mmr"] = _mmr_sql(k=10, lam=0.7, n_cand=20)


# Laplace-mechanism DP counts: same md5 inverse-CDF draw, same rounding
ORACLE_SQL["events_dp_counts"] = """
    WITH c AS (
        SELECT event_type AS grp, COUNT(*) AS n_true
        FROM events GROUP BY 1
    ), u AS (
        SELECT grp, n_true,
               (CAST(('0x' || substr(md5('dplap:' || grp), 1, 8)) AS BIGINT)
                % 1000000 + 0.5) / 1000000.0 AS uu
        FROM c
    )
    SELECT grp AS event_type,
           n_true,
           1.0 AS noise_b,
           ROUND(n_true + (-1.0 * SIGN(uu - 0.5)
                 * LN(1.0 - 2.0 * ABS(uu - 0.5))), 4) AS n_noisy
    FROM u
"""

# split conformal: exact order statistic on the md5 calibration split of
# gopher-positive docs, coverage on the held-out positives
ORACLE_SQL["quality_conformal"] = f"""
    WITH g AS ({ORACLE_SQL["text_gopher_quality"]}),
    cls AS ({ORACLE_SQL["text_quality_classifier"]}),
    pos AS (
        SELECT cls.doc_id, 1.0 - cls.score AS nonconf,
               CAST(('0x' || substr(md5('conformal:' ||
                    CAST(cls.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                    % 1000000 < 500000 AS is_cal
        FROM cls JOIN g USING (doc_id)
        WHERE g.keep
    ),
    meta AS (
        SELECT COUNT(*) AS n_cal,
               LEAST(GREATEST(CAST(CEIL((COUNT(*) + 1) * 0.9) AS BIGINT),
                              1), COUNT(*)) AS rank
        FROM pos WHERE is_cal
    ),
    qh AS (
        SELECT ROUND(MAX(nonconf), 6) AS q_hat
        FROM (
            SELECT nonconf,
                   ROW_NUMBER() OVER (ORDER BY nonconf ASC, doc_id ASC)
                       AS rn
            FROM pos WHERE is_cal
        ), meta
        WHERE rn <= meta.rank
    ),
    ev AS (
        SELECT COUNT(*) AS n_eval_pos,
               SUM(CASE WHEN ROUND(nonconf, 6) <= q_hat
                        THEN 1 ELSE 0 END) AS n_covered
        FROM pos, qh WHERE NOT is_cal
    )
    SELECT CAST(meta.n_cal AS BIGINT) AS n_cal,
           CAST(meta.rank AS BIGINT) AS rank,
           qh.q_hat AS q_hat,
           ROUND(1.0 - qh.q_hat, 6) AS threshold,
           CAST(ev.n_eval_pos AS BIGINT) AS n_eval_pos,
           CAST(ev.n_covered AS BIGINT) AS n_covered,
           ROUND(ev.n_covered * 1.0 / ev.n_eval_pos, 6) AS coverage,
           ev.n_covered * 1.0 / ev.n_eval_pos >= 0.85 AS coverage_ok
    FROM meta, qh, ev
"""


# CCNet-style per-doc LM quality buckets: same trained-on-split KN tables
# as corpus_kn_perplexity, scored over EVERY doc's bigrams, NTILE(3) per
# language by (ppl, doc_id) rank -- exact
ORACLE_SQL["corpus_ccnet_buckets"] = r"""
    WITH d AS (
        SELECT doc_id, lang,
               CAST(('0x' || substr(md5('knsplit:' || CAST(doc_id AS VARCHAR)), 1, 8))
                    AS BIGINT) % 1000000 < 800000 AS tr,
               regexp_split_to_array(trim(text), '\s+') AS toks
        FROM documents
    ), bg AS (
        SELECT doc_id, lang, tr,
               array_to_string(toks[i:i+1], ' ') AS bigram,
               split_part(array_to_string(toks[i:i+1], ' '), ' ', 1) AS w1,
               split_part(array_to_string(toks[i:i+1], ' '), ' ', 2) AS w2
        FROM d, LATERAL unnest(generate_series(1, greatest(len(toks) - 1, 1))) AS t(i)
    ), c_bg AS (
        SELECT bigram, COUNT(*) AS c FROM bg WHERE tr GROUP BY 1
    ), w1s AS (
        SELECT w1, COUNT(*) AS c1, COUNT(DISTINCT w2) AS n1fw
        FROM bg WHERE tr GROUP BY 1
    ), w2c AS (
        SELECT w2, COUNT(*) AS n1l
        FROM (SELECT DISTINCT w1, w2 FROM bg WHERE tr) GROUP BY 1
    ), scal AS (
        SELECT (SELECT COUNT(DISTINCT bigram) FROM bg WHERE tr) AS t_types,
               (SELECT COUNT(*) FROM (
                   SELECT w1 AS w FROM bg WHERE tr
                   UNION SELECT w2 FROM bg WHERE tr)) AS v
    ), ev AS (
        SELECT e.doc_id, e.lang,
               CASE WHEN c_bg.c IS NOT NULL
                    THEN greatest(c_bg.c - 0.75, 0) / w1s.c1
                    ELSE 0.0 END
             + CASE WHEN w1s.c1 IS NOT NULL
                    THEN 0.75 * w1s.n1fw / w1s.c1 ELSE 1.0 END
               * ((COALESCE(w2c.n1l, 0) + 1) / (scal.t_types + scal.v + 1.0))
               AS p_kn
        FROM bg e
        LEFT JOIN c_bg USING (bigram)
        LEFT JOIN w1s USING (w1)
        LEFT JOIN w2c USING (w2)
        CROSS JOIN scal
    ), per_doc AS (
        SELECT doc_id, lang,
               CAST(COUNT(*) AS BIGINT) AS n_bigrams,
               ROUND(EXP(-AVG(LN(p_kn))), 4) AS ppl_kn
        FROM ev GROUP BY 1, 2
    )
    SELECT doc_id, lang, n_bigrams, ppl_kn,
           CAST(NTILE(3) OVER (PARTITION BY lang
                ORDER BY ppl_kn ASC, doc_id ASC) AS BIGINT) AS bucket,
           CASE NTILE(3) OVER (PARTITION BY lang
                ORDER BY ppl_kn ASC, doc_id ASC)
                WHEN 1 THEN 'head' WHEN 3 THEN 'tail'
                ELSE 'middle' END AS bucket_label
    FROM per_doc
"""


# contract oracle for the percentile-cut scale twin: the per-language doc
# count is exact (every doc scores, degenerate single-token docs included);
# balance/order/coverage are invariants of the cut construction, checked
# Spark-side and pinned TRUE here (the sketch cut VALUES are engine-specific,
# so they are not part of the compared row -- same pattern as the ANN
# recall contracts)
ORACLE_SQL["corpus_ccnet_buckets_cuts"] = """
    SELECT lang,
           COUNT(*) AS n_docs,
           TRUE AS counts_balanced,
           TRUE AS buckets_ppl_ordered,
           TRUE AS all_assigned
    FROM documents
    GROUP BY lang
"""


# temperature-scaled mixture: derived shares q_i = p_i^(1/T) / sum, same
# md5 keep-draw arithmetic as corpus_mixture
ORACLE_SQL["corpus_mixture_temperature"] = r"""
    WITH d AS (
        SELECT doc_id, lang,
               CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
                   AS n_tokens
        FROM documents
    ), totals AS (
        SELECT lang, SUM(n_tokens) AS st FROM d GROUP BY 1
    ), shares AS (
        SELECT lang, st,
               POW(CAST(st AS DOUBLE), 1.0 / 2.0)
                   / SUM(POW(CAST(st AS DOUBLE), 1.0 / 2.0)) OVER () AS q
        FROM totals
    )
    SELECT d.doc_id, d.lang, d.n_tokens, ROUND(s.q, 6) AS q_share
    FROM d JOIN shares s USING (lang)
    WHERE CAST(('0x' || substr(md5('tempmix:' || CAST(d.doc_id AS VARCHAR)), 1, 8))
               AS BIGINT) % 1000000
          < LEAST(1000000, FLOOR(10000.0 * s.q / s.st * 1000000))
"""


# LSH candidate precision by shared-band count: the same two composed
# oracles as dedup_lsh_recall, flipped to the candidate side
ORACLE_SQL["dedup_lsh_precision"] = f"""
    WITH truth AS (
        SELECT doc_a, doc_b FROM ({ORACLE_SQL["dedup_ngram_jaccard"]})
    ),
    cand AS (
        SELECT doc_a, doc_b, n_shared_bands
        FROM ({ORACLE_SQL["dedup_minhash_lsh"]})
    )
    SELECT c.n_shared_bands,
           COUNT(*) AS n_candidates,
           CAST(SUM(CASE WHEN t.doc_a IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_true,
           ROUND(SUM(CASE WHEN t.doc_a IS NOT NULL THEN 1 ELSE 0 END) * 1.0
                 / COUNT(*), 4) AS precision
    FROM cand c
    LEFT JOIN truth t ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b
    GROUP BY 1
"""


# stream-maintained A/B sufficient statistics must equal the batch test
ORACLE_SQL["stream_events_ab"] = ORACLE_SQL["events_ab_test"]


# cluster canonicalization: the dedup_clusters recursive CTE composed
# verbatim, then keep-longest (ties to smallest id) per cluster via a
# window argmax -- exact twin of the max_by aggregation
ORACLE_SQL["dedup_cluster_keeper"] = rf"""
    WITH labels AS (
        SELECT doc_id, cluster_id FROM ({ORACLE_SQL["dedup_clusters"]})
    ),
    toks AS (
        SELECT doc_id,
               len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens
        FROM documents
    ),
    ranked AS (
        SELECT l.cluster_id, l.doc_id, t.n_tokens,
               ROW_NUMBER() OVER (PARTITION BY l.cluster_id
                                  ORDER BY t.n_tokens DESC, l.doc_id ASC)
                   AS rn,
               COUNT(*) OVER (PARTITION BY l.cluster_id) AS n_members
        FROM labels l JOIN toks t USING (doc_id)
    )
    SELECT cluster_id,
           CAST(n_members AS BIGINT) AS n_members,
           doc_id AS keeper_doc_id,
           n_tokens AS keeper_n_tokens,
           CAST(n_members - 1 AS BIGINT) AS n_dropped
    FROM ranked WHERE rn = 1
"""


# the curation DAG's C1 release composition: keep-longest cluster
# canonicalization (the dedup_cluster_keeper keeper window) + the
# cleaned_corpus quality arithmetic + the eval-set gate
ORACLE_SQL["corpus_release"] = rf"""
    WITH keep AS (
        SELECT keeper_doc_id AS doc_id, cluster_id
        FROM ({ORACLE_SQL["dedup_cluster_keeper"]})
    ),
    q AS (
        SELECT doc_id, lang,
               FLOOR((0.4 * (len(list_distinct(toks)) / len(toks))
                   + 0.3 * (1 - len(list_filter(toks,
                         x -> list_contains(['the','a','of','and','is'], x)))
                         / len(toks))
                   + 0.3 * least(len(toks) / 100.0, 1.0)) * 10000 + 0.5)
                   / 10000 AS quality_score
        FROM (SELECT doc_id, lang,
                     regexp_split_to_array(trim(text), '\s+') AS toks
              FROM documents)
    )
    SELECT q.doc_id, q.lang, q.quality_score, keep.cluster_id
    FROM q JOIN keep USING (doc_id)
    WHERE q.quality_score >= 0.5 AND q.doc_id >= 10
"""


def _kcenter_sql(k: int = 4, n_cand: int = 32) -> str:
    """Unrolled-greedy k-center oracle (the _mmr_sql pattern): stage i
    picks the candidate maximizing its min 6-dp cosine distance to the
    chosen set (ties to smallest id), then every corpus vector assigns
    to its nearest center and per-center coverage stats are exact."""
    stages = [
        """c1 AS MATERIALIZED (
        SELECT MIN(vec_id) AS vec_id, CAST(1 AS BIGINT) AS center_rank
        FROM cand
    )"""
    ]
    for i in range(2, k + 1):
        prev = " UNION ALL ".join(
            f"SELECT vec_id FROM c{j}" for j in range(1, i)
        )
        stages.append(
            f"""c{i} AS MATERIALIZED (
        SELECT vec_id, CAST({i} AS BIGINT) AS center_rank FROM (
            SELECT p._ida AS vec_id, MIN(p.d) AS dmin
            FROM pd p
            WHERE p._idb IN ({prev}) AND p._ida NOT IN ({prev})
            GROUP BY p._ida
        ) ORDER BY dmin DESC, vec_id ASC LIMIT 1
    )"""
        )
    centers_union = " UNION ALL ".join(
        f"SELECT * FROM c{j}" for j in range(1, k + 1)
    )
    joined_stages = ",\n    ".join(stages)
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    cand AS (SELECT vec_id, v FROM e WHERE vec_id < {n_cand}),
    pd AS MATERIALIZED (
        SELECT a.vec_id AS _ida, b.vec_id AS _idb,
               ROUND(1.0 - list_dot_product(a.v, b.v)
                     / GREATEST(sqrt(list_dot_product(a.v, a.v))
                                * sqrt(list_dot_product(b.v, b.v)),
                                1e-12), 6) AS d
        FROM cand a JOIN cand b ON a.vec_id != b.vec_id
    ),
    {joined_stages},
    centers AS MATERIALIZED ({centers_union}),
    cv AS (
        SELECT c.vec_id AS center_id, c.center_rank, e.v AS cvv
        FROM centers c JOIN e ON e.vec_id = c.vec_id
    ),
    ad0 AS (
        SELECT e.vec_id, cv.center_id, cv.center_rank,
               ROUND(1.0 - list_dot_product(e.v, cv.cvv)
                     / GREATEST(sqrt(list_dot_product(e.v, e.v))
                                * sqrt(list_dot_product(cv.cvv, cv.cvv)),
                                1e-12), 6) AS d
        FROM e CROSS JOIN cv
    ),
    ad AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                     ORDER BY d ASC, center_id ASC) AS rn
        FROM ad0
    )
    SELECT center_id, center_rank,
           COUNT(*) AS n_assigned,
           MAX(d) AS radius,
           ROUND(AVG(d), 4) AS mean_dist
    FROM ad WHERE rn = 1
    GROUP BY 1, 2
"""


# greedy k-center coreset + coverage audit: unrolled greedy trajectory,
# then exact per-center assignment stats
ORACLE_SQL["embedding_kcenter_coreset"] = _kcenter_sql(k=4, n_cand=32)


# token-budget epoch planner: exact waterfilling replay -- same sorted
# prefix scan, same 6-dp caps, same summation order (identical sort), so
# lambda and every per-source epoch count match value-for-value
ORACLE_SQL["corpus_epoch_plan"] = rf"""
    WITH g AS ({ORACLE_SQL["text_gopher_quality"]}),
    d AS (
        SELECT doc_id, source,
               len(regexp_split_to_array(trim(text), '\s+')) AS nt
        FROM documents
    ),
    src AS (
        SELECT d.source,
               CAST(SUM(d.nt) AS BIGINT) AS n_tokens,
               ROUND(AVG(CASE WHEN g.keep THEN 1.0 ELSE 0.0 END), 6)
                   AS keep_rate
        FROM d JOIN g USING (doc_id)
        GROUP BY 1
    ),
    c AS (
        SELECT *, ROUND(1.0 + 3.0 * keep_rate, 6) AS epoch_cap FROM src
    ),
    tot AS (
        SELECT SUM(n_tokens) AS m, MAX(epoch_cap) AS maxcap FROM c
    ),
    o AS (
        SELECT c.*, tot.m, tot.maxcap, 2.0 * tot.m AS b,
               ROW_NUMBER() OVER
                   (ORDER BY epoch_cap ASC, source ASC) AS k,
               SUM(epoch_cap * n_tokens) OVER
                   (ORDER BY epoch_cap ASC, source ASC
                    ROWS UNBOUNDED PRECEDING) AS cum_capm,
               SUM(n_tokens) OVER
                   (ORDER BY epoch_cap ASC, source ASC
                    ROWS UNBOUNDED PRECEDING) AS cum_m
        FROM c, tot
    ),
    lam0 AS (
        SELECT *,
               (b - COALESCE(LAG(cum_capm) OVER (ORDER BY k), 0.0))
               / (m - COALESCE(LAG(cum_m) OVER (ORDER BY k), 0))
                   AS lam_before
        FROM o
    ),
    pick AS (
        SELECT MIN(k) FILTER (WHERE lam_before <= epoch_cap) AS k_star
        FROM lam0
    ),
    lamv AS (
        SELECT COALESCE(
                   (SELECT lam_before FROM lam0, pick
                    WHERE lam0.k = pick.k_star),
                   (SELECT maxcap FROM tot)) AS lam_val,
               (SELECT k_star IS NOT NULL FROM pick) AS feasible
    )
    SELECT source, n_tokens, keep_rate, epoch_cap,
           ROUND(LEAST(lam_val, epoch_cap), 6) AS epochs,
           ROUND(ROUND(LEAST(lam_val, epoch_cap), 6) * n_tokens, 2)
               AS planned_tokens,
           (lam_val >= epoch_cap) AS capped,
           feasible AS budget_feasible
    FROM lam0, lamv
"""


# winnowing fingerprints: identical packed-key arithmetic (h * 2^20 - pos,
# per-window MIN = argmin with rightmost tie), per-doc summary exact
ORACLE_SQL["text_winnow_fingerprints"] = r"""
    WITH t AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        FROM documents
    ),
    g AS (
        SELECT doc_id, i AS pos,
               greatest(CAST(('0x' || substr(md5(array_to_string(
                     toks[i:i+2], ' ')), 1, 8)) AS BIGINT), 1)
                   * 1048576 - i AS key
        FROM t, LATERAL unnest(generate_series(1, greatest(len(toks) - 2, 1)))
             AS u(i)
    ),
    n AS (SELECT doc_id, COUNT(*) AS n_grams FROM g GROUP BY 1),
    winmin AS (
        SELECT doc_id, pos,
               MIN(key) OVER (PARTITION BY doc_id ORDER BY pos
                              ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING)
                   AS win_min
        FROM g
    ),
    sel AS (
        SELECT DISTINCT w.doc_id, w.win_min
        FROM winmin w JOIN n USING (doc_id)
        WHERE w.pos <= n.n_grams - 3 OR w.pos = 1
    )
    SELECT s.doc_id, n.n_grams,
           COUNT(*) AS n_fp,
           ROUND(COUNT(*) * 1.0 / n.n_grams, 4) AS density,
           CAST(SUM(s.win_min // 1048576 + 1) AS BIGINT) AS fp_sum
    FROM sel s JOIN n USING (doc_id)
    GROUP BY 1, 2
"""


# streaming binned-CDF quantile monitor: stream-maintained histogram must
# equal the batch histogram, so every readout value (interpolated est,
# exact percentile, witnesses) is recomputed exactly from documents
ORACLE_SQL["stream_quality_quantiles"] = r"""
    WITH nt AS (
        SELECT least(CAST(floor(len(regexp_split_to_array(trim(text), '\s+'))
                           / 16) AS BIGINT), 63) AS bin,
               len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens
        FROM documents
    ),
    hist AS (SELECT bin, COUNT(*) AS cnt FROM nt GROUP BY 1),
    h AS (
        SELECT bin, cnt,
               COALESCE(SUM(cnt) OVER (ORDER BY bin
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                        0) AS cum_before
        FROM hist
    ),
    tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM hist),
    ex AS (
        SELECT quantile_cont(n_tokens, [0.25, 0.5, 0.75, 0.9]) AS exs
        FROM nt
    ),
    qs AS (
        SELECT * FROM (VALUES (1, CAST(0.25 AS DOUBLE)),
                              (2, CAST(0.5  AS DOUBLE)),
                              (3, CAST(0.75 AS DOUBLE)),
                              (4, CAST(0.9  AS DOUBLE))) v(idx, q)
    ),
    sel AS (
        SELECT qs.q, qs.idx, tot.n,
               ROUND(h.bin * 16
                     + 16 * (qs.q * (tot.n - 1) - h.cum_before) / h.cnt,
                     4) AS est
        FROM qs, tot
        JOIN h ON h.cum_before <= FLOOR(qs.q * (tot.n - 1))
              AND FLOOR(qs.q * (tot.n - 1)) < h.cum_before + h.cnt
    )
    SELECT s.q,
           s.n AS n_docs,
           s.est,
           ROUND(ex.exs[s.idx], 4) AS exact,
           ROUND(ABS(s.est - ROUND(ex.exs[s.idx], 4)), 4) AS abs_err,
           (ABS(s.est - ROUND(ex.exs[s.idx], 4)) <= 32) AS within_bound
    FROM sel s, ex
"""


# winnowing partial-overlap pairs: same packed-key selection, fingerprints
# equi-joined on the decoded hash with the max_df stop-fingerprint guard
ORACLE_SQL["dedup_winnow_pairs"] = r"""
    WITH t AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        FROM documents
    ),
    g AS (
        SELECT doc_id, i AS pos,
               greatest(CAST(('0x' || substr(md5(array_to_string(
                     toks[i:i+2], ' ')), 1, 8)) AS BIGINT), 1)
                   * 1048576 - i AS key
        FROM t, LATERAL unnest(generate_series(1, greatest(len(toks) - 2, 1)))
             AS u(i)
    ),
    n AS (SELECT doc_id, COUNT(*) AS n_grams FROM g GROUP BY 1),
    winmin AS (
        SELECT doc_id, pos,
               MIN(key) OVER (PARTITION BY doc_id ORDER BY pos
                              ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING)
                   AS win_min
        FROM g
    ),
    sel AS (
        SELECT DISTINCT w.doc_id, w.win_min
        FROM winmin w JOIN n USING (doc_id)
        WHERE w.pos <= n.n_grams - 3 OR w.pos = 1
    ),
    fp AS (
        SELECT DISTINCT doc_id, win_min // 1048576 + 1 AS fpv FROM sel
    ),
    hot AS (
        SELECT fpv FROM fp GROUP BY 1 HAVING COUNT(*) > 100
    ),
    fpc AS (
        SELECT * FROM fp WHERE fpv NOT IN (SELECT fpv FROM hot)
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
    FROM fpc a JOIN fpc b ON a.fpv = b.fpv AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    HAVING COUNT(*) >= 2
"""


# winnowing-vs-truth recall audit: truth = pairs sharing >= 1 exact
# 6-token run (distinct 6-gram md5 equi-join); candidates = the same
# winnowing selection at min_shared=1, no df guard. Schleimer et al.'s
# guarantee makes every bucket's recall exactly 1.0 at this config.
ORACLE_SQL["dedup_winnow_recall"] = r"""
    WITH t AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        FROM documents
    ),
    rg AS (
        SELECT DISTINCT doc_id,
               md5(array_to_string(toks[i:i+5], ' ')) AS g
        FROM t, LATERAL unnest(generate_series(1, greatest(len(toks) - 5, 1)))
             AS u(i)
    ),
    truth AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_runs
        FROM rg a JOIN rg b ON a.g = b.g AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    g AS (
        SELECT doc_id, i AS pos,
               greatest(CAST(('0x' || substr(md5(array_to_string(
                     toks[i:i+2], ' ')), 1, 8)) AS BIGINT), 1)
                   * 1048576 - i AS key
        FROM t, LATERAL unnest(generate_series(1, greatest(len(toks) - 2, 1)))
             AS u(i)
    ),
    n AS (SELECT doc_id, COUNT(*) AS n_grams FROM g GROUP BY 1),
    winmin AS (
        SELECT doc_id, pos,
               MIN(key) OVER (PARTITION BY doc_id ORDER BY pos
                              ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING)
                   AS win_min
        FROM g
    ),
    sel AS (
        SELECT DISTINCT w.doc_id, w.win_min
        FROM winmin w JOIN n USING (doc_id)
        WHERE w.pos <= n.n_grams - 3 OR w.pos = 1
    ),
    fp AS (
        SELECT DISTINCT doc_id, win_min // 1048576 + 1 AS fpv FROM sel
    ),
    cand AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM fp a JOIN fp b ON a.fpv = b.fpv AND a.doc_id < b.doc_id
        GROUP BY 1, 2
        HAVING COUNT(*) >= 1
    )
    SELECT CASE WHEN n_runs = 1 THEN '1'
                WHEN n_runs <= 4 THEN '2-4'
                WHEN n_runs <= 16 THEN '5-16'
                ELSE '17+' END AS run_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_true_pairs,
           CAST(SUM(CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hit,
           ROUND(SUM(CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END)
                 * 1.0 / COUNT(*), 4) AS recall
    FROM truth tr
    LEFT JOIN cand c ON tr.doc_a = c.doc_a AND tr.doc_b = c.doc_b
    GROUP BY 1
"""

# sampled production dial of the winnowing recall audit: identical SQL over
# the deterministic md5 half-sample (the dedup_lsh_recall_sampled pattern)
ORACLE_SQL["dedup_winnow_recall_sampled"] = ORACLE_SQL["dedup_winnow_recall"].replace(
    "WITH t AS (",
    """WITH documents AS (
        SELECT * FROM main.documents
        WHERE CAST(('0x' || substr(md5('winrecall:' || CAST(doc_id AS VARCHAR)),
                    1, 8)) AS BIGINT) % 1000000 < 500000
    ),
    t AS (""",
)


# Wald SPRT monitor: exact per-wave cumulative LLR trajectory, decisions
# compared on the same 6-dp rounded quantities as the Spark side
ORACLE_SQL["events_ab_sprt"] = """
    WITH pu AS (
        SELECT user_id,
               MAX(CASE WHEN event_type = 'purchase' AND value > 150
                        THEN 1 ELSE 0 END) AS conv
        FROM events GROUP BY 1
    ),
    waves AS (
        SELECT user_id % 3 AS wave, COUNT(*) AS n, SUM(conv) AS x
        FROM pu GROUP BY 1
    ),
    cum AS (
        SELECT wave,
               SUM(n) OVER (ORDER BY wave ROWS UNBOUNDED PRECEDING) AS n_cum,
               SUM(x) OVER (ORDER BY wave ROWS UNBOUNDED PRECEDING) AS x_cum
        FROM waves
    ),
    cfg AS (
        SELECT * FROM (VALUES
            ('h1_wins',      CAST(0.30 AS DOUBLE), CAST(0.45 AS DOUBLE)),
            ('inconclusive', CAST(0.40 AS DOUBLE), CAST(0.50 AS DOUBLE)),
            ('h0_wins',      CAST(0.45 AS DOUBLE), CAST(0.60 AS DOUBLE))
        ) v(test, p0, p1)
    ),
    j AS (
        SELECT cfg.test, cum.wave,
               CAST(cum.n_cum AS BIGINT) AS n_cum,
               CAST(cum.x_cum AS BIGINT) AS x_cum,
               ROUND(cum.x_cum * LN(cfg.p1 / cfg.p0)
                     + (cum.n_cum - cum.x_cum)
                       * LN((1.0 - cfg.p1) / (1.0 - cfg.p0)), 6) AS llr,
               ROUND(LN(0.95 / 0.05), 6) AS upper,
               ROUND(LN(0.05 / 0.95), 6) AS lower
        FROM cfg, cum
    )
    SELECT test, wave, n_cum, x_cum, llr, upper, lower,
           CASE WHEN llr >= upper THEN 'accept_h1'
                WHEN llr <= lower THEN 'accept_h0'
                ELSE 'continue' END AS decision
    FROM j
"""


def _kcore_sql(k: int = 2, rounds: int = 16) -> str:
    """Unrolled k-core peeling oracle: round i keeps nodes with >= k
    surviving neighbors; any rounds beyond the true peeling depth are
    fixpoint no-ops, so unrolling MORE rounds than the operator needed
    is always safe (the operator raises if it exceeds its own cap).
    The pair graph carries the max_df=100 skew guard, matching
    q_dedup_kcore's ngram_jaccard_pairs(max_df=100). The final select
    asserts the fixpoint (last two rounds agree) so an insufficient
    unroll ERRORS instead of silently keeping not-yet-peeled nodes."""
    parts = []
    for i in range(1, rounds + 1):
        prev = "e0" if i == 1 else f"r{i - 1}"
        parts.append(
            f"""r{i} AS MATERIALIZED (
        SELECT e.src AS node FROM e
        JOIN {prev} a ON e.src = a.node
        JOIN {prev} b ON e.dst = b.node
        GROUP BY 1 HAVING COUNT(*) >= {k}
    )"""
        )
    joined = ",\n    ".join(parts)
    return rf"""
    WITH sh AS (
        SELECT DISTINCT doc_id,
               unnest(list_transform(
                   generate_series(1, greatest(len(toks) - 2, 1)),
                   i -> array_to_string(toks[i:i+2], ' '))) AS shingle
        FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
              FROM documents)
    ), shf AS (
        -- max_df = 100 skew guard, mirroring ngram_jaccard_pairs(max_df=100)
        SELECT * FROM sh WHERE shingle IN (
            SELECT shingle FROM sh GROUP BY 1 HAVING COUNT(*) <= 100)
    ), sizes AS (
        SELECT doc_id, COUNT(shingle) AS n FROM shf GROUP BY 1
    ), inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM shf a JOIN shf b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ), p AS MATERIALIZED (
        SELECT doc_a, doc_b
        FROM inter
        JOIN sizes sa ON inter.doc_a = sa.doc_id
        JOIN sizes sb ON inter.doc_b = sb.doc_id
        WHERE ROUND(n_common / (sa.n + sb.n - n_common), 4) >= 0.2
    ),
    e AS MATERIALIZED (
        SELECT doc_a AS src, doc_b AS dst FROM p
        UNION SELECT doc_b, doc_a FROM p
    ),
    e0 AS MATERIALIZED (SELECT DISTINCT src AS node FROM e),
    {joined},
    chk AS (
        SELECT CASE WHEN (SELECT COUNT(*) FROM r{rounds - 1})
                       = (SELECT COUNT(*) FROM r{rounds})
               THEN 1
               ELSE CAST(error('kcore oracle: unroll depth {rounds} '
                               'insufficient (no fixpoint)') AS INT)
               END AS ok
    )
    SELECT e.src AS doc_id, COUNT(*) AS core_degree
    FROM e
    JOIN r{rounds} a ON e.src = a.node
    JOIN r{rounds} b ON e.dst = b.node
    CROSS JOIN chk
    WHERE chk.ok = 1
    GROUP BY 1
"""


# k-core of the near-dup graph: iterative peeling replayed as unrolled
# fixpoint-stable rounds over the max_df-guarded pair graph
ORACLE_SQL["dedup_kcore"] = _kcore_sql(k=2, rounds=16)


# composed corpus-refresh DAG (VERDICT r13 item 3): exact replay of the
# dedup_incremental banded-MinHash verify with the 80/20 batch split,
# union'd into the refreshed corpus, joined to the seeded-centroid argmax
# cell replay (the embedding_cell_stats assignment CTE); the maintenance
# witnesses (incremental == from-scratch, manifest accounting) assert
# TRUE, version 2
ORACLE_SQL["corpus_refresh_pipeline"] = r"""
    WITH sh AS (
        SELECT DISTINCT doc_id,
               unnest(list_transform(
                   generate_series(1, greatest(len(toks) - 2, 1)),
                   i -> array_to_string(toks[i:i+2], ' '))) AS shingle
        FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
              FROM documents)
    ), w AS (
        SELECT doc_id,
               CAST(('0x' || substr(md5(shingle), 1, 8)) AS BIGINT) AS x1,
               CAST(('0x' || substr(md5(shingle), 9, 8)) AS BIGINT) * 2 + 1 AS step
        FROM sh
    ), hashes AS (
        SELECT doc_id, i.h AS h, MIN(x1 + i.h * step) AS min_hash
        FROM w CROSS JOIN (SELECT unnest(generate_series(0, 11)) AS h) i
        GROUP BY 1, 2
    ), bands AS (
        SELECT doc_id, h // 3 AS band,
               string_agg(CAST(min_hash AS VARCHAR), ',' ORDER BY h) AS band_sig
        FROM hashes GROUP BY 1, 2
    ), cand AS (
        SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS old_id
        FROM bands n JOIN bands o ON n.band = o.band AND n.band_sig = o.band_sig
        WHERE n.doc_id % 10 >= 8 AND o.doc_id % 10 < 8
    ), sizes AS (
        SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1
    ), inter AS (
        SELECT a.doc_id AS new_id, b.doc_id AS old_id, COUNT(*) AS n_common
        FROM sh a JOIN sh b ON a.shingle = b.shingle
        JOIN cand c ON c.new_id = a.doc_id AND c.old_id = b.doc_id
        GROUP BY 1, 2
    ), dup AS (
        SELECT DISTINCT new_id
        FROM inter
        JOIN sizes sn ON inter.new_id = sn.doc_id
        JOIN sizes so ON inter.old_id = so.doc_id
        WHERE ROUND(n_common / (sn.n + so.n - n_common), 4) >= 0.5
    ), corpus AS (
        SELECT doc_id FROM documents WHERE doc_id % 10 < 8
        UNION ALL
        SELECT doc_id FROM documents
        WHERE doc_id % 10 >= 8
          AND doc_id NOT IN (SELECT new_id FROM dup)
    ), e AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), c AS (
        SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id < 8
    ), scored AS (
        SELECT e.vec_id, c.cent_id,
               list_dot_product(c.cv, e.v)
               / greatest(sqrt(list_dot_product(c.cv, c.cv))
                          * sqrt(list_dot_product(e.v, e.v)), 1e-12) AS cent_cos
        FROM e CROSS JOIN c
    ), a AS (
        SELECT vec_id, cent_id AS cell
        FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                    ORDER BY cent_cos DESC, cent_id ASC) AS rn
              FROM scored)
        WHERE rn = 1
    )
    SELECT corpus.doc_id,
           CASE WHEN corpus.doc_id % 10 < 8 THEN 'standing'
                ELSE 'new' END AS src,
           a.cell AS cell,
           TRUE AS in_index,
           TRUE AS cell_match_scratch,
           CAST(2 AS BIGINT) AS manifest_version,
           TRUE AS manifest_rows_ok
    FROM corpus JOIN a ON a.vec_id = corpus.doc_id
"""
