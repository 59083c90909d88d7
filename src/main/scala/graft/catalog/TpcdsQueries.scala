package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}

/** TPC-DS query shapes as EXECUTED oracle rows (promoted from the
  * parse/plan-only RefSqlTpcdsSpec gate; the reference also only
  * parse-tests its spec/sql/tpc-ds corpus — RunnerSpec.scala:137-139).
  *
  * The driver testdata is TPC-H-shaped, so each query runs over a DS star
  * schema DERIVED deterministically from the TPC-H tables inside a shared
  * WITH-prelude: store_sales ← lineitem⋈orders, date_dim ← distinct order
  * dates, item ← part, store ← nation⋈region, and the demographic dims
  * from arithmetic on the customer keys. The prelude plus the query is ONE
  * portable SQL statement executed identically by this engine's SQL
  * front-end AND by the DuckDB oracle — the correctness signal is the DS
  * query SHAPES (multi-CTE, UNION-ALL rollup, decorrelated dims,
  * LIMIT-under-ORDER) over real data, which the empty-view gate could not
  * provide.
  *
  * Adaptations from the canonical corpus (documented per query): constants
  * tuned to the SYNTHETIC testdata's value domains (o_orderdate ∈
  * 1995-2001, single-word p_type categories, Brand#1-25, p_retailprice ∈
  * [900,1000), counties = region names, per-ticket line counts ≤ 7), the
  * `customer` dimension renamed `customer_ds` (a CTE named after the base
  * table would shadow it ambiguously), numeric i_item_id, and double
  * aggregates rounded to 4 dp on both sides per the catalog convention
  * (2 dp sits ON the .005 boundaries of money-valued sums — exact 4-dp
  * multiples — so cross-engine summation-order drift of ~1e-10 flipped a
  * digit; 4 dp boundaries are never multiples of the data's quantum), and
  * every SUM over an integral column wrapped in CAST(... AS BIGINT) —
  * Spark types SUM(INT) as BIGINT while DuckDB types it HUGEINT, which
  * lands in the oracle harness' pandas frame as float64, so a numerically
  * identical result hash-mismatches on `1` vs `1.0` (COUNT needs no cast:
  * it is BIGINT on both engines). The r11 driver gate flagged exactly the
  * 11 queries whose outputs carried bare integral SUMs.
  */
object TpcdsQueries {

  import QueryCatalog.Q

  /** The derived DS star schema, prefixed to every query. Every derivation
    * is engine-portable arithmetic (year/month/day, substring, %, CASE) —
    * no engine-specific functions — so Spark SQL and DuckDB compute
    * byte-identical dimensions. Dimension keys are derived from the SAME
    * columns the facts reference (o_custkey ⊆ c_custkey in TPC-H), so
    * every fact key has its dimension row. */
  private val prelude: String = """
WITH date_dim AS (
  SELECT d_date_sk,
         d_date_sk AS d_date,
         year(d_date_sk) AS d_year,
         month(d_date_sk) AS d_moy,
         day(d_date_sk) AS d_dom,
         (year(d_date_sk) - 1992) * 12 + month(d_date_sk) - 1 AS d_month_seq,
         CAST(floor((month(d_date_sk) - 1) / 3.0) AS INTEGER) + 1 AS d_qoy,
         CASE day(d_date_sk) % 7 WHEN 0 THEN 'Sunday' WHEN 1 THEN 'Monday'
              WHEN 2 THEN 'Tuesday' WHEN 3 THEN 'Wednesday' WHEN 4 THEN 'Thursday'
              WHEN 5 THEN 'Friday' ELSE 'Saturday' END AS d_day_name,
         day(d_date_sk) % 7 AS d_dow,
         (year(d_date_sk) - 1992) * 48 + (month(d_date_sk) - 1) * 4 +
           CAST(floor((day(d_date_sk) - 1) / 8.0) AS INTEGER) AS d_week_seq,
         CAST(year(d_date_sk) AS STRING) || 'Q' ||
           CAST(CAST(floor((month(d_date_sk) - 1) / 3.0) AS INTEGER) + 1 AS STRING) AS d_quarter_name
  FROM (SELECT DISTINCT CAST(o_orderdate AS DATE) AS d_date_sk FROM orders) dd
),
item AS (
  SELECT p_partkey AS i_item_sk,
         p_partkey AS i_item_id,
         CAST(substring(p_brand, 7, 2) AS INTEGER) AS i_brand_id,
         p_brand AS i_brand,
         CAST(substring(p_brand, 7, 1) AS INTEGER) AS i_manufact_id,
         substring(p_brand, 1, 7) AS i_manufact,
         p_partkey % 100 AS i_manager_id,
         p_type AS i_category,
         p_size % 10 + 1 AS i_category_id,
         p_size % 7 + 1 AS i_class_id,
         CASE p_size % 7 WHEN 0 THEN 'personal' WHEN 1 THEN 'portable'
              WHEN 2 THEN 'reference' WHEN 3 THEN 'self-help'
              WHEN 4 THEN 'accessories' WHEN 5 THEN 'classical'
              ELSE 'fragrances' END AS i_class,
         p_name AS i_item_desc,
         p_name AS i_product_name,
         p_retailprice AS i_current_price,
         p_retailprice * 0.6 AS i_wholesale_cost,
         CASE p_partkey % 12 WHEN 0 THEN 'red' WHEN 1 THEN 'blue' WHEN 2 THEN 'green'
              WHEN 3 THEN 'yellow' WHEN 4 THEN 'white' WHEN 5 THEN 'black'
              WHEN 6 THEN 'orange' WHEN 7 THEN 'purple' WHEN 8 THEN 'cyan'
              WHEN 9 THEN 'magenta' WHEN 10 THEN 'ivory' ELSE 'khaki' END AS i_color,
         CASE p_size % 5 WHEN 0 THEN 'Each' WHEN 1 THEN 'Dozen' WHEN 2 THEN 'Case'
              WHEN 3 THEN 'Pound' ELSE 'Oz' END AS i_units,
         CASE p_size % 6 WHEN 0 THEN 'small' WHEN 1 THEN 'medium' WHEN 2 THEN 'large'
              WHEN 3 THEN 'extra large' WHEN 4 THEN 'economy' ELSE 'N/A' END AS i_size
  FROM part
),
store AS (
  SELECT n_nationkey + 1 AS s_store_sk,
         CAST(n_nationkey + 1 AS STRING) AS s_store_id,
         n_name AS s_store_name,
         r_name AS s_county,
         r_name AS s_company_name,
         10 + n_nationkey AS s_number_employees,
         CASE n_nationkey % 3 WHEN 0 THEN 'Fairview' WHEN 1 THEN 'Midway'
              ELSE 'Pleasant Hill' END AS s_city,
         CASE n_nationkey % 5 WHEN 0 THEN 'TN' WHEN 1 THEN 'CA' WHEN 2 THEN 'NY'
              WHEN 3 THEN 'TX' ELSE 'WA' END AS s_state,
         CAST(10000 + (n_nationkey * 37) % 89 AS STRING) AS s_zip,
         n_nationkey % 10 + 1 AS s_market_id,
         -5.0 AS s_gmt_offset,
         n_nationkey % 5 + 1 AS s_company_id,
         CAST(n_nationkey % 900 + 100 AS STRING) AS s_street_number,
         CASE n_nationkey % 5 WHEN 0 THEN 'Main' WHEN 1 THEN 'Oak' WHEN 2 THEN 'Elm'
              WHEN 3 THEN 'Park' ELSE 'Lake' END AS s_street_name,
         CASE n_nationkey % 3 WHEN 0 THEN 'St' WHEN 1 THEN 'Ave' ELSE 'Blvd' END AS s_street_type,
         CAST(n_nationkey % 100 AS STRING) AS s_suite_number
  FROM nation JOIN region ON n_regionkey = r_regionkey
),
household_demographics AS (
  SELECT hd_demo_sk,
         hd_demo_sk % 10 AS hd_dep_count,
         hd_demo_sk % 5 AS hd_vehicle_count,
         CASE hd_demo_sk % 4 WHEN 0 THEN '>10000' WHEN 1 THEN 'Unknown'
              WHEN 2 THEN '1001-5000' ELSE '0-500' END AS hd_buy_potential,
         hd_demo_sk % 20 + 1 AS hd_income_band_sk
  FROM (SELECT DISTINCT c_custkey % 720 AS hd_demo_sk FROM customer) hd
),
income_band AS (
  SELECT DISTINCT hd_income_band_sk AS ib_income_band_sk,
         (hd_income_band_sk - 1) * 10000 AS ib_lower_bound,
         hd_income_band_sk * 10000 - 1 AS ib_upper_bound
  FROM household_demographics
),
customer_demographics AS (
  SELECT cd_demo_sk,
         CASE cd_demo_sk % 2 WHEN 0 THEN 'M' ELSE 'F' END AS cd_gender,
         CASE cd_demo_sk % 5 WHEN 0 THEN 'M' WHEN 1 THEN 'S' WHEN 2 THEN 'D'
              WHEN 3 THEN 'W' ELSE 'U' END AS cd_marital_status,
         CASE cd_demo_sk % 7 WHEN 0 THEN 'Primary' WHEN 1 THEN 'Secondary'
              WHEN 2 THEN 'College' WHEN 3 THEN '2 yr Degree'
              WHEN 4 THEN '4 yr Degree' WHEN 5 THEN 'Advanced Degree'
              ELSE 'Unknown' END AS cd_education_status,
         (cd_demo_sk * 500) % 10000 + 500 AS cd_purchase_estimate,
         CASE cd_demo_sk % 4 WHEN 0 THEN 'Good' WHEN 1 THEN 'Low Risk'
              WHEN 2 THEN 'High Risk' ELSE 'Unknown' END AS cd_credit_rating,
         cd_demo_sk % 7 AS cd_dep_count,
         cd_demo_sk % 5 AS cd_dep_employed_count,
         cd_demo_sk % 3 AS cd_dep_college_count
  FROM (SELECT DISTINCT c_custkey % 1000 AS cd_demo_sk FROM customer) cd
),
customer_address AS (
  SELECT ca_address_sk,
         CASE ca_address_sk % 3 WHEN 0 THEN 'Fairview' WHEN 1 THEN 'Midway'
              ELSE 'Pleasant Hill' END AS ca_city,
         CASE ca_address_sk % 5 WHEN 0 THEN 'TX' WHEN 1 THEN 'OH' WHEN 2 THEN 'OR'
              WHEN 3 THEN 'NM' ELSE 'KY' END AS ca_state,
         'United States' AS ca_country,
         CAST(10000 + (ca_address_sk * 7) % 89 AS STRING) AS ca_zip,
         CASE ca_address_sk % 4 WHEN 0 THEN 'Ziebach County' WHEN 1 THEN 'Walker County'
              WHEN 2 THEN 'Richland County' ELSE 'Gaines County' END AS ca_county,
         CASE ca_address_sk % 2 WHEN 0 THEN -5.0 ELSE -6.0 END AS ca_gmt_offset,
         CASE ca_address_sk % 3 WHEN 0 THEN 'condo' WHEN 1 THEN 'single family'
              ELSE 'apartment' END AS ca_location_type,
         CAST(ca_address_sk % 900 + 100 AS STRING) AS ca_street_number,
         CASE ca_address_sk % 5 WHEN 0 THEN 'Main' WHEN 1 THEN 'Oak' WHEN 2 THEN 'Elm'
              WHEN 3 THEN 'Park' ELSE 'Lake' END AS ca_street_name,
         CASE ca_address_sk % 3 WHEN 0 THEN 'St' WHEN 1 THEN 'Ave' ELSE 'Blvd' END AS ca_street_type,
         CAST(ca_address_sk % 100 AS STRING) AS ca_suite_number
  FROM (SELECT DISTINCT c_custkey % 500 AS ca_address_sk FROM customer) ca
),
customer_ds AS (
  SELECT c_custkey AS c_customer_sk,
         substring(c_name, 10, 9) AS c_last_name,
         c_mktsegment AS c_first_name,
         CASE c_custkey % 6 WHEN 0 THEN 'Mr.' WHEN 1 THEN 'Mrs.' WHEN 2 THEN 'Ms.'
              WHEN 3 THEN 'Dr.' WHEN 4 THEN 'Sir' ELSE 'Miss' END AS c_salutation,
         CASE c_custkey % 2 WHEN 0 THEN 'Y' ELSE 'N' END AS c_preferred_cust_flag,
         c_custkey % 500 AS c_current_addr_sk,
         c_custkey AS c_customer_id,
         n_name AS c_birth_country,
         c_custkey % 12 + 1 AS c_birth_month,
         c_custkey % 28 + 1 AS c_birth_day,
         1920 + c_custkey % 70 AS c_birth_year,
         CAST('2001-01-01' AS DATE) + CAST(c_custkey % 300 AS INTEGER) AS c_last_review_date_sk,
         CAST('1995-02-01' AS DATE) + CAST(c_custkey % 2100 AS INTEGER) AS c_first_sales_date_sk,
         CAST('1995-03-03' AS DATE) + CAST(c_custkey % 2100 AS INTEGER) AS c_first_shipto_date_sk,
         c_custkey % 1000 AS c_current_cdemo_sk,
         c_custkey % 720 AS c_current_hdemo_sk,
         'c' || CAST(c_custkey AS STRING) || '@example.com' AS c_email_address,
         CAST(c_custkey AS STRING) AS c_login
  FROM customer JOIN nation ON c_nationkey = n_nationkey
),
promotion AS (
  SELECT p_promo_sk,
         CASE p_promo_sk % 2 WHEN 0 THEN 'N' ELSE 'Y' END AS p_channel_email,
         CASE p_promo_sk % 3 WHEN 0 THEN 'N' ELSE 'Y' END AS p_channel_event,
         CASE p_promo_sk % 5 WHEN 0 THEN 'Y' ELSE 'N' END AS p_channel_dmail,
         CASE p_promo_sk % 7 WHEN 0 THEN 'Y' ELSE 'N' END AS p_channel_tv,
         CASE p_promo_sk % 11 WHEN 0 THEN 'Y' ELSE 'N' END AS p_channel_radio,
         CASE p_promo_sk % 13 WHEN 0 THEN 'Y' ELSE 'N' END AS p_channel_press,
         CASE p_promo_sk % 2 WHEN 0 THEN 'Y' ELSE 'N' END AS p_discount_active,
         'promo_' || CAST(p_promo_sk AS STRING) AS p_promo_name,
         CAST(p_promo_sk AS STRING) AS p_promo_id
  FROM (SELECT DISTINCT l_partkey % 300 AS p_promo_sk FROM lineitem) pr
),
store_sales AS (
  SELECT CAST(o_orderdate AS DATE) AS ss_sold_date_sk,
         l_partkey AS ss_item_sk,
         o_custkey AS ss_customer_sk,
         o_custkey % 1000 AS ss_cdemo_sk,
         o_custkey % 720 AS ss_hdemo_sk,
         o_orderkey % 500 AS ss_addr_sk,
         l_suppkey % 25 + 1 AS ss_store_sk,
         l_partkey % 300 AS ss_promo_sk,
         (l_orderkey * 13 + l_linenumber * 7919) % 86400 AS ss_sold_time_sk,
         l_orderkey AS ss_ticket_number,
         CAST(l_quantity AS INTEGER) AS ss_quantity,
         l_extendedprice / l_quantity AS ss_list_price,
         l_extendedprice * (1 - l_discount) / l_quantity AS ss_sales_price,
         l_extendedprice * (1 - l_discount) AS ss_ext_sales_price,
         l_extendedprice AS ss_ext_list_price,
         l_extendedprice * (1 - l_discount) * l_tax AS ss_ext_tax,
         l_extendedprice * l_discount AS ss_coupon_amt,
         l_extendedprice * 0.6 AS ss_ext_wholesale_cost,
         l_extendedprice * 0.6 / l_quantity AS ss_wholesale_cost,
         l_extendedprice * (1 - l_discount) AS ss_net_paid,
         l_extendedprice * l_discount AS ss_ext_discount_amt,
         l_extendedprice * (1 - l_discount) - l_extendedprice * 0.6 AS ss_net_profit
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
web_sales AS (
  SELECT CAST(o_orderdate AS DATE) AS ws_sold_date_sk,
         l_partkey AS ws_item_sk,
         o_custkey % 1000 AS ws_bill_cdemo_sk,
         l_partkey % 300 AS ws_promo_sk,
         CAST(l_quantity AS INTEGER) AS ws_quantity,
         l_extendedprice / l_quantity AS ws_list_price,
         l_extendedprice * (1 - l_discount) / l_quantity AS ws_sales_price,
         l_extendedprice * l_discount AS ws_coupon_amt,
         l_extendedprice * (1 - l_discount) AS ws_ext_sales_price,
         o_custkey AS ws_bill_customer_sk,
         o_orderkey % 500 AS ws_bill_addr_sk,
         o_custkey % 720 AS ws_bill_hdemo_sk,
         (o_custkey * 3 + 7) % 1500 AS ws_ship_customer_sk,
         o_orderkey % 500 AS ws_ship_addr_sk,
         (o_custkey * 3) % 1000 AS ws_ship_cdemo_sk,
         (o_custkey * 3) % 720 AS ws_ship_hdemo_sk,
         CAST(l_shipdate AS DATE) AS ws_ship_date_sk,
         l_suppkey % 25 + 1 AS ws_web_site_sk,
         l_partkey % 60 + 1 AS ws_web_page_sk,
         l_suppkey % 5 + 1 AS ws_warehouse_sk,
         (l_suppkey + l_linenumber) % 7 + 1 AS ws_ship_mode_sk,
         l_orderkey AS ws_order_number,
         (l_orderkey * 13 + l_linenumber * 7919) % 86400 AS ws_sold_time_sk,
         l_extendedprice AS ws_ext_list_price,
         l_extendedprice * l_discount AS ws_ext_discount_amt,
         l_extendedprice * 0.03 AS ws_ext_ship_cost,
         l_extendedprice * 0.6 AS ws_ext_wholesale_cost,
         l_extendedprice * 0.6 / l_quantity AS ws_wholesale_cost,
         l_extendedprice * (1 - l_discount) AS ws_net_paid,
         l_extendedprice * (1 - l_discount) * (1 + l_tax) AS ws_net_paid_inc_tax,
         l_extendedprice * (1 - l_discount) * l_tax AS ws_ext_tax,
         l_extendedprice * (1 - l_discount) - l_extendedprice * 0.6 AS ws_net_profit
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE l_linenumber % 3 = 1
),
catalog_sales AS (
  SELECT CAST(o_orderdate AS DATE) AS cs_sold_date_sk,
         l_partkey AS cs_item_sk,
         o_custkey % 1000 AS cs_bill_cdemo_sk,
         l_partkey % 300 AS cs_promo_sk,
         CAST(l_quantity AS INTEGER) AS cs_quantity,
         l_extendedprice / l_quantity AS cs_list_price,
         l_extendedprice * (1 - l_discount) / l_quantity AS cs_sales_price,
         l_extendedprice * l_discount AS cs_coupon_amt,
         l_extendedprice * (1 - l_discount) AS cs_ext_sales_price,
         o_custkey AS cs_bill_customer_sk,
         o_orderkey % 500 AS cs_bill_addr_sk,
         o_custkey % 720 AS cs_bill_hdemo_sk,
         (o_custkey * 3 + 7) % 1500 AS cs_ship_customer_sk,
         o_orderkey % 500 AS cs_ship_addr_sk,
         (o_custkey * 3) % 1000 AS cs_ship_cdemo_sk,
         (o_custkey * 3) % 720 AS cs_ship_hdemo_sk,
         CAST(l_shipdate AS DATE) AS cs_ship_date_sk,
         o_custkey % 6 + 1 AS cs_call_center_sk,
         l_partkey % 40 + 1 AS cs_catalog_page_sk,
         l_suppkey % 5 + 1 AS cs_warehouse_sk,
         (l_suppkey + l_linenumber) % 7 + 1 AS cs_ship_mode_sk,
         l_orderkey AS cs_order_number,
         (l_orderkey * 13 + l_linenumber * 7919) % 86400 AS cs_sold_time_sk,
         l_extendedprice AS cs_ext_list_price,
         l_extendedprice * l_discount AS cs_ext_discount_amt,
         l_extendedprice * 0.03 AS cs_ext_ship_cost,
         l_extendedprice * 0.6 AS cs_ext_wholesale_cost,
         l_extendedprice * 0.6 / l_quantity AS cs_wholesale_cost,
         l_extendedprice * (1 - l_discount) AS cs_net_paid,
         l_extendedprice * (1 - l_discount) * (1 + l_tax) AS cs_net_paid_inc_tax,
         l_extendedprice * (1 - l_discount) * l_tax AS cs_ext_tax,
         l_extendedprice * (1 - l_discount) - l_extendedprice * 0.6 AS cs_net_profit
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE l_linenumber % 3 = 2
),
time_dim AS (
  SELECT t_time_sk,
         t_time_sk AS t_time,
         CAST(floor(t_time_sk / 3600.0) AS INTEGER) AS t_hour,
         CAST(floor((t_time_sk % 3600) / 60.0) AS INTEGER) AS t_minute,
         CASE WHEN floor(t_time_sk / 3600.0) BETWEEN 6 AND 8 THEN 'breakfast'
              WHEN floor(t_time_sk / 3600.0) BETWEEN 17 AND 19 THEN 'dinner'
              ELSE NULL END AS t_meal_time
  FROM (SELECT DISTINCT (l_orderkey * 13 + l_linenumber * 7919) % 86400 AS t_time_sk
        FROM lineitem) td
),
store_returns AS (
  SELECT l_partkey AS sr_item_sk,
         l_orderkey AS sr_ticket_number,
         CAST(ceil(max(l_quantity) / 2.0) AS INTEGER) AS sr_return_quantity,
         min(l_suppkey) % 5 + 1 AS sr_reason_sk,
         max(o_custkey) AS sr_customer_sk,
         max(CAST(l_shipdate AS DATE)) AS sr_returned_date_sk,
         max(o_custkey) % 1000 AS sr_cdemo_sk,
         max(o_custkey) % 720 AS sr_hdemo_sk,
         l_orderkey % 500 AS sr_addr_sk,
         min(l_suppkey) % 25 + 1 AS sr_store_sk,
         sum(l_extendedprice * (1 - l_discount)) / 2 AS sr_return_amt,
         sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)) / 2 AS sr_return_amt_inc_tax,
         sum(l_extendedprice) * 0.02 AS sr_fee,
         sum(l_extendedprice) * 0.03 AS sr_return_ship_cost,
         sum(l_extendedprice * (1 - l_discount)) * 0.4 AS sr_refunded_cash,
         sum(l_extendedprice * (1 - l_discount)) * 0.06 AS sr_reversed_charge,
         sum(l_extendedprice * (1 - l_discount)) * 0.04 AS sr_store_credit,
         sum(l_extendedprice) * 0.1 AS sr_net_loss
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE l_returnflag = 'R'
  GROUP BY l_partkey, l_orderkey
),
catalog_returns AS (
  SELECT l_partkey AS cr_item_sk,
         l_orderkey AS cr_order_number,
         CAST(ceil(max(l_quantity) / 2.0) AS INTEGER) AS cr_return_quantity,
         min(l_suppkey) % 5 + 1 AS cr_reason_sk,
         max(o_custkey) AS cr_returning_customer_sk,
         max(o_custkey) AS cr_refunded_customer_sk,
         max(CAST(l_shipdate AS DATE)) AS cr_returned_date_sk,
         max(o_custkey) % 6 + 1 AS cr_call_center_sk,
         l_orderkey % 500 AS cr_returning_addr_sk,
         l_orderkey % 500 AS cr_refunded_addr_sk,
         max(o_custkey) % 1000 AS cr_refunded_cdemo_sk,
         max(o_custkey) % 720 AS cr_returning_hdemo_sk,
         min(l_suppkey) % 5 + 1 AS cr_warehouse_sk,
         l_partkey % 40 + 1 AS cr_catalog_page_sk,
         sum(l_extendedprice * (1 - l_discount)) / 2 AS cr_return_amount,
         sum(l_extendedprice * (1 - l_discount)) / 2 AS cr_return_amt,
         sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)) / 2 AS cr_return_amt_inc_tax,
         sum(l_extendedprice) * 0.02 AS cr_fee,
         sum(l_extendedprice * (1 - l_discount)) * 0.4 AS cr_refunded_cash,
         sum(l_extendedprice * (1 - l_discount)) * 0.06 AS cr_reversed_charge,
         sum(l_extendedprice * (1 - l_discount)) * 0.04 AS cr_store_credit,
         sum(l_extendedprice) * 0.1 AS cr_net_loss
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE l_returnflag = 'R' AND l_linenumber % 3 = 2
  GROUP BY l_partkey, l_orderkey
),
web_returns AS (
  SELECT l_partkey AS wr_item_sk,
         l_orderkey AS wr_order_number,
         CAST(ceil(max(l_quantity) / 2.0) AS INTEGER) AS wr_return_quantity,
         min(l_suppkey) % 5 + 1 AS wr_reason_sk,
         max(o_custkey) AS wr_returning_customer_sk,
         max(o_custkey) AS wr_refunded_customer_sk,
         max(CAST(l_shipdate AS DATE)) AS wr_returned_date_sk,
         l_orderkey % 500 AS wr_returning_addr_sk,
         l_orderkey % 500 AS wr_refunded_addr_sk,
         max(o_custkey) % 1000 AS wr_refunded_cdemo_sk,
         max(o_custkey) % 1000 AS wr_returning_cdemo_sk,
         max(o_custkey) % 720 AS wr_returning_hdemo_sk,
         l_partkey % 60 + 1 AS wr_web_page_sk,
         sum(l_extendedprice * (1 - l_discount)) / 2 AS wr_return_amt,
         sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)) / 2 AS wr_return_amt_inc_tax,
         sum(l_extendedprice) * 0.02 AS wr_fee,
         sum(l_extendedprice * (1 - l_discount)) * 0.4 AS wr_refunded_cash,
         sum(l_extendedprice) * 0.1 AS wr_net_loss
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE l_returnflag = 'R' AND l_linenumber % 3 = 1
  GROUP BY l_partkey, l_orderkey
),
inventory AS (
  SELECT CAST(o_orderdate AS DATE) AS inv_date_sk,
         l_partkey AS inv_item_sk,
         l_suppkey % 5 + 1 AS inv_warehouse_sk,
         CAST((l_partkey * 31 + l_suppkey * 7 + l_orderkey) % 1000 AS INTEGER) AS inv_quantity_on_hand
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
warehouse AS (
  SELECT r_regionkey + 1 AS w_warehouse_sk,
         CAST(r_regionkey + 1 AS STRING) AS w_warehouse_id,
         r_name AS w_warehouse_name,
         ((r_regionkey + 1) * 917) % 1000 * 100 AS w_warehouse_sq_ft,
         CASE r_regionkey % 5 WHEN 0 THEN 'TN' WHEN 1 THEN 'CA' WHEN 2 THEN 'NY'
              WHEN 3 THEN 'TX' ELSE 'WA' END AS w_state,
         CASE r_regionkey % 3 WHEN 0 THEN 'Fairview' WHEN 1 THEN 'Midway'
              ELSE 'Pleasant Hill' END AS w_city,
         r_name AS w_county,
         'United States' AS w_country,
         CAST(10000 + (r_regionkey * 53) % 89 AS STRING) AS w_zip
  FROM region
),
ship_mode AS (
  SELECT n_nationkey + 1 AS sm_ship_mode_sk,
         CAST(n_nationkey + 1 AS STRING) AS sm_ship_mode_id,
         CASE n_nationkey WHEN 0 THEN 'EXPRESS' WHEN 1 THEN 'NEXT DAY' WHEN 2 THEN 'OVERNIGHT'
              WHEN 3 THEN 'REGULAR' WHEN 4 THEN 'TWO DAY' WHEN 5 THEN 'LIBRARY'
              ELSE 'EMAIL' END AS sm_type,
         CASE n_nationkey % 4 WHEN 0 THEN 'AIR' WHEN 1 THEN 'SURFACE' WHEN 2 THEN 'SEA'
              ELSE 'RAIL' END AS sm_code,
         CASE n_nationkey % 5 WHEN 0 THEN 'UPS' WHEN 1 THEN 'FEDEX' WHEN 2 THEN 'AIRBORNE'
              WHEN 3 THEN 'USPS' ELSE 'DHL' END AS sm_carrier
  FROM nation WHERE n_nationkey < 7
),
call_center AS (
  SELECT n_nationkey + 1 AS cc_call_center_sk,
         CAST(n_nationkey + 1 AS STRING) AS cc_call_center_id,
         n_name AS cc_name,
         r_name AS cc_county,
         'Manager_' || CAST(n_nationkey + 1 AS STRING) AS cc_manager,
         CASE n_nationkey % 3 WHEN 0 THEN 'small' WHEN 1 THEN 'medium' ELSE 'large' END AS cc_class
  FROM nation JOIN region ON n_regionkey = r_regionkey
  WHERE n_nationkey < 6
),
web_site AS (
  SELECT n_nationkey + 1 AS web_site_sk,
         CAST(n_nationkey + 1 AS STRING) AS web_site_id,
         'site_' || CAST(n_nationkey % 12 AS STRING) AS web_name,
         r_name AS web_company_name
  FROM nation JOIN region ON n_regionkey = r_regionkey
),
web_page AS (
  SELECT wp_web_page_sk,
         CAST(wp_web_page_sk AS STRING) AS wp_web_page_id,
         2500 + (wp_web_page_sk * 83) % 5000 AS wp_char_count,
         CASE wp_web_page_sk % 2 WHEN 0 THEN 'Y' ELSE 'N' END AS wp_autogen_flag,
         'http://www.example.com/' || CAST(wp_web_page_sk AS STRING) AS wp_url
  FROM (SELECT DISTINCT p_partkey % 60 + 1 AS wp_web_page_sk FROM part) wp
),
catalog_page AS (
  SELECT cp_catalog_page_sk,
         CAST(cp_catalog_page_sk AS STRING) AS cp_catalog_page_id,
         CAST(floor((cp_catalog_page_sk - 1) / 10.0) AS INTEGER) + 1 AS cp_catalog_number,
         (cp_catalog_page_sk - 1) % 10 + 1 AS cp_page_number,
         'monthly catalog' AS cp_description
  FROM (SELECT DISTINCT p_partkey % 40 + 1 AS cp_catalog_page_sk FROM part) cp
),
reason AS (
  SELECT r_regionkey + 1 AS r_reason_sk,
         r_name AS r_reason_desc
  FROM region
)
"""

  /** The prelude parsed into ordered (name, body) pairs — the CTE heads sit
    * at column 0 (`name AS (`) and each body closes with a column-0 `),` or
    * `)`, so a line scan recovers the exact definitions from the single
    * source-of-truth string above. */
  private lazy val preludeCtes: Seq[(String, String)] = {
    val head = "^(?:WITH )?([a-z_]+) AS \\($".r
    val out = Seq.newBuilder[(String, String)]
    var name: String = null
    val body = new StringBuilder
    prelude.linesIterator.foreach {
      case head(n) =>
        if (name != null) out += ((name, body.toString)); body.clear(); name = n
      case l if l == ")," || l == ")" =>
        if (name != null) { out += ((name, body.toString)); name = null; body.clear() }
      case l => if (name != null) body.append(l).append('\n')
    }
    if (name != null) out += ((name, body.toString))
    out.result()
  }

  /** Register the derived DS star schema ONCE per (session, dir) — every
    * derived table CTAS to parquet (real columnar scans with pushdown and
    * pruning, not an in-memory cache that loses both) and reads back as a
    * view: the facts re-join lineitem⋈orders and even the dims hide
    * DISTINCTs over the base tables (date_dim scans all of orders), so lazy
    * views would re-pay those per query. This is how a real deployment runs a
    * benchmark schema (materialize once, query many times) instead of
    * re-deriving every fact table from lineitem⋈orders inside each of the
    * 99 query texts. The ORACLE text is unchanged (prelude + query, one
    * portable statement for DuckDB); only the Spark execution resolves the
    * CTE names through the views. Dir switches re-register. */
  // identity-keyed via WeakHashMap: identityHashCode alone can collide
  // between a collected session and a new one, silently skipping view
  // registration for the newcomer
  private val viewsFor =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, String]())
  // dirs whose star parquet THIS process already wrote: the CTAS runs once
  // per (JVM, dir) — a second session in the same JVM only re-registers
  // views over the existing files instead of overwriting parquet another
  // session's running queries may be mid-scan on. A marker left by a
  // PREVIOUS process is still never trusted (the source dir could have
  // been regenerated in between).
  private val starWritten = scala.collection.mutable.Set.empty[String]
  private def ensureViews(spark: SparkSession, dir: String): Unit = synchronized {
    if (viewsFor.get(spark) != dir) {
      // keyed by the absolute dir and the pid: two JVMs on one dir never
      // overwrite parquet the other may be scanning, and two dirs never
      // share a star schema
      val base = QueryCatalog.stagePath("graft_tpcds_star_", dir)
      val writeFacts = !starWritten.contains(base)
      preludeCtes.foreach { case (n, body) =>
        val path = s"$base/$n"
        if (writeFacts)
          graft.Graft.sqlScript(spark, body, Some(dir)).write.mode("overwrite").parquet(path)
        spark.read.parquet(path).createOrReplaceTempView(n)
      }
      starWritten += base
      viewsFor.put(spark, dir)
    }
  }

  private def entry(name: String, sql: String): (String, Q, Option[String]) = {
    val full = prelude + sql
    // Spark runs just the query against the registered star-schema views;
    // a query-level CTE block (leading ",") gets its WITH restored
    val t = sql.trim
    val queryOnly = if (t.startsWith(",")) "WITH " + t.stripPrefix(",").trim else t
    (name, (spark, dir) => {
      ensureViews(spark, dir)
      graft.Graft.sqlScript(spark, queryOnly, Some(dir))
    }, Some(full))
  }

  /** Split a query-level leading CTE block (`, name AS (body), name2 AS
    * (body2) SELECT …`) into ordered (name, body) legs plus the main query.
    * Brackets are matched by [[graft.SqlText]]; used by [[entryStaged]] so the Spark
    * execution can materialize each leg exactly once while the ORACLE text
    * (prelude + sql, one portable statement) stays byte-identical. */
  private[catalog] def splitLeadingCtes(sql: String): (Seq[(String, String)], String) = {
    val legs = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var rest = sql.trim
    var more = rest.startsWith(",")
    while (more) {
      more = false
      val t = rest.drop(1).trim
      """^([A-Za-z_][A-Za-z0-9_]*)\s+AS\s*\(""".r.findFirstMatchIn(t).foreach { h =>
        val close = new graft.SqlText(t).matching(h.end - 1)
        if (close >= 0) {
          legs += ((h.group(1), t.substring(h.end, close).trim))
          rest = t.substring(close + 1).trim
          more = rest.startsWith(",")
        }
      }
    }
    require(!rest.startsWith(","), s"cannot split the leading CTE block at: ${rest.take(60)}")
    (legs.toSeq, rest)
  }

  /** Like [[entry]] for a query whose leading CTE legs are each referenced
    * SEVERAL times by the main query (q14's cross_items/avg_sales feed all
    * three channels; q23's best-customer chain feeds both): Spark inlines
    * every CTE reference, so the canonical text recomputes each leg per
    * reference — q14's initial plan carried 212 Exchanges with its
    * cross_items/avg_sales subtrees planned 3x each (plans/r19/
    * q_tpcds_q14_before.txt). Guide §2.4 (remove shuffles outright /
    * compute once): each leg is computed ONCE per execution, staged to
    * parquet (write + read-back, the explicit localCheckpoint-free
    * materialization), registered as a temp view, and only the main query
    * runs against the staged legs. Legs run in declaration order, so later
    * legs may reference earlier ones. The staging is INSIDE the timed
    * query construction and overwritten on every call — nothing persists
    * across runs, every invocation recomputes from the parquet inputs.
    * The ORACLE text is the unchanged single statement. */
  private def entryStaged(name: String, sql: String,
      stageOnly: Set[String] = Set.empty): (String, Q, Option[String]) = {
    val full = prelude + sql
    val (legs, main) = splitLeadingCtes(sql)
    require(legs.nonEmpty, s"$name: entryStaged needs a leading CTE block")
    // a leg is staged only when referenced MORE than once downstream (later
    // legs + main); single-reference legs become lazy temp views — inlined
    // by Spark exactly like the original CTE, no staging overhead.
    // `stageOnly` narrows further (measured per query): staging a CHEAP or
    // LARGE multi-ref leg costs more in write+read than its recompute.
    // (?!\s*\.) drops qualified column references (`v1.rn`) so the count
    // approximates FROM/JOIN relation references
    val refCount: Map[String, Int] = legs.map { case (n, _) =>
      val word = ("""\b""" + n + """\b(?!\s*\.)""").r
      val downstream = legs.dropWhile(_._1 != n).drop(1).map(_._2) :+ main
      val c = downstream.map(b => word.findAllMatchIn(b).size).sum
      n -> (if (stageOnly.isEmpty || stageOnly.contains(n)) c else 1)
    }.toMap
    (name, (spark, dir) => {
      ensureViews(spark, dir)
      // pid-scoped staging dir: concurrent JVMs (bench children, verify)
      // can never clobber each other's in-flight legs
      val base = QueryCatalog.stagePath(s"graft_tpcds_cte_${name}_", dir)
      legs.foreach { case (n, body) =>
        val df = graft.Graft.sqlScript(spark, body, Some(dir))
        if (refCount(n) > 1) {
          val path = s"$base/$n"
          df.write.mode("overwrite").parquet(path)
          spark.read.parquet(path).createOrReplaceTempView(n)
        } else df.createOrReplaceTempView(n)
      }
      graft.Graft.sqlScript(spark, main, Some(dir))
    }, Some(full))
  }

  val all: Seq[(String, Q, Option[String])] = Seq(
    // q3: brand revenue by year for one manufacturer in November
    // (adapted: i_manufact_id 128 → 3; the TPC-H-derived domain is 1-5)
    entry("q_tpcds_q3", """
SELECT dt.d_year,
       item.i_brand_id AS brand_id,
       item.i_brand AS brand,
       round(sum(ss_ext_sales_price) + 5e-9, 4) AS sum_agg
FROM date_dim dt, store_sales, item
WHERE dt.d_date_sk = store_sales.ss_sold_date_sk
  AND store_sales.ss_item_sk = item.i_item_sk
  AND item.i_manufact_id = 3
  AND dt.d_moy = 11
GROUP BY dt.d_year, item.i_brand, item.i_brand_id
ORDER BY dt.d_year, sum_agg DESC, brand_id
LIMIT 100
"""),
    // q7: demographic-and-promotion averages per item
    // (adapted: d_year 2000 → 1995)
    entry("q_tpcds_q7", """
SELECT i_item_id,
       round(avg(ss_quantity) + 5e-9, 4) AS agg1,
       round(avg(ss_list_price) + 5e-9, 4) AS agg2,
       round(avg(ss_coupon_amt) + 5e-9, 4) AS agg3,
       round(avg(ss_sales_price) + 5e-9, 4) AS agg4
FROM store_sales, customer_demographics, date_dim, item, promotion
WHERE ss_sold_date_sk = d_date_sk
  AND ss_item_sk = i_item_sk
  AND ss_cdemo_sk = cd_demo_sk
  AND ss_promo_sk = p_promo_sk
  AND cd_gender = 'M'
  AND cd_marital_status = 'S'
  AND cd_education_status = 'College'
  AND (p_channel_email = 'N' OR p_channel_event = 'N')
  AND d_year = 1995
GROUP BY i_item_id
ORDER BY i_item_id
LIMIT 100
"""),
    // q19: brand revenue where the buyer's zip differs from the store's
    // (adapted: i_manager_id 8, d_year 1998 → 1995, customer → customer_ds)
    entry("q_tpcds_q19", """
SELECT i_brand_id AS brand_id,
       i_brand AS brand,
       i_manufact_id,
       i_manufact,
       round(sum(ss_ext_sales_price) + 5e-9, 4) AS ext_price
FROM date_dim, store_sales, item, customer_ds, customer_address, store
WHERE d_date_sk = ss_sold_date_sk
  AND ss_item_sk = i_item_sk
  AND i_manager_id = 8
  AND d_moy = 11
  AND d_year = 1995
  AND ss_customer_sk = c_customer_sk
  AND c_current_addr_sk = ca_address_sk
  AND substring(ca_zip, 1, 5) <> substring(s_zip, 1, 5)
  AND ss_store_sk = s_store_sk
GROUP BY i_brand, i_brand_id, i_manufact_id, i_manufact
ORDER BY ext_price DESC, i_brand, i_brand_id, i_manufact_id, i_manufact
LIMIT 100
"""),
    // q27: the corpus' UNION-ALL rollup variant (item×state, item, grand
    // total) over demographic-filtered sales (adapted: d_year 2002 → 1995)
    entry("q_tpcds_q27", """
, results AS (
  SELECT i_item_id, s_state,
         ss_quantity AS agg1, ss_list_price AS agg2,
         ss_coupon_amt AS agg3, ss_sales_price AS agg4
  FROM store_sales, customer_demographics, date_dim, store, item
  WHERE ss_sold_date_sk = d_date_sk
    AND ss_item_sk = i_item_sk
    AND ss_store_sk = s_store_sk
    AND ss_cdemo_sk = cd_demo_sk
    AND cd_gender = 'M'
    AND cd_marital_status = 'S'
    AND cd_education_status = 'College'
    AND d_year = 1995
    AND s_state = 'TN')
SELECT i_item_id, s_state, g_state, agg1, agg2, agg3, agg4
FROM (
  SELECT i_item_id, s_state, 0 AS g_state,
         round(avg(agg1) + 5e-9, 4) AS agg1, round(avg(agg2) + 5e-9, 4) AS agg2,
         round(avg(agg3) + 5e-9, 4) AS agg3, round(avg(agg4) + 5e-9, 4) AS agg4
  FROM results GROUP BY i_item_id, s_state
  UNION ALL
  SELECT i_item_id, NULL AS s_state, 1 AS g_state,
         round(avg(agg1) + 5e-9, 4) AS agg1, round(avg(agg2) + 5e-9, 4) AS agg2,
         round(avg(agg3) + 5e-9, 4) AS agg3, round(avg(agg4) + 5e-9, 4) AS agg4
  FROM results GROUP BY i_item_id
  UNION ALL
  SELECT NULL AS i_item_id, NULL AS s_state, 1 AS g_state,
         round(avg(agg1) + 5e-9, 4) AS agg1, round(avg(agg2) + 5e-9, 4) AS agg2,
         round(avg(agg3) + 5e-9, 4) AS agg3, round(avg(agg4) + 5e-9, 4) AS agg4
  FROM results) foo
ORDER BY i_item_id NULLS FIRST, s_state NULLS FIRST
LIMIT 100
"""),
    // q34: customers making 4-7-line store trips at month start/end
    // (adapted: county = region name 'AMERICA'; cnt 15-20 → 2-7, TPC-H
    // orders have at most 7 lines and the county filter applies per line;
    // customer → customer_ds)
    entry("q_tpcds_q34", """
SELECT c_last_name, c_first_name, c_salutation, c_preferred_cust_flag,
       ss_ticket_number, cnt
FROM (
  SELECT ss_ticket_number, ss_customer_sk, count(*) AS cnt
  FROM store_sales, date_dim, store, household_demographics
  WHERE store_sales.ss_sold_date_sk = date_dim.d_date_sk
    AND store_sales.ss_store_sk = store.s_store_sk
    AND store_sales.ss_hdemo_sk = household_demographics.hd_demo_sk
    AND (date_dim.d_dom BETWEEN 1 AND 3 OR date_dim.d_dom BETWEEN 25 AND 28)
    AND (household_demographics.hd_buy_potential = '>10000'
         OR household_demographics.hd_buy_potential = 'Unknown')
    AND household_demographics.hd_vehicle_count > 0
    AND (CASE WHEN household_demographics.hd_vehicle_count > 0
              THEN (household_demographics.hd_dep_count * 1.000)
                   / household_demographics.hd_vehicle_count
              ELSE NULL END) > 1.2
    AND date_dim.d_year IN (1995, 1996, 1997)
    AND store.s_county = 'AMERICA'
  GROUP BY ss_ticket_number, ss_customer_sk) dn, customer_ds
WHERE ss_customer_sk = c_customer_sk
  AND cnt BETWEEN 2 AND 7
ORDER BY c_last_name NULLS FIRST, c_first_name NULLS FIRST,
         c_salutation NULLS FIRST, c_preferred_cust_flag DESC NULLS FIRST,
         ss_ticket_number NULLS FIRST
"""),
    // q42: category revenue for one manager's items in November
    // (adapted: d_year 2000 → 1995)
    entry("q_tpcds_q42", """
SELECT dt.d_year,
       item.i_category_id,
       item.i_category,
       round(sum(ss_ext_sales_price) + 5e-9, 4) AS total_sales
FROM date_dim dt, store_sales, item
WHERE dt.d_date_sk = store_sales.ss_sold_date_sk
  AND store_sales.ss_item_sk = item.i_item_sk
  AND item.i_manager_id = 1
  AND dt.d_moy = 11
  AND dt.d_year = 1995
GROUP BY dt.d_year, item.i_category_id, item.i_category
ORDER BY total_sales DESC, dt.d_year, item.i_category_id, item.i_category
LIMIT 100
"""),
    // q52: brand revenue for one manager's items in November
    // (adapted: d_year 2000 → 1995)
    entry("q_tpcds_q52", """
SELECT dt.d_year,
       item.i_brand_id AS brand_id,
       item.i_brand AS brand,
       round(sum(ss_ext_sales_price) + 5e-9, 4) AS ext_price
FROM date_dim dt, store_sales, item
WHERE dt.d_date_sk = store_sales.ss_sold_date_sk
  AND store_sales.ss_item_sk = item.i_item_sk
  AND item.i_manager_id = 1
  AND dt.d_moy = 11
  AND dt.d_year = 1995
GROUP BY dt.d_year, item.i_brand, item.i_brand_id
ORDER BY dt.d_year, ext_price DESC, brand_id
LIMIT 100
"""),
    // q55: brand revenue, manager 28 (adapted: d_year 1999 → 1996)
    entry("q_tpcds_q55", """
SELECT i_brand_id AS brand_id,
       i_brand AS brand,
       round(sum(ss_ext_sales_price) + 5e-9, 4) AS ext_price
FROM date_dim, store_sales, item
WHERE d_date_sk = ss_sold_date_sk
  AND ss_item_sk = i_item_sk
  AND i_manager_id = 28
  AND d_moy = 11
  AND d_year = 1996
GROUP BY i_brand, i_brand_id
ORDER BY ext_price DESC, brand_id
LIMIT 100
"""),
    // q68: trips bought in a different city than the customer's current
    // one (adapted: years 1999-2001 → 1995-1997; customer → customer_ds)
    entry("q_tpcds_q68", """
SELECT c_last_name, c_first_name, ca_city, bought_city, ss_ticket_number,
       extended_price, extended_tax, list_price
FROM (
  SELECT ss_ticket_number, ss_customer_sk,
         ca_city AS bought_city,
         round(sum(ss_ext_sales_price) + 5e-9, 4) AS extended_price,
         round(sum(ss_ext_list_price) + 5e-9, 4) AS list_price,
         round(sum(ss_ext_tax) + 5e-9, 4) AS extended_tax
  FROM store_sales, date_dim, store, household_demographics, customer_address
  WHERE store_sales.ss_sold_date_sk = date_dim.d_date_sk
    AND store_sales.ss_store_sk = store.s_store_sk
    AND store_sales.ss_hdemo_sk = household_demographics.hd_demo_sk
    AND store_sales.ss_addr_sk = customer_address.ca_address_sk
    AND date_dim.d_dom BETWEEN 1 AND 2
    AND (household_demographics.hd_dep_count = 4
         OR household_demographics.hd_vehicle_count = 3)
    AND date_dim.d_year IN (1995, 1996, 1997)
    AND store.s_city IN ('Fairview', 'Midway')
  GROUP BY ss_ticket_number, ss_customer_sk, ss_addr_sk, ca_city) dn,
  customer_ds, customer_address current_addr
WHERE ss_customer_sk = c_customer_sk
  AND c_current_addr_sk = current_addr.ca_address_sk
  AND current_addr.ca_city <> bought_city
ORDER BY c_last_name NULLS FIRST, ss_ticket_number NULLS FIRST
LIMIT 100
"""),
    // q73: 1-5-line trips by high-buy-potential households (adapted:
    // counties = region names; years → 1995-1997; customer → customer_ds;
    // ticket number added to ORDER BY for a total order)
    entry("q_tpcds_q73", """
SELECT c_last_name, c_first_name, c_salutation, c_preferred_cust_flag,
       ss_ticket_number, cnt
FROM (
  SELECT ss_ticket_number, ss_customer_sk, count(*) AS cnt
  FROM store_sales, date_dim, store, household_demographics
  WHERE store_sales.ss_sold_date_sk = date_dim.d_date_sk
    AND store_sales.ss_store_sk = store.s_store_sk
    AND store_sales.ss_hdemo_sk = household_demographics.hd_demo_sk
    AND date_dim.d_dom BETWEEN 1 AND 2
    AND (household_demographics.hd_buy_potential = 'Unknown'
         OR household_demographics.hd_buy_potential = '>10000')
    AND household_demographics.hd_vehicle_count > 0
    AND CASE WHEN household_demographics.hd_vehicle_count > 0
             THEN (household_demographics.hd_dep_count * 1.000)
                  / household_demographics.hd_vehicle_count
             ELSE NULL END > 1
    AND date_dim.d_year IN (1995, 1996, 1997)
    AND store.s_county IN ('AMERICA', 'ASIA', 'EUROPE')
  GROUP BY ss_ticket_number, ss_customer_sk) dj, customer_ds
WHERE ss_customer_sk = c_customer_sk
  AND cnt BETWEEN 1 AND 5
ORDER BY cnt DESC, c_last_name ASC, ss_ticket_number ASC
"""),
    // q6: states whose customers buy items priced above 1.2x their
    // category's average, in one month — a correlated scalar subquery over
    // a CTE dimension plus a scalar month-seq subquery (adapted: d_year
    // 2001 -> 1995; price multiplier 1.2 -> 1.02, the synthetic
    // p_retailprice domain is [900,1000) so 1.2x the mean exceeds the max;
    // customer -> customer_ds)
    entry("q_tpcds_q6", """
SELECT a.ca_state AS state,
       count(*) AS cnt
FROM customer_address a, customer_ds c, store_sales s, date_dim d, item i
WHERE a.ca_address_sk = c.c_current_addr_sk
  AND c.c_customer_sk = s.ss_customer_sk
  AND s.ss_sold_date_sk = d.d_date_sk
  AND s.ss_item_sk = i.i_item_sk
  AND d.d_month_seq =
    (SELECT DISTINCT (d_month_seq) FROM date_dim WHERE d_year = 1995 AND d_moy = 1)
  AND i.i_current_price > 1.02 *
    (SELECT avg(j.i_current_price) FROM item j WHERE j.i_category = i.i_category)
GROUP BY a.ca_state
HAVING count(*) >= 10
ORDER BY cnt NULLS FIRST, a.ca_state NULLS FIRST
LIMIT 100
"""),
    // q13: demographic x address disjunctive range predicates over one
    // fact scan (adapted: d_year -> 1995, states -> the derived 5-state
    // domain, price/profit bands -> the TPC-H value ranges)
    entry("q_tpcds_q13", """
SELECT round(avg(ss_quantity) + 5e-9, 4) AS avg1,
       round(avg(ss_ext_sales_price) + 5e-9, 4) AS avg2,
       round(avg(ss_ext_wholesale_cost) + 5e-9, 4) AS avg3,
       round(sum(ss_ext_wholesale_cost) + 5e-9, 4) AS sum_wc
FROM store_sales, store, customer_demographics, household_demographics,
     customer_address, date_dim
WHERE s_store_sk = ss_store_sk
  AND ss_sold_date_sk = d_date_sk
  AND d_year = 1995
  AND ((ss_hdemo_sk = hd_demo_sk AND cd_demo_sk = ss_cdemo_sk
        AND cd_marital_status = 'M' AND cd_education_status = 'Advanced Degree'
        AND ss_sales_price BETWEEN 100.00 AND 150.00 AND hd_dep_count = 3)
       OR (ss_hdemo_sk = hd_demo_sk AND cd_demo_sk = ss_cdemo_sk
           AND cd_marital_status = 'S' AND cd_education_status = 'College'
           AND ss_sales_price BETWEEN 50.00 AND 100.00 AND hd_dep_count = 1)
       OR (ss_hdemo_sk = hd_demo_sk AND cd_demo_sk = ss_cdemo_sk
           AND cd_marital_status = 'W' AND cd_education_status = '2 yr Degree'
           AND ss_sales_price BETWEEN 150.00 AND 200.00 AND hd_dep_count = 1))
  AND ((ss_addr_sk = ca_address_sk AND ca_country = 'United States'
        AND ca_state IN ('TX', 'OH', 'TX') AND ss_net_profit BETWEEN 100 AND 200)
       OR (ss_addr_sk = ca_address_sk AND ca_country = 'United States'
           AND ca_state IN ('OR', 'NM', 'KY') AND ss_net_profit BETWEEN 150 AND 300)
       OR (ss_addr_sk = ca_address_sk AND ca_country = 'United States'
           AND ca_state IN ('TX', 'OR', 'NM') AND ss_net_profit BETWEEN 50 AND 250))
"""),
    // q36: gross-margin rollup (category -> class -> grand total, the
    // corpus' UNION variant) with rank() within each hierarchy level
    // (adapted: d_year -> 1995; margins rounded at 4dp BEFORE ranking so
    // ties are deterministic; explicit category/class tiebreaks appended
    // to the ORDER BY for a stable LIMIT cut)
    entry("q_tpcds_q36", """
, results AS (
  SELECT sum(ss_net_profit) AS ss_net_profit,
         sum(ss_ext_sales_price) AS ss_ext_sales_price,
         round((sum(ss_net_profit) * 1.0000) / sum(ss_ext_sales_price) + 5e-9, 4) AS gross_margin,
         i_category, i_class,
         0 AS g_category, 0 AS g_class
  FROM store_sales, date_dim d1, item, store
  WHERE d1.d_year = 1995
    AND d1.d_date_sk = ss_sold_date_sk
    AND i_item_sk = ss_item_sk
    AND s_store_sk = ss_store_sk
    AND s_state = 'TN'
  GROUP BY i_category, i_class),
results_rollup AS (
  SELECT gross_margin, i_category, i_class,
         0 AS t_category, 0 AS t_class, 0 AS lochierarchy
  FROM results
  UNION
  SELECT round((sum(ss_net_profit) * 1.0000) / sum(ss_ext_sales_price) + 5e-9, 4) AS gross_margin,
         i_category, NULL AS i_class, 0 AS t_category, 1 AS t_class, 1 AS lochierarchy
  FROM results GROUP BY i_category
  UNION
  SELECT round((sum(ss_net_profit) * 1.0000) / sum(ss_ext_sales_price) + 5e-9, 4) AS gross_margin,
         NULL AS i_category, NULL AS i_class, 1 AS t_category, 1 AS t_class, 2 AS lochierarchy
  FROM results)
SELECT gross_margin, i_category, i_class, lochierarchy,
       rank() OVER (PARTITION BY lochierarchy,
                      CASE WHEN t_class = 0 THEN i_category END
                    ORDER BY gross_margin ASC) AS rank_within_parent
FROM results_rollup
ORDER BY lochierarchy DESC NULLS FIRST,
         CASE WHEN lochierarchy = 0 THEN i_category END NULLS FIRST,
         rank_within_parent NULLS FIRST,
         i_category NULLS FIRST, i_class NULLS FIRST
LIMIT 100
"""),
    // q48: one grand-total sum under stacked demographic/address
    // disjunctions (adapted: d_year -> 1995, states/bands as q13)
    entry("q_tpcds_q48", """
SELECT CAST(sum(ss_quantity) AS BIGINT) AS sum_qty
FROM store_sales, store, customer_demographics, customer_address, date_dim
WHERE s_store_sk = ss_store_sk
  AND ss_sold_date_sk = d_date_sk
  AND d_year = 1995
  AND ((cd_demo_sk = ss_cdemo_sk
        AND cd_marital_status = 'M' AND cd_education_status = '4 yr Degree'
        AND ss_sales_price BETWEEN 100.00 AND 150.00)
       OR (cd_demo_sk = ss_cdemo_sk
           AND cd_marital_status = 'D' AND cd_education_status = '2 yr Degree'
           AND ss_sales_price BETWEEN 50.00 AND 100.00)
       OR (cd_demo_sk = ss_cdemo_sk
           AND cd_marital_status = 'S' AND cd_education_status = 'College'
           AND ss_sales_price BETWEEN 150.00 AND 200.00))
  AND ((ss_addr_sk = ca_address_sk AND ca_country = 'United States'
        AND ca_state IN ('TX', 'OH', 'KY') AND ss_net_profit BETWEEN 0 AND 2000)
       OR (ss_addr_sk = ca_address_sk AND ca_country = 'United States'
           AND ca_state IN ('OR', 'NM', 'KY') AND ss_net_profit BETWEEN 150 AND 3000)
       OR (ss_addr_sk = ca_address_sk AND ca_country = 'United States'
           AND ca_state IN ('TX', 'OR', 'NM') AND ss_net_profit BETWEEN 50 AND 25000))
"""),
    // q53: manufacturers whose quarterly sales deviate >10% from their own
    // average — an avg-of-sum window over a grouped subquery (adapted:
    // month_seq window -> 1995's seq 36-47; category/class/brand IN lists
    // -> the TPC-H-derived domains)
    entry("q_tpcds_q53", """
SELECT i_manufact_id,
       round(sum_sales + 5e-9, 4) AS sum_sales,
       round(avg_quarterly_sales + 5e-9, 4) AS avg_quarterly_sales
FROM (
  SELECT i_manufact_id,
         sum(ss_sales_price) AS sum_sales,
         avg(sum(ss_sales_price)) OVER (PARTITION BY i_manufact_id) AS avg_quarterly_sales
  FROM item, store_sales, date_dim, store
  WHERE ss_item_sk = i_item_sk
    AND ss_sold_date_sk = d_date_sk
    AND ss_store_sk = s_store_sk
    AND d_month_seq IN (36, 37, 38, 39, 40, 41, 42, 43, 44, 45, 46, 47)
    AND ((i_category IN ('STANDARD', 'SMALL', 'PROMO')
          AND i_class IN ('personal', 'portable', 'reference', 'self-help')
          AND i_brand IN ('Brand#1', 'Brand#11', 'Brand#23', 'Brand#14',
                          'Brand#5', 'Brand#17', 'Brand#20', 'Brand#8'))
         OR (i_category IN ('ECONOMY', 'MEDIUM', 'LARGE')
             AND i_class IN ('accessories', 'classical', 'fragrances')
             AND i_brand IN ('Brand#2', 'Brand#12', 'Brand#24', 'Brand#15',
                             'Brand#6', 'Brand#18', 'Brand#21', 'Brand#9')))
  GROUP BY i_manufact_id, d_qoy) tmp1
WHERE CASE WHEN avg_quarterly_sales > 0
           THEN abs(sum_sales - avg_quarterly_sales) / avg_quarterly_sales
           ELSE NULL END > 0.1
ORDER BY avg_quarterly_sales, sum_sales, i_manufact_id
LIMIT 100
"""),
    // q79: per-trip coupon amount and profit for large-household shoppers
    // at mid-size stores (adapted: d_dow -> d_dom = 1, the derived date dim
    // carries no portable day-of-week; employee band -> 15-30 on the
    // nation-derived store dim; customer -> customer_ds)
    entry("q_tpcds_q79", """
SELECT c_last_name, c_first_name,
       substring(s_city, 1, 30) AS city30,
       ss_ticket_number,
       amt, profit
FROM (
  SELECT ss_ticket_number, ss_customer_sk, store.s_city,
         round(sum(ss_coupon_amt) + 5e-9, 4) AS amt,
         round(sum(ss_net_profit) + 5e-9, 4) AS profit
  FROM store_sales, date_dim, store, household_demographics
  WHERE store_sales.ss_sold_date_sk = date_dim.d_date_sk
    AND store_sales.ss_store_sk = store.s_store_sk
    AND store_sales.ss_hdemo_sk = household_demographics.hd_demo_sk
    AND (household_demographics.hd_dep_count = 6
         OR household_demographics.hd_vehicle_count > 2)
    AND date_dim.d_dom = 1
    AND date_dim.d_year IN (1995, 1996, 1997)
    AND store.s_number_employees BETWEEN 15 AND 30
  GROUP BY ss_ticket_number, ss_customer_sk, ss_addr_sk, store.s_city) ms,
  customer_ds
WHERE ss_customer_sk = c_customer_sk
ORDER BY c_last_name NULLS FIRST, c_first_name NULLS FIRST,
         city30 NULLS FIRST, profit NULLS FIRST, ss_ticket_number
LIMIT 100
"""),
    // q89: store-month sales deviating >10% from the brand-store average —
    // avg-of-sum window partitioned by 4 dims (adapted: d_year -> 1995;
    // category/class IN lists -> derived domains)
    entry("q_tpcds_q89", """
SELECT i_category, i_class, i_brand, s_store_name, s_company_name, d_moy,
       round(sum_sales + 5e-9, 4) AS sum_sales,
       round(avg_monthly_sales + 5e-9, 4) AS avg_monthly_sales
FROM (
  SELECT i_category, i_class, i_brand, s_store_name, s_company_name, d_moy,
         sum(ss_sales_price) AS sum_sales,
         avg(sum(ss_sales_price)) OVER (PARTITION BY i_category, i_brand,
           s_store_name, s_company_name) AS avg_monthly_sales
  FROM item, store_sales, date_dim, store
  WHERE ss_item_sk = i_item_sk
    AND ss_sold_date_sk = d_date_sk
    AND ss_store_sk = s_store_sk
    AND d_year = 1995
    AND ((i_category IN ('STANDARD', 'SMALL', 'PROMO')
          AND i_class IN ('personal', 'portable', 'reference'))
         OR (i_category IN ('ECONOMY', 'MEDIUM', 'LARGE')
             AND i_class IN ('accessories', 'classical', 'fragrances')))
  GROUP BY i_category, i_class, i_brand, s_store_name, s_company_name, d_moy) tmp1
WHERE CASE WHEN (avg_monthly_sales <> 0)
           THEN (abs(sum_sales - avg_monthly_sales) / avg_monthly_sales)
           ELSE NULL END > 0.1
ORDER BY sum_sales - avg_monthly_sales, s_store_name,
         i_category, i_class, i_brand, s_company_name, d_moy, sum_sales
LIMIT 100
"""),
    // q98: item revenue share within its class over a 30-day window — a
    // sum-over-sum window ratio (adapted: window -> 1995-02-22..1995-03-24;
    // categories -> derived domain; no LIMIT so ordering is cosmetic)
    entry("q_tpcds_q98", """
SELECT i_item_id, i_item_desc, i_category, i_class,
       round(i_current_price + 5e-9, 4) AS i_current_price,
       round(sum(ss_ext_sales_price) + 5e-9, 4) AS itemrevenue,
       round(sum(ss_ext_sales_price) * 100.0000 /
             sum(sum(ss_ext_sales_price)) OVER (PARTITION BY i_class) + 5e-9, 4)
         AS revenueratio
FROM store_sales, item, date_dim
WHERE ss_item_sk = i_item_sk
  AND i_category IN ('STANDARD', 'SMALL', 'PROMO')
  AND ss_sold_date_sk = d_date_sk
  AND d_date BETWEEN CAST('1995-02-22' AS DATE) AND CAST('1995-03-24' AS DATE)
GROUP BY i_item_id, i_item_desc, i_category, i_class, i_current_price
ORDER BY i_category NULLS FIRST, i_class NULLS FIRST, i_item_id NULLS FIRST,
         i_item_desc NULLS FIRST, revenueratio NULLS FIRST
"""),
    // q9: five quantity-bucket CASE ladders, each choosing between two
    // scalar-subquery averages by a count threshold (adapted: thresholds
    // sized to the synthetic row counts so both CASE branches are taken
    // across the sf ladder; reason key 1 exists by construction)
    entry("q_tpcds_q9", """
SELECT CASE WHEN (SELECT count(*) FROM store_sales
                  WHERE ss_quantity BETWEEN 1 AND 20) > 2000
            THEN (SELECT round(avg(ss_ext_discount_amt) + 5e-9, 4) FROM store_sales
                  WHERE ss_quantity BETWEEN 1 AND 20)
            ELSE (SELECT round(avg(ss_net_paid) + 5e-9, 4) FROM store_sales
                  WHERE ss_quantity BETWEEN 1 AND 20) END AS bucket1,
       CASE WHEN (SELECT count(*) FROM store_sales
                  WHERE ss_quantity BETWEEN 21 AND 40) > 30000
            THEN (SELECT round(avg(ss_ext_discount_amt) + 5e-9, 4) FROM store_sales
                  WHERE ss_quantity BETWEEN 21 AND 40)
            ELSE (SELECT round(avg(ss_net_paid) + 5e-9, 4) FROM store_sales
                  WHERE ss_quantity BETWEEN 21 AND 40) END AS bucket2,
       CASE WHEN (SELECT count(*) FROM store_sales
                  WHERE ss_quantity BETWEEN 41 AND 50) > 1000
            THEN (SELECT round(avg(ss_ext_discount_amt) + 5e-9, 4) FROM store_sales
                  WHERE ss_quantity BETWEEN 41 AND 50)
            ELSE (SELECT round(avg(ss_net_paid) + 5e-9, 4) FROM store_sales
                  WHERE ss_quantity BETWEEN 41 AND 50) END AS bucket3
FROM reason
WHERE r_reason_sk = 1
"""),
    // q28: six quantity-bucket aggregates (avg + count + count DISTINCT of
    // a derived double) cross-joined into one row (adapted: price/coupon/
    // wholesale windows moved into the synthetic value domains —
    // ss_list_price ~ [900,1000), ss_coupon_amt up to ~5000,
    // ss_wholesale_cost ~ [540,600))
    entry("q_tpcds_q28", """
SELECT round(B1_LP + 5e-9, 4) AS b1_lp, B1_CNT AS b1_cnt, B1_CNTD AS b1_cntd,
       round(B2_LP + 5e-9, 4) AS b2_lp, B2_CNT AS b2_cnt, B2_CNTD AS b2_cntd,
       round(B3_LP + 5e-9, 4) AS b3_lp, B3_CNT AS b3_cnt, B3_CNTD AS b3_cntd,
       round(B4_LP + 5e-9, 4) AS b4_lp, B4_CNT AS b4_cnt, B4_CNTD AS b4_cntd,
       round(B5_LP + 5e-9, 4) AS b5_lp, B5_CNT AS b5_cnt, B5_CNTD AS b5_cntd,
       round(B6_LP + 5e-9, 4) AS b6_lp, B6_CNT AS b6_cnt, B6_CNTD AS b6_cntd
FROM
  (SELECT avg(ss_list_price) B1_LP, count(ss_list_price) B1_CNT,
          count(DISTINCT ss_list_price) B1_CNTD
   FROM store_sales WHERE ss_quantity BETWEEN 0 AND 5
     AND (ss_list_price BETWEEN 900 AND 910
          OR ss_coupon_amt BETWEEN 459 AND 1459
          OR ss_wholesale_cost BETWEEN 570 AND 590)) B1,
  (SELECT avg(ss_list_price) B2_LP, count(ss_list_price) B2_CNT,
          count(DISTINCT ss_list_price) B2_CNTD
   FROM store_sales WHERE ss_quantity BETWEEN 6 AND 10
     AND (ss_list_price BETWEEN 990 AND 1000
          OR ss_coupon_amt BETWEEN 2323 AND 3323
          OR ss_wholesale_cost BETWEEN 540 AND 560)) B2,
  (SELECT avg(ss_list_price) B3_LP, count(ss_list_price) B3_CNT,
          count(DISTINCT ss_list_price) B3_CNTD
   FROM store_sales WHERE ss_quantity BETWEEN 11 AND 15
     AND (ss_list_price BETWEEN 942 AND 952
          OR ss_coupon_amt BETWEEN 1214 AND 2214
          OR ss_wholesale_cost BETWEEN 579 AND 599)) B3,
  (SELECT avg(ss_list_price) B4_LP, count(ss_list_price) B4_CNT,
          count(DISTINCT ss_list_price) B4_CNTD
   FROM store_sales WHERE ss_quantity BETWEEN 16 AND 20
     AND (ss_list_price BETWEEN 935 AND 945
          OR ss_coupon_amt BETWEEN 71 AND 1071
          OR ss_wholesale_cost BETWEEN 558 AND 578)) B4,
  (SELECT avg(ss_list_price) B5_LP, count(ss_list_price) B5_CNT,
          count(DISTINCT ss_list_price) B5_CNTD
   FROM store_sales WHERE ss_quantity BETWEEN 21 AND 25
     AND (ss_list_price BETWEEN 922 AND 932
          OR ss_coupon_amt BETWEEN 836 AND 1836
          OR ss_wholesale_cost BETWEEN 547 AND 567)) B5,
  (SELECT avg(ss_list_price) B6_LP, count(ss_list_price) B6_CNT,
          count(DISTINCT ss_list_price) B6_CNTD
   FROM store_sales WHERE ss_quantity BETWEEN 26 AND 30
     AND (ss_list_price BETWEEN 954 AND 964
          OR ss_coupon_amt BETWEEN 326 AND 1326
          OR ss_wholesale_cost BETWEEN 562 AND 582)) B6
LIMIT 100
"""),
    // q41: correlated scalar-count subquery over item attribute
    // combinations — the deep OR/AND predicate nest (adapted: manufact id
    // range -> the 1-5 brand-digit domain; the color/units/size
    // combinations -> i_category/i_class/i_category_id combos, preserving
    // the two-arm (manufact, 4-way OR) x 2 structure)
    entry("q_tpcds_q41", """
SELECT DISTINCT (i_product_name) AS i_product_name
FROM item i1
WHERE i_manufact_id BETWEEN 2 AND 4
  AND (SELECT count(*) AS item_cnt
       FROM item
       WHERE (i_manufact = i1.i_manufact
              AND ((i_category = 'STANDARD'
                    AND (i_class = 'personal' OR i_class = 'portable')
                    AND (i_category_id = 1 OR i_category_id = 2))
                   OR (i_category = 'SMALL'
                       AND (i_class = 'reference' OR i_class = 'self-help')
                       AND (i_category_id = 3 OR i_category_id = 4))
                   OR (i_category = 'PROMO'
                       AND (i_class = 'accessories' OR i_class = 'classical')
                       AND (i_category_id = 5 OR i_category_id = 6))
                   OR (i_category = 'LARGE'
                       AND (i_class = 'fragrances' OR i_class = 'personal')
                       AND (i_category_id = 7 OR i_category_id = 8))))
          OR (i_manufact = i1.i_manufact
              AND ((i_category = 'MEDIUM'
                    AND (i_class = 'portable' OR i_class = 'reference')
                    AND (i_category_id = 1 OR i_category_id = 2))
                   OR (i_category = 'ECONOMY'
                       AND (i_class = 'self-help' OR i_class = 'accessories')
                       AND (i_category_id = 3 OR i_category_id = 4))
                   OR (i_category = 'STANDARD'
                       AND (i_class = 'classical' OR i_class = 'fragrances')
                       AND (i_category_id = 5 OR i_category_id = 6))
                   OR (i_category = 'SMALL'
                       AND (i_class = 'personal' OR i_class = 'portable')
                       AND (i_category_id = 7 OR i_category_id = 8))))) > 0
ORDER BY i_product_name
LIMIT 100
"""),
    // q59: week-over-year weekly sales ratios per store — the wss pivot
    // CTE self-joined at a one-"year" week offset (adapted: d_week_seq is
    // the synthetic 4-per-month sequence — real ISO weeks are not
    // engine-portable arithmetic — so the year offset is 48, and month_seq
    // windows are 1995 vs 1996; day names come from the portable
    // day-of-month % 7 surrogate)
    entry("q_tpcds_q59", """
, wss AS
  (SELECT d_week_seq, ss_store_sk,
          sum(CASE WHEN (d_day_name = 'Sunday') THEN ss_sales_price ELSE NULL END) sun_sales,
          sum(CASE WHEN (d_day_name = 'Monday') THEN ss_sales_price ELSE NULL END) mon_sales,
          sum(CASE WHEN (d_day_name = 'Tuesday') THEN ss_sales_price ELSE NULL END) tue_sales,
          sum(CASE WHEN (d_day_name = 'Wednesday') THEN ss_sales_price ELSE NULL END) wed_sales,
          sum(CASE WHEN (d_day_name = 'Thursday') THEN ss_sales_price ELSE NULL END) thu_sales,
          sum(CASE WHEN (d_day_name = 'Friday') THEN ss_sales_price ELSE NULL END) fri_sales,
          sum(CASE WHEN (d_day_name = 'Saturday') THEN ss_sales_price ELSE NULL END) sat_sales
   FROM store_sales, date_dim
   WHERE d_date_sk = ss_sold_date_sk
   GROUP BY d_week_seq, ss_store_sk)
SELECT s_store_name1, s_store_id1, d_week_seq1,
       round(sun_sales1 / sun_sales2 + 5e-9, 4) AS sun_sales_ratio,
       round(mon_sales1 / mon_sales2 + 5e-9, 4) AS mon_sales_ratio,
       round(tue_sales1 / tue_sales2 + 5e-9, 4) AS tue_sales_ratio,
       round(wed_sales1 / wed_sales2 + 5e-9, 4) AS wed_sales_ratio,
       round(thu_sales1 / thu_sales2 + 5e-9, 4) AS thu_sales_ratio,
       round(fri_sales1 / fri_sales2 + 5e-9, 4) AS fri_sales_ratio,
       round(sat_sales1 / sat_sales2 + 5e-9, 4) AS sat_sales_ratio
FROM
  (SELECT s_store_name s_store_name1, wss.d_week_seq d_week_seq1,
          s_store_id s_store_id1, sun_sales sun_sales1, mon_sales mon_sales1,
          tue_sales tue_sales1, wed_sales wed_sales1, thu_sales thu_sales1,
          fri_sales fri_sales1, sat_sales sat_sales1
   FROM wss, store, date_dim d
   WHERE d.d_week_seq = wss.d_week_seq AND ss_store_sk = s_store_sk
     AND d_month_seq BETWEEN 36 AND 47) y,
  (SELECT s_store_name s_store_name2, wss.d_week_seq d_week_seq2,
          s_store_id s_store_id2, sun_sales sun_sales2, mon_sales mon_sales2,
          tue_sales tue_sales2, wed_sales wed_sales2, thu_sales thu_sales2,
          fri_sales fri_sales2, sat_sales sat_sales2
   FROM wss, store, date_dim d
   WHERE d.d_week_seq = wss.d_week_seq AND ss_store_sk = s_store_sk
     AND d_month_seq BETWEEN 48 AND 59) x
WHERE s_store_id1 = s_store_id2
  AND d_week_seq1 = d_week_seq2 - 48
ORDER BY s_store_name1 NULLS FIRST, s_store_id1 NULLS FIRST,
         d_week_seq1 NULLS FIRST
LIMIT 100
"""),
    // q65: items whose yearly revenue falls under 10% of their store's
    // average item revenue — the grouped-subquery vs avg-of-grouped
    // comparison (adapted: month_seq window -> 1995; extra ORDER BY
    // tiebreakers for cross-engine determinism under LIMIT)
    entry("q_tpcds_q65", """
SELECT s_store_name, i_item_desc,
       round(sc.revenue + 5e-9, 4) AS revenue,
       round(i_current_price + 5e-9, 4) AS i_current_price,
       round(i_wholesale_cost + 5e-9, 4) AS i_wholesale_cost,
       i_brand
FROM store, item,
  (SELECT ss_store_sk, avg(revenue) AS ave
   FROM (SELECT ss_store_sk, ss_item_sk, sum(ss_sales_price) AS revenue
         FROM store_sales, date_dim
         WHERE ss_sold_date_sk = d_date_sk AND d_month_seq BETWEEN 36 AND 47
         GROUP BY ss_store_sk, ss_item_sk) sa
   GROUP BY ss_store_sk) sb,
  (SELECT ss_store_sk, ss_item_sk, sum(ss_sales_price) AS revenue
   FROM store_sales, date_dim
   WHERE ss_sold_date_sk = d_date_sk AND d_month_seq BETWEEN 36 AND 47
   GROUP BY ss_store_sk, ss_item_sk) sc
WHERE sb.ss_store_sk = sc.ss_store_sk
  AND sc.revenue <= 0.1 * sb.ave
  AND s_store_sk = sc.ss_store_sk
  AND i_item_sk = sc.ss_item_sk
ORDER BY s_store_name NULLS FIRST, i_item_desc NULLS FIRST,
         i_brand NULLS FIRST, revenue NULLS FIRST
LIMIT 100
"""),
    // q67: the 8-level ROLLUP over category/class/brand/product x
    // year/quarter/month x store with rank-per-category (adapted:
    // month_seq -> 1995; sumsales ROUNDED BEFORE RANKING — ranking raw
    // double sums would let cross-engine summation-order drift flip ties)
    entry("q_tpcds_q67", """
SELECT *
FROM
  (SELECT i_category, i_class, i_brand, i_product_name, d_year, d_qoy, d_moy,
          s_store_id, sumsales,
          rank() OVER (PARTITION BY i_category ORDER BY sumsales DESC) rk
   FROM
     (SELECT i_category, i_class, i_brand, i_product_name, d_year, d_qoy,
             d_moy, s_store_id,
             round(sum(coalesce(ss_sales_price * ss_quantity, 0)) + 5e-9, 4) sumsales
      FROM store_sales, date_dim, store, item
      WHERE ss_sold_date_sk = d_date_sk
        AND ss_item_sk = i_item_sk
        AND ss_store_sk = s_store_sk
        AND d_month_seq BETWEEN 36 AND 47
      GROUP BY ROLLUP(i_category, i_class, i_brand, i_product_name, d_year,
                      d_qoy, d_moy, s_store_id)) dw1) dw2
WHERE rk <= 10
ORDER BY i_category NULLS FIRST, i_class NULLS FIRST, i_brand NULLS FIRST,
         i_product_name NULLS FIRST, d_year NULLS FIRST, d_qoy NULLS FIRST,
         d_moy NULLS FIRST, s_store_id NULLS FIRST, sumsales NULLS FIRST,
         rk NULLS FIRST
LIMIT 100
"""),
    // q70: state/county profit rollup with rank-within-parent AND a
    // rank()-filtered subquery inside the WHERE — the canonical
    // grouping()-in-window form this time (q36 covers the UNION variant)
    // (adapted: month_seq -> 1995; sums rounded before ranking)
    entry("q_tpcds_q70", """
SELECT round(sum(ss_net_profit) + 5e-9, 4) AS total_sum,
       s_state, s_county,
       grouping(s_state) + grouping(s_county) AS lochierarchy,
       rank() OVER (PARTITION BY grouping(s_state) + grouping(s_county),
                      CASE WHEN grouping(s_county) = 0 THEN s_state END
                    ORDER BY round(sum(ss_net_profit) + 5e-9, 4) DESC) AS rank_within_parent
FROM store_sales, date_dim d1, store
WHERE d1.d_month_seq BETWEEN 36 AND 47
  AND d1.d_date_sk = ss_sold_date_sk
  AND s_store_sk = ss_store_sk
  AND s_state IN
    (SELECT s_state
     FROM (SELECT s_state AS s_state,
                  rank() OVER (PARTITION BY s_state
                               ORDER BY round(sum(ss_net_profit) + 5e-9, 4) DESC) AS ranking
           FROM store_sales, store, date_dim
           WHERE d_month_seq BETWEEN 36 AND 47
             AND d_date_sk = ss_sold_date_sk
             AND s_store_sk = ss_store_sk
           GROUP BY s_state) tmp1
     WHERE ranking <= 5)
GROUP BY ROLLUP(s_state, s_county)
ORDER BY lochierarchy DESC,
         CASE WHEN grouping(s_state) + grouping(s_county) = 0 THEN s_state END NULLS FIRST,
         rank_within_parent, s_state NULLS FIRST, s_county NULLS FIRST
LIMIT 100
"""),
    // q93: actual sales after returns — store_sales LEFT JOIN the derived
    // store_returns (lineitem's 'R' flag) with an inner reason filter
    // (adapted: reason desc -> the region-name domain; sumsales rounded
    // and used with the customer key as the deterministic sort)
    entry("q_tpcds_q93", """
SELECT ss_customer_sk,
       round(sum(act_sales) + 5e-9, 4) AS sumsales
FROM
  (SELECT ss_item_sk, ss_ticket_number, ss_customer_sk,
          CASE WHEN sr_return_quantity IS NOT NULL
               THEN (ss_quantity - sr_return_quantity) * ss_sales_price
               ELSE (ss_quantity * ss_sales_price) END act_sales
   FROM store_sales
   LEFT OUTER JOIN store_returns ON (sr_item_sk = ss_item_sk
                                     AND sr_ticket_number = ss_ticket_number), reason
   WHERE sr_reason_sk = r_reason_sk
     AND r_reason_desc = 'EUROPE') t
GROUP BY ss_customer_sk
ORDER BY sumsales NULLS FIRST, ss_customer_sk NULLS FIRST
LIMIT 100
"""),
    // q2: week-over-week web+catalog sales ratios across consecutive years —
    // the UNION-ALL channel merge pivoted by day name, self-joined at a
    // one-year week offset (adapted: synthetic week_seq is 48/year so the
    // offset is 48 not 53; years -> 1995/1996; the unnamed canonical ratio
    // column aliased for the column-name hash compare)
    entry("q_tpcds_q2", """
, wscs AS
  (SELECT sold_date_sk, sales_price
   FROM (SELECT ws_sold_date_sk AS sold_date_sk, ws_ext_sales_price AS sales_price
         FROM web_sales
         UNION ALL
         SELECT cs_sold_date_sk AS sold_date_sk, cs_ext_sales_price AS sales_price
         FROM catalog_sales) sq1),
wswscs AS
  (SELECT d_week_seq,
          sum(CASE WHEN (d_day_name = 'Sunday') THEN sales_price ELSE NULL END) sun_sales,
          sum(CASE WHEN (d_day_name = 'Monday') THEN sales_price ELSE NULL END) mon_sales,
          sum(CASE WHEN (d_day_name = 'Tuesday') THEN sales_price ELSE NULL END) tue_sales,
          sum(CASE WHEN (d_day_name = 'Wednesday') THEN sales_price ELSE NULL END) wed_sales,
          sum(CASE WHEN (d_day_name = 'Thursday') THEN sales_price ELSE NULL END) thu_sales,
          sum(CASE WHEN (d_day_name = 'Friday') THEN sales_price ELSE NULL END) fri_sales,
          sum(CASE WHEN (d_day_name = 'Saturday') THEN sales_price ELSE NULL END) sat_sales
   FROM wscs, date_dim
   WHERE d_date_sk = sold_date_sk
   GROUP BY d_week_seq)
SELECT d_week_seq1,
       round(sun_sales1 / sun_sales2 + 5e-9, 4) AS r1,
       round(mon_sales1 / mon_sales2 + 5e-9, 4) AS r2,
       round(tue_sales1 / tue_sales2 + 5e-9, 4) AS r3,
       round(wed_sales1 / wed_sales2 + 5e-9, 4) AS r4,
       round(thu_sales1 / thu_sales2 + 5e-9, 4) AS r5,
       round(fri_sales1 / fri_sales2 + 5e-9, 4) AS r6,
       round(sat_sales1 / sat_sales2 + 5e-9, 4) AS r7
FROM
  (SELECT wswscs.d_week_seq d_week_seq1, sun_sales sun_sales1,
          mon_sales mon_sales1, tue_sales tue_sales1, wed_sales wed_sales1,
          thu_sales thu_sales1, fri_sales fri_sales1, sat_sales sat_sales1
   FROM wswscs, date_dim
   WHERE date_dim.d_week_seq = wswscs.d_week_seq AND d_year = 1995) y,
  (SELECT wswscs.d_week_seq d_week_seq2, sun_sales sun_sales2,
          mon_sales mon_sales2, tue_sales tue_sales2, wed_sales wed_sales2,
          thu_sales thu_sales2, fri_sales fri_sales2, sat_sales sat_sales2
   FROM wswscs, date_dim
   WHERE date_dim.d_week_seq = wswscs.d_week_seq AND d_year = 1995 + 1) z
WHERE d_week_seq1 = d_week_seq2 - 48
ORDER BY d_week_seq1 NULLS FIRST
"""),
    // q12: the q98 revenue-ratio shape over the WEB channel (adapted like
    // q98: category list -> the p_type-derived domain, 1999 window -> 1995)
    entry("q_tpcds_q12", """
SELECT i_item_id, i_item_desc, i_category, i_class,
       round(i_current_price + 5e-9, 4) AS i_current_price,
       round(sum(ws_ext_sales_price) + 5e-9, 4) AS itemrevenue,
       round(sum(ws_ext_sales_price) * 100.0000 /
             sum(sum(ws_ext_sales_price)) OVER (PARTITION BY i_class) + 5e-9, 4)
         AS revenueratio
FROM web_sales, item, date_dim
WHERE ws_item_sk = i_item_sk
  AND i_category IN ('STANDARD', 'SMALL', 'PROMO')
  AND ws_sold_date_sk = d_date_sk
  AND d_date BETWEEN CAST('1995-02-22' AS DATE) AND CAST('1995-03-24' AS DATE)
GROUP BY i_item_id, i_item_desc, i_category, i_class, i_current_price
ORDER BY i_category NULLS FIRST, i_class NULLS FIRST, i_item_id NULLS FIRST,
         i_item_desc NULLS FIRST, revenueratio NULLS FIRST
LIMIT 100
"""),
    // q20: the q98 revenue-ratio shape over the CATALOG channel (same
    // adaptations as q12)
    entry("q_tpcds_q20", """
SELECT i_item_id, i_item_desc, i_category, i_class,
       round(i_current_price + 5e-9, 4) AS i_current_price,
       round(sum(cs_ext_sales_price) + 5e-9, 4) AS itemrevenue,
       round(sum(cs_ext_sales_price) * 100.0000 /
             sum(sum(cs_ext_sales_price)) OVER (PARTITION BY i_class) + 5e-9, 4)
         AS revenueratio
FROM catalog_sales, item, date_dim
WHERE cs_item_sk = i_item_sk
  AND i_category IN ('STANDARD', 'SMALL', 'PROMO')
  AND cs_sold_date_sk = d_date_sk
  AND d_date BETWEEN CAST('1995-02-22' AS DATE) AND CAST('1995-03-24' AS DATE)
GROUP BY i_item_id, i_item_desc, i_category, i_class, i_current_price
ORDER BY i_category NULLS FIRST, i_class NULLS FIRST, i_item_id NULLS FIRST,
         i_item_desc NULLS FIRST, revenueratio NULLS FIRST
LIMIT 100
"""),
    // q26: demographic-filtered catalog averages through the promotion dim
    // — the q7 shape on the catalog channel (adapted: avgs rounded 4dp
    // with the small-group nudge; d_year -> 1995)
    entry("q_tpcds_q26", """
SELECT i_item_id,
       round(avg(cs_quantity) + 5e-9, 4) AS agg1,
       round(avg(cs_list_price) + 5e-9, 4) AS agg2,
       round(avg(cs_coupon_amt) + 5e-9, 4) AS agg3,
       round(avg(cs_sales_price) + 5e-9, 4) AS agg4
FROM catalog_sales, customer_demographics, date_dim, item, promotion
WHERE cs_sold_date_sk = d_date_sk
  AND cs_item_sk = i_item_sk
  AND cs_bill_cdemo_sk = cd_demo_sk
  AND cs_promo_sk = p_promo_sk
  AND cd_gender = 'M'
  AND cd_marital_status = 'S'
  AND cd_education_status = 'College'
  AND (p_channel_email = 'N' OR p_channel_event = 'N')
  AND d_year = 1995
GROUP BY i_item_id
ORDER BY i_item_id NULLS FIRST
LIMIT 100
"""),
    // q43: per-store day-name sales pivot over a year (adapted: the store
    // dim has no gmt offset -> s_state filter on the derived domain;
    // d_year -> 1995; sums rounded 4dp)
    entry("q_tpcds_q43", """
SELECT s_store_name, s_store_id,
       round(sum(CASE WHEN (d_day_name = 'Sunday') THEN ss_sales_price ELSE NULL END) + 5e-9, 4) AS sun_sales,
       round(sum(CASE WHEN (d_day_name = 'Monday') THEN ss_sales_price ELSE NULL END) + 5e-9, 4) AS mon_sales,
       round(sum(CASE WHEN (d_day_name = 'Tuesday') THEN ss_sales_price ELSE NULL END) + 5e-9, 4) AS tue_sales,
       round(sum(CASE WHEN (d_day_name = 'Wednesday') THEN ss_sales_price ELSE NULL END) + 5e-9, 4) AS wed_sales,
       round(sum(CASE WHEN (d_day_name = 'Thursday') THEN ss_sales_price ELSE NULL END) + 5e-9, 4) AS thu_sales,
       round(sum(CASE WHEN (d_day_name = 'Friday') THEN ss_sales_price ELSE NULL END) + 5e-9, 4) AS fri_sales,
       round(sum(CASE WHEN (d_day_name = 'Saturday') THEN ss_sales_price ELSE NULL END) + 5e-9, 4) AS sat_sales
FROM date_dim, store_sales, store
WHERE d_date_sk = ss_sold_date_sk
  AND s_store_sk = ss_store_sk
  AND s_state = 'TN'
  AND d_year = 1995
GROUP BY s_store_name, s_store_id
ORDER BY s_store_name NULLS FIRST, s_store_id NULLS FIRST, sun_sales NULLS FIRST,
         mon_sales NULLS FIRST, tue_sales NULLS FIRST, wed_sales NULLS FIRST,
         thu_sales NULLS FIRST, fri_sales NULLS FIRST, sat_sales NULLS FIRST
LIMIT 100
"""),
    // q63: managers whose monthly sales deviate >10% from their own average
    // — the q53 shape at monthly grain on i_manager_id (adapted: month_seq
    // window -> 1995's 36-47; brand/category lists -> the TPC-H domains,
    // as in q53)
    entry("q_tpcds_q63", """
SELECT i_manager_id,
       round(sum_sales + 5e-9, 4) AS sum_sales,
       round(avg_monthly_sales + 5e-9, 4) AS avg_monthly_sales
FROM (
  SELECT i_manager_id,
         sum(ss_sales_price) AS sum_sales,
         avg(sum(ss_sales_price)) OVER (PARTITION BY i_manager_id) AS avg_monthly_sales
  FROM item, store_sales, date_dim, store
  WHERE ss_item_sk = i_item_sk
    AND ss_sold_date_sk = d_date_sk
    AND ss_store_sk = s_store_sk
    AND d_month_seq IN (36, 37, 38, 39, 40, 41, 42, 43, 44, 45, 46, 47)
    AND ((i_category IN ('STANDARD', 'SMALL', 'PROMO')
          AND i_class IN ('personal', 'portable', 'reference', 'self-help')
          AND i_brand IN ('Brand#1', 'Brand#11', 'Brand#23', 'Brand#14',
                          'Brand#5', 'Brand#17', 'Brand#20', 'Brand#8'))
         OR (i_category IN ('ECONOMY', 'MEDIUM', 'LARGE')
             AND i_class IN ('accessories', 'classical', 'fragrances')
             AND i_brand IN ('Brand#2', 'Brand#12', 'Brand#24', 'Brand#15',
                             'Brand#6', 'Brand#18', 'Brand#21', 'Brand#9')))
  GROUP BY i_manager_id, d_moy) tmp1
WHERE CASE WHEN avg_monthly_sales > 0
           THEN abs(sum_sales - avg_monthly_sales) / avg_monthly_sales
           ELSE NULL END > 0.1
ORDER BY i_manager_id NULLS FIRST, avg_monthly_sales, sum_sales
LIMIT 100
"""),
    // q88: eight half-hour customer-count buckets as cross-joined scalar
    // subqueries over the derived time dim (adapted: store name -> the
    // nation-name domain; the synthetic time_sk spreads uniformly over the
    // 86400-second day so every bucket is populated)
    entry("q_tpcds_q88", """
SELECT * FROM
  (SELECT count(*) h8_30_to_9
   FROM store_sales, household_demographics, time_dim, store
   WHERE ss_sold_time_sk = time_dim.t_time_sk
     AND ss_hdemo_sk = household_demographics.hd_demo_sk
     AND ss_store_sk = s_store_sk
     AND time_dim.t_hour = 8 AND time_dim.t_minute >= 30
     AND ((household_demographics.hd_dep_count = 4 AND household_demographics.hd_vehicle_count <= 4 + 2)
          OR (household_demographics.hd_dep_count = 2 AND household_demographics.hd_vehicle_count <= 2 + 2)
          OR (household_demographics.hd_dep_count = 0 AND household_demographics.hd_vehicle_count <= 0 + 2))
     AND store.s_store_name = 'JAPAN') s1,
  (SELECT count(*) h9_to_9_30
   FROM store_sales, household_demographics, time_dim, store
   WHERE ss_sold_time_sk = time_dim.t_time_sk
     AND ss_hdemo_sk = household_demographics.hd_demo_sk
     AND ss_store_sk = s_store_sk
     AND time_dim.t_hour = 9 AND time_dim.t_minute < 30
     AND ((household_demographics.hd_dep_count = 4 AND household_demographics.hd_vehicle_count <= 4 + 2)
          OR (household_demographics.hd_dep_count = 2 AND household_demographics.hd_vehicle_count <= 2 + 2)
          OR (household_demographics.hd_dep_count = 0 AND household_demographics.hd_vehicle_count <= 0 + 2))
     AND store.s_store_name = 'JAPAN') s2,
  (SELECT count(*) h9_30_to_10
   FROM store_sales, household_demographics, time_dim, store
   WHERE ss_sold_time_sk = time_dim.t_time_sk
     AND ss_hdemo_sk = household_demographics.hd_demo_sk
     AND ss_store_sk = s_store_sk
     AND time_dim.t_hour = 9 AND time_dim.t_minute >= 30
     AND ((household_demographics.hd_dep_count = 4 AND household_demographics.hd_vehicle_count <= 4 + 2)
          OR (household_demographics.hd_dep_count = 2 AND household_demographics.hd_vehicle_count <= 2 + 2)
          OR (household_demographics.hd_dep_count = 0 AND household_demographics.hd_vehicle_count <= 0 + 2))
     AND store.s_store_name = 'JAPAN') s3,
  (SELECT count(*) h10_to_10_30
   FROM store_sales, household_demographics, time_dim, store
   WHERE ss_sold_time_sk = time_dim.t_time_sk
     AND ss_hdemo_sk = household_demographics.hd_demo_sk
     AND ss_store_sk = s_store_sk
     AND time_dim.t_hour = 10 AND time_dim.t_minute < 30
     AND ((household_demographics.hd_dep_count = 4 AND household_demographics.hd_vehicle_count <= 4 + 2)
          OR (household_demographics.hd_dep_count = 2 AND household_demographics.hd_vehicle_count <= 2 + 2)
          OR (household_demographics.hd_dep_count = 0 AND household_demographics.hd_vehicle_count <= 0 + 2))
     AND store.s_store_name = 'JAPAN') s4,
  (SELECT count(*) h10_30_to_11
   FROM store_sales, household_demographics, time_dim, store
   WHERE ss_sold_time_sk = time_dim.t_time_sk
     AND ss_hdemo_sk = household_demographics.hd_demo_sk
     AND ss_store_sk = s_store_sk
     AND time_dim.t_hour = 10 AND time_dim.t_minute >= 30
     AND ((household_demographics.hd_dep_count = 4 AND household_demographics.hd_vehicle_count <= 4 + 2)
          OR (household_demographics.hd_dep_count = 2 AND household_demographics.hd_vehicle_count <= 2 + 2)
          OR (household_demographics.hd_dep_count = 0 AND household_demographics.hd_vehicle_count <= 0 + 2))
     AND store.s_store_name = 'JAPAN') s5,
  (SELECT count(*) h11_to_11_30
   FROM store_sales, household_demographics, time_dim, store
   WHERE ss_sold_time_sk = time_dim.t_time_sk
     AND ss_hdemo_sk = household_demographics.hd_demo_sk
     AND ss_store_sk = s_store_sk
     AND time_dim.t_hour = 11 AND time_dim.t_minute < 30
     AND ((household_demographics.hd_dep_count = 4 AND household_demographics.hd_vehicle_count <= 4 + 2)
          OR (household_demographics.hd_dep_count = 2 AND household_demographics.hd_vehicle_count <= 2 + 2)
          OR (household_demographics.hd_dep_count = 0 AND household_demographics.hd_vehicle_count <= 0 + 2))
     AND store.s_store_name = 'JAPAN') s6,
  (SELECT count(*) h11_30_to_12
   FROM store_sales, household_demographics, time_dim, store
   WHERE ss_sold_time_sk = time_dim.t_time_sk
     AND ss_hdemo_sk = household_demographics.hd_demo_sk
     AND ss_store_sk = s_store_sk
     AND time_dim.t_hour = 11 AND time_dim.t_minute >= 30
     AND ((household_demographics.hd_dep_count = 4 AND household_demographics.hd_vehicle_count <= 4 + 2)
          OR (household_demographics.hd_dep_count = 2 AND household_demographics.hd_vehicle_count <= 2 + 2)
          OR (household_demographics.hd_dep_count = 0 AND household_demographics.hd_vehicle_count <= 0 + 2))
     AND store.s_store_name = 'JAPAN') s7,
  (SELECT count(*) h12_to_12_30
   FROM store_sales, household_demographics, time_dim, store
   WHERE ss_sold_time_sk = time_dim.t_time_sk
     AND ss_hdemo_sk = household_demographics.hd_demo_sk
     AND ss_store_sk = s_store_sk
     AND time_dim.t_hour = 12 AND time_dim.t_minute < 30
     AND ((household_demographics.hd_dep_count = 4 AND household_demographics.hd_vehicle_count <= 4 + 2)
          OR (household_demographics.hd_dep_count = 2 AND household_demographics.hd_vehicle_count <= 2 + 2)
          OR (household_demographics.hd_dep_count = 0 AND household_demographics.hd_vehicle_count <= 0 + 2))
     AND store.s_store_name = 'JAPAN') s8
"""),
    // q96: a single evening-rush customer count through the time dim
    // (adapted: store name -> the nation-name domain; dep_count 7 exists in
    // the derived hd domain 0-9)
    entry("q_tpcds_q96", """
SELECT count(*) AS cnt
FROM store_sales, household_demographics, time_dim, store
WHERE ss_sold_time_sk = time_dim.t_time_sk
  AND ss_hdemo_sk = household_demographics.hd_demo_sk
  AND ss_store_sk = s_store_sk
  AND time_dim.t_hour = 20
  AND time_dim.t_minute >= 30
  AND household_demographics.hd_dep_count = 7
  AND store.s_store_name = 'JAPAN'
ORDER BY cnt
LIMIT 100
"""),
    // q1: customers returning over 1.2x their store's average (correlated
    // scalar subquery over a CTE; adapted: d_year 2000, s_state TN)
    entry("q_tpcds_q1", """
, customer_total_return AS
  (SELECT sr_customer_sk AS ctr_customer_sk,
          sr_store_sk AS ctr_store_sk,
          sum(sr_return_amt) AS ctr_total_return
   FROM store_returns, date_dim
   WHERE sr_returned_date_sk = d_date_sk AND d_year = 2000
   GROUP BY sr_customer_sk, sr_store_sk)
SELECT c_customer_id
FROM customer_total_return ctr1, store, customer_ds
WHERE ctr1.ctr_total_return >
    (SELECT avg(ctr_total_return) * 1.2
     FROM customer_total_return ctr2
     WHERE ctr1.ctr_store_sk = ctr2.ctr_store_sk)
  AND s_store_sk = ctr1.ctr_store_sk
  AND s_state = 'TN'
  AND ctr1.ctr_customer_sk = c_customer_sk
ORDER BY c_customer_id
LIMIT 100
"""),
    // q15: zip/state/price disjunctive catalog revenue (adapted: zips and
    // states to the derived ca domains, price > 940, d_year 1996)
    entry("q_tpcds_q15", """
SELECT ca_zip,
       round(sum(cs_sales_price) + 5e-9, 4) AS sum_sales_price
FROM catalog_sales, customer_ds, customer_address, date_dim
WHERE cs_bill_customer_sk = c_customer_sk
  AND c_current_addr_sk = ca_address_sk
  AND (substring(ca_zip, 1, 5) IN ('10003', '10010', '10024', '10031', '10045')
       OR ca_state IN ('CA', 'OR', 'KY')
       OR cs_sales_price > 940)
  AND cs_sold_date_sk = d_date_sk
  AND d_qoy = 2
  AND d_year = 1996
GROUP BY ca_zip
ORDER BY ca_zip NULLS FIRST
LIMIT 100
"""),
    // q16: split-warehouse unreturned catalog orders (EXISTS on a second
    // warehouse + NOT EXISTS on returns; adapted: 1995 ship window, OH,
    // cc_county from the region-name domain)
    entry("q_tpcds_q16", """
SELECT count(DISTINCT cs_order_number) AS order_cnt,
       round(sum(cs_ext_ship_cost) + 5e-9, 4) AS total_shipping_cost,
       round(sum(cs_net_profit) + 5e-9, 4) AS total_net_profit
FROM catalog_sales cs1, date_dim, customer_address, call_center
WHERE d_date BETWEEN CAST('1995-02-01' AS DATE) AND CAST('1995-04-02' AS DATE)
  AND cs1.cs_ship_date_sk = d_date_sk
  AND cs1.cs_ship_addr_sk = ca_address_sk
  AND ca_state = 'OH'
  AND cs1.cs_call_center_sk = cc_call_center_sk
  AND cc_county = 'AMERICA'
  AND EXISTS
    (SELECT *
     FROM catalog_sales cs2
     WHERE cs1.cs_order_number = cs2.cs_order_number
       AND cs1.cs_warehouse_sk <> cs2.cs_warehouse_sk)
  AND NOT EXISTS
    (SELECT *
     FROM catalog_returns cr1
     WHERE cs1.cs_order_number = cr1.cr_order_number)
ORDER BY order_cnt
LIMIT 100
"""),
    // q21: inventory before/after a split date with a ratio band filter
    // (adapted: price band to the derived [900,1000) domain, 1995 dates)
    entry("q_tpcds_q21", """
SELECT *
FROM
  (SELECT w_warehouse_name,
          i_item_id,
          CAST(sum(CASE WHEN d_date < CAST('1995-03-11' AS DATE)
                   THEN inv_quantity_on_hand ELSE 0 END) AS BIGINT) AS inv_before,
          CAST(sum(CASE WHEN d_date >= CAST('1995-03-11' AS DATE)
                   THEN inv_quantity_on_hand ELSE 0 END) AS BIGINT) AS inv_after
   FROM inventory, warehouse, item, date_dim
   WHERE i_current_price BETWEEN 920 AND 950
     AND i_item_sk = inv_item_sk
     AND inv_warehouse_sk = w_warehouse_sk
     AND inv_date_sk = d_date_sk
     AND d_date BETWEEN CAST('1995-02-10' AS DATE) AND CAST('1995-04-10' AS DATE)
   GROUP BY w_warehouse_name, i_item_id) x
WHERE (CASE WHEN inv_before > 0 THEN (inv_after * 1.000) / inv_before ELSE NULL END)
      BETWEEN 2.000 / 3.000 AND 3.000 / 2.000
ORDER BY w_warehouse_name NULLS FIRST, i_item_id NULLS FIRST
LIMIT 100
"""),
    // q22: quantity-on-hand ROLLUP over the full item hierarchy
    // (adapted: d_month_seq 36-47 = calendar 1995)
    entry("q_tpcds_q22", """
SELECT i_product_name, i_brand, i_class, i_category,
       round(avg(inv_quantity_on_hand) + 5e-9, 4) AS qoh
FROM inventory, date_dim, item
WHERE inv_date_sk = d_date_sk
  AND inv_item_sk = i_item_sk
  AND d_month_seq BETWEEN 36 AND 47
GROUP BY ROLLUP(i_product_name, i_brand, i_class, i_category)
ORDER BY qoh NULLS FIRST, i_product_name NULLS FIRST, i_brand NULLS FIRST,
         i_class NULLS FIRST, i_category NULLS FIRST
LIMIT 100
"""),
    // q32: excess catalog discounts vs 1.3x the item's window average
    // (correlated scalar subquery; adapted: i_manufact_id 3, 1995 window)
    entry("q_tpcds_q32", """
SELECT round(sum(cs_ext_discount_amt) + 5e-9, 4) AS excess_discount_amt
FROM catalog_sales, item, date_dim
WHERE i_manufact_id = 3
  AND i_item_sk = cs_item_sk
  AND d_date BETWEEN CAST('1995-01-27' AS DATE) AND CAST('1995-04-26' AS DATE)
  AND d_date_sk = cs_sold_date_sk
  AND cs_ext_discount_amt >
    (SELECT 1.3 * avg(cs_ext_discount_amt)
     FROM catalog_sales, date_dim
     WHERE cs_item_sk = i_item_sk
       AND d_date BETWEEN CAST('1995-01-27' AS DATE) AND CAST('1995-04-26' AS DATE)
       AND d_date_sk = cs_sold_date_sk)
LIMIT 100
"""),
    // q37: catalog-sold items in a price/manufacturer/inventory band
    // (adapted: price 920-950, manufact ids 1/3/5/7, 1995 dates)
    entry("q_tpcds_q37", """
SELECT i_item_id, i_item_desc,
       round(i_current_price + 5e-9, 4) AS i_current_price
FROM item, inventory, date_dim, catalog_sales
WHERE i_current_price BETWEEN 920 AND 950
  AND inv_item_sk = i_item_sk
  AND d_date_sk = inv_date_sk
  AND d_date BETWEEN CAST('1995-02-01' AS DATE) AND CAST('1995-04-01' AS DATE)
  AND i_manufact_id IN (1, 3, 5, 7)
  AND inv_quantity_on_hand BETWEEN 100 AND 500
  AND cs_item_sk = i_item_sk
GROUP BY i_item_id, i_item_desc, i_current_price
ORDER BY i_item_id
LIMIT 100
"""),
    // q38: customers active in ALL three channels (triple INTERSECT;
    // adapted: d_month_seq 36-47)
    entry("q_tpcds_q38", """
SELECT count(*) AS cnt
FROM
  (SELECT DISTINCT c_last_name, c_first_name, d_date
   FROM store_sales, date_dim, customer_ds
   WHERE store_sales.ss_sold_date_sk = date_dim.d_date_sk
     AND store_sales.ss_customer_sk = c_customer_sk
     AND d_month_seq BETWEEN 36 AND 47
   INTERSECT
   SELECT DISTINCT c_last_name, c_first_name, d_date
   FROM catalog_sales, date_dim, customer_ds
   WHERE catalog_sales.cs_sold_date_sk = date_dim.d_date_sk
     AND catalog_sales.cs_bill_customer_sk = c_customer_sk
     AND d_month_seq BETWEEN 36 AND 47
   INTERSECT
   SELECT DISTINCT c_last_name, c_first_name, d_date
   FROM web_sales, date_dim, customer_ds
   WHERE web_sales.ws_sold_date_sk = date_dim.d_date_sk
     AND web_sales.ws_bill_customer_sk = c_customer_sk
     AND d_month_seq BETWEEN 36 AND 47) hot_cust
LIMIT 100
"""),
    // q40: catalog sales net of returned cash around a split date, by
    // warehouse state (LEFT JOIN returns on item+order; 1995 dates)
    entry("q_tpcds_q40", """
SELECT w_state, i_item_id,
       round(sum(CASE WHEN d_date < CAST('1995-03-11' AS DATE)
                      THEN cs_sales_price - coalesce(cr_refunded_cash, 0)
                      ELSE 0 END) + 5e-9, 4) AS sales_before,
       round(sum(CASE WHEN d_date >= CAST('1995-03-11' AS DATE)
                      THEN cs_sales_price - coalesce(cr_refunded_cash, 0)
                      ELSE 0 END) + 5e-9, 4) AS sales_after
FROM catalog_sales
LEFT OUTER JOIN catalog_returns ON (cs_order_number = cr_order_number
                                    AND cs_item_sk = cr_item_sk),
     warehouse, item, date_dim
WHERE i_current_price BETWEEN 920 AND 950
  AND i_item_sk = cs_item_sk
  AND cs_warehouse_sk = w_warehouse_sk
  AND cs_sold_date_sk = d_date_sk
  AND d_date BETWEEN CAST('1995-02-10' AS DATE) AND CAST('1995-04-10' AS DATE)
GROUP BY w_state, i_item_id
ORDER BY w_state, i_item_id
LIMIT 100
"""),
    // q62: web shipping-lag buckets by warehouse/mode/site (date-diff
    // buckets rewritten as engine-portable date + int comparisons)
    entry("q_tpcds_q62", """
SELECT w_substr, sm_type, web_name,
       CAST(sum(CASE WHEN ws_ship_date_sk <= ws_sold_date_sk + 30 THEN 1 ELSE 0 END) AS BIGINT) AS d30,
       CAST(sum(CASE WHEN ws_ship_date_sk > ws_sold_date_sk + 30
                 AND ws_ship_date_sk <= ws_sold_date_sk + 60 THEN 1 ELSE 0 END) AS BIGINT) AS d31_60,
       CAST(sum(CASE WHEN ws_ship_date_sk > ws_sold_date_sk + 60
                 AND ws_ship_date_sk <= ws_sold_date_sk + 90 THEN 1 ELSE 0 END) AS BIGINT) AS d61_90,
       CAST(sum(CASE WHEN ws_ship_date_sk > ws_sold_date_sk + 90
                 AND ws_ship_date_sk <= ws_sold_date_sk + 120 THEN 1 ELSE 0 END) AS BIGINT) AS d91_120,
       CAST(sum(CASE WHEN ws_ship_date_sk > ws_sold_date_sk + 120 THEN 1 ELSE 0 END) AS BIGINT) AS dgt120
FROM web_sales,
  (SELECT substring(w_warehouse_name, 1, 20) AS w_substr, * FROM warehouse) sq1,
     ship_mode, web_site, date_dim
WHERE d_month_seq BETWEEN 36 AND 47
  AND ws_ship_date_sk = d_date_sk
  AND ws_warehouse_sk = w_warehouse_sk
  AND ws_ship_mode_sk = sm_ship_mode_sk
  AND ws_web_site_sk = web_site_sk
GROUP BY w_substr, sm_type, web_name
ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST
LIMIT 100
"""),
    // q82: store-sold items in a price/manufacturer/inventory band
    // (adapted like q37; manufact ids 2/4/6/8, mid-1995 dates)
    entry("q_tpcds_q82", """
SELECT i_item_id, i_item_desc,
       round(i_current_price + 5e-9, 4) AS i_current_price
FROM item, inventory, date_dim, store_sales
WHERE i_current_price BETWEEN 920 AND 950
  AND inv_item_sk = i_item_sk
  AND d_date_sk = inv_date_sk
  AND d_date BETWEEN CAST('1995-05-25' AS DATE) AND CAST('1995-07-24' AS DATE)
  AND i_manufact_id IN (2, 4, 6, 8)
  AND inv_quantity_on_hand BETWEEN 100 AND 500
  AND ss_item_sk = i_item_sk
GROUP BY i_item_id, i_item_desc, i_current_price
ORDER BY i_item_id
LIMIT 100
"""),
    // q84: returning customers in an income band + city (income_band chain
    // through household demographics; adapted: city Fairview, band 30k-80k)
    entry("q_tpcds_q84", """
SELECT c_customer_id AS customer_id,
       concat(concat(coalesce(c_last_name, ''), ', '), coalesce(c_first_name, '')) AS customername
FROM customer_ds, customer_address, customer_demographics,
     household_demographics, income_band, store_returns
WHERE ca_city = 'Fairview'
  AND c_current_addr_sk = ca_address_sk
  AND ib_lower_bound >= 30000
  AND ib_upper_bound <= 80000
  AND ib_income_band_sk = hd_income_band_sk
  AND cd_demo_sk = c_current_cdemo_sk
  AND hd_demo_sk = c_current_hdemo_sk
  AND sr_cdemo_sk = cd_demo_sk
ORDER BY c_customer_id NULLS FIRST
LIMIT 100
"""),
    // q86: web net-paid ROLLUP with intra-hierarchy ranks (round-before-
    // rank per the catalog convention; d_month_seq 36-47)
    entry("q_tpcds_q86", """
SELECT round(sum(ws_net_paid) + 5e-9, 4) AS total_sum,
       i_category, i_class,
       grouping(i_category) + grouping(i_class) AS lochierarchy,
       rank() OVER (PARTITION BY grouping(i_category) + grouping(i_class),
                      CASE WHEN grouping(i_class) = 0 THEN i_category END
                    ORDER BY round(sum(ws_net_paid) + 5e-9, 4) DESC) AS rank_within_parent
FROM web_sales, date_dim d1, item
WHERE d1.d_month_seq BETWEEN 36 AND 47
  AND d1.d_date_sk = ws_sold_date_sk
  AND i_item_sk = ws_item_sk
GROUP BY ROLLUP(i_category, i_class)
ORDER BY lochierarchy DESC,
         CASE WHEN grouping(i_category) + grouping(i_class) = 0 THEN i_category END NULLS FIRST,
         rank_within_parent, i_category NULLS FIRST, i_class NULLS FIRST
LIMIT 100
"""),
    // q87: store-only customer/date combinations (double EXCEPT;
    // d_month_seq 36-47)
    entry("q_tpcds_q87", """
SELECT count(*) AS cnt
FROM ((SELECT DISTINCT c_last_name, c_first_name, d_date
       FROM store_sales, date_dim, customer_ds
       WHERE store_sales.ss_sold_date_sk = date_dim.d_date_sk
         AND store_sales.ss_customer_sk = c_customer_sk
         AND d_month_seq BETWEEN 36 AND 47)
      EXCEPT
      (SELECT DISTINCT c_last_name, c_first_name, d_date
       FROM catalog_sales, date_dim, customer_ds
       WHERE catalog_sales.cs_sold_date_sk = date_dim.d_date_sk
         AND catalog_sales.cs_bill_customer_sk = c_customer_sk
         AND d_month_seq BETWEEN 36 AND 47)
      EXCEPT
      (SELECT DISTINCT c_last_name, c_first_name, d_date
       FROM web_sales, date_dim, customer_ds
       WHERE web_sales.ws_sold_date_sk = date_dim.d_date_sk
         AND web_sales.ws_bill_customer_sk = c_customer_sk
         AND d_month_seq BETWEEN 36 AND 47)) cool_cust
"""),
    // q90: morning/evening web traffic ratio (decimal division rewritten
    // to rounded double — decimal result scales differ across engines)
    entry("q_tpcds_q90", """
SELECT CASE WHEN pmc = 0 THEN NULL
            ELSE round(CAST(amc AS DOUBLE) / pmc + 5e-9, 4) END AS am_pm_ratio
FROM
  (SELECT count(*) AS amc
   FROM web_sales, household_demographics, time_dim, web_page
   WHERE ws_sold_time_sk = time_dim.t_time_sk
     AND ws_ship_hdemo_sk = household_demographics.hd_demo_sk
     AND ws_web_page_sk = web_page.wp_web_page_sk
     AND time_dim.t_hour BETWEEN 8 AND 9
     AND household_demographics.hd_dep_count = 6
     AND web_page.wp_char_count BETWEEN 5000 AND 5200) am_table,
  (SELECT count(*) AS pmc
   FROM web_sales, household_demographics, time_dim, web_page
   WHERE ws_sold_time_sk = time_dim.t_time_sk
     AND ws_ship_hdemo_sk = household_demographics.hd_demo_sk
     AND ws_web_page_sk = web_page.wp_web_page_sk
     AND time_dim.t_hour BETWEEN 19 AND 20
     AND household_demographics.hd_dep_count = 6
     AND web_page.wp_char_count BETWEEN 5000 AND 5200) pt
ORDER BY am_pm_ratio NULLS FIRST
LIMIT 100
"""),
    // q91: call-center return losses for targeted demographics
    // (adapted: d_year 1997 / May, ca_gmt_offset -6.0 — the -5.0 band
    // forces even custkeys while hd_buy_potential 'Unknown' forces odd,
    // which would make the query structurally empty on the derived dims)
    entry("q_tpcds_q91", """
SELECT cc_call_center_id AS call_center,
       cc_name AS call_center_name,
       cc_manager AS manager,
       round(sum(cr_net_loss) + 5e-9, 4) AS returns_loss
FROM call_center, catalog_returns, date_dim, customer_ds,
     customer_address, customer_demographics, household_demographics
WHERE cr_call_center_sk = cc_call_center_sk
  AND cr_returned_date_sk = d_date_sk
  AND cr_returning_customer_sk = c_customer_sk
  AND cd_demo_sk = c_current_cdemo_sk
  AND hd_demo_sk = c_current_hdemo_sk
  AND ca_address_sk = c_current_addr_sk
  AND d_year = 1997
  AND d_moy = 5
  AND ((cd_marital_status = 'M' AND cd_education_status = 'Unknown')
       OR (cd_marital_status = 'W' AND cd_education_status = 'Advanced Degree'))
  AND hd_buy_potential LIKE 'Unknown%'
  AND ca_gmt_offset = -6.0
GROUP BY cc_call_center_id, cc_name, cc_manager,
         cd_marital_status, cd_education_status
ORDER BY returns_loss DESC, call_center
"""),
    // q92: excess web discounts vs 1.3x the item's window average
    // (adapted: i_manufact_id 3, 1995 window)
    entry("q_tpcds_q92", """
SELECT round(sum(ws_ext_discount_amt) + 5e-9, 4) AS excess_discount_amt
FROM web_sales, item, date_dim
WHERE i_manufact_id = 3
  AND i_item_sk = ws_item_sk
  AND d_date BETWEEN CAST('1995-01-27' AS DATE) AND CAST('1995-04-26' AS DATE)
  AND d_date_sk = ws_sold_date_sk
  AND ws_ext_discount_amt >
    (SELECT 1.3 * avg(ws_ext_discount_amt)
     FROM web_sales, date_dim
     WHERE ws_item_sk = i_item_sk
       AND d_date BETWEEN CAST('1995-01-27' AS DATE) AND CAST('1995-04-26' AS DATE)
       AND d_date_sk = ws_sold_date_sk)
LIMIT 100
"""),
    // q94: split-warehouse unreturned web orders (EXISTS + NOT EXISTS;
    // adapted: 1995 ship window, TX, company from the region-name domain)
    entry("q_tpcds_q94", """
SELECT count(DISTINCT ws_order_number) AS order_cnt,
       round(sum(ws_ext_ship_cost) + 5e-9, 4) AS total_shipping_cost,
       round(sum(ws_net_profit) + 5e-9, 4) AS total_net_profit
FROM web_sales ws1, date_dim, customer_address, web_site
WHERE d_date BETWEEN CAST('1995-02-01' AS DATE) AND CAST('1995-04-02' AS DATE)
  AND ws1.ws_ship_date_sk = d_date_sk
  AND ws1.ws_ship_addr_sk = ca_address_sk
  AND ca_state = 'TX'
  AND ws1.ws_web_site_sk = web_site_sk
  AND web_company_name = 'AMERICA'
  AND EXISTS
    (SELECT *
     FROM web_sales ws2
     WHERE ws1.ws_order_number = ws2.ws_order_number
       AND ws1.ws_warehouse_sk <> ws2.ws_warehouse_sk)
  AND NOT EXISTS
    (SELECT *
     FROM web_returns wr1
     WHERE ws1.ws_order_number = wr1.wr_order_number)
ORDER BY order_cnt
LIMIT 100
"""),
    // q95: split-warehouse RETURNED web orders (the q94 battery flipped to
    // IN-subqueries over a self-joined warehouse-pair CTE)
    entryStaged("q_tpcds_q95", """
, ws_wh AS
  (SELECT ws1.ws_order_number,
          ws1.ws_warehouse_sk AS wh1,
          ws2.ws_warehouse_sk AS wh2
   FROM web_sales ws1, web_sales ws2
   WHERE ws1.ws_order_number = ws2.ws_order_number
     AND ws1.ws_warehouse_sk <> ws2.ws_warehouse_sk)
SELECT count(DISTINCT ws_order_number) AS order_cnt,
       round(sum(ws_ext_ship_cost) + 5e-9, 4) AS total_shipping_cost,
       round(sum(ws_net_profit) + 5e-9, 4) AS total_net_profit
FROM web_sales ws1, date_dim, customer_address, web_site
WHERE d_date BETWEEN CAST('1995-02-01' AS DATE) AND CAST('1995-04-02' AS DATE)
  AND ws1.ws_ship_date_sk = d_date_sk
  AND ws1.ws_ship_addr_sk = ca_address_sk
  AND ca_state = 'TX'
  AND ws1.ws_web_site_sk = web_site_sk
  AND web_company_name = 'AMERICA'
  AND ws1.ws_order_number IN (SELECT ws_order_number FROM ws_wh)
  AND ws1.ws_order_number IN
    (SELECT wr_order_number
     FROM web_returns, ws_wh
     WHERE wr_order_number = ws_wh.ws_order_number)
ORDER BY order_cnt
LIMIT 100
"""),
    // q97: store/catalog channel overlap via FULL OUTER JOIN of per-channel
    // customer-item sets (d_month_seq 36-47)
    entryStaged("q_tpcds_q97", """
, ssci AS
  (SELECT ss_customer_sk AS customer_sk, ss_item_sk AS item_sk
   FROM store_sales, date_dim
   WHERE ss_sold_date_sk = d_date_sk AND d_month_seq BETWEEN 36 AND 47
   GROUP BY ss_customer_sk, ss_item_sk),
csci AS
  (SELECT cs_bill_customer_sk AS customer_sk, cs_item_sk AS item_sk
   FROM catalog_sales, date_dim
   WHERE cs_sold_date_sk = d_date_sk AND d_month_seq BETWEEN 36 AND 47
   GROUP BY cs_bill_customer_sk, cs_item_sk)
SELECT CAST(sum(CASE WHEN ssci.customer_sk IS NOT NULL AND csci.customer_sk IS NULL
                THEN 1 ELSE 0 END) AS BIGINT) AS store_only,
       CAST(sum(CASE WHEN ssci.customer_sk IS NULL AND csci.customer_sk IS NOT NULL
                THEN 1 ELSE 0 END) AS BIGINT) AS catalog_only,
       CAST(sum(CASE WHEN ssci.customer_sk IS NOT NULL AND csci.customer_sk IS NOT NULL
                THEN 1 ELSE 0 END) AS BIGINT) AS store_and_catalog
FROM ssci
FULL OUTER JOIN csci ON (ssci.customer_sk = csci.customer_sk
                         AND ssci.item_sk = csci.item_sk)
LIMIT 100
"""),
    // q99: catalog shipping-lag buckets by warehouse/mode/call-center
    // (date-diff buckets rewritten as portable date + int comparisons)
    entry("q_tpcds_q99", """
SELECT w_substr, sm_type, lower(cc_name) AS cc_name_lower,
       CAST(sum(CASE WHEN cs_ship_date_sk <= cs_sold_date_sk + 30 THEN 1 ELSE 0 END) AS BIGINT) AS d30,
       CAST(sum(CASE WHEN cs_ship_date_sk > cs_sold_date_sk + 30
                 AND cs_ship_date_sk <= cs_sold_date_sk + 60 THEN 1 ELSE 0 END) AS BIGINT) AS d31_60,
       CAST(sum(CASE WHEN cs_ship_date_sk > cs_sold_date_sk + 60
                 AND cs_ship_date_sk <= cs_sold_date_sk + 90 THEN 1 ELSE 0 END) AS BIGINT) AS d61_90,
       CAST(sum(CASE WHEN cs_ship_date_sk > cs_sold_date_sk + 90
                 AND cs_ship_date_sk <= cs_sold_date_sk + 120 THEN 1 ELSE 0 END) AS BIGINT) AS d91_120,
       CAST(sum(CASE WHEN cs_ship_date_sk > cs_sold_date_sk + 120 THEN 1 ELSE 0 END) AS BIGINT) AS dgt120
FROM catalog_sales,
  (SELECT substring(w_warehouse_name, 1, 20) AS w_substr, * FROM warehouse) sq1,
     ship_mode, call_center, date_dim
WHERE d_month_seq BETWEEN 36 AND 47
  AND cs_ship_date_sk = d_date_sk
  AND cs_warehouse_sk = w_warehouse_sk
  AND cs_ship_mode_sk = sm_ship_mode_sk
  AND cs_call_center_sk = cc_call_center_sk
GROUP BY w_substr, sm_type, cc_name
ORDER BY 1 NULLS FIRST, 2 NULLS FIRST, 3 NULLS FIRST
LIMIT 100
"""),
    // q4: customers whose catalog growth outpaces BOTH store and web
    // growth (6-way self-join of a 3-channel year_total CTE; adapted:
    // years 1995/1996, year totals rounded at 4 dp inside the CTE so the
    // growth-ratio comparisons are engine-deterministic)
    entry("q_tpcds_q4", """
, year_total AS
  (SELECT c_customer_id AS customer_id,
          c_first_name AS customer_first_name,
          c_last_name AS customer_last_name,
          c_preferred_cust_flag AS customer_preferred_cust_flag,
          d_year AS dyear,
          round(sum(((ss_ext_list_price - ss_ext_wholesale_cost - ss_ext_discount_amt)
                     + ss_ext_sales_price) / 2) + 5e-9, 4) AS year_total,
          's' AS sale_type
   FROM customer_ds, store_sales, date_dim
   WHERE c_customer_sk = ss_customer_sk AND ss_sold_date_sk = d_date_sk
   GROUP BY c_customer_id, c_first_name, c_last_name, c_preferred_cust_flag, d_year
   UNION ALL
   SELECT c_customer_id, c_first_name, c_last_name, c_preferred_cust_flag,
          d_year,
          round(sum(((cs_ext_list_price - cs_ext_wholesale_cost - cs_ext_discount_amt)
                     + cs_ext_sales_price) / 2) + 5e-9, 4),
          'c'
   FROM customer_ds, catalog_sales, date_dim
   WHERE c_customer_sk = cs_bill_customer_sk AND cs_sold_date_sk = d_date_sk
   GROUP BY c_customer_id, c_first_name, c_last_name, c_preferred_cust_flag, d_year
   UNION ALL
   SELECT c_customer_id, c_first_name, c_last_name, c_preferred_cust_flag,
          d_year,
          round(sum(((ws_ext_list_price - ws_ext_wholesale_cost - ws_ext_discount_amt)
                     + ws_ext_sales_price) / 2) + 5e-9, 4),
          'w'
   FROM customer_ds, web_sales, date_dim
   WHERE c_customer_sk = ws_bill_customer_sk AND ws_sold_date_sk = d_date_sk
   GROUP BY c_customer_id, c_first_name, c_last_name, c_preferred_cust_flag, d_year)
SELECT t_s_secyear.customer_id,
       t_s_secyear.customer_first_name,
       t_s_secyear.customer_last_name,
       t_s_secyear.customer_preferred_cust_flag
FROM year_total t_s_firstyear, year_total t_s_secyear,
     year_total t_c_firstyear, year_total t_c_secyear,
     year_total t_w_firstyear, year_total t_w_secyear
WHERE t_s_secyear.customer_id = t_s_firstyear.customer_id
  AND t_s_firstyear.customer_id = t_c_secyear.customer_id
  AND t_s_firstyear.customer_id = t_c_firstyear.customer_id
  AND t_s_firstyear.customer_id = t_w_firstyear.customer_id
  AND t_s_firstyear.customer_id = t_w_secyear.customer_id
  AND t_s_firstyear.sale_type = 's' AND t_c_firstyear.sale_type = 'c'
  AND t_w_firstyear.sale_type = 'w' AND t_s_secyear.sale_type = 's'
  AND t_c_secyear.sale_type = 'c' AND t_w_secyear.sale_type = 'w'
  AND t_s_firstyear.dyear = 1995 AND t_s_secyear.dyear = 1996
  AND t_c_firstyear.dyear = 1995 AND t_c_secyear.dyear = 1996
  AND t_w_firstyear.dyear = 1995 AND t_w_secyear.dyear = 1996
  AND t_s_firstyear.year_total > 0
  AND t_c_firstyear.year_total > 0
  AND t_w_firstyear.year_total > 0
  AND CASE WHEN t_c_firstyear.year_total > 0
           THEN t_c_secyear.year_total / t_c_firstyear.year_total
           ELSE NULL END >
      CASE WHEN t_s_firstyear.year_total > 0
           THEN t_s_secyear.year_total / t_s_firstyear.year_total
           ELSE NULL END
  AND CASE WHEN t_c_firstyear.year_total > 0
           THEN t_c_secyear.year_total / t_c_firstyear.year_total
           ELSE NULL END >
      CASE WHEN t_w_firstyear.year_total > 0
           THEN t_w_secyear.year_total / t_w_firstyear.year_total
           ELSE NULL END
ORDER BY t_s_secyear.customer_id NULLS FIRST,
         t_s_secyear.customer_first_name NULLS FIRST,
         t_s_secyear.customer_last_name NULLS FIRST,
         t_s_secyear.customer_preferred_cust_flag NULLS FIRST
LIMIT 100
"""),
    // q5: per-channel sales/returns/profit ROLLUP over a two-week window
    // (adapted: 1995 dates; decimal(7,2) zero literals become DOUBLE so
    // both engines sum in the same type)
    entry("q_tpcds_q5", """
, ssr AS
  (SELECT s_store_id,
          sum(sales_price) AS sales,
          sum(profit) AS profit,
          sum(return_amt) AS returns_,
          sum(net_loss) AS profit_loss
   FROM
     (SELECT ss_store_sk AS store_sk, ss_sold_date_sk AS date_sk,
             ss_ext_sales_price AS sales_price, ss_net_profit AS profit,
             CAST(0 AS DOUBLE) AS return_amt, CAST(0 AS DOUBLE) AS net_loss
      FROM store_sales
      UNION ALL
      SELECT sr_store_sk, sr_returned_date_sk,
             CAST(0 AS DOUBLE), CAST(0 AS DOUBLE),
             sr_return_amt, sr_net_loss
      FROM store_returns) salesreturns, date_dim, store
   WHERE date_sk = d_date_sk
     AND d_date BETWEEN CAST('1995-08-23' AS DATE) AND CAST('1995-09-06' AS DATE)
     AND store_sk = s_store_sk
   GROUP BY s_store_id),
csr AS
  (SELECT cp_catalog_page_id,
          sum(sales_price) AS sales,
          sum(profit) AS profit,
          sum(return_amt) AS returns_,
          sum(net_loss) AS profit_loss
   FROM
     (SELECT cs_catalog_page_sk AS page_sk, cs_sold_date_sk AS date_sk,
             cs_ext_sales_price AS sales_price, cs_net_profit AS profit,
             CAST(0 AS DOUBLE) AS return_amt, CAST(0 AS DOUBLE) AS net_loss
      FROM catalog_sales
      UNION ALL
      SELECT cr_catalog_page_sk, cr_returned_date_sk,
             CAST(0 AS DOUBLE), CAST(0 AS DOUBLE),
             cr_return_amount, cr_net_loss
      FROM catalog_returns) salesreturns, date_dim, catalog_page
   WHERE date_sk = d_date_sk
     AND d_date BETWEEN CAST('1995-08-23' AS DATE) AND CAST('1995-09-06' AS DATE)
     AND page_sk = cp_catalog_page_sk
   GROUP BY cp_catalog_page_id),
wsr AS
  (SELECT web_site_id,
          sum(sales_price) AS sales,
          sum(profit) AS profit,
          sum(return_amt) AS returns_,
          sum(net_loss) AS profit_loss
   FROM
     (SELECT ws_web_site_sk AS wsr_web_site_sk, ws_sold_date_sk AS date_sk,
             ws_ext_sales_price AS sales_price, ws_net_profit AS profit,
             CAST(0 AS DOUBLE) AS return_amt, CAST(0 AS DOUBLE) AS net_loss
      FROM web_sales
      UNION ALL
      SELECT ws_web_site_sk, wr_returned_date_sk,
             CAST(0 AS DOUBLE), CAST(0 AS DOUBLE),
             wr_return_amt, wr_net_loss
      FROM web_returns
      LEFT OUTER JOIN web_sales ON (wr_item_sk = ws_item_sk
                                    AND wr_order_number = ws_order_number)) salesreturns,
        date_dim, web_site
   WHERE date_sk = d_date_sk
     AND d_date BETWEEN CAST('1995-08-23' AS DATE) AND CAST('1995-09-06' AS DATE)
     AND wsr_web_site_sk = web_site_sk
   GROUP BY web_site_id)
SELECT channel, id,
       round(sum(sales) + 5e-9, 4) AS sales,
       round(sum(returns_) + 5e-9, 4) AS returns_,
       round(sum(profit) + 5e-9, 4) AS profit
FROM
  (SELECT 'store channel' AS channel, concat('store', s_store_id) AS id,
          sales, returns_, (profit - profit_loss) AS profit
   FROM ssr
   UNION ALL
   SELECT 'catalog channel', concat('catalog_page', cp_catalog_page_id),
          sales, returns_, (profit - profit_loss)
   FROM csr
   UNION ALL
   SELECT 'web channel', concat('web_site', web_site_id),
          sales, returns_, (profit - profit_loss)
   FROM wsr) x
GROUP BY ROLLUP(channel, id)
ORDER BY channel NULLS FIRST, id NULLS FIRST
LIMIT 100
"""),
    // q10: demographics of county residents active in store AND (web OR
    // catalog) — EXISTS battery over three channels (adapted: counties to
    // the derived domain, d_year 1996)
    entry("q_tpcds_q10", """
SELECT cd_gender, cd_marital_status, cd_education_status,
       count(*) AS cnt1,
       cd_purchase_estimate,
       count(*) AS cnt2,
       cd_credit_rating,
       count(*) AS cnt3,
       cd_dep_count,
       count(*) AS cnt4,
       cd_dep_employed_count,
       count(*) AS cnt5,
       cd_dep_college_count,
       count(*) AS cnt6
FROM customer_ds c, customer_address ca, customer_demographics
WHERE c.c_current_addr_sk = ca.ca_address_sk
  AND ca_county IN ('Ziebach County', 'Walker County', 'Richland County')
  AND cd_demo_sk = c.c_current_cdemo_sk
  AND EXISTS
    (SELECT *
     FROM store_sales, date_dim
     WHERE c.c_customer_sk = ss_customer_sk AND ss_sold_date_sk = d_date_sk
       AND d_year = 1996 AND d_moy BETWEEN 1 AND 4)
  AND (EXISTS
        (SELECT *
         FROM web_sales, date_dim
         WHERE c.c_customer_sk = ws_bill_customer_sk AND ws_sold_date_sk = d_date_sk
           AND d_year = 1996 AND d_moy BETWEEN 1 AND 4)
       OR EXISTS
        (SELECT *
         FROM catalog_sales, date_dim
         WHERE c.c_customer_sk = cs_ship_customer_sk AND cs_sold_date_sk = d_date_sk
           AND d_year = 1996 AND d_moy BETWEEN 1 AND 4))
GROUP BY cd_gender, cd_marital_status, cd_education_status,
         cd_purchase_estimate, cd_credit_rating, cd_dep_count,
         cd_dep_employed_count, cd_dep_college_count
ORDER BY cd_gender, cd_marital_status, cd_education_status,
         cd_purchase_estimate, cd_credit_rating, cd_dep_count,
         cd_dep_employed_count, cd_dep_college_count
LIMIT 100
"""),
    // q11: customers whose web growth beats store growth (4-way self-join
    // of a 2-channel year_total CTE; adapted: 1995/1996, rounded totals)
    entry("q_tpcds_q11", """
, year_total AS
  (SELECT c_customer_id AS customer_id,
          c_first_name AS customer_first_name,
          c_last_name AS customer_last_name,
          c_preferred_cust_flag AS customer_preferred_cust_flag,
          d_year AS dyear,
          round(sum(ss_ext_list_price - ss_ext_discount_amt) + 5e-9, 4) AS year_total,
          's' AS sale_type
   FROM customer_ds, store_sales, date_dim
   WHERE c_customer_sk = ss_customer_sk AND ss_sold_date_sk = d_date_sk
   GROUP BY c_customer_id, c_first_name, c_last_name, c_preferred_cust_flag, d_year
   UNION ALL
   SELECT c_customer_id, c_first_name, c_last_name, c_preferred_cust_flag,
          d_year,
          round(sum(ws_ext_list_price - ws_ext_discount_amt) + 5e-9, 4),
          'w'
   FROM customer_ds, web_sales, date_dim
   WHERE c_customer_sk = ws_bill_customer_sk AND ws_sold_date_sk = d_date_sk
   GROUP BY c_customer_id, c_first_name, c_last_name, c_preferred_cust_flag, d_year)
SELECT t_s_secyear.customer_id,
       t_s_secyear.customer_first_name,
       t_s_secyear.customer_last_name,
       t_s_secyear.customer_preferred_cust_flag
FROM year_total t_s_firstyear, year_total t_s_secyear,
     year_total t_w_firstyear, year_total t_w_secyear
WHERE t_s_secyear.customer_id = t_s_firstyear.customer_id
  AND t_s_firstyear.customer_id = t_w_secyear.customer_id
  AND t_s_firstyear.customer_id = t_w_firstyear.customer_id
  AND t_s_firstyear.sale_type = 's' AND t_w_firstyear.sale_type = 'w'
  AND t_s_secyear.sale_type = 's' AND t_w_secyear.sale_type = 'w'
  AND t_s_firstyear.dyear = 1995 AND t_s_secyear.dyear = 1996
  AND t_w_firstyear.dyear = 1995 AND t_w_secyear.dyear = 1996
  AND t_s_firstyear.year_total > 0
  AND t_w_firstyear.year_total > 0
  AND CASE WHEN t_w_firstyear.year_total > 0
           THEN (t_w_secyear.year_total * 1.0000) / t_w_firstyear.year_total
           ELSE 0.0 END >
      CASE WHEN t_s_firstyear.year_total > 0
           THEN (t_s_secyear.year_total * 1.0000) / t_s_firstyear.year_total
           ELSE 0.0 END
ORDER BY t_s_secyear.customer_id NULLS FIRST,
         t_s_secyear.customer_first_name NULLS FIRST,
         t_s_secyear.customer_last_name NULLS FIRST,
         t_s_secyear.customer_preferred_cust_flag NULLS FIRST
LIMIT 100
"""),
    // q30: web returners 1.2x over their state average with the full
    // customer profile (adapted: d_year 2000, state KY)
    entry("q_tpcds_q30", """
, customer_total_return AS
  (SELECT wr_returning_customer_sk AS ctr_customer_sk,
          ca_state AS ctr_state,
          sum(wr_return_amt) AS ctr_total_return
   FROM web_returns, date_dim, customer_address
   WHERE wr_returned_date_sk = d_date_sk
     AND d_year = 2000
     AND wr_returning_addr_sk = ca_address_sk
   GROUP BY wr_returning_customer_sk, ca_state)
SELECT c_customer_id, c_salutation, c_first_name, c_last_name,
       c_preferred_cust_flag, c_birth_day, c_birth_month, c_birth_year,
       c_birth_country, c_login, c_email_address, c_last_review_date_sk,
       round(ctr_total_return + 5e-9, 4) AS ctr_total_return
FROM customer_total_return ctr1, customer_address, customer_ds
WHERE ctr1.ctr_total_return >
    (SELECT avg(ctr_total_return) * 1.2
     FROM customer_total_return ctr2
     WHERE ctr1.ctr_state = ctr2.ctr_state)
  AND ca_address_sk = c_current_addr_sk
  AND ca_state = 'KY'
  AND ctr1.ctr_customer_sk = c_customer_sk
ORDER BY c_customer_id NULLS FIRST, c_salutation NULLS FIRST,
         c_first_name NULLS FIRST, c_last_name NULLS FIRST,
         c_preferred_cust_flag NULLS FIRST, c_birth_day NULLS FIRST,
         c_birth_month NULLS FIRST, c_birth_year NULLS FIRST,
         c_birth_country NULLS FIRST, c_login NULLS FIRST,
         c_email_address NULLS FIRST, c_last_review_date_sk NULLS FIRST,
         ctr_total_return NULLS FIRST
LIMIT 100
"""),
    // q35: dependent-count statistics for multi-channel actives (EXISTS
    // battery + min/max/avg triples; adapted: d_year 1996)
    entry("q_tpcds_q35", """
SELECT ca_state, cd_gender, cd_marital_status, cd_dep_count,
       count(*) AS cnt1,
       min(cd_dep_count) AS min1,
       max(cd_dep_count) AS max1,
       round(avg(cd_dep_count) + 5e-9, 4) AS avg1,
       cd_dep_employed_count,
       count(*) AS cnt2,
       min(cd_dep_employed_count) AS min2,
       max(cd_dep_employed_count) AS max2,
       round(avg(cd_dep_employed_count) + 5e-9, 4) AS avg2,
       cd_dep_college_count,
       count(*) AS cnt3,
       min(cd_dep_college_count) AS min3,
       max(cd_dep_college_count) AS max3,
       round(avg(cd_dep_college_count) + 5e-9, 4) AS avg3
FROM customer_ds c, customer_address ca, customer_demographics
WHERE c.c_current_addr_sk = ca.ca_address_sk
  AND cd_demo_sk = c.c_current_cdemo_sk
  AND EXISTS
    (SELECT *
     FROM store_sales, date_dim
     WHERE c.c_customer_sk = ss_customer_sk AND ss_sold_date_sk = d_date_sk
       AND d_year = 1996 AND d_qoy < 4)
  AND (EXISTS
        (SELECT *
         FROM web_sales, date_dim
         WHERE c.c_customer_sk = ws_bill_customer_sk AND ws_sold_date_sk = d_date_sk
           AND d_year = 1996 AND d_qoy < 4)
       OR EXISTS
        (SELECT *
         FROM catalog_sales, date_dim
         WHERE c.c_customer_sk = cs_ship_customer_sk AND cs_sold_date_sk = d_date_sk
           AND d_year = 1996 AND d_qoy < 4))
GROUP BY ca_state, cd_gender, cd_marital_status, cd_dep_count,
         cd_dep_employed_count, cd_dep_college_count
ORDER BY ca_state NULLS FIRST, cd_gender NULLS FIRST,
         cd_marital_status NULLS FIRST, cd_dep_count NULLS FIRST,
         cd_dep_employed_count NULLS FIRST, cd_dep_college_count NULLS FIRST
LIMIT 100
"""),
    // q69: demographics of store-only shoppers (EXISTS + double NOT
    // EXISTS; adapted: states to the derived ca domain, d_year 1996)
    entry("q_tpcds_q69", """
SELECT cd_gender, cd_marital_status, cd_education_status,
       count(*) AS cnt1,
       cd_purchase_estimate,
       count(*) AS cnt2,
       cd_credit_rating,
       count(*) AS cnt3
FROM customer_ds c, customer_address ca, customer_demographics
WHERE c.c_current_addr_sk = ca.ca_address_sk
  AND ca_state IN ('KY', 'NM', 'OR')
  AND cd_demo_sk = c.c_current_cdemo_sk
  AND EXISTS
    (SELECT *
     FROM store_sales, date_dim
     WHERE c.c_customer_sk = ss_customer_sk AND ss_sold_date_sk = d_date_sk
       AND d_year = 1996 AND d_moy BETWEEN 4 AND 6)
  AND (NOT EXISTS
        (SELECT *
         FROM web_sales, date_dim
         WHERE c.c_customer_sk = ws_bill_customer_sk AND ws_sold_date_sk = d_date_sk
           AND d_year = 1996 AND d_moy BETWEEN 4 AND 6)
       AND NOT EXISTS
        (SELECT *
         FROM catalog_sales, date_dim
         WHERE c.c_customer_sk = cs_ship_customer_sk AND cs_sold_date_sk = d_date_sk
           AND d_year = 1996 AND d_moy BETWEEN 4 AND 6))
GROUP BY cd_gender, cd_marital_status, cd_education_status,
         cd_purchase_estimate, cd_credit_rating
ORDER BY cd_gender, cd_marital_status, cd_education_status,
         cd_purchase_estimate, cd_credit_rating
LIMIT 100
"""),
    // q74: customers whose web net-paid growth beats store growth
    // (adapted: 1995/1996, rounded totals like q4/q11)
    entry("q_tpcds_q74", """
, year_total AS
  (SELECT c_customer_id AS customer_id,
          c_first_name AS customer_first_name,
          c_last_name AS customer_last_name,
          d_year AS year_,
          round(sum(ss_net_paid) + 5e-9, 4) AS year_total,
          's' AS sale_type
   FROM customer_ds, store_sales, date_dim
   WHERE c_customer_sk = ss_customer_sk AND ss_sold_date_sk = d_date_sk
     AND d_year IN (1995, 1996)
   GROUP BY c_customer_id, c_first_name, c_last_name, d_year
   UNION ALL
   SELECT c_customer_id, c_first_name, c_last_name,
          d_year,
          round(sum(ws_net_paid) + 5e-9, 4),
          'w'
   FROM customer_ds, web_sales, date_dim
   WHERE c_customer_sk = ws_bill_customer_sk AND ws_sold_date_sk = d_date_sk
     AND d_year IN (1995, 1996)
   GROUP BY c_customer_id, c_first_name, c_last_name, d_year)
SELECT t_s_secyear.customer_id,
       t_s_secyear.customer_first_name,
       t_s_secyear.customer_last_name
FROM year_total t_s_firstyear, year_total t_s_secyear,
     year_total t_w_firstyear, year_total t_w_secyear
WHERE t_s_secyear.customer_id = t_s_firstyear.customer_id
  AND t_s_firstyear.customer_id = t_w_secyear.customer_id
  AND t_s_firstyear.customer_id = t_w_firstyear.customer_id
  AND t_s_firstyear.sale_type = 's' AND t_w_firstyear.sale_type = 'w'
  AND t_s_secyear.sale_type = 's' AND t_w_secyear.sale_type = 'w'
  AND t_s_firstyear.year_ = 1995 AND t_s_secyear.year_ = 1996
  AND t_w_firstyear.year_ = 1995 AND t_w_secyear.year_ = 1996
  AND t_s_firstyear.year_total > 0
  AND t_w_firstyear.year_total > 0
  AND CASE WHEN t_w_firstyear.year_total > 0
           THEN t_w_secyear.year_total / t_w_firstyear.year_total
           ELSE NULL END >
      CASE WHEN t_s_firstyear.year_total > 0
           THEN t_s_secyear.year_total / t_s_firstyear.year_total
           ELSE NULL END
ORDER BY t_s_secyear.customer_id NULLS FIRST,
         t_s_secyear.customer_first_name NULLS FIRST,
         t_s_secyear.customer_last_name NULLS FIRST
LIMIT 100
"""),
    // q77: per-channel sales vs returns ROLLUP over 30 days (store/web
    // LEFT JOIN returns by location, catalog CROSS JOIN per the canonical
    // text; adapted: 1995 dates)
    entryStaged("q_tpcds_q77", """
, ss AS
  (SELECT s_store_sk,
          sum(ss_ext_sales_price) AS sales,
          sum(ss_net_profit) AS profit
   FROM store_sales, date_dim, store
   WHERE ss_sold_date_sk = d_date_sk
     AND d_date BETWEEN CAST('1995-08-23' AS DATE) AND CAST('1995-09-22' AS DATE)
     AND ss_store_sk = s_store_sk
   GROUP BY s_store_sk),
sr AS
  (SELECT sr_store_sk AS s_store_sk,
          sum(sr_return_amt) AS returns_,
          sum(sr_net_loss) AS profit_loss
   FROM store_returns, date_dim, store
   WHERE sr_returned_date_sk = d_date_sk
     AND d_date BETWEEN CAST('1995-08-23' AS DATE) AND CAST('1995-09-22' AS DATE)
     AND sr_store_sk = s_store_sk
   GROUP BY sr_store_sk),
cs AS
  (SELECT cs_call_center_sk,
          sum(cs_ext_sales_price) AS sales,
          sum(cs_net_profit) AS profit
   FROM catalog_sales, date_dim
   WHERE cs_sold_date_sk = d_date_sk
     AND d_date BETWEEN CAST('1995-08-23' AS DATE) AND CAST('1995-09-22' AS DATE)
   GROUP BY cs_call_center_sk),
cr AS
  (SELECT cr_call_center_sk,
          sum(cr_return_amount) AS returns_,
          sum(cr_net_loss) AS profit_loss
   FROM catalog_returns, date_dim
   WHERE cr_returned_date_sk = d_date_sk
     AND d_date BETWEEN CAST('1995-08-23' AS DATE) AND CAST('1995-09-22' AS DATE)
   GROUP BY cr_call_center_sk),
ws AS
  (SELECT wp_web_page_sk,
          sum(ws_ext_sales_price) AS sales,
          sum(ws_net_profit) AS profit
   FROM web_sales, date_dim, web_page
   WHERE ws_sold_date_sk = d_date_sk
     AND d_date BETWEEN CAST('1995-08-23' AS DATE) AND CAST('1995-09-22' AS DATE)
     AND ws_web_page_sk = wp_web_page_sk
   GROUP BY wp_web_page_sk),
wr AS
  (SELECT wr_web_page_sk AS wp_web_page_sk,
          sum(wr_return_amt) AS returns_,
          sum(wr_net_loss) AS profit_loss
   FROM web_returns, date_dim, web_page
   WHERE wr_returned_date_sk = d_date_sk
     AND d_date BETWEEN CAST('1995-08-23' AS DATE) AND CAST('1995-09-22' AS DATE)
     AND wr_web_page_sk = wp_web_page_sk
   GROUP BY wr_web_page_sk)
SELECT channel, id,
       round(sum(sales) + 5e-9, 4) AS sales,
       round(sum(returns_) + 5e-9, 4) AS returns_,
       round(sum(profit) + 5e-9, 4) AS profit
FROM
  (SELECT 'store channel' AS channel, ss.s_store_sk AS id,
          sales, coalesce(returns_, 0) AS returns_,
          (profit - coalesce(profit_loss, 0)) AS profit
   FROM ss LEFT JOIN sr ON ss.s_store_sk = sr.s_store_sk
   UNION ALL
   SELECT 'catalog channel', cs_call_center_sk,
          sales, returns_, (profit - profit_loss)
   FROM cs, cr
   UNION ALL
   SELECT 'web channel', ws.wp_web_page_sk,
          sales, coalesce(returns_, 0),
          (profit - coalesce(profit_loss, 0))
   FROM ws LEFT JOIN wr ON ws.wp_web_page_sk = wr.wp_web_page_sk) x
GROUP BY ROLLUP(channel, id)
ORDER BY channel NULLS FIRST, id NULLS FIRST, returns_ DESC
LIMIT 100
"""),
    // q81: catalog returners 1.2x over their state average with the full
    // address profile (adapted: d_year 2000, state TX)
    entryStaged("q_tpcds_q81", """
, customer_total_return AS
  (SELECT cr_returning_customer_sk AS ctr_customer_sk,
          ca_state AS ctr_state,
          sum(cr_return_amt_inc_tax) AS ctr_total_return
   FROM catalog_returns, date_dim, customer_address
   WHERE cr_returned_date_sk = d_date_sk
     AND d_year = 2000
     AND cr_returning_addr_sk = ca_address_sk
   GROUP BY cr_returning_customer_sk, ca_state)
SELECT c_customer_id, c_salutation, c_first_name, c_last_name,
       ca_street_number, ca_street_name, ca_street_type, ca_suite_number,
       ca_city, ca_county, ca_state, ca_zip, ca_country, ca_gmt_offset,
       ca_location_type,
       round(ctr_total_return + 5e-9, 4) AS ctr_total_return
FROM customer_total_return ctr1, customer_address, customer_ds
WHERE ctr1.ctr_total_return >
    (SELECT avg(ctr_total_return) * 1.2
     FROM customer_total_return ctr2
     WHERE ctr1.ctr_state = ctr2.ctr_state)
  AND ca_address_sk = c_current_addr_sk
  AND ca_state = 'TX'
  AND ctr1.ctr_customer_sk = c_customer_sk
ORDER BY c_customer_id, c_salutation, c_first_name, c_last_name,
         ca_street_number, ca_street_name, ca_street_type, ca_suite_number,
         ca_city, ca_county, ca_state, ca_zip, ca_country, ca_gmt_offset,
         ca_location_type, ctr_total_return
LIMIT 100
"""),
    // q17: sale→return→repurchase quantity statistics across three dated
    // events (triple date_dim; adapted: quarters to 1995)
    entry("q_tpcds_q17", """
SELECT i_item_id, i_item_desc, s_state,
       count(ss_quantity) AS store_sales_quantitycount,
       round(avg(ss_quantity) + 5e-9, 4) AS store_sales_quantityave,
       round(stddev_samp(ss_quantity) + 5e-9, 4) AS store_sales_quantitystdev,
       round(stddev_samp(ss_quantity) / avg(ss_quantity) + 5e-9, 4) AS store_sales_quantitycov,
       count(sr_return_quantity) AS store_returns_quantitycount,
       round(avg(sr_return_quantity) + 5e-9, 4) AS store_returns_quantityave,
       round(stddev_samp(sr_return_quantity) + 5e-9, 4) AS store_returns_quantitystdev,
       round(stddev_samp(sr_return_quantity) / avg(sr_return_quantity) + 5e-9, 4) AS store_returns_quantitycov,
       count(cs_quantity) AS catalog_sales_quantitycount,
       round(avg(cs_quantity) + 5e-9, 4) AS catalog_sales_quantityave,
       round(stddev_samp(cs_quantity) + 5e-9, 4) AS catalog_sales_quantitystdev,
       round(stddev_samp(cs_quantity) / avg(cs_quantity) + 5e-9, 4) AS catalog_sales_quantitycov
FROM store_sales, store_returns, catalog_sales,
     date_dim d1, date_dim d2, date_dim d3, store, item
WHERE d1.d_quarter_name = '1995Q1'
  AND d1.d_date_sk = ss_sold_date_sk
  AND i_item_sk = ss_item_sk
  AND s_store_sk = ss_store_sk
  AND ss_customer_sk = sr_customer_sk
  AND ss_item_sk = sr_item_sk
  AND ss_ticket_number = sr_ticket_number
  AND sr_returned_date_sk = d2.d_date_sk
  AND d2.d_quarter_name IN ('1995Q1', '1995Q2', '1995Q3')
  AND sr_customer_sk = cs_bill_customer_sk
  AND sr_item_sk = cs_item_sk
  AND cs_sold_date_sk = d3.d_date_sk
  AND d3.d_quarter_name IN ('1995Q1', '1995Q2', '1995Q3')
GROUP BY i_item_id, i_item_desc, s_state
ORDER BY i_item_id NULLS FIRST, i_item_desc NULLS FIRST, s_state NULLS FIRST
LIMIT 100
"""),
    // q18: 4-level ROLLUP of catalog averages for targeted buyer
    // demographics (decimal(12,2) averages become rounded doubles;
    // adapted: states to the derived ca domain, d_year 1995)
    entry("q_tpcds_q18", """
SELECT i_item_id, ca_country, ca_state, ca_county,
       round(avg(CAST(cs_quantity AS DOUBLE)) + 5e-9, 4) AS agg1,
       round(avg(cs_list_price) + 5e-9, 4) AS agg2,
       round(avg(cs_coupon_amt) + 5e-9, 4) AS agg3,
       round(avg(cs_sales_price) + 5e-9, 4) AS agg4,
       round(avg(cs_net_profit) + 5e-9, 4) AS agg5,
       round(avg(CAST(c_birth_year AS DOUBLE)) + 5e-9, 4) AS agg6,
       round(avg(CAST(cd1.cd_dep_count AS DOUBLE)) + 5e-9, 4) AS agg7
FROM catalog_sales, customer_demographics cd1, customer_demographics cd2,
     customer_ds, customer_address, date_dim, item
WHERE cs_sold_date_sk = d_date_sk
  AND cs_item_sk = i_item_sk
  AND cs_bill_cdemo_sk = cd1.cd_demo_sk
  AND cs_bill_customer_sk = c_customer_sk
  AND cd1.cd_gender = 'F'
  AND cd1.cd_education_status = 'Unknown'
  AND c_current_cdemo_sk = cd2.cd_demo_sk
  AND c_current_addr_sk = ca_address_sk
  AND c_birth_month IN (1, 6, 8, 9, 12, 2)
  AND d_year = 1995
  AND ca_state IN ('TX', 'OH', 'NM', 'KY')
GROUP BY ROLLUP(i_item_id, ca_country, ca_state, ca_county)
ORDER BY ca_country NULLS FIRST, ca_state NULLS FIRST,
         ca_county NULLS FIRST, i_item_id NULLS FIRST
LIMIT 100
"""),
    // q24: out-of-state returning buyers of one color, over 5% of the
    // average (HAVING over a scalar subquery on the shared CTE; adapted:
    // color red, netpaid rounded 4dp in the CTE for the deterministic
    // threshold compare)
    entryStaged("q_tpcds_q24", """
, ssales AS
  (SELECT c_last_name, c_first_name, s_store_name, ca_state, s_state,
          i_color, i_current_price, i_manager_id, i_units, i_size,
          round(sum(ss_net_paid) + 5e-9, 4) AS netpaid
   FROM store_sales, store_returns, store, item, customer_ds, customer_address
   WHERE ss_ticket_number = sr_ticket_number
     AND ss_item_sk = sr_item_sk
     AND ss_customer_sk = c_customer_sk
     AND ss_item_sk = i_item_sk
     AND ss_store_sk = s_store_sk
     AND c_current_addr_sk = ca_address_sk
     AND c_birth_country <> upper(ca_country)
     AND s_zip = ca_zip
     AND s_market_id = 8
   GROUP BY c_last_name, c_first_name, s_store_name, ca_state, s_state,
            i_color, i_current_price, i_manager_id, i_units, i_size)
SELECT c_last_name, c_first_name, s_store_name,
       round(sum(netpaid) + 5e-9, 4) AS paid
FROM ssales
WHERE i_color = 'red'
GROUP BY c_last_name, c_first_name, s_store_name
HAVING sum(netpaid) > (SELECT 0.05 * avg(netpaid) FROM ssales)
ORDER BY c_last_name, c_first_name, s_store_name
"""),
    // q25: profit flow through sale, return, and catalog repurchase
    // (adapted: April 1995, return/repurchase windows Apr-Oct)
    entry("q_tpcds_q25", """
SELECT i_item_id, i_item_desc, s_store_id, s_store_name,
       round(sum(ss_net_profit) + 5e-9, 4) AS store_sales_profit,
       round(sum(sr_net_loss) + 5e-9, 4) AS store_returns_loss,
       round(sum(cs_net_profit) + 5e-9, 4) AS catalog_sales_profit
FROM store_sales, store_returns, catalog_sales,
     date_dim d1, date_dim d2, date_dim d3, store, item
WHERE d1.d_moy = 4
  AND d1.d_year = 1995
  AND d1.d_date_sk = ss_sold_date_sk
  AND i_item_sk = ss_item_sk
  AND s_store_sk = ss_store_sk
  AND ss_customer_sk = sr_customer_sk
  AND ss_item_sk = sr_item_sk
  AND ss_ticket_number = sr_ticket_number
  AND sr_returned_date_sk = d2.d_date_sk
  AND d2.d_moy BETWEEN 4 AND 10
  AND d2.d_year = 1995
  AND sr_customer_sk = cs_bill_customer_sk
  AND sr_item_sk = cs_item_sk
  AND cs_sold_date_sk = d3.d_date_sk
  AND d3.d_moy BETWEEN 4 AND 10
  AND d3.d_year = 1995
GROUP BY i_item_id, i_item_desc, s_store_id, s_store_name
ORDER BY i_item_id, i_item_desc, s_store_id, s_store_name
LIMIT 100
"""),
    // q29: quantity flow through sale, return, and catalog repurchase
    // (adapted: September 1995, repurchase years 1995-1997)
    entry("q_tpcds_q29", """
SELECT i_item_id, i_item_desc, s_store_id, s_store_name,
       CAST(sum(ss_quantity) AS BIGINT) AS store_sales_quantity,
       CAST(sum(sr_return_quantity) AS BIGINT) AS store_returns_quantity,
       CAST(sum(cs_quantity) AS BIGINT) AS catalog_sales_quantity
FROM store_sales, store_returns, catalog_sales,
     date_dim d1, date_dim d2, date_dim d3, store, item
WHERE d1.d_moy = 9
  AND d1.d_year = 1995
  AND d1.d_date_sk = ss_sold_date_sk
  AND i_item_sk = ss_item_sk
  AND s_store_sk = ss_store_sk
  AND ss_customer_sk = sr_customer_sk
  AND ss_item_sk = sr_item_sk
  AND ss_ticket_number = sr_ticket_number
  AND sr_returned_date_sk = d2.d_date_sk
  AND d2.d_moy BETWEEN 9 AND 12
  AND d2.d_year = 1995
  AND sr_customer_sk = cs_bill_customer_sk
  AND sr_item_sk = cs_item_sk
  AND cs_sold_date_sk = d3.d_date_sk
  AND d3.d_year IN (1995, 1996, 1997)
GROUP BY i_item_id, i_item_desc, s_store_id, s_store_name
ORDER BY i_item_id, i_item_desc, s_store_id, s_store_name
LIMIT 100
"""),
    // q31: counties where web growth beats store growth across quarters
    // (6-way self-join over per-quarter county sums; adapted: 1995, sums
    // rounded 4dp in the CTEs for deterministic ratio comparisons)
    entry("q_tpcds_q31", """
, ss AS
  (SELECT ca_county, d_qoy, d_year,
          round(sum(ss_ext_sales_price) + 5e-9, 4) AS store_sales
   FROM store_sales, date_dim, customer_address
   WHERE ss_sold_date_sk = d_date_sk AND ss_addr_sk = ca_address_sk
   GROUP BY ca_county, d_qoy, d_year),
ws AS
  (SELECT ca_county, d_qoy, d_year,
          round(sum(ws_ext_sales_price) + 5e-9, 4) AS web_sales
   FROM web_sales, date_dim, customer_address
   WHERE ws_sold_date_sk = d_date_sk AND ws_bill_addr_sk = ca_address_sk
   GROUP BY ca_county, d_qoy, d_year)
SELECT ss1.ca_county, ss1.d_year,
       round((ws2.web_sales * 1.0000) / ws1.web_sales + 5e-9, 4) AS web_q1_q2_increase,
       round((ss2.store_sales * 1.0000) / ss1.store_sales + 5e-9, 4) AS store_q1_q2_increase,
       round((ws3.web_sales * 1.0000) / ws2.web_sales + 5e-9, 4) AS web_q2_q3_increase,
       round((ss3.store_sales * 1.0000) / ss2.store_sales + 5e-9, 4) AS store_q2_q3_increase
FROM ss ss1, ss ss2, ss ss3, ws ws1, ws ws2, ws ws3
WHERE ss1.d_qoy = 1 AND ss1.d_year = 1995
  AND ss1.ca_county = ss2.ca_county
  AND ss2.d_qoy = 2 AND ss2.d_year = 1995
  AND ss2.ca_county = ss3.ca_county
  AND ss3.d_qoy = 3 AND ss3.d_year = 1995
  AND ss1.ca_county = ws1.ca_county
  AND ws1.d_qoy = 1 AND ws1.d_year = 1995
  AND ws1.ca_county = ws2.ca_county
  AND ws2.d_qoy = 2 AND ws2.d_year = 1995
  AND ws1.ca_county = ws3.ca_county
  AND ws3.d_qoy = 3 AND ws3.d_year = 1995
  AND CASE WHEN ws1.web_sales > 0
           THEN (ws2.web_sales * 1.0000) / ws1.web_sales ELSE NULL END >
      CASE WHEN ss1.store_sales > 0
           THEN (ss2.store_sales * 1.0000) / ss1.store_sales ELSE NULL END
  AND CASE WHEN ws2.web_sales > 0
           THEN (ws3.web_sales * 1.0000) / ws2.web_sales ELSE NULL END >
      CASE WHEN ss2.store_sales > 0
           THEN (ss3.store_sales * 1.0000) / ss2.store_sales ELSE NULL END
ORDER BY ss1.ca_county
"""),
    // q33: per-manufacturer three-channel totals for one category via an
    // IN-subquery on item (adapted: category PROMO, 1995/May)
    entry("q_tpcds_q33", """
, ss AS
  (SELECT i_manufact_id,
          sum(ss_ext_sales_price) AS total_sales
   FROM store_sales, date_dim, customer_address, item
   WHERE i_manufact_id IN
       (SELECT i_manufact_id FROM item WHERE i_category IN ('PROMO'))
     AND ss_item_sk = i_item_sk
     AND ss_sold_date_sk = d_date_sk
     AND d_year = 1995 AND d_moy = 5
     AND ss_addr_sk = ca_address_sk
     AND ca_gmt_offset = -5
   GROUP BY i_manufact_id),
cs AS
  (SELECT i_manufact_id,
          sum(cs_ext_sales_price) AS total_sales
   FROM catalog_sales, date_dim, customer_address, item
   WHERE i_manufact_id IN
       (SELECT i_manufact_id FROM item WHERE i_category IN ('PROMO'))
     AND cs_item_sk = i_item_sk
     AND cs_sold_date_sk = d_date_sk
     AND d_year = 1995 AND d_moy = 5
     AND cs_bill_addr_sk = ca_address_sk
     AND ca_gmt_offset = -5
   GROUP BY i_manufact_id),
ws AS
  (SELECT i_manufact_id,
          sum(ws_ext_sales_price) AS total_sales
   FROM web_sales, date_dim, customer_address, item
   WHERE i_manufact_id IN
       (SELECT i_manufact_id FROM item WHERE i_category IN ('PROMO'))
     AND ws_item_sk = i_item_sk
     AND ws_sold_date_sk = d_date_sk
     AND d_year = 1995 AND d_moy = 5
     AND ws_bill_addr_sk = ca_address_sk
     AND ca_gmt_offset = -5
   GROUP BY i_manufact_id)
SELECT i_manufact_id,
       round(sum(total_sales) + 5e-9, 4) AS total_sales
FROM (SELECT * FROM ss UNION ALL SELECT * FROM cs UNION ALL SELECT * FROM ws) tmp1
GROUP BY i_manufact_id
ORDER BY total_sales, i_manufact_id
LIMIT 100
"""),
    // q39: warehouse/item month-over-month inventory variability self-join
    // (adapted: the derived inventory is too sparse for single-year month
    // pairs, so the d_year pin is dropped and the cov cut is 0.5 — the
    // hash-uniform quantity domain tops out near cov 1.4; stdev/mean are
    // rounded 4dp inside the CTE so the cut is engine-deterministic)
    entry("q_tpcds_q39", """
, inv AS
  (SELECT w_warehouse_name, w_warehouse_sk, i_item_sk, d_moy, stdev, mean,
          CASE mean WHEN 0 THEN NULL ELSE round(stdev / mean + 5e-9, 4) END AS cov
   FROM
     (SELECT w_warehouse_name, w_warehouse_sk, i_item_sk, d_moy,
             round(stddev_samp(inv_quantity_on_hand) * 1.000 + 5e-9, 4) AS stdev,
             round(avg(inv_quantity_on_hand) + 5e-9, 4) AS mean
      FROM inventory, item, warehouse, date_dim
      WHERE inv_item_sk = i_item_sk
        AND inv_warehouse_sk = w_warehouse_sk
        AND inv_date_sk = d_date_sk
      GROUP BY w_warehouse_name, w_warehouse_sk, i_item_sk, d_moy) foo
   WHERE CASE mean WHEN 0 THEN 0 ELSE stdev / mean END > 0.5)
SELECT inv1.w_warehouse_sk AS wsk1,
       inv1.i_item_sk AS isk1,
       inv1.d_moy AS dmoy1,
       inv1.mean AS mean1,
       inv1.cov AS cov1,
       inv2.w_warehouse_sk, inv2.i_item_sk, inv2.d_moy, inv2.mean, inv2.cov
FROM inv inv1, inv inv2
WHERE inv1.i_item_sk = inv2.i_item_sk
  AND inv1.w_warehouse_sk = inv2.w_warehouse_sk
  AND inv1.d_moy = 1
  AND inv2.d_moy = 2
ORDER BY inv1.w_warehouse_sk NULLS FIRST, inv1.i_item_sk NULLS FIRST,
         inv1.d_moy NULLS FIRST, inv1.mean NULLS FIRST, inv1.cov NULLS FIRST,
         inv2.d_moy NULLS FIRST, inv2.mean NULLS FIRST, inv2.cov NULLS FIRST
"""),
    // q44: best/worst performing items joined by rank (adapted: the
    // canonical NULL-addr baseline is never null here, so the benchmark
    // subquery averages the low-key addr slice instead; rank over rounded
    // averages per the round-before-rank convention)
    entry("q_tpcds_q44", """
SELECT asceding.rnk,
       i1.i_product_name AS best_performing,
       i2.i_product_name AS worst_performing
FROM
  (SELECT *
   FROM (SELECT item_sk, rank() OVER (ORDER BY rank_col ASC) AS rnk
         FROM (SELECT ss_item_sk AS item_sk,
                      round(avg(ss_net_profit) + 5e-9, 4) AS rank_col
               FROM store_sales ss1
               WHERE ss_store_sk = 4
               GROUP BY ss_item_sk
               HAVING avg(ss_net_profit) > 0.9 *
                 (SELECT avg(ss_net_profit) AS rank_col
                  FROM store_sales
                  WHERE ss_store_sk = 4 AND ss_addr_sk < 50
                  GROUP BY ss_store_sk)) V1) V11
   WHERE rnk < 11) asceding,
  (SELECT *
   FROM (SELECT item_sk, rank() OVER (ORDER BY rank_col DESC) AS rnk
         FROM (SELECT ss_item_sk AS item_sk,
                      round(avg(ss_net_profit) + 5e-9, 4) AS rank_col
               FROM store_sales ss1
               WHERE ss_store_sk = 4
               GROUP BY ss_item_sk
               HAVING avg(ss_net_profit) > 0.9 *
                 (SELECT avg(ss_net_profit) AS rank_col
                  FROM store_sales
                  WHERE ss_store_sk = 4 AND ss_addr_sk < 50
                  GROUP BY ss_store_sk)) V2) V21
   WHERE rnk < 11) descending,
     item i1, item i2
WHERE asceding.rnk = descending.rnk
  AND i1.i_item_sk = asceding.item_sk
  AND i2.i_item_sk = descending.item_sk
ORDER BY asceding.rnk, best_performing, worst_performing
LIMIT 100
"""),
    // q45: web revenue by zip/city for listed zips or prime-keyed items
    // (adapted: zips to the derived domain, d_year 1996)
    entry("q_tpcds_q45", """
SELECT ca_zip, ca_city,
       round(sum(ws_sales_price) + 5e-9, 4) AS sum_sales_price
FROM web_sales, customer_ds, customer_address, date_dim, item
WHERE ws_bill_customer_sk = c_customer_sk
  AND c_current_addr_sk = ca_address_sk
  AND ws_item_sk = i_item_sk
  AND (substring(ca_zip, 1, 5) IN ('10003', '10010', '10024', '10031', '10045')
       OR i_item_id IN
         (SELECT i_item_id
          FROM item
          WHERE i_item_sk IN (2, 3, 5, 7, 11, 13, 17, 19, 23, 29)))
  AND ws_sold_date_sk = d_date_sk
  AND d_qoy = 2
  AND d_year = 1996
GROUP BY ca_zip, ca_city
ORDER BY ca_zip, ca_city
LIMIT 100
"""),
    // q46: weekend coupon spend by customers buying away from their home
    // city (adapted: d_dow from the synthetic calendar, years 1995-1997)
    entry("q_tpcds_q46", """
SELECT c_last_name, c_first_name, ca_city, bought_city, ss_ticket_number,
       amt, profit
FROM
  (SELECT ss_ticket_number, ss_customer_sk,
          ca_city AS bought_city,
          round(sum(ss_coupon_amt) + 5e-9, 4) AS amt,
          round(sum(ss_net_profit) + 5e-9, 4) AS profit
   FROM store_sales, date_dim, store, household_demographics, customer_address
   WHERE store_sales.ss_sold_date_sk = date_dim.d_date_sk
     AND store_sales.ss_store_sk = store.s_store_sk
     AND store_sales.ss_hdemo_sk = household_demographics.hd_demo_sk
     AND store_sales.ss_addr_sk = customer_address.ca_address_sk
     AND (household_demographics.hd_dep_count = 4
          OR household_demographics.hd_vehicle_count = 3)
     AND date_dim.d_dow IN (6, 0)
     AND date_dim.d_year IN (1995, 1996, 1997)
     AND store.s_city IN ('Fairview', 'Midway')
   GROUP BY ss_ticket_number, ss_customer_sk, ss_addr_sk, ca_city) dn,
     customer_ds,
     customer_address current_addr
WHERE ss_customer_sk = c_customer_sk
  AND c_current_addr_sk = current_addr.ca_address_sk
  AND current_addr.ca_city <> bought_city
ORDER BY c_last_name NULLS FIRST, c_first_name NULLS FIRST,
         ca_city NULLS FIRST, bought_city NULLS FIRST,
         ss_ticket_number NULLS FIRST
LIMIT 100
"""),
    // q49: worst return ratios across all three channels (per-channel
    // dual ranks unioned; decimal ratios become rounded doubles;
    // adapted: December 1995, return-amt floor 10000)
    entry("q_tpcds_q49", """
SELECT channel, item, return_ratio, return_rank, currency_rank
FROM
  (SELECT 'web' AS channel, web.item, web.return_ratio,
          web.return_rank, web.currency_rank
   FROM
     (SELECT item, return_ratio, currency_ratio,
             rank() OVER (ORDER BY return_ratio) AS return_rank,
             rank() OVER (ORDER BY currency_ratio) AS currency_rank
      FROM
        (SELECT ws.ws_item_sk AS item,
                round(CAST(sum(coalesce(wr.wr_return_quantity, 0)) AS DOUBLE) /
                      sum(coalesce(ws.ws_quantity, 0)) + 5e-9, 4) AS return_ratio,
                round(CAST(sum(coalesce(wr.wr_return_amt, 0)) AS DOUBLE) /
                      sum(coalesce(ws.ws_net_paid, 0)) + 5e-9, 4) AS currency_ratio
         FROM web_sales ws
         LEFT OUTER JOIN web_returns wr ON (ws.ws_order_number = wr.wr_order_number
                                            AND ws.ws_item_sk = wr.wr_item_sk),
              date_dim
         WHERE wr.wr_return_amt > 10000
           AND ws.ws_net_profit > 1
           AND ws.ws_net_paid > 0
           AND ws.ws_quantity > 0
           AND ws_sold_date_sk = d_date_sk
           AND d_year = 1995 AND d_moy = 12
         GROUP BY ws.ws_item_sk) in_web) web
   WHERE (web.return_rank <= 10 OR web.currency_rank <= 10)
   UNION
   SELECT 'catalog' AS channel, catalog.item, catalog.return_ratio,
          catalog.return_rank, catalog.currency_rank
   FROM
     (SELECT item, return_ratio, currency_ratio,
             rank() OVER (ORDER BY return_ratio) AS return_rank,
             rank() OVER (ORDER BY currency_ratio) AS currency_rank
      FROM
        (SELECT cs.cs_item_sk AS item,
                round(CAST(sum(coalesce(cr.cr_return_quantity, 0)) AS DOUBLE) /
                      sum(coalesce(cs.cs_quantity, 0)) + 5e-9, 4) AS return_ratio,
                round(CAST(sum(coalesce(cr.cr_return_amount, 0)) AS DOUBLE) /
                      sum(coalesce(cs.cs_net_paid, 0)) + 5e-9, 4) AS currency_ratio
         FROM catalog_sales cs
         LEFT OUTER JOIN catalog_returns cr ON (cs.cs_order_number = cr.cr_order_number
                                                AND cs.cs_item_sk = cr.cr_item_sk),
              date_dim
         WHERE cr.cr_return_amount > 10000
           AND cs.cs_net_profit > 1
           AND cs.cs_net_paid > 0
           AND cs.cs_quantity > 0
           AND cs_sold_date_sk = d_date_sk
           AND d_year = 1995 AND d_moy = 12
         GROUP BY cs.cs_item_sk) in_cat) catalog
   WHERE (catalog.return_rank <= 10 OR catalog.currency_rank <= 10)
   UNION
   SELECT 'store' AS channel, store.item, store.return_ratio,
          store.return_rank, store.currency_rank
   FROM
     (SELECT item, return_ratio, currency_ratio,
             rank() OVER (ORDER BY return_ratio) AS return_rank,
             rank() OVER (ORDER BY currency_ratio) AS currency_rank
      FROM
        (SELECT sts.ss_item_sk AS item,
                round(CAST(sum(coalesce(sr.sr_return_quantity, 0)) AS DOUBLE) /
                      sum(coalesce(sts.ss_quantity, 0)) + 5e-9, 4) AS return_ratio,
                round(CAST(sum(coalesce(sr.sr_return_amt, 0)) AS DOUBLE) /
                      sum(coalesce(sts.ss_net_paid, 0)) + 5e-9, 4) AS currency_ratio
         FROM store_sales sts
         LEFT OUTER JOIN store_returns sr ON (sts.ss_ticket_number = sr.sr_ticket_number
                                              AND sts.ss_item_sk = sr.sr_item_sk),
              date_dim
         WHERE sr.sr_return_amt > 10000
           AND sts.ss_net_profit > 1
           AND sts.ss_net_paid > 0
           AND sts.ss_quantity > 0
           AND ss_sold_date_sk = d_date_sk
           AND d_year = 1995 AND d_moy = 12
         GROUP BY sts.ss_item_sk) in_store) store
   WHERE (store.return_rank <= 10 OR store.currency_rank <= 10)) sq1
ORDER BY 1 NULLS FIRST, 4 NULLS FIRST, 5 NULLS FIRST, 2 NULLS FIRST
LIMIT 100
"""),
    // q50: return-lag buckets per store (date-diff buckets rewritten as
    // portable date + int comparisons; adapted: August 1995)
    entry("q_tpcds_q50", """
SELECT s_store_name, s_company_id, s_street_number, s_street_name,
       s_street_type, s_suite_number, s_city, s_county, s_state, s_zip,
       CAST(sum(CASE WHEN sr_returned_date_sk <= ss_sold_date_sk + 30 THEN 1 ELSE 0 END) AS BIGINT) AS d30,
       CAST(sum(CASE WHEN sr_returned_date_sk > ss_sold_date_sk + 30
                 AND sr_returned_date_sk <= ss_sold_date_sk + 60 THEN 1 ELSE 0 END) AS BIGINT) AS d31_60,
       CAST(sum(CASE WHEN sr_returned_date_sk > ss_sold_date_sk + 60
                 AND sr_returned_date_sk <= ss_sold_date_sk + 90 THEN 1 ELSE 0 END) AS BIGINT) AS d61_90,
       CAST(sum(CASE WHEN sr_returned_date_sk > ss_sold_date_sk + 90
                 AND sr_returned_date_sk <= ss_sold_date_sk + 120 THEN 1 ELSE 0 END) AS BIGINT) AS d91_120,
       CAST(sum(CASE WHEN sr_returned_date_sk > ss_sold_date_sk + 120 THEN 1 ELSE 0 END) AS BIGINT) AS dgt120
FROM store_sales, store_returns, store, date_dim d1, date_dim d2
WHERE d2.d_year = 1995
  AND d2.d_moy = 8
  AND ss_ticket_number = sr_ticket_number
  AND ss_item_sk = sr_item_sk
  AND ss_sold_date_sk = d1.d_date_sk
  AND sr_returned_date_sk = d2.d_date_sk
  AND ss_customer_sk = sr_customer_sk
  AND ss_store_sk = s_store_sk
GROUP BY s_store_name, s_company_id, s_street_number, s_street_name,
         s_street_type, s_suite_number, s_city, s_county, s_state, s_zip
ORDER BY s_store_name, s_company_id, s_street_number, s_street_name,
         s_street_type, s_suite_number, s_city, s_county, s_state, s_zip
LIMIT 100
"""),
    // q51: dates where one channel's cumulative sales lead the other
    // (nested sum-over-sum windows over a FULL OUTER JOIN; cumulative
    // sums rounded 4dp so the overtake cut is engine-deterministic;
    // adapted: the store channel carries 3x the web channel's rows in the
    // derived facts, so the overtake predicate is store > web — the
    // canonical direction is structurally empty here)
    entry("q_tpcds_q51", """
, web_v1 AS
  (SELECT ws_item_sk AS item_sk, d_date,
          round(sum(sum(ws_sales_price))
                  OVER (PARTITION BY ws_item_sk ORDER BY d_date
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) + 5e-9, 4) AS cume_sales
   FROM web_sales, date_dim
   WHERE ws_sold_date_sk = d_date_sk
     AND d_month_seq BETWEEN 36 AND 47
     AND ws_item_sk IS NOT NULL
   GROUP BY ws_item_sk, d_date),
store_v1 AS
  (SELECT ss_item_sk AS item_sk, d_date,
          round(sum(sum(ss_sales_price))
                  OVER (PARTITION BY ss_item_sk ORDER BY d_date
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) + 5e-9, 4) AS cume_sales
   FROM store_sales, date_dim
   WHERE ss_sold_date_sk = d_date_sk
     AND d_month_seq BETWEEN 36 AND 47
     AND ss_item_sk IS NOT NULL
   GROUP BY ss_item_sk, d_date)
SELECT *
FROM
  (SELECT item_sk, d_date, web_sales, store_sales,
          max(web_sales) OVER (PARTITION BY item_sk ORDER BY d_date
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS web_cumulative,
          max(store_sales) OVER (PARTITION BY item_sk ORDER BY d_date
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS store_cumulative
   FROM
     (SELECT CASE WHEN web.item_sk IS NOT NULL THEN web.item_sk ELSE store.item_sk END AS item_sk,
             CASE WHEN web.d_date IS NOT NULL THEN web.d_date ELSE store.d_date END AS d_date,
             web.cume_sales AS web_sales,
             store.cume_sales AS store_sales
      FROM web_v1 web
      FULL OUTER JOIN store_v1 store ON (web.item_sk = store.item_sk
                                         AND web.d_date = store.d_date)) x) y
WHERE store_cumulative > web_cumulative
ORDER BY item_sk NULLS FIRST, d_date NULLS FIRST
LIMIT 100
"""),
    // q54: revenue segments of cross-channel category buyers shopping
    // near home in the following quarter (adapted: category/class to the
    // derived domains, Dec 1995; the ca_county = s_county leg is dropped
    // because the derived county domains are disjoint — state match only)
    entry("q_tpcds_q54", """
, my_customers AS
  (SELECT DISTINCT c_customer_sk, c_current_addr_sk
   FROM
     (SELECT cs_sold_date_sk AS sold_date_sk,
             cs_bill_customer_sk AS customer_sk,
             cs_item_sk AS item_sk
      FROM catalog_sales
      UNION ALL
      SELECT ws_sold_date_sk, ws_bill_customer_sk, ws_item_sk
      FROM web_sales) cs_or_ws_sales, item, date_dim, customer_ds
   WHERE sold_date_sk = d_date_sk
     AND item_sk = i_item_sk
     AND i_category = 'PROMO'
     AND i_class = 'reference'
     AND c_customer_sk = cs_or_ws_sales.customer_sk
     AND d_moy = 12
     AND d_year = 1995),
my_revenue AS
  (SELECT c_customer_sk,
          sum(ss_ext_sales_price) AS revenue
   FROM my_customers, store_sales, customer_address, store, date_dim
   WHERE c_current_addr_sk = ca_address_sk
     AND ca_state = s_state
     AND ss_sold_date_sk = d_date_sk
     AND c_customer_sk = ss_customer_sk
     AND d_month_seq BETWEEN
       (SELECT DISTINCT d_month_seq + 1 FROM date_dim
        WHERE d_year = 1995 AND d_moy = 12) AND
       (SELECT DISTINCT d_month_seq + 3 FROM date_dim
        WHERE d_year = 1995 AND d_moy = 12)
   GROUP BY c_customer_sk),
segments AS
  (SELECT CAST(round(revenue / 50) AS INTEGER) AS segment
   FROM my_revenue)
SELECT segment,
       count(*) AS num_customers,
       segment * 50 AS segment_base
FROM segments
GROUP BY segment
ORDER BY segment NULLS FIRST, num_customers NULLS FIRST, segment_base
LIMIT 100
"""),
    // q56: per-item three-channel totals for listed colors (adapted:
    // colors to the derived domain, Feb 1996)
    entry("q_tpcds_q56", """
, ss AS
  (SELECT i_item_id,
          sum(ss_ext_sales_price) AS total_sales
   FROM store_sales, date_dim, customer_address, item
   WHERE i_item_id IN
       (SELECT i_item_id FROM item WHERE i_color IN ('red', 'blue', 'green'))
     AND ss_item_sk = i_item_sk
     AND ss_sold_date_sk = d_date_sk
     AND d_year = 1996 AND d_moy = 2
     AND ss_addr_sk = ca_address_sk
     AND ca_gmt_offset = -5
   GROUP BY i_item_id),
cs AS
  (SELECT i_item_id,
          sum(cs_ext_sales_price) AS total_sales
   FROM catalog_sales, date_dim, customer_address, item
   WHERE i_item_id IN
       (SELECT i_item_id FROM item WHERE i_color IN ('red', 'blue', 'green'))
     AND cs_item_sk = i_item_sk
     AND cs_sold_date_sk = d_date_sk
     AND d_year = 1996 AND d_moy = 2
     AND cs_bill_addr_sk = ca_address_sk
     AND ca_gmt_offset = -5
   GROUP BY i_item_id),
ws AS
  (SELECT i_item_id,
          sum(ws_ext_sales_price) AS total_sales
   FROM web_sales, date_dim, customer_address, item
   WHERE i_item_id IN
       (SELECT i_item_id FROM item WHERE i_color IN ('red', 'blue', 'green'))
     AND ws_item_sk = i_item_sk
     AND ws_sold_date_sk = d_date_sk
     AND d_year = 1996 AND d_moy = 2
     AND ws_bill_addr_sk = ca_address_sk
     AND ca_gmt_offset = -5
   GROUP BY i_item_id)
SELECT i_item_id,
       round(sum(total_sales) + 5e-9, 4) AS total_sales
FROM (SELECT * FROM ss UNION ALL SELECT * FROM cs UNION ALL SELECT * FROM ws) tmp1
GROUP BY i_item_id
ORDER BY total_sales NULLS FIRST, i_item_id NULLS FIRST
LIMIT 100
"""),
    // q58: items with balanced revenue across all three channels in one
    // period (nested period-lookup subqueries; adapted: the synthetic
    // 8-day weeks leave almost no 3-channel item overlap, so the lookup
    // is the month of 1995-01-03 and the balance band is 0.2-5.0 — the
    // store channel structurally carries ~3x the catalog/web rows; revs
    // rounded 4dp in the CTEs for deterministic band checks)
    entryStaged("q_tpcds_q58", """
, ss_items AS
  (SELECT i_item_id AS item_id,
          round(sum(ss_ext_sales_price) + 5e-9, 4) AS ss_item_rev
   FROM store_sales, item, date_dim
   WHERE ss_item_sk = i_item_sk
     AND d_date IN
       (SELECT d_date FROM date_dim
        WHERE d_month_seq = (SELECT d_month_seq FROM date_dim
                             WHERE d_date = CAST('1995-01-03' AS DATE)))
     AND ss_sold_date_sk = d_date_sk
   GROUP BY i_item_id),
cs_items AS
  (SELECT i_item_id AS item_id,
          round(sum(cs_ext_sales_price) + 5e-9, 4) AS cs_item_rev
   FROM catalog_sales, item, date_dim
   WHERE cs_item_sk = i_item_sk
     AND d_date IN
       (SELECT d_date FROM date_dim
        WHERE d_month_seq = (SELECT d_month_seq FROM date_dim
                             WHERE d_date = CAST('1995-01-03' AS DATE)))
     AND cs_sold_date_sk = d_date_sk
   GROUP BY i_item_id),
ws_items AS
  (SELECT i_item_id AS item_id,
          round(sum(ws_ext_sales_price) + 5e-9, 4) AS ws_item_rev
   FROM web_sales, item, date_dim
   WHERE ws_item_sk = i_item_sk
     AND d_date IN
       (SELECT d_date FROM date_dim
        WHERE d_month_seq = (SELECT d_month_seq FROM date_dim
                             WHERE d_date = CAST('1995-01-03' AS DATE)))
     AND ws_sold_date_sk = d_date_sk
   GROUP BY i_item_id)
SELECT ss_items.item_id,
       ss_item_rev,
       round(ss_item_rev / ((ss_item_rev + cs_item_rev + ws_item_rev) / 3) * 100 + 5e-9, 4) AS ss_dev,
       cs_item_rev,
       round(cs_item_rev / ((ss_item_rev + cs_item_rev + ws_item_rev) / 3) * 100 + 5e-9, 4) AS cs_dev,
       ws_item_rev,
       round(ws_item_rev / ((ss_item_rev + cs_item_rev + ws_item_rev) / 3) * 100 + 5e-9, 4) AS ws_dev,
       round((ss_item_rev + cs_item_rev + ws_item_rev) / 3 + 5e-9, 4) AS average
FROM ss_items, cs_items, ws_items
WHERE ss_items.item_id = cs_items.item_id
  AND ss_items.item_id = ws_items.item_id
  AND ss_item_rev BETWEEN 0.2 * cs_item_rev AND 5.0 * cs_item_rev
  AND ss_item_rev BETWEEN 0.2 * ws_item_rev AND 5.0 * ws_item_rev
  AND cs_item_rev BETWEEN 0.2 * ss_item_rev AND 5.0 * ss_item_rev
  AND cs_item_rev BETWEEN 0.2 * ws_item_rev AND 5.0 * ws_item_rev
  AND ws_item_rev BETWEEN 0.2 * ss_item_rev AND 5.0 * ss_item_rev
  AND ws_item_rev BETWEEN 0.2 * cs_item_rev AND 5.0 * cs_item_rev
ORDER BY ss_items.item_id NULLS FIRST, ss_item_rev NULLS FIRST
LIMIT 100
"""),
    // q60: per-item three-channel totals for one category (adapted:
    // category STANDARD, September 1996)
    entry("q_tpcds_q60", """
, ss AS
  (SELECT i_item_id,
          sum(ss_ext_sales_price) AS total_sales
   FROM store_sales, date_dim, customer_address, item
   WHERE i_item_id IN
       (SELECT i_item_id FROM item WHERE i_category = 'STANDARD')
     AND ss_item_sk = i_item_sk
     AND ss_sold_date_sk = d_date_sk
     AND d_year = 1996 AND d_moy = 9
     AND ss_addr_sk = ca_address_sk
     AND ca_gmt_offset = -5
   GROUP BY i_item_id),
cs AS
  (SELECT i_item_id,
          sum(cs_ext_sales_price) AS total_sales
   FROM catalog_sales, date_dim, customer_address, item
   WHERE i_item_id IN
       (SELECT i_item_id FROM item WHERE i_category = 'STANDARD')
     AND cs_item_sk = i_item_sk
     AND cs_sold_date_sk = d_date_sk
     AND d_year = 1996 AND d_moy = 9
     AND cs_bill_addr_sk = ca_address_sk
     AND ca_gmt_offset = -5
   GROUP BY i_item_id),
ws AS
  (SELECT i_item_id,
          sum(ws_ext_sales_price) AS total_sales
   FROM web_sales, date_dim, customer_address, item
   WHERE i_item_id IN
       (SELECT i_item_id FROM item WHERE i_category = 'STANDARD')
     AND ws_item_sk = i_item_sk
     AND ws_sold_date_sk = d_date_sk
     AND d_year = 1996 AND d_moy = 9
     AND ws_bill_addr_sk = ca_address_sk
     AND ca_gmt_offset = -5
   GROUP BY i_item_id)
SELECT i_item_id,
       round(sum(total_sales) + 5e-9, 4) AS total_sales
FROM (SELECT * FROM ss UNION ALL SELECT * FROM cs UNION ALL SELECT * FROM ws) tmp1
GROUP BY i_item_id
ORDER BY i_item_id, total_sales
LIMIT 100
"""),
    // q61: promotional share of one category's store revenue (two scalar
    // aggregates cross-joined; decimal ratio becomes a rounded double;
    // adapted: category PROMO, November 1995)
    entry("q_tpcds_q61", """
SELECT round(promotions + 5e-9, 4) AS promotions,
       round(total + 5e-9, 4) AS total,
       round(CAST(promotions AS DOUBLE) / total * 100 + 5e-9, 4) AS promo_pct
FROM
  (SELECT sum(ss_ext_sales_price) AS promotions
   FROM store_sales, store, promotion, date_dim, customer_ds,
        customer_address, item
   WHERE ss_sold_date_sk = d_date_sk
     AND ss_store_sk = s_store_sk
     AND ss_promo_sk = p_promo_sk
     AND ss_customer_sk = c_customer_sk
     AND ca_address_sk = c_current_addr_sk
     AND ss_item_sk = i_item_sk
     AND ca_gmt_offset = -5
     AND i_category = 'PROMO'
     AND (p_channel_dmail = 'Y' OR p_channel_email = 'Y' OR p_channel_tv = 'Y')
     AND s_gmt_offset = -5
     AND d_year = 1995
     AND d_moy = 11) promotional_sales,
  (SELECT sum(ss_ext_sales_price) AS total
   FROM store_sales, store, date_dim, customer_ds, customer_address, item
   WHERE ss_sold_date_sk = d_date_sk
     AND ss_store_sk = s_store_sk
     AND ss_customer_sk = c_customer_sk
     AND ca_address_sk = c_current_addr_sk
     AND ss_item_sk = i_item_sk
     AND ca_gmt_offset = -5
     AND i_category = 'PROMO'
     AND s_gmt_offset = -5
     AND d_year = 1995
     AND d_moy = 11) all_sales
ORDER BY promotions, total
LIMIT 100
"""),
    // q66: warehouse monthly sales/net matrix for two carriers across web
    // and catalog (adapted: 1995, carriers DHL/UPS, business-hours time
    // band over the derived time_dim)
    entry("q_tpcds_q66", """
SELECT w_warehouse_name, w_warehouse_sq_ft, w_city, w_county, w_state,
       w_country, ship_carriers, year_,
       round(sum(jan_sales) + 5e-9, 4) AS jan_sales,
       round(sum(feb_sales) + 5e-9, 4) AS feb_sales,
       round(sum(mar_sales) + 5e-9, 4) AS mar_sales,
       round(sum(apr_sales) + 5e-9, 4) AS apr_sales,
       round(sum(may_sales) + 5e-9, 4) AS may_sales,
       round(sum(jun_sales) + 5e-9, 4) AS jun_sales,
       round(sum(jul_sales) + 5e-9, 4) AS jul_sales,
       round(sum(aug_sales) + 5e-9, 4) AS aug_sales,
       round(sum(sep_sales) + 5e-9, 4) AS sep_sales,
       round(sum(oct_sales) + 5e-9, 4) AS oct_sales,
       round(sum(nov_sales) + 5e-9, 4) AS nov_sales,
       round(sum(dec_sales) + 5e-9, 4) AS dec_sales,
       round(sum(jan_sales / w_warehouse_sq_ft) + 5e-9, 4) AS jan_sales_per_sq_foot,
       round(sum(feb_sales / w_warehouse_sq_ft) + 5e-9, 4) AS feb_sales_per_sq_foot,
       round(sum(mar_sales / w_warehouse_sq_ft) + 5e-9, 4) AS mar_sales_per_sq_foot,
       round(sum(apr_sales / w_warehouse_sq_ft) + 5e-9, 4) AS apr_sales_per_sq_foot,
       round(sum(may_sales / w_warehouse_sq_ft) + 5e-9, 4) AS may_sales_per_sq_foot,
       round(sum(jun_sales / w_warehouse_sq_ft) + 5e-9, 4) AS jun_sales_per_sq_foot,
       round(sum(jul_sales / w_warehouse_sq_ft) + 5e-9, 4) AS jul_sales_per_sq_foot,
       round(sum(aug_sales / w_warehouse_sq_ft) + 5e-9, 4) AS aug_sales_per_sq_foot,
       round(sum(sep_sales / w_warehouse_sq_ft) + 5e-9, 4) AS sep_sales_per_sq_foot,
       round(sum(oct_sales / w_warehouse_sq_ft) + 5e-9, 4) AS oct_sales_per_sq_foot,
       round(sum(nov_sales / w_warehouse_sq_ft) + 5e-9, 4) AS nov_sales_per_sq_foot,
       round(sum(dec_sales / w_warehouse_sq_ft) + 5e-9, 4) AS dec_sales_per_sq_foot,
       round(sum(jan_net) + 5e-9, 4) AS jan_net,
       round(sum(feb_net) + 5e-9, 4) AS feb_net,
       round(sum(mar_net) + 5e-9, 4) AS mar_net,
       round(sum(apr_net) + 5e-9, 4) AS apr_net,
       round(sum(may_net) + 5e-9, 4) AS may_net,
       round(sum(jun_net) + 5e-9, 4) AS jun_net,
       round(sum(jul_net) + 5e-9, 4) AS jul_net,
       round(sum(aug_net) + 5e-9, 4) AS aug_net,
       round(sum(sep_net) + 5e-9, 4) AS sep_net,
       round(sum(oct_net) + 5e-9, 4) AS oct_net,
       round(sum(nov_net) + 5e-9, 4) AS nov_net,
       round(sum(dec_net) + 5e-9, 4) AS dec_net
FROM
  (SELECT w_warehouse_name, w_warehouse_sq_ft, w_city, w_county, w_state,
          w_country,
          'DHL,UPS' AS ship_carriers,
          d_year AS year_,
          sum(CASE WHEN d_moy = 1 THEN ws_ext_sales_price * ws_quantity ELSE 0 END) AS jan_sales,
          sum(CASE WHEN d_moy = 2 THEN ws_ext_sales_price * ws_quantity ELSE 0 END) AS feb_sales,
          sum(CASE WHEN d_moy = 3 THEN ws_ext_sales_price * ws_quantity ELSE 0 END) AS mar_sales,
          sum(CASE WHEN d_moy = 4 THEN ws_ext_sales_price * ws_quantity ELSE 0 END) AS apr_sales,
          sum(CASE WHEN d_moy = 5 THEN ws_ext_sales_price * ws_quantity ELSE 0 END) AS may_sales,
          sum(CASE WHEN d_moy = 6 THEN ws_ext_sales_price * ws_quantity ELSE 0 END) AS jun_sales,
          sum(CASE WHEN d_moy = 7 THEN ws_ext_sales_price * ws_quantity ELSE 0 END) AS jul_sales,
          sum(CASE WHEN d_moy = 8 THEN ws_ext_sales_price * ws_quantity ELSE 0 END) AS aug_sales,
          sum(CASE WHEN d_moy = 9 THEN ws_ext_sales_price * ws_quantity ELSE 0 END) AS sep_sales,
          sum(CASE WHEN d_moy = 10 THEN ws_ext_sales_price * ws_quantity ELSE 0 END) AS oct_sales,
          sum(CASE WHEN d_moy = 11 THEN ws_ext_sales_price * ws_quantity ELSE 0 END) AS nov_sales,
          sum(CASE WHEN d_moy = 12 THEN ws_ext_sales_price * ws_quantity ELSE 0 END) AS dec_sales,
          sum(CASE WHEN d_moy = 1 THEN ws_net_paid * ws_quantity ELSE 0 END) AS jan_net,
          sum(CASE WHEN d_moy = 2 THEN ws_net_paid * ws_quantity ELSE 0 END) AS feb_net,
          sum(CASE WHEN d_moy = 3 THEN ws_net_paid * ws_quantity ELSE 0 END) AS mar_net,
          sum(CASE WHEN d_moy = 4 THEN ws_net_paid * ws_quantity ELSE 0 END) AS apr_net,
          sum(CASE WHEN d_moy = 5 THEN ws_net_paid * ws_quantity ELSE 0 END) AS may_net,
          sum(CASE WHEN d_moy = 6 THEN ws_net_paid * ws_quantity ELSE 0 END) AS jun_net,
          sum(CASE WHEN d_moy = 7 THEN ws_net_paid * ws_quantity ELSE 0 END) AS jul_net,
          sum(CASE WHEN d_moy = 8 THEN ws_net_paid * ws_quantity ELSE 0 END) AS aug_net,
          sum(CASE WHEN d_moy = 9 THEN ws_net_paid * ws_quantity ELSE 0 END) AS sep_net,
          sum(CASE WHEN d_moy = 10 THEN ws_net_paid * ws_quantity ELSE 0 END) AS oct_net,
          sum(CASE WHEN d_moy = 11 THEN ws_net_paid * ws_quantity ELSE 0 END) AS nov_net,
          sum(CASE WHEN d_moy = 12 THEN ws_net_paid * ws_quantity ELSE 0 END) AS dec_net
   FROM web_sales, warehouse, date_dim, time_dim, ship_mode
   WHERE ws_warehouse_sk = w_warehouse_sk
     AND ws_sold_date_sk = d_date_sk
     AND ws_sold_time_sk = t_time_sk
     AND ws_ship_mode_sk = sm_ship_mode_sk
     AND d_year = 1995
     AND t_time BETWEEN 30838 AND 30838 + 28800
     AND sm_carrier IN ('DHL', 'UPS')
   GROUP BY w_warehouse_name, w_warehouse_sq_ft, w_city, w_county, w_state,
            w_country, d_year
   UNION ALL
   SELECT w_warehouse_name, w_warehouse_sq_ft, w_city, w_county, w_state,
          w_country,
          'DHL,UPS' AS ship_carriers,
          d_year AS year_,
          sum(CASE WHEN d_moy = 1 THEN cs_sales_price * cs_quantity ELSE 0 END) AS jan_sales,
          sum(CASE WHEN d_moy = 2 THEN cs_sales_price * cs_quantity ELSE 0 END) AS feb_sales,
          sum(CASE WHEN d_moy = 3 THEN cs_sales_price * cs_quantity ELSE 0 END) AS mar_sales,
          sum(CASE WHEN d_moy = 4 THEN cs_sales_price * cs_quantity ELSE 0 END) AS apr_sales,
          sum(CASE WHEN d_moy = 5 THEN cs_sales_price * cs_quantity ELSE 0 END) AS may_sales,
          sum(CASE WHEN d_moy = 6 THEN cs_sales_price * cs_quantity ELSE 0 END) AS jun_sales,
          sum(CASE WHEN d_moy = 7 THEN cs_sales_price * cs_quantity ELSE 0 END) AS jul_sales,
          sum(CASE WHEN d_moy = 8 THEN cs_sales_price * cs_quantity ELSE 0 END) AS aug_sales,
          sum(CASE WHEN d_moy = 9 THEN cs_sales_price * cs_quantity ELSE 0 END) AS sep_sales,
          sum(CASE WHEN d_moy = 10 THEN cs_sales_price * cs_quantity ELSE 0 END) AS oct_sales,
          sum(CASE WHEN d_moy = 11 THEN cs_sales_price * cs_quantity ELSE 0 END) AS nov_sales,
          sum(CASE WHEN d_moy = 12 THEN cs_sales_price * cs_quantity ELSE 0 END) AS dec_sales,
          sum(CASE WHEN d_moy = 1 THEN cs_net_paid_inc_tax * cs_quantity ELSE 0 END) AS jan_net,
          sum(CASE WHEN d_moy = 2 THEN cs_net_paid_inc_tax * cs_quantity ELSE 0 END) AS feb_net,
          sum(CASE WHEN d_moy = 3 THEN cs_net_paid_inc_tax * cs_quantity ELSE 0 END) AS mar_net,
          sum(CASE WHEN d_moy = 4 THEN cs_net_paid_inc_tax * cs_quantity ELSE 0 END) AS apr_net,
          sum(CASE WHEN d_moy = 5 THEN cs_net_paid_inc_tax * cs_quantity ELSE 0 END) AS may_net,
          sum(CASE WHEN d_moy = 6 THEN cs_net_paid_inc_tax * cs_quantity ELSE 0 END) AS jun_net,
          sum(CASE WHEN d_moy = 7 THEN cs_net_paid_inc_tax * cs_quantity ELSE 0 END) AS jul_net,
          sum(CASE WHEN d_moy = 8 THEN cs_net_paid_inc_tax * cs_quantity ELSE 0 END) AS aug_net,
          sum(CASE WHEN d_moy = 9 THEN cs_net_paid_inc_tax * cs_quantity ELSE 0 END) AS sep_net,
          sum(CASE WHEN d_moy = 10 THEN cs_net_paid_inc_tax * cs_quantity ELSE 0 END) AS oct_net,
          sum(CASE WHEN d_moy = 11 THEN cs_net_paid_inc_tax * cs_quantity ELSE 0 END) AS nov_net,
          sum(CASE WHEN d_moy = 12 THEN cs_net_paid_inc_tax * cs_quantity ELSE 0 END) AS dec_net
   FROM catalog_sales, warehouse, date_dim, time_dim, ship_mode
   WHERE cs_warehouse_sk = w_warehouse_sk
     AND cs_sold_date_sk = d_date_sk
     AND cs_sold_time_sk = t_time_sk
     AND cs_ship_mode_sk = sm_ship_mode_sk
     AND d_year = 1995
     AND t_time BETWEEN 30838 AND 30838 + 28800
     AND sm_carrier IN ('DHL', 'UPS')
   GROUP BY w_warehouse_name, w_warehouse_sq_ft, w_city, w_county, w_state,
            w_country, d_year) x
GROUP BY w_warehouse_name, w_warehouse_sq_ft, w_city, w_county, w_state,
         w_country, ship_carriers, year_
ORDER BY w_warehouse_name NULLS FIRST
LIMIT 100
"""),
    // q71: brand revenue by meal-time minute across all three channels
    // (adapted: November 1995, manager 1, derived t_meal_time bands;
    // t_minute added to the ORDER for a deterministic cut)
    entry("q_tpcds_q71", """
SELECT i_brand_id AS brand_id,
       i_brand AS brand,
       t_hour, t_minute,
       round(sum(ext_price) + 5e-9, 4) AS ext_price
FROM item,
  (SELECT ws_ext_sales_price AS ext_price,
          ws_sold_date_sk AS sold_date_sk,
          ws_item_sk AS sold_item_sk,
          ws_sold_time_sk AS time_sk
   FROM web_sales, date_dim
   WHERE d_date_sk = ws_sold_date_sk AND d_moy = 11 AND d_year = 1995
   UNION ALL
   SELECT cs_ext_sales_price, cs_sold_date_sk, cs_item_sk, cs_sold_time_sk
   FROM catalog_sales, date_dim
   WHERE d_date_sk = cs_sold_date_sk AND d_moy = 11 AND d_year = 1995
   UNION ALL
   SELECT ss_ext_sales_price, ss_sold_date_sk, ss_item_sk, ss_sold_time_sk
   FROM store_sales, date_dim
   WHERE d_date_sk = ss_sold_date_sk AND d_moy = 11 AND d_year = 1995) tmp,
     time_dim
WHERE sold_item_sk = i_item_sk
  AND i_manager_id = 1
  AND time_sk = t_time_sk
  AND (t_meal_time = 'breakfast' OR t_meal_time = 'dinner')
GROUP BY i_brand, i_brand_id, t_hour, t_minute
ORDER BY ext_price DESC NULLS FIRST, i_brand_id NULLS FIRST,
         t_hour NULLS FIRST, t_minute NULLS FIRST
"""),
    // q72: promo vs no-promo catalog orders shipped late against low
    // inventory (9-table join battery with two LEFT joins; adapted: 1995,
    // two hd_buy_potential bands — the single canonical band intersects
    // the other modular demographic constraints to zero rows here)
    entry("q_tpcds_q72", """
SELECT i_item_desc, w_warehouse_name, d1.d_week_seq,
       CAST(sum(CASE WHEN p_promo_sk IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS no_promo,
       CAST(sum(CASE WHEN p_promo_sk IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS promo,
       count(*) AS total_cnt
FROM catalog_sales
JOIN inventory ON (cs_item_sk = inv_item_sk)
JOIN warehouse ON (w_warehouse_sk = inv_warehouse_sk)
JOIN item ON (i_item_sk = cs_item_sk)
JOIN customer_demographics ON (cs_bill_cdemo_sk = cd_demo_sk)
JOIN household_demographics ON (cs_bill_hdemo_sk = hd_demo_sk)
JOIN date_dim d1 ON (cs_sold_date_sk = d1.d_date_sk)
JOIN date_dim d2 ON (inv_date_sk = d2.d_date_sk)
JOIN date_dim d3 ON (cs_ship_date_sk = d3.d_date_sk)
LEFT OUTER JOIN promotion ON (cs_promo_sk = p_promo_sk)
LEFT OUTER JOIN catalog_returns ON (cr_item_sk = cs_item_sk
                                    AND cr_order_number = cs_order_number)
WHERE d1.d_week_seq = d2.d_week_seq
  AND inv_quantity_on_hand < cs_quantity
  AND d3.d_date > d1.d_date + 5
  AND hd_buy_potential IN ('>10000', 'Unknown')
  AND d1.d_year = 1995
  AND cd_marital_status = 'D'
GROUP BY i_item_desc, w_warehouse_name, d1.d_week_seq
ORDER BY total_cnt DESC NULLS FIRST, i_item_desc NULLS FIRST,
         w_warehouse_name NULLS FIRST, d1.d_week_seq NULLS FIRST
LIMIT 100
"""),
    // q76: sales through a sentinel dimension slice per channel (adapted:
    // the canonical IS NULL fk audit is structurally empty on the derived
    // facts — every fk is populated — so each channel pins its sentinel
    // key value instead, keeping the 3-channel union + agg shape)
    entry("q_tpcds_q76", """
SELECT channel, col_name, d_year, d_qoy, i_category,
       count(*) AS sales_cnt,
       round(sum(ext_sales_price) + 5e-9, 4) AS sales_amt
FROM
  (SELECT 'store' AS channel, 'ss_store_sk' AS col_name, d_year, d_qoy,
          i_category, ss_ext_sales_price AS ext_sales_price
   FROM store_sales, item, date_dim
   WHERE ss_store_sk = 25
     AND ss_sold_date_sk = d_date_sk
     AND ss_item_sk = i_item_sk
   UNION ALL
   SELECT 'web' AS channel, 'ws_ship_customer_sk' AS col_name, d_year, d_qoy,
          i_category, ws_ext_sales_price AS ext_sales_price
   FROM web_sales, item, date_dim
   WHERE ws_ship_customer_sk = 0
     AND ws_sold_date_sk = d_date_sk
     AND ws_item_sk = i_item_sk
   UNION ALL
   SELECT 'catalog' AS channel, 'cs_ship_addr_sk' AS col_name, d_year, d_qoy,
          i_category, cs_ext_sales_price AS ext_sales_price
   FROM catalog_sales, item, date_dim
   WHERE cs_ship_addr_sk = 0
     AND cs_sold_date_sk = d_date_sk
     AND cs_item_sk = i_item_sk) foo
GROUP BY channel, col_name, d_year, d_qoy, i_category
ORDER BY channel NULLS FIRST, col_name NULLS FIRST, d_year NULLS FIRST,
         d_qoy NULLS FIRST, i_category NULLS FIRST
LIMIT 100
"""),
    // q83: items with balanced returns across all three channels in three
    // listed weeks (adapted: 1995 dates; decimal deviations become
    // rounded doubles)
    entryStaged("q_tpcds_q83", """
, sr_items AS
  (SELECT i_item_id AS item_id,
          CAST(sum(sr_return_quantity) AS BIGINT) AS sr_item_qty
   FROM store_returns, item, date_dim
   WHERE sr_item_sk = i_item_sk
     AND d_date IN
       (SELECT d_date FROM date_dim
        WHERE d_week_seq IN
            (SELECT d_week_seq FROM date_dim
             WHERE d_date IN (CAST('1995-06-30' AS DATE),
                              CAST('1995-09-27' AS DATE),
                              CAST('1995-11-17' AS DATE))))
     AND sr_returned_date_sk = d_date_sk
   GROUP BY i_item_id),
cr_items AS
  (SELECT i_item_id AS item_id,
          CAST(sum(cr_return_quantity) AS BIGINT) AS cr_item_qty
   FROM catalog_returns, item, date_dim
   WHERE cr_item_sk = i_item_sk
     AND d_date IN
       (SELECT d_date FROM date_dim
        WHERE d_week_seq IN
            (SELECT d_week_seq FROM date_dim
             WHERE d_date IN (CAST('1995-06-30' AS DATE),
                              CAST('1995-09-27' AS DATE),
                              CAST('1995-11-17' AS DATE))))
     AND cr_returned_date_sk = d_date_sk
   GROUP BY i_item_id),
wr_items AS
  (SELECT i_item_id AS item_id,
          CAST(sum(wr_return_quantity) AS BIGINT) AS wr_item_qty
   FROM web_returns, item, date_dim
   WHERE wr_item_sk = i_item_sk
     AND d_date IN
       (SELECT d_date FROM date_dim
        WHERE d_week_seq IN
            (SELECT d_week_seq FROM date_dim
             WHERE d_date IN (CAST('1995-06-30' AS DATE),
                              CAST('1995-09-27' AS DATE),
                              CAST('1995-11-17' AS DATE))))
     AND wr_returned_date_sk = d_date_sk
   GROUP BY i_item_id)
SELECT sr_items.item_id,
       sr_item_qty,
       round(CAST(sr_item_qty AS DOUBLE) / (sr_item_qty + cr_item_qty + wr_item_qty) / 3.0 * 100 + 5e-9, 4) AS sr_dev,
       cr_item_qty,
       round(CAST(cr_item_qty AS DOUBLE) / (sr_item_qty + cr_item_qty + wr_item_qty) / 3.0 * 100 + 5e-9, 4) AS cr_dev,
       wr_item_qty,
       round(CAST(wr_item_qty AS DOUBLE) / (sr_item_qty + cr_item_qty + wr_item_qty) / 3.0 * 100 + 5e-9, 4) AS wr_dev,
       round((sr_item_qty + cr_item_qty + wr_item_qty) / 3.0 + 5e-9, 4) AS average
FROM sr_items, cr_items, wr_items
WHERE sr_items.item_id = cr_items.item_id
  AND sr_items.item_id = wr_items.item_id
ORDER BY sr_items.item_id NULLS FIRST, sr_item_qty NULLS FIRST
LIMIT 100
"""),
    // q85: web return reasons for matched demographic/geographic bands
    // (adapted: states and price/profit bands re-fit to the synthetic
    // value quantiles, d_year 1996; wr returning/refunded cdemo are the
    // same customer so the cd1=cd2 equality battery is satisfiable)
    entry("q_tpcds_q85", """
SELECT substring(r_reason_desc, 1, 20) AS r_desc,
       round(avg(ws_quantity) + 5e-9, 4) AS avg1,
       round(avg(wr_refunded_cash) + 5e-9, 4) AS avg2,
       round(avg(wr_fee) + 5e-9, 4) AS avg3
FROM web_sales, web_returns, web_page, customer_demographics cd1,
     customer_demographics cd2, customer_address, date_dim, reason
WHERE ws_web_page_sk = wp_web_page_sk
  AND ws_item_sk = wr_item_sk
  AND ws_order_number = wr_order_number
  AND ws_sold_date_sk = d_date_sk
  AND d_year = 1996
  AND cd1.cd_demo_sk = wr_refunded_cdemo_sk
  AND cd2.cd_demo_sk = wr_returning_cdemo_sk
  AND ca_address_sk = wr_refunded_addr_sk
  AND r_reason_sk = wr_reason_sk
  AND ((cd1.cd_marital_status = 'M'
        AND cd1.cd_marital_status = cd2.cd_marital_status
        AND cd1.cd_education_status = 'Advanced Degree'
        AND cd1.cd_education_status = cd2.cd_education_status
        AND ws_sales_price BETWEEN 500.00 AND 2000.00)
       OR (cd1.cd_marital_status = 'S'
           AND cd1.cd_marital_status = cd2.cd_marital_status
           AND cd1.cd_education_status = 'College'
           AND cd1.cd_education_status = cd2.cd_education_status
           AND ws_sales_price BETWEEN 2000.00 AND 4000.00)
       OR (cd1.cd_marital_status = 'W'
           AND cd1.cd_marital_status = cd2.cd_marital_status
           AND cd1.cd_education_status = '2 yr Degree'
           AND cd1.cd_education_status = cd2.cd_education_status
           AND ws_sales_price BETWEEN 4000.00 AND 20000.00))
  AND ((ca_country = 'United States'
        AND ca_state IN ('OH', 'OR', 'NM')
        AND ws_net_profit BETWEEN 5000 AND 20000)
       OR (ca_country = 'United States'
           AND ca_state IN ('TX', 'KY', 'OH')
           AND ws_net_profit BETWEEN 10000 AND 40000)
       OR (ca_country = 'United States'
           AND ca_state IN ('OR', 'NM', 'KY')
           AND ws_net_profit BETWEEN 1000 AND 30000))
GROUP BY r_reason_desc
ORDER BY r_desc, avg1, avg2, avg3
LIMIT 100
"""),
    // q8: store profit where preferred customers cluster (zip-list
    // INTERSECT zip-census; adapted: zips to the derived 10000-10088
    // domain, d_year 1995, census floor 8 — ~750 preferred customers over
    // 89 zips average 8.4 per zip, so the canonical 10 empties the set)
    entry("q_tpcds_q8", """
SELECT s_store_name,
       round(sum(ss_net_profit) + 5e-9, 4) AS sum_net_profit
FROM store_sales, date_dim, store,
  (SELECT ca_zip
   FROM
     (SELECT substring(ca_zip, 1, 5) AS ca_zip
      FROM customer_address
      WHERE substring(ca_zip, 1, 5) IN ('10000', '10003', '10007', '10010',
                                        '10014', '10017', '10021', '10024',
                                        '10028', '10031', '10035', '10038',
                                        '10042', '10045', '10049', '10052',
                                        '10056', '10059', '10063', '10066')
      INTERSECT
      SELECT ca_zip
      FROM
        (SELECT substring(ca_zip, 1, 5) AS ca_zip, count(*) AS cnt
         FROM customer_address, customer_ds
         WHERE ca_address_sk = c_current_addr_sk
           AND c_preferred_cust_flag = 'Y'
         GROUP BY ca_zip
         HAVING count(*) > 8) A1) A2) V1
WHERE ss_store_sk = s_store_sk
  AND ss_sold_date_sk = d_date_sk
  AND d_qoy = 2
  AND d_year = 1995
  AND (substring(s_zip, 1, 2) = substring(V1.ca_zip, 1, 2))
GROUP BY s_store_name
ORDER BY s_store_name
LIMIT 100
"""),
    // q14: cross-channel items sold above the overall average basket
    // (triple INTERSECT item cohort + scalar avg CTE + HAVING battery +
    // ROLLUP; adapted: years 1995-1997, report November 1997)
    entryStaged("q_tpcds_q14", """
, cross_items AS
  (SELECT i_item_sk AS ss_item_sk
   FROM item,
     (SELECT iss.i_brand_id AS brand_id,
             iss.i_class_id AS class_id,
             iss.i_category_id AS category_id
      FROM store_sales, item iss, date_dim d1
      WHERE ss_item_sk = iss.i_item_sk
        AND ss_sold_date_sk = d1.d_date_sk
        AND d1.d_year BETWEEN 1995 AND 1997
      INTERSECT
      SELECT ics.i_brand_id, ics.i_class_id, ics.i_category_id
      FROM catalog_sales, item ics, date_dim d2
      WHERE cs_item_sk = ics.i_item_sk
        AND cs_sold_date_sk = d2.d_date_sk
        AND d2.d_year BETWEEN 1995 AND 1997
      INTERSECT
      SELECT iws.i_brand_id, iws.i_class_id, iws.i_category_id
      FROM web_sales, item iws, date_dim d3
      WHERE ws_item_sk = iws.i_item_sk
        AND ws_sold_date_sk = d3.d_date_sk
        AND d3.d_year BETWEEN 1995 AND 1997) sq1
   WHERE i_brand_id = brand_id
     AND i_class_id = class_id
     AND i_category_id = category_id),
avg_sales AS
  (SELECT avg(quantity * list_price) AS average_sales
   FROM
     (SELECT ss_quantity AS quantity, ss_list_price AS list_price
      FROM store_sales, date_dim
      WHERE ss_sold_date_sk = d_date_sk AND d_year BETWEEN 1995 AND 1997
      UNION ALL
      SELECT cs_quantity, cs_list_price
      FROM catalog_sales, date_dim
      WHERE cs_sold_date_sk = d_date_sk AND d_year BETWEEN 1995 AND 1997
      UNION ALL
      SELECT ws_quantity, ws_list_price
      FROM web_sales, date_dim
      WHERE ws_sold_date_sk = d_date_sk AND d_year BETWEEN 1995 AND 1997) sq2)
SELECT channel, i_brand_id, i_class_id, i_category_id,
       round(sum(sales) + 5e-9, 4) AS sum_sales,
       CAST(sum(number_sales) AS BIGINT) AS sum_number_sales
FROM
  (SELECT 'store' AS channel, i_brand_id, i_class_id, i_category_id,
          sum(ss_quantity * ss_list_price) AS sales,
          count(*) AS number_sales
   FROM store_sales, item, date_dim
   WHERE ss_item_sk IN (SELECT ss_item_sk FROM cross_items)
     AND ss_item_sk = i_item_sk
     AND ss_sold_date_sk = d_date_sk
     AND d_year = 1997 AND d_moy = 11
   GROUP BY i_brand_id, i_class_id, i_category_id
   HAVING sum(ss_quantity * ss_list_price) > (SELECT average_sales FROM avg_sales)
   UNION ALL
   SELECT 'catalog', i_brand_id, i_class_id, i_category_id,
          sum(cs_quantity * cs_list_price),
          count(*)
   FROM catalog_sales, item, date_dim
   WHERE cs_item_sk IN (SELECT ss_item_sk FROM cross_items)
     AND cs_item_sk = i_item_sk
     AND cs_sold_date_sk = d_date_sk
     AND d_year = 1997 AND d_moy = 11
   GROUP BY i_brand_id, i_class_id, i_category_id
   HAVING sum(cs_quantity * cs_list_price) > (SELECT average_sales FROM avg_sales)
   UNION ALL
   SELECT 'web', i_brand_id, i_class_id, i_category_id,
          sum(ws_quantity * ws_list_price),
          count(*)
   FROM web_sales, item, date_dim
   WHERE ws_item_sk IN (SELECT ss_item_sk FROM cross_items)
     AND ws_item_sk = i_item_sk
     AND ws_sold_date_sk = d_date_sk
     AND d_year = 1997 AND d_moy = 11
   GROUP BY i_brand_id, i_class_id, i_category_id
   HAVING sum(ws_quantity * ws_list_price) > (SELECT average_sales FROM avg_sales)) y
GROUP BY ROLLUP(channel, i_brand_id, i_class_id, i_category_id)
ORDER BY channel NULLS FIRST, i_brand_id NULLS FIRST,
         i_class_id NULLS FIRST, i_category_id NULLS FIRST
LIMIT 100
"""),
    // q23: off-channel purchases of frequent store items by the best
    // store customers (adapted: 'frequent' regrouped from 5+ per day to
    // 3+ per month — the sf-scale facts top out at 3 rows per item-day —
    // years 1995-1998, report Feb 1995)
    entryStaged("q_tpcds_q23", stageOnly = Set("best_ss_customer"), sql = """
, frequent_ss_items AS
  (SELECT itemdesc,
          i_item_sk AS item_sk,
          d_month_seq AS sold_month_seq,
          count(*) AS cnt
   FROM store_sales, date_dim,
     (SELECT substring(i_item_desc, 1, 30) AS itemdesc, * FROM item) sq1
   WHERE ss_sold_date_sk = d_date_sk
     AND ss_item_sk = i_item_sk
     AND d_year IN (1995, 1996, 1997, 1998)
   GROUP BY itemdesc, i_item_sk, d_month_seq
   HAVING count(*) > 2),
max_store_sales AS
  (SELECT max(csales) AS tpcds_cmax
   FROM
     (SELECT c_customer_sk,
             sum(ss_quantity * ss_sales_price) AS csales
      FROM store_sales, customer_ds, date_dim
      WHERE ss_customer_sk = c_customer_sk
        AND ss_sold_date_sk = d_date_sk
        AND d_year IN (1995, 1996, 1997, 1998)
      GROUP BY c_customer_sk) sq2),
best_ss_customer AS
  (SELECT c_customer_sk,
          sum(ss_quantity * ss_sales_price) AS ssales
   FROM store_sales, customer_ds, max_store_sales
   WHERE ss_customer_sk = c_customer_sk
   GROUP BY c_customer_sk
   HAVING sum(ss_quantity * ss_sales_price) > (50 / 100.0) * max(tpcds_cmax))
SELECT c_last_name, c_first_name,
       round(sales + 5e-9, 4) AS sales
FROM
  (SELECT c_last_name, c_first_name,
          sum(cs_quantity * cs_list_price) AS sales
   FROM catalog_sales, customer_ds, date_dim, frequent_ss_items, best_ss_customer
   WHERE d_year = 1995
     AND d_moy = 2
     AND cs_sold_date_sk = d_date_sk
     AND cs_item_sk = item_sk
     AND cs_bill_customer_sk = best_ss_customer.c_customer_sk
     AND cs_bill_customer_sk = customer_ds.c_customer_sk
   GROUP BY c_last_name, c_first_name
   UNION ALL
   SELECT c_last_name, c_first_name,
          sum(ws_quantity * ws_list_price)
   FROM web_sales, customer_ds, date_dim, frequent_ss_items, best_ss_customer
   WHERE d_year = 1995
     AND d_moy = 2
     AND ws_sold_date_sk = d_date_sk
     AND ws_item_sk = item_sk
     AND ws_bill_customer_sk = best_ss_customer.c_customer_sk
     AND ws_bill_customer_sk = customer_ds.c_customer_sk
   GROUP BY c_last_name, c_first_name) sq3
ORDER BY c_last_name NULLS FIRST, c_first_name NULLS FIRST, sales NULLS FIRST
LIMIT 100
"""),
    // q47: store/brand months deviating over 10% from the year average,
    // with lag/lead via rank self-join (adapted: 1996 ± fringe months;
    // sums and window avg rounded 4dp for deterministic cuts)
    entryStaged("q_tpcds_q47", """
, v1 AS
  (SELECT i_category, i_brand, s_store_name, s_company_name, d_year, d_moy,
          round(sum(ss_sales_price) + 5e-9, 4) AS sum_sales,
          round(avg(sum(ss_sales_price))
                  OVER (PARTITION BY i_category, i_brand, s_store_name,
                                     s_company_name, d_year) + 5e-9, 4) AS avg_monthly_sales,
          rank() OVER (PARTITION BY i_category, i_brand, s_store_name,
                                    s_company_name
                       ORDER BY d_year, d_moy) AS rn
   FROM item, store_sales, date_dim, store
   WHERE ss_item_sk = i_item_sk
     AND ss_sold_date_sk = d_date_sk
     AND ss_store_sk = s_store_sk
     AND (d_year = 1996
          OR (d_year = 1995 AND d_moy = 12)
          OR (d_year = 1997 AND d_moy = 1))
   GROUP BY i_category, i_brand, s_store_name, s_company_name, d_year, d_moy),
v2 AS
  (SELECT v1.i_category, v1.i_brand, v1.s_store_name, v1.s_company_name,
          v1.d_year, v1.d_moy, v1.avg_monthly_sales, v1.sum_sales,
          v1_lag.sum_sales AS psum,
          v1_lead.sum_sales AS nsum
   FROM v1, v1 v1_lag, v1 v1_lead
   WHERE v1.i_category = v1_lag.i_category
     AND v1.i_category = v1_lead.i_category
     AND v1.i_brand = v1_lag.i_brand
     AND v1.i_brand = v1_lead.i_brand
     AND v1.s_store_name = v1_lag.s_store_name
     AND v1.s_store_name = v1_lead.s_store_name
     AND v1.s_company_name = v1_lag.s_company_name
     AND v1.s_company_name = v1_lead.s_company_name
     AND v1.rn = v1_lag.rn + 1
     AND v1.rn = v1_lead.rn - 1)
SELECT *
FROM v2
WHERE d_year = 1996
  AND avg_monthly_sales > 0
  AND CASE WHEN avg_monthly_sales > 0
           THEN abs(sum_sales - avg_monthly_sales) / avg_monthly_sales
           ELSE NULL END > 0.1
ORDER BY sum_sales - avg_monthly_sales, 1, 2, 3, 4, 5, 6, 7, 8, 9, 10
LIMIT 100
"""),
    // q57: call-center/brand months deviating over 10% from the year
    // average (the q47 shape on the catalog channel; adapted: 1996)
    entryStaged("q_tpcds_q57", """
, v1 AS
  (SELECT i_category, i_brand, cc_name, d_year, d_moy,
          round(sum(cs_sales_price) + 5e-9, 4) AS sum_sales,
          round(avg(sum(cs_sales_price))
                  OVER (PARTITION BY i_category, i_brand, cc_name, d_year)
                + 5e-9, 4) AS avg_monthly_sales,
          rank() OVER (PARTITION BY i_category, i_brand, cc_name
                       ORDER BY d_year, d_moy) AS rn
   FROM item, catalog_sales, date_dim, call_center
   WHERE cs_item_sk = i_item_sk
     AND cs_sold_date_sk = d_date_sk
     AND cc_call_center_sk = cs_call_center_sk
     AND (d_year = 1996
          OR (d_year = 1995 AND d_moy = 12)
          OR (d_year = 1997 AND d_moy = 1))
   GROUP BY i_category, i_brand, cc_name, d_year, d_moy),
v2 AS
  (SELECT v1.i_category, v1.i_brand, v1.cc_name, v1.d_year, v1.d_moy,
          v1.avg_monthly_sales, v1.sum_sales,
          v1_lag.sum_sales AS psum,
          v1_lead.sum_sales AS nsum
   FROM v1, v1 v1_lag, v1 v1_lead
   WHERE v1.i_category = v1_lag.i_category
     AND v1.i_category = v1_lead.i_category
     AND v1.i_brand = v1_lag.i_brand
     AND v1.i_brand = v1_lead.i_brand
     AND v1.cc_name = v1_lag.cc_name
     AND v1.cc_name = v1_lead.cc_name
     AND v1.rn = v1_lag.rn + 1
     AND v1.rn = v1_lead.rn - 1)
SELECT *
FROM v2
WHERE d_year = 1996
  AND avg_monthly_sales > 0
  AND CASE WHEN avg_monthly_sales > 0
           THEN abs(sum_sales - avg_monthly_sales) / avg_monthly_sales
           ELSE NULL END > 0.1
ORDER BY sum_sales - avg_monthly_sales, 1, 2, 3, 4, 5, 6, 7, 8, 9
LIMIT 100
"""),
    // q64: year-over-year repeat store purchases of returned-and-
    // refunded catalog items with the full 17-table demographic chain
    // (adapted: colors/prices to the derived domains, years 1995/1996,
    // extra street-number tiebreakers for a deterministic cut; the
    // canonical cd1 <> cd2 marital filter is structurally empty here —
    // the derived demographics are time-invariant, sale-time and current
    // demo are the same row — so the filter is equality instead)
    entryStaged("q_tpcds_q64", """
, cs_ui AS
  (SELECT cs_item_sk,
          sum(cs_ext_list_price) AS sale,
          sum(cr_refunded_cash + cr_reversed_charge + cr_store_credit) AS refund
   FROM catalog_sales, catalog_returns
   WHERE cs_item_sk = cr_item_sk
     AND cs_order_number = cr_order_number
   GROUP BY cs_item_sk
   HAVING sum(cs_ext_list_price) > 2 * sum(cr_refunded_cash + cr_reversed_charge + cr_store_credit)),
cross_sales AS
  (SELECT i_product_name AS product_name,
          i_item_sk AS item_sk,
          s_store_name AS store_name,
          s_zip AS store_zip,
          ad1.ca_street_number AS b_street_number,
          ad1.ca_street_name AS b_street_name,
          ad1.ca_city AS b_city,
          ad1.ca_zip AS b_zip,
          ad2.ca_street_number AS c_street_number,
          ad2.ca_street_name AS c_street_name,
          ad2.ca_city AS c_city,
          ad2.ca_zip AS c_zip,
          d1.d_year AS syear,
          d2.d_year AS fsyear,
          d3.d_year AS s2year,
          count(*) AS cnt,
          round(sum(ss_wholesale_cost) + 5e-9, 4) AS s1,
          round(sum(ss_list_price) + 5e-9, 4) AS s2,
          round(sum(ss_coupon_amt) + 5e-9, 4) AS s3
   FROM store_sales, store_returns, cs_ui,
        date_dim d1, date_dim d2, date_dim d3,
        store, customer_ds,
        customer_demographics cd1, customer_demographics cd2,
        promotion,
        household_demographics hd1, household_demographics hd2,
        customer_address ad1, customer_address ad2,
        income_band ib1, income_band ib2, item
   WHERE ss_store_sk = s_store_sk
     AND ss_sold_date_sk = d1.d_date_sk
     AND ss_customer_sk = c_customer_sk
     AND ss_cdemo_sk = cd1.cd_demo_sk
     AND ss_hdemo_sk = hd1.hd_demo_sk
     AND ss_addr_sk = ad1.ca_address_sk
     AND ss_item_sk = i_item_sk
     AND ss_item_sk = sr_item_sk
     AND ss_ticket_number = sr_ticket_number
     AND ss_item_sk = cs_ui.cs_item_sk
     AND c_current_cdemo_sk = cd2.cd_demo_sk
     AND c_current_hdemo_sk = hd2.hd_demo_sk
     AND c_current_addr_sk = ad2.ca_address_sk
     AND c_first_sales_date_sk = d2.d_date_sk
     AND c_first_shipto_date_sk = d3.d_date_sk
     AND ss_promo_sk = p_promo_sk
     AND hd1.hd_income_band_sk = ib1.ib_income_band_sk
     AND hd2.hd_income_band_sk = ib2.ib_income_band_sk
     AND cd1.cd_marital_status = cd2.cd_marital_status
     AND i_color IN ('purple', 'red', 'blue', 'green', 'white', 'black')
     AND i_current_price BETWEEN 920 AND 970
     AND i_current_price BETWEEN 921 AND 975
   GROUP BY i_product_name, i_item_sk, s_store_name, s_zip,
            ad1.ca_street_number, ad1.ca_street_name, ad1.ca_city, ad1.ca_zip,
            ad2.ca_street_number, ad2.ca_street_name, ad2.ca_city, ad2.ca_zip,
            d1.d_year, d2.d_year, d3.d_year)
SELECT cs1.product_name,
       cs1.store_name,
       cs1.store_zip,
       cs1.b_street_number,
       cs1.b_street_name,
       cs1.b_city,
       cs1.b_zip,
       cs1.c_street_number,
       cs1.c_street_name,
       cs1.c_city,
       cs1.c_zip,
       cs1.syear AS cs1syear,
       cs1.cnt AS cs1cnt,
       cs1.s1 AS s11,
       cs1.s2 AS s21,
       cs1.s3 AS s31,
       cs2.s1 AS s12,
       cs2.s2 AS s22,
       cs2.s3 AS s32,
       cs2.syear,
       cs2.cnt
FROM cross_sales cs1, cross_sales cs2
WHERE cs1.item_sk = cs2.item_sk
  AND cs1.syear = 1995
  AND cs2.syear = 1996
  AND cs2.cnt <= cs1.cnt
  AND cs1.store_name = cs2.store_name
  AND cs1.store_zip = cs2.store_zip
ORDER BY cs1.product_name, cs1.store_name, cs2.cnt, s11, s12,
         cs1.b_street_number, cs1.c_street_number, cs1.b_zip, cs1.c_zip
"""),
    // q75: categories shrinking year over year net of returns (three
    // UNION'd channel details; decimal ratio becomes a rounded-double
    // cut; adapted: category MEDIUM, years 1995/1996)
    entry("q_tpcds_q75", """
, all_sales AS
  (SELECT d_year, i_brand_id, i_class_id, i_category_id, i_manufact_id,
          CAST(sum(sales_cnt) AS BIGINT) AS sales_cnt,
          sum(sales_amt) AS sales_amt
   FROM
     (SELECT d_year, i_brand_id, i_class_id, i_category_id, i_manufact_id,
             cs_quantity - coalesce(cr_return_quantity, 0) AS sales_cnt,
             cs_ext_sales_price - coalesce(cr_return_amount, 0.0) AS sales_amt
      FROM catalog_sales
      JOIN item ON i_item_sk = cs_item_sk
      JOIN date_dim ON d_date_sk = cs_sold_date_sk
      LEFT JOIN catalog_returns ON (cs_order_number = cr_order_number
                                    AND cs_item_sk = cr_item_sk)
      WHERE i_category = 'MEDIUM'
      UNION
      SELECT d_year, i_brand_id, i_class_id, i_category_id, i_manufact_id,
             ss_quantity - coalesce(sr_return_quantity, 0),
             ss_ext_sales_price - coalesce(sr_return_amt, 0.0)
      FROM store_sales
      JOIN item ON i_item_sk = ss_item_sk
      JOIN date_dim ON d_date_sk = ss_sold_date_sk
      LEFT JOIN store_returns ON (ss_ticket_number = sr_ticket_number
                                  AND ss_item_sk = sr_item_sk)
      WHERE i_category = 'MEDIUM'
      UNION
      SELECT d_year, i_brand_id, i_class_id, i_category_id, i_manufact_id,
             ws_quantity - coalesce(wr_return_quantity, 0),
             ws_ext_sales_price - coalesce(wr_return_amt, 0.0)
      FROM web_sales
      JOIN item ON i_item_sk = ws_item_sk
      JOIN date_dim ON d_date_sk = ws_sold_date_sk
      LEFT JOIN web_returns ON (ws_order_number = wr_order_number
                                AND ws_item_sk = wr_item_sk)
      WHERE i_category = 'MEDIUM') sales_detail
   GROUP BY d_year, i_brand_id, i_class_id, i_category_id, i_manufact_id)
SELECT prev_yr.d_year AS prev_year,
       curr_yr.d_year AS year_,
       curr_yr.i_brand_id,
       curr_yr.i_class_id,
       curr_yr.i_category_id,
       curr_yr.i_manufact_id,
       prev_yr.sales_cnt AS prev_yr_cnt,
       curr_yr.sales_cnt AS curr_yr_cnt,
       curr_yr.sales_cnt - prev_yr.sales_cnt AS sales_cnt_diff,
       round(curr_yr.sales_amt - prev_yr.sales_amt + 5e-9, 4) AS sales_amt_diff
FROM all_sales curr_yr, all_sales prev_yr
WHERE curr_yr.i_brand_id = prev_yr.i_brand_id
  AND curr_yr.i_class_id = prev_yr.i_class_id
  AND curr_yr.i_category_id = prev_yr.i_category_id
  AND curr_yr.i_manufact_id = prev_yr.i_manufact_id
  AND curr_yr.d_year = 1996
  AND prev_yr.d_year = 1995
  AND CAST(curr_yr.sales_cnt AS DOUBLE) / prev_yr.sales_cnt < 0.9
ORDER BY sales_cnt_diff, sales_amt_diff,
         curr_yr.i_brand_id, curr_yr.i_class_id, curr_yr.i_manufact_id
LIMIT 100
"""),
    // q78: store loyalty of items also bought off-channel, unreturned
    // only (three LEFT-antijoin CTEs; decimal ratio becomes a rounded
    // double; adapted: 1995)
    entry("q_tpcds_q78", """
, ws AS
  (SELECT d_year AS ws_sold_year, ws_item_sk,
          ws_bill_customer_sk AS ws_customer_sk,
          CAST(sum(ws_quantity) AS BIGINT) AS ws_qty,
          sum(ws_wholesale_cost) AS ws_wc,
          sum(ws_sales_price) AS ws_sp
   FROM web_sales
   LEFT JOIN web_returns ON wr_order_number = ws_order_number
                        AND ws_item_sk = wr_item_sk
   JOIN date_dim ON ws_sold_date_sk = d_date_sk
   WHERE wr_order_number IS NULL
   GROUP BY d_year, ws_item_sk, ws_bill_customer_sk),
cs AS
  (SELECT d_year AS cs_sold_year, cs_item_sk,
          cs_bill_customer_sk AS cs_customer_sk,
          CAST(sum(cs_quantity) AS BIGINT) AS cs_qty,
          sum(cs_wholesale_cost) AS cs_wc,
          sum(cs_sales_price) AS cs_sp
   FROM catalog_sales
   LEFT JOIN catalog_returns ON cr_order_number = cs_order_number
                            AND cs_item_sk = cr_item_sk
   JOIN date_dim ON cs_sold_date_sk = d_date_sk
   WHERE cr_order_number IS NULL
   GROUP BY d_year, cs_item_sk, cs_bill_customer_sk),
ss AS
  (SELECT d_year AS ss_sold_year, ss_item_sk, ss_customer_sk,
          CAST(sum(ss_quantity) AS BIGINT) AS ss_qty,
          sum(ss_wholesale_cost) AS ss_wc,
          sum(ss_sales_price) AS ss_sp
   FROM store_sales
   LEFT JOIN store_returns ON sr_ticket_number = ss_ticket_number
                          AND ss_item_sk = sr_item_sk
   JOIN date_dim ON ss_sold_date_sk = d_date_sk
   WHERE sr_ticket_number IS NULL
   GROUP BY d_year, ss_item_sk, ss_customer_sk)
SELECT ss_sold_year, ss_item_sk, ss_customer_sk,
       round(CAST(ss_qty AS DOUBLE) / (coalesce(ws_qty, 0) + coalesce(cs_qty, 0)) + 5e-9, 2) AS ratio,
       ss_qty AS store_qty,
       round(ss_wc + 5e-9, 4) AS store_wholesale_cost,
       round(ss_sp + 5e-9, 4) AS store_sales_price,
       coalesce(ws_qty, 0) + coalesce(cs_qty, 0) AS other_chan_qty,
       round(coalesce(ws_wc, 0) + coalesce(cs_wc, 0) + 5e-9, 4) AS other_chan_wholesale_cost,
       round(coalesce(ws_sp, 0) + coalesce(cs_sp, 0) + 5e-9, 4) AS other_chan_sales_price
FROM ss
LEFT JOIN ws ON (ws_sold_year = ss_sold_year
                 AND ws_item_sk = ss_item_sk
                 AND ws_customer_sk = ss_customer_sk)
LEFT JOIN cs ON (cs_sold_year = ss_sold_year
                 AND cs_item_sk = ss_item_sk
                 AND cs_customer_sk = ss_customer_sk)
WHERE (coalesce(ws_qty, 0) > 0 OR coalesce(cs_qty, 0) > 0)
  AND ss_sold_year = 1995
ORDER BY ss_sold_year, ss_item_sk, ss_customer_sk,
         ss_qty DESC, store_wholesale_cost DESC, store_sales_price DESC,
         other_chan_qty, other_chan_wholesale_cost, other_chan_sales_price,
         ratio
LIMIT 100
"""),
    // q80: per-channel net-of-returns ROLLUP for non-TV-promoted pricier
    // items over 30 days (adapted: 1995 dates, price floor 950)
    entry("q_tpcds_q80", """
, ssr AS
  (SELECT s_store_id AS store_id,
          sum(ss_ext_sales_price) AS sales,
          sum(coalesce(sr_return_amt, 0)) AS returns_,
          sum(ss_net_profit - coalesce(sr_net_loss, 0)) AS profit
   FROM store_sales
   LEFT OUTER JOIN store_returns ON (ss_item_sk = sr_item_sk
                                     AND ss_ticket_number = sr_ticket_number),
        date_dim, store, item, promotion
   WHERE ss_sold_date_sk = d_date_sk
     AND d_date BETWEEN CAST('1995-08-23' AS DATE) AND CAST('1995-09-22' AS DATE)
     AND ss_store_sk = s_store_sk
     AND ss_item_sk = i_item_sk
     AND i_current_price > 950
     AND ss_promo_sk = p_promo_sk
     AND p_channel_tv = 'N'
   GROUP BY s_store_id),
csr AS
  (SELECT cp_catalog_page_id AS catalog_page_id,
          sum(cs_ext_sales_price) AS sales,
          sum(coalesce(cr_return_amount, 0)) AS returns_,
          sum(cs_net_profit - coalesce(cr_net_loss, 0)) AS profit
   FROM catalog_sales
   LEFT OUTER JOIN catalog_returns ON (cs_item_sk = cr_item_sk
                                       AND cs_order_number = cr_order_number),
        date_dim, catalog_page, item, promotion
   WHERE cs_sold_date_sk = d_date_sk
     AND d_date BETWEEN CAST('1995-08-23' AS DATE) AND CAST('1995-09-22' AS DATE)
     AND cs_catalog_page_sk = cp_catalog_page_sk
     AND cs_item_sk = i_item_sk
     AND i_current_price > 950
     AND cs_promo_sk = p_promo_sk
     AND p_channel_tv = 'N'
   GROUP BY cp_catalog_page_id),
wsr AS
  (SELECT web_site_id,
          sum(ws_ext_sales_price) AS sales,
          sum(coalesce(wr_return_amt, 0)) AS returns_,
          sum(ws_net_profit - coalesce(wr_net_loss, 0)) AS profit
   FROM web_sales
   LEFT OUTER JOIN web_returns ON (ws_item_sk = wr_item_sk
                                   AND ws_order_number = wr_order_number),
        date_dim, web_site, item, promotion
   WHERE ws_sold_date_sk = d_date_sk
     AND d_date BETWEEN CAST('1995-08-23' AS DATE) AND CAST('1995-09-22' AS DATE)
     AND ws_web_site_sk = web_site_sk
     AND ws_item_sk = i_item_sk
     AND i_current_price > 950
     AND ws_promo_sk = p_promo_sk
     AND p_channel_tv = 'N'
   GROUP BY web_site_id)
SELECT channel, id,
       round(sum(sales) + 5e-9, 4) AS sales,
       round(sum(returns_) + 5e-9, 4) AS returns_,
       round(sum(profit) + 5e-9, 4) AS profit
FROM
  (SELECT 'store channel' AS channel, concat('store', store_id) AS id,
          sales, returns_, profit
   FROM ssr
   UNION ALL
   SELECT 'catalog channel', concat('catalog_page', catalog_page_id),
          sales, returns_, profit
   FROM csr
   UNION ALL
   SELECT 'web channel', concat('web_site', web_site_id),
          sales, returns_, profit
   FROM wsr) x
GROUP BY ROLLUP(channel, id)
ORDER BY channel NULLS FIRST, id NULLS FIRST
LIMIT 100
""")
  )
}
