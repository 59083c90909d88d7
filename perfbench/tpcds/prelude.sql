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
