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
