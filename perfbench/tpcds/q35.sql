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
