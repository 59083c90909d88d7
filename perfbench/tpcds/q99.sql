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
