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
