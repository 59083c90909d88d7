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
