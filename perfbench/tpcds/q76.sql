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
