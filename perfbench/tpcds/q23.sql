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
