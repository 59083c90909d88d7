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
