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
