SELECT w_state, i_item_id,
       round(sum(CASE WHEN d_date < CAST('1995-03-11' AS DATE)
                      THEN cs_sales_price - coalesce(cr_refunded_cash, 0)
                      ELSE 0 END) + 5e-9, 4) AS sales_before,
       round(sum(CASE WHEN d_date >= CAST('1995-03-11' AS DATE)
                      THEN cs_sales_price - coalesce(cr_refunded_cash, 0)
                      ELSE 0 END) + 5e-9, 4) AS sales_after
FROM catalog_sales
LEFT OUTER JOIN catalog_returns ON (cs_order_number = cr_order_number
                                    AND cs_item_sk = cr_item_sk),
     warehouse, item, date_dim
WHERE i_current_price BETWEEN 920 AND 950
  AND i_item_sk = cs_item_sk
  AND cs_warehouse_sk = w_warehouse_sk
  AND cs_sold_date_sk = d_date_sk
  AND d_date BETWEEN CAST('1995-02-10' AS DATE) AND CAST('1995-04-10' AS DATE)
GROUP BY w_state, i_item_id
ORDER BY w_state, i_item_id
LIMIT 100
