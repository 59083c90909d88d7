SELECT i_item_id, i_item_desc,
       round(i_current_price + 5e-9, 4) AS i_current_price
FROM item, inventory, date_dim, store_sales
WHERE i_current_price BETWEEN 920 AND 950
  AND inv_item_sk = i_item_sk
  AND d_date_sk = inv_date_sk
  AND d_date BETWEEN CAST('1995-05-25' AS DATE) AND CAST('1995-07-24' AS DATE)
  AND i_manufact_id IN (2, 4, 6, 8)
  AND inv_quantity_on_hand BETWEEN 100 AND 500
  AND ss_item_sk = i_item_sk
GROUP BY i_item_id, i_item_desc, i_current_price
ORDER BY i_item_id
LIMIT 100
