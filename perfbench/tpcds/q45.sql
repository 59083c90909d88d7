SELECT ca_zip, ca_city,
       round(sum(ws_sales_price) + 5e-9, 4) AS sum_sales_price
FROM web_sales, customer_ds, customer_address, date_dim, item
WHERE ws_bill_customer_sk = c_customer_sk
  AND c_current_addr_sk = ca_address_sk
  AND ws_item_sk = i_item_sk
  AND (substring(ca_zip, 1, 5) IN ('10003', '10010', '10024', '10031', '10045')
       OR i_item_id IN
         (SELECT i_item_id
          FROM item
          WHERE i_item_sk IN (2, 3, 5, 7, 11, 13, 17, 19, 23, 29)))
  AND ws_sold_date_sk = d_date_sk
  AND d_qoy = 2
  AND d_year = 1996
GROUP BY ca_zip, ca_city
ORDER BY ca_zip, ca_city
LIMIT 100
