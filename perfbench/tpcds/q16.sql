SELECT count(DISTINCT cs_order_number) AS order_cnt,
       round(sum(cs_ext_ship_cost) + 5e-9, 4) AS total_shipping_cost,
       round(sum(cs_net_profit) + 5e-9, 4) AS total_net_profit
FROM catalog_sales cs1, date_dim, customer_address, call_center
WHERE d_date BETWEEN CAST('1995-02-01' AS DATE) AND CAST('1995-04-02' AS DATE)
  AND cs1.cs_ship_date_sk = d_date_sk
  AND cs1.cs_ship_addr_sk = ca_address_sk
  AND ca_state = 'OH'
  AND cs1.cs_call_center_sk = cc_call_center_sk
  AND cc_county = 'AMERICA'
  AND EXISTS
    (SELECT *
     FROM catalog_sales cs2
     WHERE cs1.cs_order_number = cs2.cs_order_number
       AND cs1.cs_warehouse_sk <> cs2.cs_warehouse_sk)
  AND NOT EXISTS
    (SELECT *
     FROM catalog_returns cr1
     WHERE cs1.cs_order_number = cr1.cr_order_number)
ORDER BY order_cnt
LIMIT 100
