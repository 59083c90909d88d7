SELECT ca_zip,
       round(sum(cs_sales_price) + 5e-9, 4) AS sum_sales_price
FROM catalog_sales, customer_ds, customer_address, date_dim
WHERE cs_bill_customer_sk = c_customer_sk
  AND c_current_addr_sk = ca_address_sk
  AND (substring(ca_zip, 1, 5) IN ('10003', '10010', '10024', '10031', '10045')
       OR ca_state IN ('CA', 'OR', 'KY')
       OR cs_sales_price > 940)
  AND cs_sold_date_sk = d_date_sk
  AND d_qoy = 2
  AND d_year = 1996
GROUP BY ca_zip
ORDER BY ca_zip NULLS FIRST
LIMIT 100
