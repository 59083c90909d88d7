SELECT substring(r_reason_desc, 1, 20) AS r_desc,
       round(avg(ws_quantity) + 5e-9, 4) AS avg1,
       round(avg(wr_refunded_cash) + 5e-9, 4) AS avg2,
       round(avg(wr_fee) + 5e-9, 4) AS avg3
FROM web_sales, web_returns, web_page, customer_demographics cd1,
     customer_demographics cd2, customer_address, date_dim, reason
WHERE ws_web_page_sk = wp_web_page_sk
  AND ws_item_sk = wr_item_sk
  AND ws_order_number = wr_order_number
  AND ws_sold_date_sk = d_date_sk
  AND d_year = 1996
  AND cd1.cd_demo_sk = wr_refunded_cdemo_sk
  AND cd2.cd_demo_sk = wr_returning_cdemo_sk
  AND ca_address_sk = wr_refunded_addr_sk
  AND r_reason_sk = wr_reason_sk
  AND ((cd1.cd_marital_status = 'M'
        AND cd1.cd_marital_status = cd2.cd_marital_status
        AND cd1.cd_education_status = 'Advanced Degree'
        AND cd1.cd_education_status = cd2.cd_education_status
        AND ws_sales_price BETWEEN 500.00 AND 2000.00)
       OR (cd1.cd_marital_status = 'S'
           AND cd1.cd_marital_status = cd2.cd_marital_status
           AND cd1.cd_education_status = 'College'
           AND cd1.cd_education_status = cd2.cd_education_status
           AND ws_sales_price BETWEEN 2000.00 AND 4000.00)
       OR (cd1.cd_marital_status = 'W'
           AND cd1.cd_marital_status = cd2.cd_marital_status
           AND cd1.cd_education_status = '2 yr Degree'
           AND cd1.cd_education_status = cd2.cd_education_status
           AND ws_sales_price BETWEEN 4000.00 AND 20000.00))
  AND ((ca_country = 'United States'
        AND ca_state IN ('OH', 'OR', 'NM')
        AND ws_net_profit BETWEEN 5000 AND 20000)
       OR (ca_country = 'United States'
           AND ca_state IN ('TX', 'KY', 'OH')
           AND ws_net_profit BETWEEN 10000 AND 40000)
       OR (ca_country = 'United States'
           AND ca_state IN ('OR', 'NM', 'KY')
           AND ws_net_profit BETWEEN 1000 AND 30000))
GROUP BY r_reason_desc
ORDER BY r_desc, avg1, avg2, avg3
LIMIT 100
