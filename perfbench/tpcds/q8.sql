SELECT s_store_name,
       round(sum(ss_net_profit) + 5e-9, 4) AS sum_net_profit
FROM store_sales, date_dim, store,
  (SELECT ca_zip
   FROM
     (SELECT substring(ca_zip, 1, 5) AS ca_zip
      FROM customer_address
      WHERE substring(ca_zip, 1, 5) IN ('10000', '10003', '10007', '10010',
                                        '10014', '10017', '10021', '10024',
                                        '10028', '10031', '10035', '10038',
                                        '10042', '10045', '10049', '10052',
                                        '10056', '10059', '10063', '10066')
      INTERSECT
      SELECT ca_zip
      FROM
        (SELECT substring(ca_zip, 1, 5) AS ca_zip, count(*) AS cnt
         FROM customer_address, customer_ds
         WHERE ca_address_sk = c_current_addr_sk
           AND c_preferred_cust_flag = 'Y'
         GROUP BY ca_zip
         HAVING count(*) > 8) A1) A2) V1
WHERE ss_store_sk = s_store_sk
  AND ss_sold_date_sk = d_date_sk
  AND d_qoy = 2
  AND d_year = 1995
  AND (substring(s_zip, 1, 2) = substring(V1.ca_zip, 1, 2))
GROUP BY s_store_name
ORDER BY s_store_name
LIMIT 100
