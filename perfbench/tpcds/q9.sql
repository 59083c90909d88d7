SELECT CASE WHEN (SELECT count(*) FROM store_sales
                  WHERE ss_quantity BETWEEN 1 AND 20) > 2000
            THEN (SELECT round(avg(ss_ext_discount_amt) + 5e-9, 4) FROM store_sales
                  WHERE ss_quantity BETWEEN 1 AND 20)
            ELSE (SELECT round(avg(ss_net_paid) + 5e-9, 4) FROM store_sales
                  WHERE ss_quantity BETWEEN 1 AND 20) END AS bucket1,
       CASE WHEN (SELECT count(*) FROM store_sales
                  WHERE ss_quantity BETWEEN 21 AND 40) > 30000
            THEN (SELECT round(avg(ss_ext_discount_amt) + 5e-9, 4) FROM store_sales
                  WHERE ss_quantity BETWEEN 21 AND 40)
            ELSE (SELECT round(avg(ss_net_paid) + 5e-9, 4) FROM store_sales
                  WHERE ss_quantity BETWEEN 21 AND 40) END AS bucket2,
       CASE WHEN (SELECT count(*) FROM store_sales
                  WHERE ss_quantity BETWEEN 41 AND 50) > 1000
            THEN (SELECT round(avg(ss_ext_discount_amt) + 5e-9, 4) FROM store_sales
                  WHERE ss_quantity BETWEEN 41 AND 50)
            ELSE (SELECT round(avg(ss_net_paid) + 5e-9, 4) FROM store_sales
                  WHERE ss_quantity BETWEEN 41 AND 50) END AS bucket3
FROM reason
WHERE r_reason_sk = 1
