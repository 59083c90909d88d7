SELECT c_last_name, c_first_name,
       substring(s_city, 1, 30) AS city30,
       ss_ticket_number,
       amt, profit
FROM (
  SELECT ss_ticket_number, ss_customer_sk, store.s_city,
         round(sum(ss_coupon_amt) + 5e-9, 4) AS amt,
         round(sum(ss_net_profit) + 5e-9, 4) AS profit
  FROM store_sales, date_dim, store, household_demographics
  WHERE store_sales.ss_sold_date_sk = date_dim.d_date_sk
    AND store_sales.ss_store_sk = store.s_store_sk
    AND store_sales.ss_hdemo_sk = household_demographics.hd_demo_sk
    AND (household_demographics.hd_dep_count = 6
         OR household_demographics.hd_vehicle_count > 2)
    AND date_dim.d_dom = 1
    AND date_dim.d_year IN (1995, 1996, 1997)
    AND store.s_number_employees BETWEEN 15 AND 30
  GROUP BY ss_ticket_number, ss_customer_sk, ss_addr_sk, store.s_city) ms,
  customer_ds
WHERE ss_customer_sk = c_customer_sk
ORDER BY c_last_name NULLS FIRST, c_first_name NULLS FIRST,
         city30 NULLS FIRST, profit NULLS FIRST, ss_ticket_number
LIMIT 100
