SELECT s_store_name, s_store_id,
       round(sum(CASE WHEN (d_day_name = 'Sunday') THEN ss_sales_price ELSE NULL END) + 5e-9, 4) AS sun_sales,
       round(sum(CASE WHEN (d_day_name = 'Monday') THEN ss_sales_price ELSE NULL END) + 5e-9, 4) AS mon_sales,
       round(sum(CASE WHEN (d_day_name = 'Tuesday') THEN ss_sales_price ELSE NULL END) + 5e-9, 4) AS tue_sales,
       round(sum(CASE WHEN (d_day_name = 'Wednesday') THEN ss_sales_price ELSE NULL END) + 5e-9, 4) AS wed_sales,
       round(sum(CASE WHEN (d_day_name = 'Thursday') THEN ss_sales_price ELSE NULL END) + 5e-9, 4) AS thu_sales,
       round(sum(CASE WHEN (d_day_name = 'Friday') THEN ss_sales_price ELSE NULL END) + 5e-9, 4) AS fri_sales,
       round(sum(CASE WHEN (d_day_name = 'Saturday') THEN ss_sales_price ELSE NULL END) + 5e-9, 4) AS sat_sales
FROM date_dim, store_sales, store
WHERE d_date_sk = ss_sold_date_sk
  AND s_store_sk = ss_store_sk
  AND s_state = 'TN'
  AND d_year = 1995
GROUP BY s_store_name, s_store_id
ORDER BY s_store_name NULLS FIRST, s_store_id NULLS FIRST, sun_sales NULLS FIRST,
         mon_sales NULLS FIRST, tue_sales NULLS FIRST, wed_sales NULLS FIRST,
         thu_sales NULLS FIRST, fri_sales NULLS FIRST, sat_sales NULLS FIRST
LIMIT 100
