SELECT i_manager_id,
       round(sum_sales + 5e-9, 4) AS sum_sales,
       round(avg_monthly_sales + 5e-9, 4) AS avg_monthly_sales
FROM (
  SELECT i_manager_id,
         sum(ss_sales_price) AS sum_sales,
         avg(sum(ss_sales_price)) OVER (PARTITION BY i_manager_id) AS avg_monthly_sales
  FROM item, store_sales, date_dim, store
  WHERE ss_item_sk = i_item_sk
    AND ss_sold_date_sk = d_date_sk
    AND ss_store_sk = s_store_sk
    AND d_month_seq IN (36, 37, 38, 39, 40, 41, 42, 43, 44, 45, 46, 47)
    AND ((i_category IN ('STANDARD', 'SMALL', 'PROMO')
          AND i_class IN ('personal', 'portable', 'reference', 'self-help')
          AND i_brand IN ('Brand#1', 'Brand#11', 'Brand#23', 'Brand#14',
                          'Brand#5', 'Brand#17', 'Brand#20', 'Brand#8'))
         OR (i_category IN ('ECONOMY', 'MEDIUM', 'LARGE')
             AND i_class IN ('accessories', 'classical', 'fragrances')
             AND i_brand IN ('Brand#2', 'Brand#12', 'Brand#24', 'Brand#15',
                             'Brand#6', 'Brand#18', 'Brand#21', 'Brand#9')))
  GROUP BY i_manager_id, d_moy) tmp1
WHERE CASE WHEN avg_monthly_sales > 0
           THEN abs(sum_sales - avg_monthly_sales) / avg_monthly_sales
           ELSE NULL END > 0.1
ORDER BY i_manager_id NULLS FIRST, avg_monthly_sales, sum_sales
LIMIT 100
