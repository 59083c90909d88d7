SELECT i_category, i_class, i_brand, s_store_name, s_company_name, d_moy,
       round(sum_sales + 5e-9, 4) AS sum_sales,
       round(avg_monthly_sales + 5e-9, 4) AS avg_monthly_sales
FROM (
  SELECT i_category, i_class, i_brand, s_store_name, s_company_name, d_moy,
         sum(ss_sales_price) AS sum_sales,
         avg(sum(ss_sales_price)) OVER (PARTITION BY i_category, i_brand,
           s_store_name, s_company_name) AS avg_monthly_sales
  FROM item, store_sales, date_dim, store
  WHERE ss_item_sk = i_item_sk
    AND ss_sold_date_sk = d_date_sk
    AND ss_store_sk = s_store_sk
    AND d_year = 1995
    AND ((i_category IN ('STANDARD', 'SMALL', 'PROMO')
          AND i_class IN ('personal', 'portable', 'reference'))
         OR (i_category IN ('ECONOMY', 'MEDIUM', 'LARGE')
             AND i_class IN ('accessories', 'classical', 'fragrances')))
  GROUP BY i_category, i_class, i_brand, s_store_name, s_company_name, d_moy) tmp1
WHERE CASE WHEN (avg_monthly_sales <> 0)
           THEN (abs(sum_sales - avg_monthly_sales) / avg_monthly_sales)
           ELSE NULL END > 0.1
ORDER BY sum_sales - avg_monthly_sales, s_store_name,
         i_category, i_class, i_brand, s_company_name, d_moy, sum_sales
LIMIT 100
