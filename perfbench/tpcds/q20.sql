SELECT i_item_id, i_item_desc, i_category, i_class,
       round(i_current_price + 5e-9, 4) AS i_current_price,
       round(sum(cs_ext_sales_price) + 5e-9, 4) AS itemrevenue,
       round(sum(cs_ext_sales_price) * 100.0000 /
             sum(sum(cs_ext_sales_price)) OVER (PARTITION BY i_class) + 5e-9, 4)
         AS revenueratio
FROM catalog_sales, item, date_dim
WHERE cs_item_sk = i_item_sk
  AND i_category IN ('STANDARD', 'SMALL', 'PROMO')
  AND cs_sold_date_sk = d_date_sk
  AND d_date BETWEEN CAST('1995-02-22' AS DATE) AND CAST('1995-03-24' AS DATE)
GROUP BY i_item_id, i_item_desc, i_category, i_class, i_current_price
ORDER BY i_category NULLS FIRST, i_class NULLS FIRST, i_item_id NULLS FIRST,
         i_item_desc NULLS FIRST, revenueratio NULLS FIRST
LIMIT 100
