, ss_items AS
  (SELECT i_item_id AS item_id,
          round(sum(ss_ext_sales_price) + 5e-9, 4) AS ss_item_rev
   FROM store_sales, item, date_dim
   WHERE ss_item_sk = i_item_sk
     AND d_date IN
       (SELECT d_date FROM date_dim
        WHERE d_month_seq = (SELECT d_month_seq FROM date_dim
                             WHERE d_date = CAST('1995-01-03' AS DATE)))
     AND ss_sold_date_sk = d_date_sk
   GROUP BY i_item_id),
cs_items AS
  (SELECT i_item_id AS item_id,
          round(sum(cs_ext_sales_price) + 5e-9, 4) AS cs_item_rev
   FROM catalog_sales, item, date_dim
   WHERE cs_item_sk = i_item_sk
     AND d_date IN
       (SELECT d_date FROM date_dim
        WHERE d_month_seq = (SELECT d_month_seq FROM date_dim
                             WHERE d_date = CAST('1995-01-03' AS DATE)))
     AND cs_sold_date_sk = d_date_sk
   GROUP BY i_item_id),
ws_items AS
  (SELECT i_item_id AS item_id,
          round(sum(ws_ext_sales_price) + 5e-9, 4) AS ws_item_rev
   FROM web_sales, item, date_dim
   WHERE ws_item_sk = i_item_sk
     AND d_date IN
       (SELECT d_date FROM date_dim
        WHERE d_month_seq = (SELECT d_month_seq FROM date_dim
                             WHERE d_date = CAST('1995-01-03' AS DATE)))
     AND ws_sold_date_sk = d_date_sk
   GROUP BY i_item_id)
SELECT ss_items.item_id,
       ss_item_rev,
       round(ss_item_rev / ((ss_item_rev + cs_item_rev + ws_item_rev) / 3) * 100 + 5e-9, 4) AS ss_dev,
       cs_item_rev,
       round(cs_item_rev / ((ss_item_rev + cs_item_rev + ws_item_rev) / 3) * 100 + 5e-9, 4) AS cs_dev,
       ws_item_rev,
       round(ws_item_rev / ((ss_item_rev + cs_item_rev + ws_item_rev) / 3) * 100 + 5e-9, 4) AS ws_dev,
       round((ss_item_rev + cs_item_rev + ws_item_rev) / 3 + 5e-9, 4) AS average
FROM ss_items, cs_items, ws_items
WHERE ss_items.item_id = cs_items.item_id
  AND ss_items.item_id = ws_items.item_id
  AND ss_item_rev BETWEEN 0.2 * cs_item_rev AND 5.0 * cs_item_rev
  AND ss_item_rev BETWEEN 0.2 * ws_item_rev AND 5.0 * ws_item_rev
  AND cs_item_rev BETWEEN 0.2 * ss_item_rev AND 5.0 * ss_item_rev
  AND cs_item_rev BETWEEN 0.2 * ws_item_rev AND 5.0 * ws_item_rev
  AND ws_item_rev BETWEEN 0.2 * ss_item_rev AND 5.0 * ss_item_rev
  AND ws_item_rev BETWEEN 0.2 * cs_item_rev AND 5.0 * cs_item_rev
ORDER BY ss_items.item_id NULLS FIRST, ss_item_rev NULLS FIRST
LIMIT 100
