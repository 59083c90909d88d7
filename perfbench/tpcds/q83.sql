, sr_items AS
  (SELECT i_item_id AS item_id,
          CAST(sum(sr_return_quantity) AS BIGINT) AS sr_item_qty
   FROM store_returns, item, date_dim
   WHERE sr_item_sk = i_item_sk
     AND d_date IN
       (SELECT d_date FROM date_dim
        WHERE d_week_seq IN
            (SELECT d_week_seq FROM date_dim
             WHERE d_date IN (CAST('1995-06-30' AS DATE),
                              CAST('1995-09-27' AS DATE),
                              CAST('1995-11-17' AS DATE))))
     AND sr_returned_date_sk = d_date_sk
   GROUP BY i_item_id),
cr_items AS
  (SELECT i_item_id AS item_id,
          CAST(sum(cr_return_quantity) AS BIGINT) AS cr_item_qty
   FROM catalog_returns, item, date_dim
   WHERE cr_item_sk = i_item_sk
     AND d_date IN
       (SELECT d_date FROM date_dim
        WHERE d_week_seq IN
            (SELECT d_week_seq FROM date_dim
             WHERE d_date IN (CAST('1995-06-30' AS DATE),
                              CAST('1995-09-27' AS DATE),
                              CAST('1995-11-17' AS DATE))))
     AND cr_returned_date_sk = d_date_sk
   GROUP BY i_item_id),
wr_items AS
  (SELECT i_item_id AS item_id,
          CAST(sum(wr_return_quantity) AS BIGINT) AS wr_item_qty
   FROM web_returns, item, date_dim
   WHERE wr_item_sk = i_item_sk
     AND d_date IN
       (SELECT d_date FROM date_dim
        WHERE d_week_seq IN
            (SELECT d_week_seq FROM date_dim
             WHERE d_date IN (CAST('1995-06-30' AS DATE),
                              CAST('1995-09-27' AS DATE),
                              CAST('1995-11-17' AS DATE))))
     AND wr_returned_date_sk = d_date_sk
   GROUP BY i_item_id)
SELECT sr_items.item_id,
       sr_item_qty,
       round(CAST(sr_item_qty AS DOUBLE) / (sr_item_qty + cr_item_qty + wr_item_qty) / 3.0 * 100 + 5e-9, 4) AS sr_dev,
       cr_item_qty,
       round(CAST(cr_item_qty AS DOUBLE) / (sr_item_qty + cr_item_qty + wr_item_qty) / 3.0 * 100 + 5e-9, 4) AS cr_dev,
       wr_item_qty,
       round(CAST(wr_item_qty AS DOUBLE) / (sr_item_qty + cr_item_qty + wr_item_qty) / 3.0 * 100 + 5e-9, 4) AS wr_dev,
       round((sr_item_qty + cr_item_qty + wr_item_qty) / 3.0 + 5e-9, 4) AS average
FROM sr_items, cr_items, wr_items
WHERE sr_items.item_id = cr_items.item_id
  AND sr_items.item_id = wr_items.item_id
ORDER BY sr_items.item_id NULLS FIRST, sr_item_qty NULLS FIRST
LIMIT 100
