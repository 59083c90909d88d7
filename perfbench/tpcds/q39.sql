, inv AS
  (SELECT w_warehouse_name, w_warehouse_sk, i_item_sk, d_moy, stdev, mean,
          CASE mean WHEN 0 THEN NULL ELSE round(stdev / mean + 5e-9, 4) END AS cov
   FROM
     (SELECT w_warehouse_name, w_warehouse_sk, i_item_sk, d_moy,
             round(stddev_samp(inv_quantity_on_hand) * 1.000 + 5e-9, 4) AS stdev,
             round(avg(inv_quantity_on_hand) + 5e-9, 4) AS mean
      FROM inventory, item, warehouse, date_dim
      WHERE inv_item_sk = i_item_sk
        AND inv_warehouse_sk = w_warehouse_sk
        AND inv_date_sk = d_date_sk
      GROUP BY w_warehouse_name, w_warehouse_sk, i_item_sk, d_moy) foo
   WHERE CASE mean WHEN 0 THEN 0 ELSE stdev / mean END > 0.5)
SELECT inv1.w_warehouse_sk AS wsk1,
       inv1.i_item_sk AS isk1,
       inv1.d_moy AS dmoy1,
       inv1.mean AS mean1,
       inv1.cov AS cov1,
       inv2.w_warehouse_sk, inv2.i_item_sk, inv2.d_moy, inv2.mean, inv2.cov
FROM inv inv1, inv inv2
WHERE inv1.i_item_sk = inv2.i_item_sk
  AND inv1.w_warehouse_sk = inv2.w_warehouse_sk
  AND inv1.d_moy = 1
  AND inv2.d_moy = 2
ORDER BY inv1.w_warehouse_sk NULLS FIRST, inv1.i_item_sk NULLS FIRST,
         inv1.d_moy NULLS FIRST, inv1.mean NULLS FIRST, inv1.cov NULLS FIRST,
         inv2.d_moy NULLS FIRST, inv2.mean NULLS FIRST, inv2.cov NULLS FIRST
