, ssr AS
  (SELECT s_store_id,
          sum(sales_price) AS sales,
          sum(profit) AS profit,
          sum(return_amt) AS returns_,
          sum(net_loss) AS profit_loss
   FROM
     (SELECT ss_store_sk AS store_sk, ss_sold_date_sk AS date_sk,
             ss_ext_sales_price AS sales_price, ss_net_profit AS profit,
             CAST(0 AS DOUBLE) AS return_amt, CAST(0 AS DOUBLE) AS net_loss
      FROM store_sales
      UNION ALL
      SELECT sr_store_sk, sr_returned_date_sk,
             CAST(0 AS DOUBLE), CAST(0 AS DOUBLE),
             sr_return_amt, sr_net_loss
      FROM store_returns) salesreturns, date_dim, store
   WHERE date_sk = d_date_sk
     AND d_date BETWEEN CAST('1995-08-23' AS DATE) AND CAST('1995-09-06' AS DATE)
     AND store_sk = s_store_sk
   GROUP BY s_store_id),
csr AS
  (SELECT cp_catalog_page_id,
          sum(sales_price) AS sales,
          sum(profit) AS profit,
          sum(return_amt) AS returns_,
          sum(net_loss) AS profit_loss
   FROM
     (SELECT cs_catalog_page_sk AS page_sk, cs_sold_date_sk AS date_sk,
             cs_ext_sales_price AS sales_price, cs_net_profit AS profit,
             CAST(0 AS DOUBLE) AS return_amt, CAST(0 AS DOUBLE) AS net_loss
      FROM catalog_sales
      UNION ALL
      SELECT cr_catalog_page_sk, cr_returned_date_sk,
             CAST(0 AS DOUBLE), CAST(0 AS DOUBLE),
             cr_return_amount, cr_net_loss
      FROM catalog_returns) salesreturns, date_dim, catalog_page
   WHERE date_sk = d_date_sk
     AND d_date BETWEEN CAST('1995-08-23' AS DATE) AND CAST('1995-09-06' AS DATE)
     AND page_sk = cp_catalog_page_sk
   GROUP BY cp_catalog_page_id),
wsr AS
  (SELECT web_site_id,
          sum(sales_price) AS sales,
          sum(profit) AS profit,
          sum(return_amt) AS returns_,
          sum(net_loss) AS profit_loss
   FROM
     (SELECT ws_web_site_sk AS wsr_web_site_sk, ws_sold_date_sk AS date_sk,
             ws_ext_sales_price AS sales_price, ws_net_profit AS profit,
             CAST(0 AS DOUBLE) AS return_amt, CAST(0 AS DOUBLE) AS net_loss
      FROM web_sales
      UNION ALL
      SELECT ws_web_site_sk, wr_returned_date_sk,
             CAST(0 AS DOUBLE), CAST(0 AS DOUBLE),
             wr_return_amt, wr_net_loss
      FROM web_returns
      LEFT OUTER JOIN web_sales ON (wr_item_sk = ws_item_sk
                                    AND wr_order_number = ws_order_number)) salesreturns,
        date_dim, web_site
   WHERE date_sk = d_date_sk
     AND d_date BETWEEN CAST('1995-08-23' AS DATE) AND CAST('1995-09-06' AS DATE)
     AND wsr_web_site_sk = web_site_sk
   GROUP BY web_site_id)
SELECT channel, id,
       round(sum(sales) + 5e-9, 4) AS sales,
       round(sum(returns_) + 5e-9, 4) AS returns_,
       round(sum(profit) + 5e-9, 4) AS profit
FROM
  (SELECT 'store channel' AS channel, concat('store', s_store_id) AS id,
          sales, returns_, (profit - profit_loss) AS profit
   FROM ssr
   UNION ALL
   SELECT 'catalog channel', concat('catalog_page', cp_catalog_page_id),
          sales, returns_, (profit - profit_loss)
   FROM csr
   UNION ALL
   SELECT 'web channel', concat('web_site', web_site_id),
          sales, returns_, (profit - profit_loss)
   FROM wsr) x
GROUP BY ROLLUP(channel, id)
ORDER BY channel NULLS FIRST, id NULLS FIRST
LIMIT 100
