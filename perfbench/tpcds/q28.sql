SELECT round(B1_LP + 5e-9, 4) AS b1_lp, B1_CNT AS b1_cnt, B1_CNTD AS b1_cntd,
       round(B2_LP + 5e-9, 4) AS b2_lp, B2_CNT AS b2_cnt, B2_CNTD AS b2_cntd,
       round(B3_LP + 5e-9, 4) AS b3_lp, B3_CNT AS b3_cnt, B3_CNTD AS b3_cntd,
       round(B4_LP + 5e-9, 4) AS b4_lp, B4_CNT AS b4_cnt, B4_CNTD AS b4_cntd,
       round(B5_LP + 5e-9, 4) AS b5_lp, B5_CNT AS b5_cnt, B5_CNTD AS b5_cntd,
       round(B6_LP + 5e-9, 4) AS b6_lp, B6_CNT AS b6_cnt, B6_CNTD AS b6_cntd
FROM
  (SELECT avg(ss_list_price) B1_LP, count(ss_list_price) B1_CNT,
          count(DISTINCT ss_list_price) B1_CNTD
   FROM store_sales WHERE ss_quantity BETWEEN 0 AND 5
     AND (ss_list_price BETWEEN 900 AND 910
          OR ss_coupon_amt BETWEEN 459 AND 1459
          OR ss_wholesale_cost BETWEEN 570 AND 590)) B1,
  (SELECT avg(ss_list_price) B2_LP, count(ss_list_price) B2_CNT,
          count(DISTINCT ss_list_price) B2_CNTD
   FROM store_sales WHERE ss_quantity BETWEEN 6 AND 10
     AND (ss_list_price BETWEEN 990 AND 1000
          OR ss_coupon_amt BETWEEN 2323 AND 3323
          OR ss_wholesale_cost BETWEEN 540 AND 560)) B2,
  (SELECT avg(ss_list_price) B3_LP, count(ss_list_price) B3_CNT,
          count(DISTINCT ss_list_price) B3_CNTD
   FROM store_sales WHERE ss_quantity BETWEEN 11 AND 15
     AND (ss_list_price BETWEEN 942 AND 952
          OR ss_coupon_amt BETWEEN 1214 AND 2214
          OR ss_wholesale_cost BETWEEN 579 AND 599)) B3,
  (SELECT avg(ss_list_price) B4_LP, count(ss_list_price) B4_CNT,
          count(DISTINCT ss_list_price) B4_CNTD
   FROM store_sales WHERE ss_quantity BETWEEN 16 AND 20
     AND (ss_list_price BETWEEN 935 AND 945
          OR ss_coupon_amt BETWEEN 71 AND 1071
          OR ss_wholesale_cost BETWEEN 558 AND 578)) B4,
  (SELECT avg(ss_list_price) B5_LP, count(ss_list_price) B5_CNT,
          count(DISTINCT ss_list_price) B5_CNTD
   FROM store_sales WHERE ss_quantity BETWEEN 21 AND 25
     AND (ss_list_price BETWEEN 922 AND 932
          OR ss_coupon_amt BETWEEN 836 AND 1836
          OR ss_wholesale_cost BETWEEN 547 AND 567)) B5,
  (SELECT avg(ss_list_price) B6_LP, count(ss_list_price) B6_CNT,
          count(DISTINCT ss_list_price) B6_CNTD
   FROM store_sales WHERE ss_quantity BETWEEN 26 AND 30
     AND (ss_list_price BETWEEN 954 AND 964
          OR ss_coupon_amt BETWEEN 326 AND 1326
          OR ss_wholesale_cost BETWEEN 562 AND 582)) B6
LIMIT 100
