SELECT DISTINCT (i_product_name) AS i_product_name
FROM item i1
WHERE i_manufact_id BETWEEN 2 AND 4
  AND (SELECT count(*) AS item_cnt
       FROM item
       WHERE (i_manufact = i1.i_manufact
              AND ((i_category = 'STANDARD'
                    AND (i_class = 'personal' OR i_class = 'portable')
                    AND (i_category_id = 1 OR i_category_id = 2))
                   OR (i_category = 'SMALL'
                       AND (i_class = 'reference' OR i_class = 'self-help')
                       AND (i_category_id = 3 OR i_category_id = 4))
                   OR (i_category = 'PROMO'
                       AND (i_class = 'accessories' OR i_class = 'classical')
                       AND (i_category_id = 5 OR i_category_id = 6))
                   OR (i_category = 'LARGE'
                       AND (i_class = 'fragrances' OR i_class = 'personal')
                       AND (i_category_id = 7 OR i_category_id = 8))))
          OR (i_manufact = i1.i_manufact
              AND ((i_category = 'MEDIUM'
                    AND (i_class = 'portable' OR i_class = 'reference')
                    AND (i_category_id = 1 OR i_category_id = 2))
                   OR (i_category = 'ECONOMY'
                       AND (i_class = 'self-help' OR i_class = 'accessories')
                       AND (i_category_id = 3 OR i_category_id = 4))
                   OR (i_category = 'STANDARD'
                       AND (i_class = 'classical' OR i_class = 'fragrances')
                       AND (i_category_id = 5 OR i_category_id = 6))
                   OR (i_category = 'SMALL'
                       AND (i_class = 'personal' OR i_class = 'portable')
                       AND (i_category_id = 7 OR i_category_id = 8))))) > 0
ORDER BY i_product_name
LIMIT 100
