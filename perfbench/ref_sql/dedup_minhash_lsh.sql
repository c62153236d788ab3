-- reference result of catalog entry dedup_minhash_lsh, run by DuckDB over the
-- benchmark's generated tables: exact Jaccard similarity of the distinct
-- word 3-shingle sets, every pair with similarity >= 0.5.  The intersection
-- sizes come from an equi-join on shingles, so the reference does not pay
-- for a cross join of all document pairs.
WITH g AS (
  SELECT doc_id,
         CASE WHEN len(w) >= 3
              THEN list_distinct(list_transform(
                     generate_series(1, len(w) - 2),
                     i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
              ELSE [array_to_string(w, ' ')] END AS sh
  FROM (SELECT doc_id,
               list_filter(regexp_split_to_array(lower(text), '\s+'),
                           x -> x <> '') AS w
        FROM documents)
),
s AS (SELECT doc_id, unnest(sh) AS x FROM g),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
  FROM s a JOIN s b ON a.x = b.x AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
j AS (
  SELECT i.id_a, i.id_b,
         CAST(i.n_common AS DOUBLE) / (len(ga.sh) + len(gb.sh) - i.n_common) AS jac
  FROM inter i
  JOIN g ga ON ga.doc_id = i.id_a
  JOIN g gb ON gb.doc_id = i.id_b
)
SELECT id_a, id_b, floor(jac * 10000 + 0.5) / 10000 AS jaccard
FROM j WHERE jac >= 0.5
