-- reference result of catalog entry embedding_topk_bruteforce, run by DuckDB over the
-- benchmark's generated tables
WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 5),
     c AS (SELECT vec_id AS c_id, embedding AS c_emb FROM embeddings WHERE vec_id >= 5),
     scored AS (
       SELECT q_id, c_id,
              -- DOUBLE[] cast: on FLOAT[] DuckDB computes AND
              -- rounds in float32, whose float64 widening
              -- (0.26010000705...) never equals Spark's rounded
              -- double under full-precision comparison
              round(list_cosine_similarity(CAST(q_emb AS DOUBLE[]),
                                           CAST(c_emb AS DOUBLE[])), 4)
                  AS cos_sim,
              row_number() OVER (
                PARTITION BY q_id
                ORDER BY list_cosine_similarity(CAST(q_emb AS DOUBLE[]),
                                                CAST(c_emb AS DOUBLE[]))
                  DESC, c_id) AS rn
       FROM q CROSS JOIN c
     )
SELECT q_id, c_id, cos_sim, rn FROM scored WHERE rn <= 10
