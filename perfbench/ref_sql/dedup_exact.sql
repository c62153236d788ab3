-- reference result of catalog entry dedup_exact, run by DuckDB over the
-- benchmark's generated tables
SELECT md5(text) AS text_hash, min(doc_id) AS keep_doc_id,
       count(*) AS n_copies
FROM documents GROUP BY md5(text)
