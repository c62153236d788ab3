-- reference result of catalog entry token_count, run by DuckDB over the
-- benchmark's generated tables
SELECT doc_id,
       len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS n_tokens
FROM documents
