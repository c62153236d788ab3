-- reference result of catalog entry multimodal_features, run by DuckDB over the
-- benchmark's generated tables
SELECT doc_id AS asset_id,
       CAST(strlen(text) AS INT) AS n_bytes,
       sha256(text) AS content_sha
FROM documents
