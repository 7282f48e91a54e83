"""Sources: parquet table loaders and the JSONL line-record reader."""
