"""Source layer — SURVEY.md §2.1 scan/source operators, Spark-first.

The reference's sources are directory scans, tab-separated label files,
JSONL annotation files, and LMDB (S1-S6). Iceberg/parquet is our primary
table format (the input_hint), but these readers reproduce the reference's
ingest surface so a user can land the same raw inputs into the documents
table.
"""

from .readers import (read_binary_dir, read_documents, read_jsonl_source,
                      read_label_files, sf_table)

__all__ = ["read_binary_dir", "read_documents", "read_jsonl_source",
           "read_label_files", "sf_table"]
