"""Source layer — SURVEY.md §2.1 scan/source operators, Spark-first.

The reference's sources are directory scans, tab-separated label files,
JSONL annotation files, and LMDB (S1-S6). Iceberg/parquet is our primary
table format (the input_hint); Spark's own binaryFile and json readers
cover the directory and JSONL scans, ``read_label_files`` reproduces the
label-file union and ratio sampling, and ``sf_table`` opens the
test-data tables.
"""

from .readers import read_label_files, sf_table

__all__ = ["read_label_files", "sf_table"]
