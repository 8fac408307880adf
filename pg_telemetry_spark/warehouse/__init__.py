"""Warehouse storage layout — the ClickHouse-MergeTree analog on
Parquet: day-partitioned, key-sorted files with retention.
"""
