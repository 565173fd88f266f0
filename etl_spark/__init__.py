"""etl_spark — a PySpark-native CDC / incremental-ingest engine.

A from-scratch re-expression of the capabilities of ImpulsoGov/etl
(reference at /root/reference, read-only) on Apache Spark:

- ``etl_spark.lake``       — ACID lake-table format on parquet (snapshots,
                             atomic commits, merge-on-read MERGE with
                             threshold compaction, additive schema
                             evolution, time travel, exactly-once commit
                             manifests).
- ``etl_spark.cdc``        — WAL/binlog event model keyed ``(repo, path)``,
                             last-writer-wins dedup, batch + streaming replay,
                             deterministic synthetic event source, naive
                             replay oracle.
- ``etl_spark.operators``  — reference-parity transforms (DE-PARA projection,
                             type imposition, null sentinels, reshape, joins)
                             plus training-data-pipeline operators (dedup,
                             similarity search, text analysis, multimodal).
- ``etl_spark.functions``  — scalar column functions.
- ``etl_spark.metrics``    — per-partition lineage + run-metrics ledger.

Everything is expressed with the DataFrame API so Catalyst handles pushdown,
pruning, broadcast and AQE; Python touches data only through vectorized
pandas/Arrow UDFs where Spark builtins cannot express a transform.
"""

__version__ = "0.1.0"
