"""DataFrame-level operators: the distributed half of the engine.

The reference is single-process (SURVEY.md §3.1 "no multi-node anything");
everything in this package — salted repartitioning, vectorized extraction,
the grouped maintainFormat fold, lineage emission, the resume filter, dedup /
similarity / text-stats for training-data pipelines — is new Spark-first
design layered around the deterministic core in zerox_spark.extract.
"""
