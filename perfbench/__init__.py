"""Seeded end-to-end and per-layer benchmark of spark_extension_spark.

Entry point: ``python3 perfbench/run.py --help``; see README.md.
"""
