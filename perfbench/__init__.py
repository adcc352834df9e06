"""Benchmark for the lucene_spark engine; entry point perfbench/run.py."""
