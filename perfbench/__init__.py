"""Benchmark for polyminhash_spark: see perfbench/README.md."""
