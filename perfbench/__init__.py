"""Benchmark of the Kafka->Kafka record path (and, ungated, the batch
query registry). Entry point: ``python3 perfbench/run.py --help``."""
