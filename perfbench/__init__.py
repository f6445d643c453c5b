"""Benchmark for the crawl scheduler and the query registry; run it as
``python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>``."""
