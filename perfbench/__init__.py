"""The parqueryd_spark benchmark: ``python3 perfbench/run.py --help``."""
