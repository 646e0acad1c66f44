"""Event-time benchmark for example_beam_spark.

``python3 perfbench/run.py --workload <name> --seed <n> --seconds <s>
--trace <0|1>`` generates a seeded events table, runs the workload's
registered entries in a fresh Spark process, checks every result against
its DuckDB oracle and prints one JSON result line. See ``run.py``.
"""
