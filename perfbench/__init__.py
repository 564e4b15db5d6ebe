"""Benchmark for the kafka_streams_learning_spark engine.

Entry point: ``python3 perfbench/run.py --workload <name> --seed <n>
--seconds <s> --trace <0|1>``. See ``run.py`` for the workloads and the
metrics each run prints.
"""
