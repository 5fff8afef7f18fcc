"""Sync-cycle benchmark for the d365fo_db_sync_spark engine.

``python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>``
runs one workload through the engine's public API and prints its metrics;
see ``perfbench/README.md``.
"""
