"""The repository benchmark: seeded workloads, a closed-loop runner and
span tracing around the engine's public entry points. Entry point:
``python3 perfbench/run.py --help``."""
