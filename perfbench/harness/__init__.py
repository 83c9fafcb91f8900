"""Harness for the graft engine benchmark: builds the engine, generates
seeded inputs, launches the measuring JVM and turns its raw samples into
the metrics `run.py` prints."""
