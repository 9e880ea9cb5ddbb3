"""Engine benchmark for datastream_spark; entry point: perfbench/run.py."""
