"""Benchmark harness for prosearch_spark: seeded inputs, oracle checks,
span tracing and Spark observation from outside the program."""
