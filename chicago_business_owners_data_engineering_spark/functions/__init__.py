"""Column-function library: cleaning, text and the Python-UDF demos."""
