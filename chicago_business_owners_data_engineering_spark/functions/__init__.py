"""Column-function library: cleaning, text, sampling and the Python-UDF demos."""
