"""Python half of the benchmark: build, inputs, joins and checks."""
