.PHONY: test bench

# Tier 1: every test module, as the verify gate runs it.
test:
	SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local \
	    python -m pytest tests/ -q -p no:cacheprovider

# One benchmark run (see BENCHMARK.json and skibench/run.py for options).
bench:
	python3 skibench/run.py --workload linked_domain --seed 1 --seconds 10 --trace 0
