.PHONY: test bench

# Tier 1: every test module, as the verify gate runs it.
test:
	export SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local; \
	    timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

# One run of each BENCHMARK.json workload, seed 1, one after the other
# (see skibench/run.py for options).
bench:
	python3 skibench/run.py --workload region_small --seed 1 --seconds 10 --trace 0
	python3 skibench/run.py --workload linked_domain --seed 1 --seconds 10 --trace 0
