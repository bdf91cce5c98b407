.PHONY: test test-full bench bench-wat verify plans lint

test:
	python -m pytest tests/ -q

# every tier, the slow codec/property suites included
test-full:
	python -m pytest tests/ -q -m "slow or not slow"

bench:
	python bench.py

# untraced WAT -> parquet pipeline benchmark runs (perfbench/README.md)
bench-wat:
	python3 perfbench/run.py --workload wat_image --seed 1 --seconds 5 --trace 0
	python3 perfbench/run.py --workload wat_text --seed 1 --seconds 5 --trace 0

verify:
	cd /tmp && python $(CURDIR)/tools/driver_sim.py

plans:
	python tools/explain_audit.py

lint:
	python -m compileall -q cc2dataset_spark tests bench.py __spark_entry__.py
