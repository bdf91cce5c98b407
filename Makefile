.PHONY: test test-full test-pipeline bench bench-wat bench-wat-trace verify plans lint loc

test:
	python -m pytest tests/ -q

# every tier, the slow codec/property suites included
test-full:
	python -m pytest tests/ -q -m "slow or not slow"

# every tier of the suites that read WAT archives through the pipeline,
# then the urljoin parity properties
test-pipeline:
	python -m pytest tests/test_warc_source.py tests/test_pipeline.py tests/test_extraction.py tests/test_files_cli.py -q -m "slow or not slow"
	python -m pytest tests/test_properties.py -k "urljoin or absolute" -q -m "slow or not slow"

bench:
	python bench.py

# untraced WAT -> parquet pipeline benchmark runs (perfbench/README.md)
bench-wat:
	python3 perfbench/run.py --workload wat_image --seed 1 --seconds 5 --trace 0
	python3 perfbench/run.py --workload wat_text --seed 1 --seconds 5 --trace 0

# the same runs traced: per-layer metrics and the archive scan stage
bench-wat-trace:
	python3 perfbench/run.py --workload wat_image --seed 1 --seconds 5 --trace 1
	python3 perfbench/run.py --workload wat_text --seed 1 --seconds 5 --trace 1

# the driver simulation over every catalog query, or over Q="name ..."
verify:
	cd /tmp && python $(CURDIR)/tools/driver_sim.py $(Q)

plans:
	python tools/explain_audit.py

lint:
	python -m compileall -q cc2dataset_spark tests bench.py __spark_entry__.py

# .py line counts of the package and the tests (ROADMAP aim 2)
loc:
	@echo "package $$(cat $$(find cc2dataset_spark -name '*.py') | wc -l)"
	@echo "tests $$(cat $$(find tests -name '*.py') | wc -l)"
