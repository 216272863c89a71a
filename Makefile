# Single-command gates (mirrors the reference repo's Makefile check
# discipline, re-expressed for the Spark engine; no mypy in this
# container, so the typed gate is the cross-engine output-type check).

.PHONY: check test verify bench

# the full local gate: unit/property/plan suites. The oracle-parity
# suite checks every registered query's rows, output types (DuckDB vs
# Spark dtypes, the HUGEINT-class hash-mismatch guard), plan
# anti-patterns and non-emptiness on one build.
check: test

# the ROADMAP Tier-1 command verbatim: one Spark core per CPU (the
# test session otherwise defaults to local[8]) and the 2670 s window
test:
	export SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local; timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

# the driver-style correctness gate in a fresh process (entry +
# all registered queries vs DuckDB at sf0.01), started from a directory
# outside the checkout: a Python worker that imports svs_spark instead
# of receiving it pickled by value fails here
verify:
	cd "$$(mktemp -d)" && python $(CURDIR)/tools/drive_entry.py

bench:
	python bench.py
