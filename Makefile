# Single-command gates (mirrors the reference repo's Makefile check
# discipline — /root/reference/Makefile:22-26 — re-expressed for the
# Spark engine; no mypy in this container, so the typed gate is the
# cross-engine output-type audit instead).

.PHONY: check test typecheck verify bench

# the full local gate: unit/property/plan suites + the cross-engine
# type audit (every oracle's DuckDB DESCRIBE must match Spark dtypes —
# the HUGEINT-class hash-mismatch guard)
check: test typecheck

# the ROADMAP Tier-1 command verbatim: one Spark core per CPU (the
# test session otherwise defaults to local[8]) and the 2670 s window
test:
	export SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local; timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

typecheck:
	python tools/type_audit.py

# the driver-style correctness gate in a fresh process (entry +
# all registered queries vs DuckDB at sf0.01)
verify:
	python tools/drive_entry.py

bench:
	python bench.py
