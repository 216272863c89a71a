# Single-command gates (mirrors the reference repo's Makefile check
# discipline, re-expressed for the Spark engine; no mypy in this
# container, so the typed gate is the cross-engine output-type check).

.PHONY: check test kb ops verify bench

# the full local gate: unit/property/plan suites. The oracle-parity
# suite checks every registered query's rows, output types (DuckDB vs
# Spark dtypes, the HUGEINT-class hash-mismatch guard), plan
# anti-patterns and non-emptiness on one build.
check: test

# the ROADMAP Tier-1 command verbatim: one Spark core per CPU (the
# test session otherwise defaults to local[8]) and the 2670 s window
test:
	export SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local; timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

# the KnowledgeBase and warehouse suites under the Tier-1 environment
# (about 3 min on 4 cores): the quick gate for changes to the KB façade
# or warehouse. The streaming test is the one that commits into a KB,
# through the DataFrame append path.
kb:
	export SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local; timeout -k 10 2670 python -m pytest tests/test_kb.py tests/test_kb_async.py tests/test_svs_import.py tests/test_chunking.py tests/test_writer_lock.py tests/test_sources.py tests/test_streaming.py::test_streaming_ingest_into_kb -q --continue-on-collection-errors -p no:cacheprovider

# the operator suites whose Python kernels run in the workers (Arrow
# mapInPandas/applyInPandas, stateful streaming, the scalar pandas_udf)
# under the Tier-1 environment: the quick gate after touching a kernel
ops:
	export SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local; timeout -k 10 2670 python -m pytest tests/test_pyworker.py tests/test_kernels.py tests/test_curation_ops.py tests/test_index_build.py tests/test_clustering.py tests/test_knn_batch.py $(wildcard tests/test_streaming*.py) -q --continue-on-collection-errors -p no:cacheprovider

# the driver-style correctness gate in a fresh process (entry +
# all registered queries vs DuckDB at sf0.01), started from a directory
# outside the checkout: a Python worker that imports svs_spark instead
# of receiving it pickled by value fails here
verify:
	cd "$$(mktemp -d)" && python $(CURDIR)/tools/drive_entry.py

bench:
	python bench.py
