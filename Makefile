.PHONY: test test-sf01 fixed-costs bench smoke

test:
	python -m pytest tests/ -q

# Driver-cost gate (Spark jobs, codegen compilations, py4j round trips
# of an ingest round): a minute or two, ahead of the full suite.
fixed-costs:
	python -m pytest tests/test_ingest_fixed_costs.py -q

test-sf01:
	SPARK_GRAFT_TEST_SF_DIR=/root/testdata/sf0.01 python -m pytest tests/test_queries_vs_duckdb.py -q

bench:
	python bench.py

smoke:
	python -c "from pyspark.sql import SparkSession; import __spark_entry__ as m; s = SparkSession.builder.master('local[8]').getOrCreate(); print(m.entry(s).count())"

audit:
	python tools/shuffle_audit.py
	python tools/dump_plans.py
	python tools/dump_registry.py

sweep:
	python tools/oracle_sweep.py /root/testdata/sf0.01
