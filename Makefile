.PHONY: test test-sf01 fixed-costs commit-points forks examples bench smoke audit sweep

# The tier-1 command of ROADMAP.md, verbatim.
test:
	export SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local; timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

# Driver-cost gate (Spark jobs, codegen compilations, py4j round trips
# of an ingest round): a minute or two, ahead of the full suite.
fixed-costs:
	python -m pytest tests/test_ingest_fixed_costs.py -q

# The writers of both bucketed layouts and their kill tests: run after
# touching a commit path.
commit-points:
	python -m pytest tests/test_merge_on_read.py tests/test_bucketed.py tests/test_reshard.py tests/test_index_replay.py -q

# Child processes the JVM starts per op (a JFR recording of
# jdk.ProcessStart): an ingest round and a stream micro-batch, by command
# and by path. About a minute.
forks:
	python tools/forks_per_op.py

# The quickstart walkthrough (examples/quickstart.py), end to end; the
# tier-1 run deselects it as `slow`.
examples:
	python -m pytest tests/test_quickstart.py -q -m slow

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
