# Convenience targets for the verification surface (see USAGE.md and
# .claude/skills/verify/SKILL.md for the full driver contract).

.PHONY: test correctness correctness-sf01 bench audit plan-fixture smoke verify

# the tier-1 gate from ROADMAP.md: every test, all cores, no early stop
test:
	export SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" \
		SPARK_LOCAL_DIRS=/tmp/spark-local; \
	timeout -k 10 2670 python -m pytest tests/ -q \
		--continue-on-collection-errors -p no:cacheprovider

correctness:
	python tools/check_correctness.py

correctness-sf01:
	python tools/check_correctness.py /root/testdata/sf0.1

bench:
	python bench.py

audit:
	python tools/plan_audit.py

# regenerate the plan-drift fixture test_plan_guards pins the registry
# against (run when a plan change is INTENDED; review the diff)
plan-fixture:
	python tools/plan_audit.py /root/testdata/sf0.001 \
		--fixture-out tests/fixtures/plan_inventory_sf0.001.json

smoke:
	python -c "import sys; sys.path.insert(0, '.'); \
	import __spark_entry__ as e; \
	from confluent_data_ingestion_spark.session import get_spark; \
	s = get_spark('smoke'); s.sparkContext.setLogLevel('ERROR'); \
	df = e.entry(s); print('rows:', df.count(), df.schema.simpleString())"

verify: correctness smoke bench
