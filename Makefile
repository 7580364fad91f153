.PHONY: test tier1 test-slow bench perfbench verify audit audit-hostile fixtures smoke probe

test:
	python -m pytest tests/ -q

# the tier-1 gate exactly as ROADMAP.md states it
tier1:
	export SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local; timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

verify:
	cd /tmp && python $(CURDIR)/scripts/verify_sweep.py

# strict cross-engine canonicalization audit (float bit patterns,
# Decimal leakage, repr drift) — stronger than verify's value compare
audit:
	cd /tmp && python $(CURDIR)/scripts/dtype_audit.py

# the same audit over the committed hostile fixtures (NULL-ridden +
# all-empty tables) — the round-6 adversarial gate
audit-hostile:
	cd /tmp && python $(CURDIR)/scripts/dtype_audit.py $(CURDIR)/tests/fixtures/adv_sf
	cd /tmp && python $(CURDIR)/scripts/dtype_audit.py $(CURDIR)/tests/fixtures/empty_sf

# regenerate the committed adversarial fixtures (deterministic;
# tests/test_adversarial.py asserts the regeneration matches)
fixtures:
	python scripts/make_adversarial_sf.py

test-slow:
	RUN_SLOW=1 python -m pytest tests/ -q

bench:
	python bench.py

# one benchmark run: make perfbench W=clickstream_ticks SEED=1
W ?= clickstream_ticks
SEED ?= 1
perfbench:
	python3 perfbench/run.py --workload $(W) --seed $(SEED) --seconds 10 --trace 0

smoke:
	python -c "import __spark_entry__ as E; \
from clickstream_pipeline_aws_kafka_docker_airflow__spark.session import get_spark; \
print(len(E.entry(get_spark()).collect()), 'rows')"

# seeded scale probes behind the README tables (events|sketch|ann)
probe:
	cd /tmp && python $(CURDIR)/scripts/scale_probe.py all
