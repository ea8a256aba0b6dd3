# Convenience targets for the php_etl_spark verification loop.
# Every target is a thin wrapper over the tools documented in README.md.

SF ?= /root/testdata/sf0.01

.PHONY: test sweep sweep-sf1 sweep-tri bench audit plans lint coverage probe scaling all gate

test:            ## tier-1 suite: the exact ROADMAP.md command, no -x
	export SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local; timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

sweep:           ## oracle differential harness (same gate as the driver)
	python tools/check_oracle.py --sf $(SF)

sweep-sf1:       ## full-registry sweep at sf0.1 (+vacuity gate: results
	##             that exist at the lint scale but vanish as data
	##             grows fail here)
	python tools/check_oracle.py --fail-empty --sf /root/testdata/sf0.1

sweep-tri:       ## standing gate (judge r7 #3): full registry at ALL THREE
	##             scales in one command — sf0.001 catches rounding-edge
	##             oracle bugs (the r7 double-floordiv class), sf0.1
	##             catches tie-order/df-cap bugs small scales hide and
	##             gates 0-row-at-scale vacuity (--fail-empty).
	python tools/check_oracle.py --sf /root/testdata/sf0.001
	python tools/check_oracle.py --sf /root/testdata/sf0.01
	python tools/check_oracle.py --fail-empty --sf /root/testdata/sf0.1

bench:           ## headline suite, one JSON line
	python bench.py

audit:           ## physical-plan assertions (explain_audit)
	python tools/explain_audit.py

plans:           ## registry-wide plan sweep (no assertion list needed)
	python tools/plan_sweep.py

lint:            ## oracle type lint + vacuous (0-row at sf0.01) audit
	python tools/lint_oracles.py --strict-empty

coverage:        ## regenerate COVERAGE.md from the registry
	python tools/gen_coverage.py

probe:           ## 10M-row skew/salting/subquadratic probes
	python tools/scale_probe.py

scaling:         ## tri-scale log-log slope probe over the headline suite
	python tools/bench_scaling.py

all: lint coverage test sweep plans audit

gate:            ## round-closing checklist: lint, tests, tri-scale full
	##             sweep, plan gates, census, probes, then bench.
	$(MAKE) lint coverage test
	$(MAKE) sweep-tri
	$(MAKE) plans audit
	python tools/shuffle_census.py
	$(MAKE) probe scaling
	$(MAKE) bench
