# biocurator_mapper_spark build/test/bench entry points

PY ?= python

.PHONY: test bench scaling package check-oracles plans

# tier-1: the whole suite on every core, with the suite's time budget
test:
	SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local \
	timeout -k 10 2670 $(PY) -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

bench:
	$(PY) bench.py

scaling:
	$(PY) tools/scaling_bench.py --levels 2,8 --replicas 150

check-oracles:
	$(PY) tools/check_oracles.py /root/testdata/sf0.01

plans:
	$(PY) tools/plan_audit.py > PLANS.md

# zip the package for spark-submit --py-files on a real cluster:
#   spark-submit --py-files dist/bcms.zip your_job.py
package:
	mkdir -p dist
	rm -f dist/bcms.zip
	zip -qr dist/bcms.zip biocurator_mapper_spark -x '*__pycache__*'
