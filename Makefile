# Round-loop gates. `make check` is the ship-blocking gate: run it before
# every round-ending commit — round 3 shipped nothing and the testdata
# moved underneath the code; this 5-minute check would have caught it.

.PHONY: check correctness tests bench enginebench drivers-sim parity-audit

# Full gate: oracle correctness + everything else.
check: tests drivers-sim

# Every oracle-bearing query vs DuckDB (wider than the driver's 50).
correctness:
	python -m pytest tests/test_correctness.py -q

# The Tier-1 environment: one Spark core per host core, local scratch
# outside the checkout.
tests:
	SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local \
		python -m pytest tests/ -q

# Simulate the external driver: vanilla SparkSession (no session.py
# configs), entry() + all queries() vs oracle_sql() at sf0.01.
drivers-sim:
	python tests/driver_sim.py

bench:
	SPARK_GRAFT_SF_DIR=$${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.01} python bench.py

# End-to-end + per-layer engine benchmark (enginebench/README.md).
enginebench:
	python3 enginebench/run.py --workload all --seed 1 --seconds 5

# Bit-level float stability of every oracle vs the driver's hash
# contract (round-6-then-exact); exit 1 on any boundary flip. PARITY.md.
parity-audit:
	python tests/float_audit.py
