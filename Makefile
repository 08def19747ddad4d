# Quality gates for the maup_spark engine.  MUST run from the repo root
# (Spark workers import maup_spark from the driver cwd).

.PHONY: gate test audit bench loc

# The pre-snapshot gate (judge r4 task 10): every registered driver
# query vs its DuckDB oracle at BOTH parallelisms — local[8] and the
# local[2] order-independence probe.  ~15-20 min on a quiet machine.
gate:
	python scripts/correctness_replica.py ALL
	REPLICA_MASTER=local[2] python scripts/correctness_replica.py ALL

test:
	python -m pytest tests/ -x -q

audit:
	python scripts/explain_audit.py

bench:
	python bench.py

# Code-only LoC (no blanks, comments or docstrings) per package directory.
loc:
	python scripts/loc.py
