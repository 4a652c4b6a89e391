# Repo habit (VERDICT round-3 #1): ANY change to __spark_entry__.py or a
# module it calls must be followed by `make gate` before commit — the same
# rows+schema+values-vs-DuckDB protocol the driver runs, over EVERY
# queries() entry, so the committed hard signal always covers HEAD.

.PHONY: test gate gate-save bench perftest scaling plans

test:
	python -m pytest tests/ -x -q

# full oracle gate at sf0.01 (set CHECK_SF_DIR to override)
gate:
	python scripts/check_entry.py

# gate + refresh the committed evidence file
gate-save:
	python scripts/check_entry.py 2>&1 | tee /tmp/gate.log
	( echo "# full oracle gate at HEAD $$(git rev-parse --short HEAD), sf0.01, $$(date -u +%Y-%m-%dT%H:%MZ)"; \
	  grep -oE "OK +[a-z_0-9]+: [0-9]+ rows match +\([0-9.]+s\)" /tmp/gate.log | sed 's/  */ /g' ) \
	  > docs/GATE_latest.txt
	@n_log=$$(grep -cE "OK +[a-z_0-9]+:" /tmp/gate.log); \
	  n_art=$$(grep -c "^OK " docs/GATE_latest.txt); \
	  [ "$$n_log" = "$$n_art" ] || { echo "gate-save: artifact dropped lines ($$n_art != $$n_log)"; exit 1; }

bench:
	python bench.py

# the benchmark's own tests (perfbench/: event-log parser, suites, tracing)
perftest:
	python3 -m pytest perfbench/tests -q

scaling:
	python BENCH/scaling.py

plans:
	python scripts/dump_plans.py
