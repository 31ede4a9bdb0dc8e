# Developer targets. `make integration` is the live-broker recipe
# against REAL daemons (docker compose). `make integration-local`
# runs the same Valkey-tier tests with no docker at all: the
# conftest `valkey_url` fixture starts the in-repo MiniValkeyServer
# (sources/resp.py) whenever VALKEY_URL is unset, so the live tier
# is green in any sandbox; a real daemon is preferred automatically
# when VALKEY_URL points at one. Only the Kafka round-trip still
# needs a real broker + connector jars.

PYTEST ?= python -m pytest
COMPOSE ?= docker compose

.PHONY: test test-slow bench perfbench loc integration integration-local integration-up integration-down

test:
	$(PYTEST) tests/ -x -q

# The heavyweight batteries deselected from the default run (pytest's
# addopts carries -m 'not slow'); most facade exactly-once replays
# live here.
test-slow:
	$(PYTEST) tests/ -m slow -q

bench:
	python bench.py

# One traced run of each benchmark workload (seed 1, 12 s), printing
# each run's final JSON line: the per-layer numbers a perf change
# quotes before and after.
perfbench:
	@for w in catalog events_live; do \
	    out=$$(python3 perfbench/run.py --workload $$w --seed 1 --seconds 12 --trace 1) || exit 1; \
	    printf '%s\n' "$$out" | tail -n 1; \
	done

# The three line counts the roadmap tracks (every package *.py file,
# the streaming facade module, the bench script), each as raw lines
# and as code lines: blank lines, comments and docstrings excluded.
loc:
	@python3 tools/loc.py

integration-up:
	$(COMPOSE) up -d --wait valkey kafka

integration-down:
	$(COMPOSE) down -v

# The Kafka structured-streaming tests additionally need the
# spark-sql-kafka connector jars on the session classpath (start the
# session with spark.jars.packages=
# org.apache.spark:spark-sql-kafka-0-10_2.13:<spark version>, e.g.
# via PYSPARK_SUBMIT_ARGS="--packages ... pyspark-shell"); they skip
# with _require_kafka's reason string otherwise, same as a missing
# broker. The valkey tests need the redis client (pip install redis).
integration: integration-up
	VALKEY_URL=redis://localhost:6379 \
	KAFKA_BOOTSTRAP=localhost:29092 \
	$(PYTEST) tests/test_broker_integration.py tests/test_valkey.py \
	    tests/test_context_http_kafka.py -q -rs
	$(MAKE) integration-down

# Docker-free: Valkey tier against the embedded RESP broker (the
# fixture starts it when VALKEY_URL is unset). Kafka still skips.
integration-local:
	$(PYTEST) tests/test_broker_integration.py tests/test_valkey.py \
	    tests/test_resp_broker.py -q -rs
