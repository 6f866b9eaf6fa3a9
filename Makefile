# Developer targets — the reference's Makefile surface
# (/root/reference/Makefile: build/test/lint/run/run-pg) for the PySpark
# engine, plus the bench/oracle targets this repo's grading loop uses.

.PHONY: test test-fast integration oracle bench perfbench perfbench-ab plans run run-pg demo demo-feed image up down lint

# the non-slow suite: pytest.ini deselects `slow` by default, so the
# full suite is `python -m pytest tests/ -q -m ""`; test-fast also skips
# the streaming-heavy files for a quick inner loop
test:
	python -m pytest tests/ -q

test-fast:
	python -m pytest tests/ -q \
	  --ignore=tests/test_streaming.py --ignore=tests/test_runner.py \
	  --ignore=tests/test_chunked_pipeline.py --ignore=tests/test_ann_index.py \
	  --ignore=tests/test_lex_index.py

# live integration suite against the compose stack (Postgres + Qdrant):
#   make up && pip install psycopg2-binary && make integration
# add the live-embed case with: docker compose --profile ollama up -d
# real WAL decode, real collection ensure/upsert/search, full boot loop;
# skips per-service when a service (or psycopg2) is absent
integration:
	CDC2VEC_LIVE=1 python -m pytest tests/test_integration_live.py -v

# driver-parity correctness gate: every registry query vs its DuckDB oracle
oracle:
	python tests/oracle_check.py /root/testdata/sf0.01

bench:
	python bench.py

# the repo benchmark (BENCHMARK.json): its own tests, then one traced
# cdc_backfill run that prints the per-layer split
perfbench:
	python3 -m pytest perfbench/ -q
	python3 perfbench/run.py --workload cdc_backfill --seed 1 --seconds 10 --trace 1

# interleaved A/B of the repo benchmark: the checkout vs a parent revision,
# e.g. make perfbench-ab PARENT=HEAD~1 WORKLOAD=corpus_ops SEEDS=1-5
PARENT ?= HEAD
WORKLOAD ?= cdc_backfill
SEEDS ?= 2-11
perfbench-ab:
	python3 tools/perfbench_ab.py --parent $(PARENT) --workload $(WORKLOAD) --seeds $(SEEDS)

plans:
	python tools/dump_plans.py

lint:
	python -m compileall -q cdc2vec_spark tests tools bench.py __spark_entry__.py

# local run against a pre-chunked changes directory (no Postgres needed)
run:
	CONFIG_PATH=$(PWD)/configs/postgres-qdrant.yaml \
	python -m cdc2vec_spark --work-dir /tmp/cdc2vec-work

# local run tailing a live Postgres (wal2json/pgoutput NDJSON at WAL)
WAL ?= /tmp/wal.ndjson
run-pg:
	CONFIG_PATH=$(PWD)/configs/postgres-qdrant.yaml \
	python -m cdc2vec_spark --work-dir /tmp/cdc2vec-work --wal $(WAL)

# container / compose story
image:
	docker build -t cdc2vec-spark .

up:
	docker compose up --build -d

down:
	docker compose down -v

# one-command demo: bring the stack up, then feed the demo change set
demo: up demo-feed

demo-feed:
	./scripts/setup-demo.sh
