# One-command round evidence. Each target is a thin alias for the
# canonical command so there is exactly one implementation.
.PHONY: test audit bench plans evidence wrap

test:
	python -m pytest tests/ -q

# dual-scale (sf0.01 + sf0.1) replay of EVERY registered oracle
audit:
	python -m hadoop_web_browsing_logs_spark audit /root/testdata/sf0.01 /root/testdata/sf0.1

bench:
	python bench.py

# rebuild tests/plan_shapes.json, the per-query physical node counts
# (shuffles by partitioning, broadcasts, joins, scans, windows, sorts,
# aggregates, Python stages) that tests/test_plans.py checks, through the
# test suite's own registry pass at its SF and core count
plans:
	python -m tests.test_plans

# the full round bundle: suite, dual-scale oracle audit, bench JSON
evidence: test audit bench

# Round-close hygiene, run as the round's final act: `make wrap`. Runs the
# slow tier (the full-registry oracle and adversarial-rows audits the
# default suite deselects) and stops on a failure, so the tier cannot be
# skipped unnoticed. Then stages every round artifact, commits if anything
# was staged, and FAILS on any remaining dirt so a forgotten file can't
# go unnoticed.
wrap:
	python -m pytest tests/ -q -m slow -p no:cacheprovider
	git add -A BENCH_r*.json CORRECTNESS_r*.json BENCH_DETAIL.json \
	    BASELINE.json VERDICT.md ADVICE.md 2>/dev/null || true
	@if ! git diff --cached --quiet; then \
	    git commit -m "Commit round-close driver artifacts"; \
	fi
	@if [ -n "$$(git status --porcelain)" ]; then \
	    echo "wrap: working tree still dirty:" >&2; \
	    git status --short >&2; \
	    exit 1; \
	fi
	@echo "wrap: clean"
