#!/usr/bin/env bash
# Fast pre-ship gate (~7 min): import sanity, driver-contract smoke,
# polyfill and region-map equivalence (the polyfill feeds the region
# map, and through it 7 oracle-gated queries, plus polyfill_hier and
# polyfill_holes), the
# simhash kernel and corpus pipeline (they feed 5: simhash,
# simhash_pairs, simhash_pairs64, incremental_keepers, dup_clusters),
# the bench leaf table (names, BENCH_ONLY/BENCH_EXPLAIN_DIR), oracle
# parity. Full suite: python -m pytest tests/ -q (~8.5 min).
set -euo pipefail
cd "$(dirname "$0")/.."
python - <<'PY'
import __spark_entry__ as e
qs, osql = e.queries(), e.oracle_sql()
missing = sorted(set(qs) - set(osql))
assert not missing, f"queries without oracles: {missing}"
orphans = sorted(set(osql) - set(qs))
assert not orphans, f"oracles without queries: {orphans}"
print(f"contract ok: {len(qs)} queries, {len(osql)} oracles")
PY
python -m pytest tests/test_geo.py -q -k "region or polyfill"
python -m pytest tests/test_text_dedup.py -q -k simhash
python -m pytest tests/test_pipeline.py -q -k corpus
python -m pytest tests/test_bench_registry.py -q
python -m pytest tests/test_oracle_parity.py -q
