#!/usr/bin/env bash
# Full verification gate: unit + parity + plan tests, the driver-contract
# simulation, and the headline benchmark. Run before every round handoff.
set -euo pipefail
cd "$(dirname "$0")/.."
python -m pytest tests/ -q          # driver profile (pytest.ini: -m "not slow")
python -m pytest tests/ -m slow -q  # the slow set (sf0.01 parity, replay, 10x skew)
python - <<'PY'
# driver-contract simulation (same check the round driver performs)
import sys, hashlib
sys.path.insert(0, ".")
from pyspark.sql import SparkSession
import duckdb, pandas as pd
spark = (SparkSession.builder.master("local[8]")
         .config("spark.sql.shuffle.partitions", "8")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.ui.enabled", "false").getOrCreate())
import __spark_entry__ as e
assert len(e.entry(spark).collect()) > 0
con = duckdb.connect(); SF = "/root/testdata/sf0.01"
for t in ["region","nation","customer","supplier","part","orders","lineitem",
          "events","documents","embeddings"]:
    con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")
qs, os_ = e.queries(), e.oracle_sql()
def h(pdf):
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        if pd.api.types.is_datetime64_any_dtype(pdf[c]):
            pdf[c] = pdf[c].astype("datetime64[us]")
    lines = sorted("|".join(repr(v) for v in row) for row in pdf.itertuples(index=False))
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()
bad = []
for name in sorted(qs):
    sp = qs[name](spark, SF).toPandas()
    if name not in os_:
        continue
    du = con.execute(os_[name]).fetchdf()
    if len(sp) != len(du) or h(sp) != h(du):
        bad.append(name)
print(f"{len(os_) - len(bad)}/{len(os_)} oracle hash-matches")
if bad:
    raise SystemExit(f"MISMATCH: {bad}")
PY
# bench.py's last stdout line is the driver contract: one JSON object
# carrying metric/value/unit/queries/sf
timeout 550 python bench.py | tail -n 1 | python -c '
import json, sys
line = json.loads(sys.stdin.read())
missing = {"metric", "value", "unit", "queries", "sf"} - line.keys()
assert not missing, f"bench line lacks {sorted(missing)}"
print("bench:", line["metric"], "=", line["value"], line["unit"], "at sf", line["sf"])
'
