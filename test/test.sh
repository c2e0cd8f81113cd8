#!/usr/bin/env bash
# Smoke test — same ergonomics as the reference's test/test.sh
# (/root/reference/test/test.sh): run the full boat ETL end to end on
# the committed fixture and point at the outputs.

set -e
cd "$(dirname "$0")/.."

INPUT_FILE="${1:-src/test/resources/boat_mini.csv}"
OUTPUT_DIR="${2:-target/smoke_output}"

mkdir -p "$OUTPUT_DIR"
# the CLI overwrites both sinks; clear them so the checks below cannot
# pass on an earlier run's output
rm -rf "$OUTPUT_DIR/data.parquet" "$OUTPUT_DIR/data_summary.csv"

sbt -batch "runMain graft.etl.BoatCli -i $INPUT_FILE -o $OUTPUT_DIR -s $OUTPUT_DIR"

# The CLI must have written both sinks: at least one Parquet part file,
# and a non-empty CSV part file holding the summary.
if ! compgen -G "$OUTPUT_DIR/data.parquet/part-*.parquet" >/dev/null; then
  echo "ERROR: no Parquet part file under $OUTPUT_DIR/data.parquet" >&2
  exit 1
fi
if ! find "$OUTPUT_DIR/data_summary.csv" -name 'part-*.csv' -size +0c 2>/dev/null | grep -q .; then
  echo "ERROR: no non-empty CSV part file under $OUTPUT_DIR/data_summary.csv" >&2
  exit 1
fi
echo "==> Parquet: $OUTPUT_DIR/data.parquet"
echo "==> Summary CSV: $OUTPUT_DIR/data_summary.csv"

# Directory input: the same listings split into two part files (each
# with the header) take Parse's distributed path — multi-line detection
# as a Spark job, whole-stage codegen — and must write the same summary.
SPLIT_DIR="$(mktemp -d)"
trap 'rm -rf "$SPLIT_DIR"' EXIT
mkdir -p "$SPLIT_DIR/in"
HALF=$(( ($(wc -l < "$INPUT_FILE") + 1) / 2 ))
head -n "$HALF" "$INPUT_FILE" > "$SPLIT_DIR/in/part-00000.csv"
{ head -n 1 "$INPUT_FILE"; tail -n "+$(( HALF + 1 ))" "$INPUT_FILE"; } > "$SPLIT_DIR/in/part-00001.csv"
sbt -batch "runMain graft.etl.BoatCli -i $SPLIT_DIR/in -o $SPLIT_DIR/out -s $SPLIT_DIR/out"
if ! cmp -s "$(compgen -G "$OUTPUT_DIR/data_summary.csv/part-*.csv" | head -n 1)" \
            "$(compgen -G "$SPLIT_DIR/out/data_summary.csv/part-*.csv" | head -n 1)"; then
  echo "ERROR: the summary of $INPUT_FILE split into two part files differs from the single-file summary" >&2
  exit 1
fi
echo "==> Two-part-file input: summary identical to the single-file run"

# QUERIES.md freshness (VERDICT r8 #7): regenerate and diff — a drift
# between SparkEntry.catalog/scaladoc and the committed doc fails here.
# (QueriesDocSpec pins the name/gate invariants inside `sbt test`;
# this catches doc-text drift too, since python is available here.)
if command -v python3 >/dev/null; then
  python3 tools/gen_queries_md.py
  if ! git diff --quiet -- QUERIES.md; then
    echo "ERROR: QUERIES.md is stale — commit the regenerated file" >&2
    git --no-pager diff --stat -- QUERIES.md >&2
    exit 1
  fi
  echo "==> QUERIES.md up to date"
else
  echo "SKIPPED: QUERIES.md freshness check (python3 not found)"
fi

# graft.Explain runs two catalog queries through Session.local and must
# print each one's timed line; q249's plan must expand its pairs with
# the streaming long_pairs generator.
SF_DIR=/root/testdata/sf0.001
if [ -d "$SF_DIR" ]; then
  EXPLAIN_OUT="$(sbt -batch "runMain graft.Explain $SF_DIR q01_pricing_summary q249_link_predict" 2>&1)" || true
  for Q in q01_pricing_summary q249_link_predict; do
    if ! grep -q "\[explain\] $Q timed:" <<<"$EXPLAIN_OUT"; then
      echo "$EXPLAIN_OUT" | tail -n 20 >&2
      echo "ERROR: graft.Explain printed no timed line for $Q" >&2
      exit 1
    fi
  done
  Q249_PLAN="$(sed -n '/===== q249_link_predict =====/,$p' <<<"$EXPLAIN_OUT")"
  # every long_pairs* name in the plan must be the generator itself
  if ! grep -q 'long_pairs(' <<<"$Q249_PLAN" || grep -o 'long_pairs.' <<<"$Q249_PLAN" | grep -qv 'long_pairs('; then
    echo "$Q249_PLAN" | head -n 60 >&2
    echo "ERROR: the q249 plan does not expand its pairs with long_pairs" >&2
    exit 1
  fi
  echo "==> graft.Explain: $(grep -o '\[explain\] .* timed:.*' <<<"$EXPLAIN_OUT" | tr '\n' ' ')"
  echo "==> q249 plan: pairs from the long_pairs generator"
else
  echo "SKIPPED: graft.Explain check ($SF_DIR not found)"
fi

# The oracle gate end to end: graft.Verify dumps every catalog query on
# sf0.001 and tools/check.py compares each oracle-gated one (all but
# the two declared fences, q93b and q168) with its DuckDB oracle, the
# Structured Streaming round-trips included. oracle_sql.json holds the
# oracles of every dumped query, so every one of them must pass.
if [ ! -d "$SF_DIR" ]; then
  echo "SKIPPED: oracle check ($SF_DIR not found)"
elif ! command -v python3 >/dev/null; then
  echo "SKIPPED: oracle check (python3 not found)"
elif ! python3 -c 'import duckdb, pandas' 2>/dev/null; then
  echo "SKIPPED: oracle check (python3 cannot import duckdb and pandas)"
else
  VERIFY_DIR="$(mktemp -d)"
  trap 'rm -rf "$SPLIT_DIR" "$VERIFY_DIR"' EXIT
  sbt -batch "runMain graft.Verify $SF_DIR $VERIFY_DIR"
  CHECK_OUT="$(python3 tools/check.py "$SF_DIR" "$VERIFY_DIR" 2>&1)" || true
  if ! grep -qx "== 250 pass / 0 fail ==" <<<"$CHECK_OUT"; then
    echo "$CHECK_OUT" | grep -v '^PASS ' >&2
    echo "ERROR: the oracle-gated queries do not all match their oracles on $SF_DIR" >&2
    exit 1
  fi
  echo "==> oracle check: $(tail -n 1 <<<"$CHECK_OUT")"
fi
