#!/usr/bin/env bash
# Full local gate: compile, specs, differential correctness, bench.
# Usage: scripts/gate.sh [sf-dir (default /root/testdata/sf0.01)]
#        scripts/gate.sh sf1     — the scale check: build the sf1
#        fixture if absent, verify + feasible oracles (q70/q87 skipped
#        in check.py, verified instead by cc_check.py's iterative
#        pointer-jumping oracle), then the full sf1 bench sweep.
set -euo pipefail
cd "$(dirname "$0")/.."
# the session width follows this box (graft.LocalSession defaults to 32)
export SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-$(nproc)}"

if [[ "${1:-}" == "sf1" ]]; then
  SF=target/sf1
  [[ -f "$SF/lineitem.parquet" ]] || python3 scripts/make_sf1.py "$SF"
  OUT="$(mktemp -d)/verify"
  echo "== verify @ $SF =="
  sbt -batch "runMain graft.Verify $SF $OUT" 2>/dev/null | grep "\[verify\]" || true
  echo "== feasible oracles (q70/q87 via cc_check) =="
  python3 scripts/check.py "$SF" "$OUT" q70_dup_clusters,q87_dedup_representatives | tail -3
  python3 scripts/cc_check.py "$SF" "$OUT" | tail -4
  echo "== recall floors @ sf1 =="
  python3 scripts/recall_check.py "$SF" "$OUT" --assert | tail -8
  echo "== bench @ sf1 =="
  # sf1 sweeps get the same contention self-defense as sf0.1: the
  # re-time pass engages only when the record's sf matches the sweep's,
  # so point it at the sf1 quiet-run minima (round-13 finding: an sf1
  # sweep on this shared box showed 3 multi-query burst windows that
  # the disengaged detector could not adjudicate).
  SPARK_GRAFT_SF_DIR=$SF SPARK_GRAFT_BENCH_OUT=target/bench_sf1.json \
    SPARK_GRAFT_BENCH_RECORD=records/bench_sf1_record.json \
    sbt -batch "runMain graft.Bench" 2>/dev/null | grep '"metric"'
  exit 0
fi

SF="${1:-/root/testdata/sf0.01}"
OUT="$(mktemp -d)/verify"

echo "== compile + test =="
sbt -batch compile test 2>&1 | grep -E "^\[error\]|Tests:|All tests passed|TESTS FAILED" | tail -3

echo "== verify @ $SF =="
sbt -batch "runMain graft.Verify $SF $OUT" 2>/dev/null | grep "\[verify\]" || true
python3 scripts/check.py "$SF" "$OUT" | tail -3

# Recall floors (round-11 gate): the ANN/dedup recall numbers are
# invisible to the hash gate (every LSH query is self-consistent with
# its own oracle), so a banding/cap/plane regression only trips HERE.
# Measured at sf0.1 — the fixture the committed floors were set on.
echo "== recall floors @ sf0.1 =="
ROUT="$(mktemp -d)/recall"
sbt -batch "runMain graft.Verify /root/testdata/sf0.1 $ROUT q54_embedding_dup,q88_embedding_dup_multitable,q90_incremental_embedding_dedup,q92_incremental_embedding_dedup_multitable,q213_media_near_dup,q249_streamed_admission_parity" 2>/dev/null | grep "\[verify\]" || true
python3 scripts/recall_check.py /root/testdata/sf0.1 "$ROUT" --assert | tail -8

# Strong-band floors (round-14 gate): the driver fixtures have no pairs
# at cos >= 0.9, so the floors above gate only the weak tail; the
# planted fixture (make_strongband.py) measures the near-duplicate
# regime itself — multi-table configs must stay ≈1.0 there.
echo "== recall floors @ strong-band fixture =="
[[ -f target/sfsb/embeddings.parquet ]] || python3 scripts/make_strongband.py target/sfsb
SBOUT="$(mktemp -d)/recall_sb"
sbt -batch "runMain graft.Verify target/sfsb $SBOUT q54_embedding_dup,q88_embedding_dup_multitable,q90_incremental_embedding_dedup,q92_incremental_embedding_dedup_multitable,q249_streamed_admission_parity" 2>/dev/null | grep "\[verify\]" || true
python3 scripts/recall_check.py target/sfsb "$SBOUT" --assert | tail -8

echo "== bench @ sf0.1 =="
# BENCH_RECORD.json holds 32-core minima: a 4-core sweep re-times
# against the 4-core record instead, as the sf1 branch uses its own
# (any other width keeps the default record)
if [[ "$SPARK_GRAFT_CPUS" == 4 ]]; then
  export SPARK_GRAFT_BENCH_RECORD="${SPARK_GRAFT_BENCH_RECORD:-records/bench_sf01_c4.json}"
fi
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt -batch "runMain graft.Bench" 2>/dev/null | grep '"metric"'
