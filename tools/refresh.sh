#!/bin/bash
# Artifact refresh for one round: the full test suite, the five correctness
# tiers, the 13-query skew tier driven through REAL micro-batch execution,
# artifact assembly, the ISOLATED local bench (whose artifact also lands in
# BENCH_LOCAL_LAST_c<cpus>.json), and the three scaling-slope probes.
#
# Usage: tools/refresh.sh <round> [--from <phase>]
#   Phases, in order: test gen check skew artifacts bench slope. --from
#   resumes at <phase>; the check logs of skipped phases must still be in
#   /tmp. The round's artifact descriptions are read from
#   plans/r<round>/multi_what.txt and plans/r<round>/skew_what.txt.
#
# Writes per-step logs to /tmp/r<round>_* and echoes a PHASE line per step.
# Keep the machine otherwise idle — sequential sbt invocations only; the
# bench lock protects the timed phases but not the check tiers.
set -e
cd "$(dirname "$0")/.."

USAGE="usage: tools/refresh.sh <round> [--from test|gen|check|skew|artifacts|bench|slope]"
ROUND="${1:?$USAGE}"
PHASES="test gen check skew artifacts bench slope"
FROM=test
if [ $# -eq 3 ] && [ "$2" = "--from" ]; then FROM="$3"
elif [ $# -ne 1 ]; then echo "$USAGE"; exit 2; fi
case " $PHASES " in *" $FROM "*) ;; *) echo "$USAGE"; exit 2 ;; esac
ACTIVE=" $FROM${PHASES#*$FROM} "
phase() { case "$ACTIVE" in *" $1 "*) return 0 ;; *) return 1 ;; esac; }

REPO="$PWD"
TESTDATA=/root/testdata
LOG="/tmp/r$ROUND"
SKEW_QUERIES="q34_minhash_pairs q37_trigram_jaccard q47_embed_dedup q102_simhash_neardup q149_sparse_cosine q196_ivf_subsplit_serve q209_pipeline_curation q210_ivf_refreshed_serve q187_stream_sessionization_microbatch q192_stream_exact_dedup_microbatch q200_stream_stream_join q202_stream_upsert_sink q203_stream_upsert_restart"
TIERS="sf0.001=$TESTDATA/sf0.001 sf0.01=$TESTDATA/sf0.01 sf0.1=$TESTDATA/sf0.1
  testdata_xl=$REPO/testdata_xl testdata_xl2=$REPO/testdata_xl2"

if phase test; then
  echo "PHASE sbt-test"
  sbt -batch test > "${LOG}_sbttest.log" 2>&1 \
    || { echo "SUITE FAIL"; grep -E "\*\*\* FAILED|Tests: " "${LOG}_sbttest.log" | tail -10; exit 1; }
  grep -E "Tests: succeeded" "${LOG}_sbttest.log" | tail -1 || true
fi

if phase gen; then
  echo "PHASE gen-tiers"
  if [ ! -d testdata_xl ]; then
    sbt -batch "runMain graft.GenCorpusXl" > "${LOG}_genxl.log" 2>&1
  fi
  if [ ! -d testdata_xl2 ]; then
    sbt -batch "runMain graft.GenCorpusXl testdata_xl2 50000 16000" > "${LOG}_genxl2.log" 2>&1
  fi
  # SkewTierSpec arms a MINIMAL skew tier (no relational tables) during the
  # test phase; only GenCorpusSkew links the tables check.py needs.
  if [ ! -f testdata_skew/events.parquet ] || [ -L testdata_skew/events.parquet ] \
     || [ ! -e testdata_skew/region.parquet ]; then
    rm -rf testdata_skew
    sbt -batch "runMain graft.GenCorpusSkew" > "${LOG}_genskew.log" 2>&1
  fi
fi

if phase check; then
  for spec in $TIERS; do
    tier="${spec%%=*}"; dir="${spec#*=}"
    echo "PHASE check $tier"
    python3 tools/check.py "$dir" "/tmp/gv_$tier" > "/tmp/check_$tier.log" 2>&1 \
      || { echo "TIER FAIL $tier"; tail -5 "/tmp/check_$tier.log"; exit 1; }
    tail -1 "/tmp/check_$tier.log"
  done
fi

if phase skew; then
  echo "PHASE check skew"
  SKEW_WHAT="$(cat "plans/r$ROUND/skew_what.txt")"
  SPARK_GRAFT_CPUS=32 sbt -batch \
    "runMain graft.Verify testdata_skew /tmp/gv_skew $(echo $SKEW_QUERIES | tr ' ' ',')" \
    > "${LOG}_skewverify.log" 2>&1
  python3 tools/check.py testdata_skew /tmp/gv_skew --skip-verify $SKEW_QUERIES \
    > /tmp/check_skew.log 2>&1 \
    || { echo "TIER FAIL skew"; tail -5 /tmp/check_skew.log; exit 1; }
  tail -1 /tmp/check_skew.log
  python3 tools/artifacts.py skew /tmp/check_skew.log "$ROUND" "$SKEW_WHAT" CORRECTNESS_SKEW.json
fi

if phase artifacts; then
  echo "PHASE artifacts"
  MULTI_WHAT="$(cat "plans/r$ROUND/multi_what.txt")"
  python3 tools/artifacts.py xl /tmp/check_testdata_xl.log 25000 10000 \
    CORRECTNESS_XL.json testdata_xl
  python3 tools/artifacts.py xl /tmp/check_testdata_xl2.log 50000 16000 \
    CORRECTNESS_XL2.json testdata_xl2
  python3 tools/artifacts.py multi "$ROUND" "$MULTI_WHAT" CORRECTNESS_MULTI_SF.json \
    $(for spec in $TIERS; do echo "${spec%%=*}=/tmp/check_${spec%%=*}.log"; done)
fi

if phase bench; then
  echo "PHASE bench-local"
  SPARK_GRAFT_SF_DIR=$TESTDATA/sf0.1 SPARK_GRAFT_CPUS=32 \
    sbt -batch "runMain graft.Bench" > "${LOG}_bench.log" 2>&1
  # Bench itself writes the full artifact to BENCH_LOCAL_LAST.json and
  # BENCH_LOCAL_LAST_c32.json.
  python3 -c "import json; d=json.load(open('BENCH_LOCAL_LAST.json')); print('bench queries:', len(d['queries']), 'total:', round(d['value'],1), 'era:', d.get('era'), 'era_warn:', d.get('era_warn'), 'other_jvms:', d.get('other_graft_jvms'), 'lock_wait_s:', d.get('lock_wait_s'), 'regressed:', d.get('regressed'), 'unbaselined:', d.get('unbaselined'))"
fi

slope() { # <phase label> <log suffix> <small> <large> <out.json> <tier name>
  echo "PHASE slope $1"
  SPARK_GRAFT_CPUS=32 sbt -batch "runMain graft.Bench slope $3 $4" > "${LOG}_slope_$2.log" 2>&1
  grep -o '{"metric".*' "${LOG}_slope_$2.log" > "$5"
  python3 -c "import json; d=json.load(open('$5')); print('slope $6 flagged:', d['flagged'])"
}
if phase slope; then
  slope "sf0.01->sf0.1" sf $TESTDATA/sf0.01 $TESTDATA/sf0.1 "BENCH_SLOPE_r$ROUND.json" sf
  slope "sf0.1->XL" xl $TESTDATA/sf0.1 "$REPO/testdata_xl" BENCH_SLOPE_XL.json XL
  slope "XL->XL2" xl2 "$REPO/testdata_xl" "$REPO/testdata_xl2" BENCH_SLOPE_XL2.json XL2
fi

echo "REFRESH DONE"
