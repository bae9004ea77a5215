#!/bin/bash
# Round-17 serialized measurement pipeline — each step runs alone so no two
# Spark workloads contend (concurrent runs poison both measurements).
#
# r17 shape: PROMISES-FIRST ordering (r14-r16 precedent). This round's
# promises (verdict tasks 2/4/5 + the new-query records):
#   - KNEE BISECTION (task 4): the 16 MiB engage threshold both span
#     families share was bracketed [x3 est ~8.5 MB noise, x10 est ~28 MB
#     win]; t23/t24 forced-32 vs off at x4/x6/x8 slices (est ~11/17/23 MB)
#     gives the constant a measured interior — composed by the same
#     stagepin_report.py evidence shape as tokenpinknee.json;
#   - clustermem100_pin16 (task 2): the char trio at 100x on SIXTEEN
#     2-core 2 GiB executors with the engage rule in default AUTO —
#     closes the cluster-memory matrix whose n16 row predated the rule;
#   - PAIRED same-day bench (task 5): tools/paired_bench.sh benches the
#     r16-close commit and r17 HEAD interleaved A1->B->A2 in one sitting
#     over the span/tokenizer families -> paired_r17.json; round-over-
#     round claims cite THIS, not cross-session totals;
#   - t14h/t14i join the scaling net (new queries, 1x..100x fresh);
#   - bench_full at sf0.1 (now 137 queries: t14h/t14i joined) + spread;
#   - clusterverify at 137.
#
# What is NOT re-run (unchanged code + inputs, r13-r16 precedent):
# statesweep + memsweep (graft.StateSweep / graft.MemSweep paths
# untouched), clusterstream (no streaming-path diff this round),
# shufflesweep100/
# stagepin100/advisory100/tokenpin100/tokenpinknee/charknee (their code
# paths and the constants they measured are unchanged), clusterbench +
# clustermem100_pin8 + scaleidentity (re-measured at the late-r16
# unified-rule HEAD, commit 3abf6aa/5432d6a — r17 engine diffs change no
# file-backed query's plan: the sentinel-guard widening affects only
# statless inputs, and t14h/t14i are new surface).
set -e
cd /root/repo
export SPARK_GRAFT_CPUS=32

echo "== step 1: scale slices (reused only behind a completion sentinel) =="
mkdir -p /tmp/graft_scale
for K in 3 4 6 8 10 30 100; do
  if [ ! -f "/tmp/graft_scale/x$K/_SUCCESS" ]; then
    rm -rf "/tmp/graft_scale/x$K"
    mkdir -p "/tmp/graft_scale/x$K"
    python3 tools/make_scale.py /root/testdata/sf0.1 "/tmp/graft_scale/x$K" "$K" \
      > "/tmp/m_scale$K.log" 2>&1
    touch "/tmp/graft_scale/x$K/_SUCCESS"
  fi
done

echo "== step 2: knee bisection — t23/t24 forced-32 vs off at x4/x6/x8 =="
for K in 4 6 8; do
  for ARM in off f32; do
    case $ARM in
      off) PIN_ENV="SPARK_GRAFT_SPAN_PARTITIONS=0" ;;
      f32) PIN_ENV="SPARK_GRAFT_SPAN_PARTITIONS=32" ;;
    esac
    env $PIN_ENV \
      SPARK_GRAFT_ONLY="t23_repeated_spans,t24_span_redaction" \
      SPARK_GRAFT_RUNS=3 SPARK_GRAFT_SF_DIR="/tmp/graft_scale/x$K" \
      SPARK_GRAFT_RECORD="/tmp/m_knee_${K}_${ARM}.json" \
      sbt -batch "runMain graft.Bench" > "/tmp/m_knee_${K}_${ARM}.log" 2>&1
    cp bench_diag_only.json "/tmp/m_knee_diag_${K}_${ARM}.json"
  done
done
python3 tools/stagepin_report.py tokenknee_bisect.json \
  x4_off:/tmp/m_knee_4_off.json:/tmp/m_knee_diag_4_off.json \
  x4_f32:/tmp/m_knee_4_f32.json:/tmp/m_knee_diag_4_f32.json \
  x6_off:/tmp/m_knee_6_off.json:/tmp/m_knee_diag_6_off.json \
  x6_f32:/tmp/m_knee_6_f32.json:/tmp/m_knee_diag_6_f32.json \
  x8_off:/tmp/m_knee_8_off.json:/tmp/m_knee_diag_8_off.json \
  x8_f32:/tmp/m_knee_8_f32.json:/tmp/m_knee_diag_8_f32.json \
  "--metric=token_span_pin_knee_bisect" \
  "--detail=interior points of the 16 MiB engage knee (r17 task 4): t23/t24 at the x4/x6/x8 slices (estimated set-build shuffle = documents.parquet bytes x the measured 5x token expansion: ~11/17/23 MB), repartition-first FORCED-32 (SPARK_GRAFT_SPAN_PARTITIONS=32) vs OFF (=0), 3 forked rounds per cell under the ForkedRounds disturbance guard, min-wall round quoted with its own diag, same-day same-box; complements tokenpinknee.json's bracket ends (x3 est ~8.5 MB noise, x10 est ~28 MB 1.19-1.51x wins)"
rm -f bench_diag_only.json

echo "== step 3: clustermem100_pin16 — the engaged char trio on 16x2-core 2 GiB executors =="
SPARK_SCALA_VERSION=2.13 SPARK_GRAFT_MASTER='local-cluster[16,2,2304]' \
  SPARK_GRAFT_EXEC_MEM=2g \
  SPARK_GRAFT_ONLY="t25_char_spans,t26_winnowed_spans,t27_char_redaction" \
  SPARK_GRAFT_RUNS=3 SPARK_GRAFT_SF_DIR=/tmp/graft_scale/x100 \
  SPARK_GRAFT_ROUND_TIMEOUT_MIN=120 \
  SPARK_GRAFT_RECORD=clustermem100_pin16.json \
  sbt -batch "runMain graft.Bench" > /tmp/m_pin16.log 2>&1
cp bench_diag_only.json clustermem100_pin16_diag.json
rm -f bench_diag_only.json

echo "== step 4: t14h/t14i scaling points 1x..100x =="
for K in 1 3 10 30 100; do
  DIR=/root/testdata/sf0.1
  [ "$K" != "1" ] && DIR="/tmp/graft_scale/x$K"
  SPARK_GRAFT_ONLY="t14h_bpe_vocab_artifact,t14i_bpe_packed_streams" \
    SPARK_GRAFT_RUNS=3 SPARK_GRAFT_SF_DIR="$DIR" \
    SPARK_GRAFT_ROUND_TIMEOUT_MIN=120 \
    SPARK_GRAFT_RECORD="/tmp/m_sc${K}.json" \
    sbt -batch "runMain graft.Bench" > "/tmp/m_sc${K}.log" 2>&1
  cp bench_diag_only.json "/tmp/m_sc${K}_diag.json"
done
python3 tools/merge_scaling.py SCALING_r17.json SCALING_r17_diag.json \
  SCALING_r16.json SCALING_r16_diag.json \
  1:/tmp/m_sc1.json:/tmp/m_sc1_diag.json \
  3:/tmp/m_sc3.json:/tmp/m_sc3_diag.json \
  10:/tmp/m_sc10.json:/tmp/m_sc10_diag.json \
  30:/tmp/m_sc30.json:/tmp/m_sc30_diag.json \
  100:/tmp/m_sc100.json:/tmp/m_sc100_diag.json \
  "--note=r17 engine diffs change no carried query's plan (sentinel-guard widening affects only statless inputs; file-backed scans price real bytes exactly as before) so every carried point stands; t14h/t14i are NEW to the net — every point fresh" \
  2> /tmp/m_merge_scaling.err
rm -f bench_diag_only.json

echo "== step 5: paired same-day bench — r16-close vs r17 HEAD =="
tools/paired_bench.sh 8747aaa \
  "t23_repeated_spans,t24_span_redaction,t25_char_spans,t26_winnowed_spans,t27_char_redaction,t14e_bpe_encode,t14f_bpe_encode_artifact,t14g_bpe_encode_serve" \
  /root/testdata/sf0.1 paired_r17.json 3 > /tmp/m_paired.log 2>&1

echo "== step 6: full forked bench (5 rounds, 137 queries) =="
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt -batch "runMain graft.Bench" \
  > /tmp/m_bench_full.log 2>&1
python3 tools/spread_report.py > /tmp/m_spread.log 2>&1 || true

echo "== step 7: multi-JVM cluster verify (137 queries) =="
SPARK_SCALA_VERSION=2.13 SPARK_GRAFT_MASTER='local-cluster[2,8,4096]' \
  SPARK_GRAFT_CPUS=16 \
  sbt -batch "runMain graft.Verify /root/testdata/sf0.01 /tmp/verify_cluster" \
  > /tmp/m_clusterverify.log 2>&1
SPARK_GRAFT_MASTER='local-cluster[2,8,4096]' \
  python3 tools/check.py /root/testdata/sf0.01 /tmp/verify_cluster \
  --json clusterverify.json >> /tmp/m_clusterverify.log 2>&1

echo "ALL MEASUREMENTS DONE"
