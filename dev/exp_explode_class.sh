#!/bin/bash
# Isolated sf100 before/after for the round-11 explode-class extension
# (spreadForExplode applied to minhash shingles, tf-idf grams, BPE
# word/token streams, LM bigrams). Run AFTER the sf100 rung rerun so
# /root/synth/sf100.0 exists and the host is otherwise idle.
#
# Usage: dev/exp_explode_class.sh <out.json> [only-list]
# The caller picks the binary by running from the tree to measure.
set -u
OUT=${1:?out.json}
ONLY=${2:-docs_minhash_pairs,docs_tfidf_pairs,docs_bpe_tokenize,docs_lm_score}
cd "$(dirname "$0")/.."
EXP_TMP=$(mktemp -d /tmp/graft_exp_XXXX)
SPARK_GRAFT_OUT="$OUT" \
SPARK_GRAFT_STREAMING=off \
SPARK_GRAFT_ONLY="$ONLY" \
SPARK_DRIVER_MEM=24g \
SPARK_LOCAL_DIRS="$EXP_TMP" \
JAVA_TOOL_OPTIONS="-Djava.io.tmpdir=$EXP_TMP" \
  sbt -batch "runMain graft.tools.ScaleBench /root/synth 100.0" \
  > "${OUT%.json}.log" 2>&1
echo "exp exit=$? ($(date -u +%H:%M:%S))"
rm -rf "$EXP_TMP"
