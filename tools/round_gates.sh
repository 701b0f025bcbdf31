#!/bin/bash
# The full round-N gate set, in dependency order — every artifact in
# README.md's "round gate set" table, regenerated on current code.
# Usage: tools/round_gates.sh <N>     (e.g. 14)
# Runs STRICTLY SERIALLY: two concurrent Spark JVMs corrupt timing
# and ContextCleaner settling. Individual gate failures don't stop
# the run (each artifact records its own all_ok); the summary at the
# end lists what failed.
set -u
cd "$(dirname "$0")/.."
N="${1:?usage: round_gates.sh <round number>}"
J=tools/jrun.sh
FAIL=()
run() { echo "[gates] $(date +%H:%M:%S) $*" >&2; "$@" || FAIL+=("$1 $2"); }
# Audit-producing runs write to a temp file and mv into place only on
# success: `run ... > out` truncates out before the JVM starts, so a
# failed or interrupted audit leaves an empty/stale JSON that the
# downstream subset/ScaleCheck steps silently consume (ADVICE r13 —
# the mechanism that committed a 0-byte sf80_heavy audit).
runj() { local out=$1; shift
  echo "[gates] $(date +%H:%M:%S) $* > $out" >&2
  if "$@" > "$out.tmp"; then mv "$out.tmp" "$out"; else
    rm -f "$out.tmp"; FAIL+=("$out"); return 1; fi; }
# Subset audit A to the queries audit B covers (carrying _meta), so
# the two ScaleCheck sides compare the same set. Guarded like runj:
# a failure records itself instead of leaving downstream consumers a
# stale file.
subset() { python3 - "$1" "$2" "$3" <<'PY' || FAIL+=("subset $3")
import json, sys
full = json.load(open(sys.argv[1]))
names = [k for k in json.load(open(sys.argv[2])) if not k.startswith('_')]
missing = [n for n in names if n not in full]
assert not missing, f'{sys.argv[1]} lacks {missing}'
sub = {k: full[k] for k in names}
sub['_meta'] = full['_meta']
open(sys.argv[3], 'w').write(json.dumps(sub))
PY
}

# 0. correctness (the driver also runs this; here for self-service)
rm -rf /tmp/verify_out
bash tools/run_verify.sh /root/testdata/sf0.01 /tmp/verify_out 2>/tmp/verify_err.log
python3 tools/check_oracles.py /root/testdata/sf0.01 /tmp/verify_out | tail -1

# 1. full-surface shuffle+state audits at three rungs. sf10/sf20 NEED
# the bigger driver heap (r12: a 24 g sf20 run spilled g04 682 MB on
# bit-identical bytes — heap share, not plan; 40 g reproduces r11's 0)
runj shuffle_audit_sf1.json $J graft.ShuffleAudit target/sfdata/sf1
SPARK_DRIVER_MEM=40g runj shuffle_audit_sf10.json $J graft.ShuffleAudit target/sfdata/sf10
SPARK_DRIVER_MEM=40g runj shuffle_audit_sf20.json $J graft.ShuffleAudit target/sfdata/sf20

# 2. scale gates (shuffle growth + per-task state at both rungs)
run $J graft.ScaleCheck audits shuffle_audit_sf1.json shuffle_audit_sf10.json 10 "SCALE_r${N}.json" transition
run $J graft.ScaleCheck audits shuffle_audit_sf10.json shuffle_audit_sf20.json 2 "SCALE_r${N}_postcap.json" postcap

# 2b. sf40 residue rung: the LSH/pair-mining family, one more doubling
# (documents+embeddings only — the tables the family reads)
[ -f target/sfdata/sf40/embeddings.parquet/_SUCCESS ] || \
  run $J graft.ScaleGen target/sfdata/sf20 target/sfdata/sf40 2 documents,embeddings
MINING="d03_ngram_jaccard d04_minhash_lsh d13_semantic_clusters \
s03_embed_neardup s11_multiprobe_neardup"
SPARK_DRIVER_MEM=48g runj shuffle_audit_sf40.json $J graft.ShuffleAudit target/sfdata/sf40 $MINING
subset shuffle_audit_sf20.json shuffle_audit_sf40.json shuffle_audit_sf20_residue.json
run $J graft.ScaleCheck audits shuffle_audit_sf20_residue.json shuffle_audit_sf40.json 2 "SCALE_r${N}_sf40.json" postcap

# 2c. sf80 answers rung: one more doubling; the corpus's duplicate
# clusters double per rung so the TRUE pair answer quadruples —
# the gate bounds shuffle growth by max(strict, 1.2x answer growth)
# using the rows column both audits carry (d13's bound derives from
# its internal_rows probe — the mined pair relation — since r12)
[ -f target/sfdata/sf80/embeddings.parquet/_SUCCESS ] || \
  run $J graft.ScaleGen target/sfdata/sf40 target/sfdata/sf80 2 documents,embeddings
SPARK_DRIVER_MEM=48g runj shuffle_audit_sf80.json $J graft.ShuffleAudit target/sfdata/sf80 $MINING
run $J graft.ScaleCheck audits shuffle_audit_sf40.json shuffle_audit_sf80.json 2 "SCALE_r${N}_sf80.json" answers

# 2d. sf40 HEAVY NON-MINING rung (VERDICT r11 #2): sf20 was the rung
# where three of these last broke — give them one more doubling.
# Generates the remaining sf40 tables at K=2 (documents/embeddings
# already exist from 2b).
[ -f target/sfdata/sf40/lineitem.parquet/_SUCCESS ] || \
  run $J graft.ScaleGen target/sfdata/sf20 target/sfdata/sf40 2 \
    orders,lineitem,customer,supplier,part,nation,region,events
HEAVY="g01_pagerank g03_bfs_reach a14_gap_fill q21_join5 p01_curate \
d12_repeated_spans q30_table_profile t23_window_pmi x08_source_overlap \
d07_dup_components"
SPARK_DRIVER_MEM=48g runj shuffle_audit_sf40_heavy.json $J graft.ShuffleAudit target/sfdata/sf40 $HEAVY
subset shuffle_audit_sf20.json shuffle_audit_sf40_heavy.json shuffle_audit_sf20_heavy.json
run $J graft.ScaleCheck audits shuffle_audit_sf20_heavy.json shuffle_audit_sf40_heavy.json 2 "SCALE_r${N}_sf40_heavy.json" postcap

# 2e. sf80 HEAVY rung (VERDICT r12 #8): one more doubling for the
# heavy queries that break one rung after looking clean — including
# g03 (its r13 sf80 point was aborted by the disk-fill; ADVICE r13).
[ -f target/sfdata/sf80/lineitem.parquet/_SUCCESS ] || \
  run $J graft.ScaleGen target/sfdata/sf40 target/sfdata/sf80 2 \
    orders,lineitem,customer,supplier,part,nation,region,events
HEAVY80="g03_bfs_reach a14_gap_fill q21_join5 x08_source_overlap"
SPARK_DRIVER_MEM=64g runj shuffle_audit_sf80_heavy.json $J graft.ShuffleAudit target/sfdata/sf80 $HEAVY80
subset shuffle_audit_sf40_heavy.json shuffle_audit_sf80_heavy.json shuffle_audit_sf40_heavy4.json
run $J graft.ScaleCheck audits shuffle_audit_sf40_heavy4.json shuffle_audit_sf80_heavy.json 2 "SCALE_r${N}_sf80_heavy.json" answers

# 2f. sf160 answers rung, only where target/sfdata/sf160 exists
# (documents/embeddings/events, ScaleGen K=2 from sf80): the mining
# family plus a14/x08, whose sf80 spill cliff r13b fixed on derived
# sizing — that sizing at a scale it was NOT tuned on. g03 is absent:
# sf160 omits lineitem/orders/customer (disk budget). The A side
# merges 2c's and 2e's sf80 audits; each query must be in EXACTLY one
# of them (ADVICE r13: `mining.get(n) or heavy[n]` KeyError'd on
# absent queries and silently preferred heavy for falsy entries).
if [ -d target/sfdata/sf160 ] && SPARK_DRIVER_MEM=80g runj shuffle_audit_sf160.json \
    $J graft.ShuffleAudit target/sfdata/sf160 $MINING a14_gap_fill x08_source_overlap; then
  if python3 - <<'PY'
import json, sys
mining = json.load(open('shuffle_audit_sf80.json'))
heavy = json.load(open('shuffle_audit_sf80_heavy.json'))
assert mining['_meta']['src_tree'] == heavy['_meta']['src_tree'], \
    'sf80 audits were produced on different code'
names = [k for k in json.load(open('shuffle_audit_sf160.json')) if not k.startswith('_')]
merged = {'_meta': mining['_meta']}
for n in names:
    in_m, in_h = n in mining, n in heavy
    if in_m and in_h:
        sys.exit(f'{n} present in BOTH sf80 audits - ambiguous A side')
    if not (in_m or in_h):
        sys.exit(f'{n} missing from both sf80 audits - no A-side rung point')
    merged[n] = mining[n] if in_m else heavy[n]
open('shuffle_audit_sf80_merged.json', 'w').write(json.dumps(merged))
PY
  then run $J graft.ScaleCheck audits shuffle_audit_sf80_merged.json shuffle_audit_sf160.json 2 "SCALE_r${N}_sf160.json" answers
  else FAIL+=("sf80 A-side merge"); fi
fi

# 3. skew-stress rung (fixed volume, Zipf-sharpened key heads)
[ -d target/sfdata/sf10skew ] || run $J graft.ScaleGen target/sfdata/sf10 target/sfdata/sf10skew 1 all skew
run $J graft.SkewDrill target/sfdata/sf10 target/sfdata/sf10skew "SKEW_r${N}.json"

# 4. constrained-heap degradation drill (cluster-container memory share)
HEAP_Q="d03_ngram_jaccard d07_dup_components d12_repeated_spans \
d13_semantic_clusters g01_pagerank g03_bfs_reach g04_link_predict \
g05_jaccard_predict a14_gap_fill s03_embed_neardup"
SPARK_DRIVER_MEM=8g SPARK_GRAFT_CPUS=8 \
  run $J graft.HeapDrill target/sfdata/sf20 "MEMBOUND_r${N}.json" $HEAP_Q

# 4b. SPILL drill (VERDICT r11 #3): half the heap — external mode must
# ENGAGE and degrade gracefully (spill present + bounded, wall <= 3x
# the 8g run + 10 s, no OOM). Uses step 4's artifact as the baseline.
SPARK_DRIVER_MEM=4g SPARK_GRAFT_CPUS=8 \
  run $J graft.HeapDrill spill target/sfdata/sf20 "MEMBOUND_r${N}_spill.json" \
  "MEMBOUND_r${N}.json" $HEAP_Q

# 5. streaming state gates (keys-scaled vs volume-only corpora)
[ -d target/sfdata/vol10 ] || run $J graft.ScaleGen /root/testdata/sf0.1 target/sfdata/vol10 10 all volume
SQ="e05_stream_sessionize e06_stream_windows e07_stream_range_join \
e10_stream_funnel e11_stream_heavy_users e13_stream_sliding \
e15_stream_session_window e16_stream_dq e17_stream_zone_maps \
e18_stream_window_users d06_stream_dedup d08_stream_novel x21_stream_upsert"
run $J graft.StateAudit /root/testdata/sf0.1 target/sfdata/sf1 14.0 "STATE_r${N}_scale.json" $SQ
run $J graft.StateAudit /root/testdata/sf0.1 target/sfdata/vol10 1.5 "STATE_r${N}_volume.json" \
  $(echo $SQ | sed 's/e07_stream_range_join/e07_stream_range_join:15.0/')

# 5b. full-surface per-task state deep-dive at sf10 (peak 512 MB /
# AQE-projection 1024 MB; REPARTITION_BY_NUM-fed nodes carry no
# projection — Spark's coalescer skips that origin)
SPARK_DRIVER_MEM=40g run $J graft.MemAudit target/sfdata/sf10 "MEM_r${N}.json"

# 6. BENCH_sf1 refresh LAST (needs an idle machine) + the
# round-over-round tripwire (VERDICT r13 #5): the sf1 serial artifact
# is the only trustworthy wall-clock series — compare the fresh run
# against the previous round's COMMITTED artifact; a >1.3x move on
# med-sum or any top-10 query min fails the gate until PLANS.md
# attributes it. (Replayed r11-vs-r13: catches that round's +33%.)
git show HEAD:BENCH_sf1.json > /tmp/bench_sf1_prev.json 2>/dev/null || \
  cp BENCH_sf1.json /tmp/bench_sf1_prev.json
[ -f bench_out.json ] && cp bench_out.json /tmp/bench_out.driver.bak
SPARK_GRAFT_SF_DIR=target/sfdata/sf1 SPARK_GRAFT_CPUS=32 \
  run $J graft.Bench
head -1 bench_out.json > BENCH_sf1.json
[ -f /tmp/bench_out.driver.bak ] && mv /tmp/bench_out.driver.bak bench_out.json
python3 tools/bench_gate.py /tmp/bench_sf1_prev.json BENCH_sf1.json \
  --out="BENCHGATE_r${N}.json" || FAIL+=("bench_gate (attribute in PLANS.md)")

# 7. regenerate README's gate table from the artifacts just written —
# the "last run" column is DERIVED from the filesystem, never typed
# (VERDICT r12: the hand-maintained column claimed runs that never
# happened; GateTableSpec fails `sbt test` if this drifts)
python3 tools/gate_table.py || FAIL+=("gate_table.py")

echo "[gates] done; failures: ${#FAIL[@]}"
for f in "${FAIL[@]:-}"; do [ -n "$f" ] && echo "[gates] FAILED: $f"; done
