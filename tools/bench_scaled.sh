#!/bin/bash
# One-command scale-amortization bench: the heaviest-query subset timed
# Spark-vs-DuckDB-oracle at sf0.1 (factor 1) AND at x10 / x100 scaled
# copies (events/documents/embeddings replicated with offset keys —
# factor disjoint copies of the original workload, within-replica
# distributions untouched). Results merge into BENCH_scaled.json, which
# graft.Bench embeds into each round's BENCH_full.json.
#
# The point: at sf0.1 several queries are dominated by Spark's fixed
# per-job overhead (micro-batch machinery, multi-job iteration); the
# per-query ratio TREND across factors is the honest scale signal —
# data-proportional queries cross below 1x while DuckDB's single-thread
# cost keeps growing linearly.
set -euo pipefail
cd "$(dirname "$0")/.."
FACTORS=${FACTORS:-"1 10 100"}
REPS=${REPS:-2}
QUERIES=${QUERIES:-"s3_store_roundtrip gr2_expand gr3_pagerank gr4_components gr5_triangles gr6_ppr gr7_kcore tok2_bpe_merges sim9_ivf_trained bf2_bloom_join st5_interval_join st9_neardup_stream x3_xref_incremental a3_changed_canonical gr1_degree ovl1_source_overlap a1_merge_dedupe sk3_stream_countmin kw1_tfidf_terms cur6_curation_funnel cdf1_version_diff x2_xref_scores s11_json_roundtrip cur5_dsir_weights tt2_version_drift d9_semantic_dedup rj1_range_join aj1_asof_join sk1_countmin x1_xref_candidates a4b_assembly_canonical"}

# fresh oracle_sql.json (Verify with one cheap query still dumps all SQL)
DUMP=/tmp/graft-scaled-oracle-dump
sbt -batch "runMain graft.Verify /root/testdata/sf0.001 $DUMP a5_count_entities" >/dev/null 2>&1 || true

for F in $FACTORS; do
  if [ "$F" = 1 ]; then
    DIR=/root/testdata/sf0.1
  else
    DIR=/tmp/graft-sfx$F
    if [ ! -f "$DIR/events.parquet" ]; then
      sbt -batch "runMain graft.tools.ScaleData /root/testdata/sf0.1 $DIR $F"
    fi
  fi
  SPARK_GRAFT_SF_DIR=$DIR SPARK_GRAFT_REPS=$REPS \
    SPARK_GRAFT_BENCH_OUT=/tmp/graft-scaled-spark-f$F.json \
    sbt -batch "runMain graft.Bench $QUERIES" | grep '"metric"' || true
  # the recursive-CTE graph oracles (gr3-gr6) do not complete in DuckDB at
  # x100 (gr4 alone is 319 s/rep at x10) — Spark still runs them above;
  # they are just absent from the x100 denominator (see the note below)
  OQUERIES="$QUERIES"
  if [ "$F" = 100 ]; then
    OQUERIES=$(echo "$QUERIES" | tr ' ' '\n' \
      | grep -v -E '^(gr3_pagerank|gr4_components|gr5_triangles|gr6_ppr)$' \
      | tr '\n' ' ')
  fi
  # x1's oracle denominator is seconds-small and host-sensitive (it has
  # swung 3.2x across rounds on identical data) — min-of-4 reps there
  # makes the x1 line reproducible; the x10/x100 denominators are minutes
  # and already stable at REPS
  OREPS=$REPS
  if [ "$F" = 1 ]; then OREPS=${X1_ORACLE_REPS:-4}; fi
  python3 tools/time_oracle.py "$DIR" "$DUMP/oracle_sql.json" "$OREPS" $OQUERIES \
    | tee /tmp/graft-scaled-oracle-f$F.txt
done

python3 - $FACTORS <<'EOF'
import json, os, re, sys
factors = [int(f) for f in sys.argv[1:]]
x1_oracle_reps = int(os.environ.get('X1_ORACLE_REPS', '4'))
scales = []
for f in factors:
    spark = json.load(open(f'/tmp/graft-scaled-spark-f{f}.json'))
    oracle = {}
    for line in open(f'/tmp/graft-scaled-oracle-f{f}.txt'):
        m = re.match(r'\s*([0-9.]+)\s+(\S+)\s*$', line)
        if m and not line.startswith('TOTAL'):
            oracle[m.group(2)] = float(m.group(1))
    cal = None
    for line in open(f'/tmp/graft-scaled-oracle-f{f}.txt'):
        if line.startswith('CALIBRATION'):
            cal = line.strip()
    sq = spark['queries']
    common = sorted(set(sq) & set(oracle))
    per = {q: {'spark': round(sq[q], 4), 'oracle': round(oracle[q], 4),
               'ratio': round(sq[q] / oracle[q], 3)} for q in common}
    st, ot = sum(sq[q] for q in common), sum(oracle[q] for q in common)
    scales.append({'factor': f, 'n_queries': len(common),
                   'spark_total': round(st, 3), 'oracle_total': round(ot, 3),
                   'ratio': round(st / ot, 3),
                   'oracle_reps': x1_oracle_reps if f == 1 else spark.get('reps'),
                   'spark_calibration': spark.get('calibration'),
                   'oracle_calibration': cal, 'queries': per})
out = {
    'src_sf': 0.1, 'reps': spark.get('reps'), 'oracle_reps': spark.get('reps'),
    'scaling': ('coordinated star-schema replication (round 10): '
                'customer/supplier/orders/lineitem offset per logical key, so '
                'graphs and fact joins grow with the factor; '
                'events/documents/embeddings replicated with offset keys; '
                '8 MB row groups so both engines parallelize single-file scans'),
    'note': ('x100 omits gr3/gr4/gr5/gr6 from the ORACLE side only: their '
             'DuckDB oracles are recursive CTEs that do not complete at this '
             'size (gr4 alone is 319 s/rep at x10); Spark runs them fine — '
             'see the spark-f100 run for their absolute times.'),
    'x1_denominator_note': (
        'the x1 aggregate ratio is the noisiest number in this '
        'artifact: its oracle denominator is tiny and host-sensitive '
        '(16.6 s in round 14, 16.4 s in round 13, 53.1 s in round 12 on '
        'IDENTICAL data and queries — a 3.2x swing the embedded '
        'calibrations bracket), while the Spark side is stable '
        'round-over-round (45.5 / 44.3 / 47.9 s). MITIGATION (round '
        '15): the x1 oracle now runs min-of-4 reps (oracle_reps per '
        'scale entry), so a single stalled rep can no longer set the '
        'denominator. Measured: three consecutive x1-only runs gave '
        'spark/oracle/ratio 56.5/24.9/2.27 (hot window, spark probe '
        '0.31-0.33s), 44.0/15.1/2.91 and 43.5/14.7/2.97 — the two '
        'comparable runs agree within 1-3%, and the hot outlier is '
        'identifiable from its embedded calibrations. The x10/x100 '
        'ratios, whose denominators are minutes, remain the scale '
        'signal; cross-round ratio deltas must still be read against '
        'the calibrations, not at face value.'),
    'split_size_note': (
        'maxPartitionBytes A/B (round 11, SPARK_GRAFT_MAX_PARTITION_BYTES '
        'override): full 142-query suite at sf0.1 = 97.9 s (16m) vs 93.1 s '
        '(128m); six x100 heavies = 71.9 s (16m) vs 68.2 s (128m). Both '
        'deltas sit inside the measured host noise band (+/-10%, oracle '
        'spread 65-82 s across idle runs), so the 16m default is kept for '
        'row-group-granular parallelism on medium single-file scans; real '
        'deployments tune via the env override.'),
    'streaming_drain_note': (
        'st5/sk3 are streaming drains whose batch twins (rj1/aj1, sk1) '
        'are IN this query set, so the parity claim is measured per '
        'factor. One-shot drains take the DrainRewrite fast path (round '
        '13; graft.streaming.DrainRewrite, chosen by '
        'graft.exec.PathChoice): a fresh-checkpoint '
        'SINGLE-batch AvailableNow drain of an inner stream-stream join '
        '(or a linear sketch aggregate) provably equals its batch twin, '
        'so the drain executes the batch plan and marks the checkpoint '
        'spent; prior Spark state, rate-capped multi-batch sources, or '
        'spark.graft.path=distributed keep the stateful plan, whose '
        'exactly-once resume is untouched and spec-gated for row+schema equality with the '
        'rewrite. Round 14 measurements: at x100 st5 runs 1.99 s wall, '
        'INSIDE batch twin rj1\'s band (2.13 s, 0.30x), and sk3 runs '
        '2.42 s, FASTER than batch twin sk1 (2.76 s, 1.44x). The '
        'residual ratios (st5 3.2x, sk3 4.4x at x100) are ORACLE-shape '
        'artifacts, not engine cost: st5/sk3 happen to have sub-second '
        'DuckDB twins (0.63 s / 0.55 s at x100) where rj1/sk1 oracles '
        'take 7.2 s / 1.9 s for the same-band Spark work. The stateful '
        'floor for resumable deployments stays metrics-documented in the '
        'stream block of each query\'s profile record (BENCH_full.json '
        '"profile", run with spark.graft.path=distributed).'),
    'merge_form_note': (
        'ROUND 14: A1 merge is deliberately the one-pass WINDOW form. '
        'The skew-safe aggregation alternative (per-id min_by + '
        'group-stats agg + tie-keep join, kept proved-equal in '
        'tools/SkewStress.canonicalizeAggForm) was measured 1.5-3.6x '
        'slower across the store lifecycle at x10 (s3 23.4 s vs 6.5 s) '
        'because its diamond over the full-width scan defeats exchange '
        'reuse — while the single-task-sort straggler it insures '
        'against needs a million-row single (entity,prop,fragment) '
        'group, outside the reference\'s per-entity write envelope '
        '(pages-bucket mega-entities spread one statement per DISTINCT '
        'fragment). Post-revert x100: s3 0.93x, a1 0.27x, tt2 0.14x, '
        'cdf1 0.25x, a3 0.55x.'),
    'scales': scales}
json.dump(out, open('BENCH_scaled.json', 'w'), indent=1)
open('BENCH_scaled.json', 'a').write('\n')
for s in scales:
    print(json.dumps({k: v for k, v in s.items() if k != 'queries'}))
EOF
