#!/usr/bin/env python3
"""Build a BASELINE.md-style comparison table from a spark BENCH.json
and a duckdb baseline json. Usage:
    python3 tools/compare_bench.py <spark.json> <duckdb.json> [label]
Prints the markdown table plus summary ratios (all comparable rows,
and ex-naive if the all-pairs oracle rows are present).

    python3 tools/compare_bench.py --counters <before> <after>
Reads two full Bench lines (a BENCH.json, or a log holding the line)
and prints, as a markdown table, every row whose jobs, stages or tasks
changed, before -> after, with the row's seconds, then the totals.
"""
import sys, json

COUNTED = ('jobs', 'stages', 'tasks')


def full_line(path):
    """the last JSON object in `path` that carries per-row counters"""
    text = open(path).read()
    try:
        d = json.loads(text)
        if 'counters' in d:
            return d
    except ValueError:
        pass
    found = None
    for line in text.splitlines():
        i = line.find('{"metric"')
        if i < 0:
            continue
        try:
            d = json.loads(line[i:])
        except ValueError:
            continue
        if 'counters' in d:
            found = d
    if found is None:
        sys.exit(f"{path}: no full Bench line (with \"counters\")")
    return found


def counters_diff(before_path, after_path):
    b, a = full_line(before_path), full_line(after_path)
    cb, ca = b['counters'], a['counters']
    qb, qa = b.get('queries', {}), a.get('queries', {})
    rows = [q for q in sorted(set(cb) & set(ca))
            if any(cb[q].get(k) != ca[q].get(k) for k in COUNTED)]
    print("| row | jobs | stages | tasks | s before | s after |")
    print("|---|---|---|---|---|---|")
    for q in rows:
        cells = [f"{cb[q].get(k)} → {ca[q].get(k)}" for k in COUNTED]
        print(f"| {q} | " + " | ".join(cells) +
              f" | {qb.get(q, float('nan')):.3f} | {qa.get(q, float('nan')):.3f} |")
    common = sorted(set(cb) & set(ca))
    tot = {k: (sum(cb[q].get(k, 0) for q in common), sum(ca[q].get(k, 0) for q in common))
           for k in COUNTED}
    more = [q for q in rows if ca[q].get('jobs', 0) > cb[q].get('jobs', 0)]
    print(f"\n{len(rows)} of {len(common)} rows changed; totals " +
          ", ".join(f"{k} {x} → {y}" for k, (x, y) in tot.items()))
    print(f"rows with more jobs than before: {len(more)}" +
          (f" ({', '.join(more)})" if more else ""))
    only = sorted(set(cb) ^ set(ca))
    if only:
        print(f"rows in only one line: {', '.join(only)}")


if len(sys.argv) == 4 and sys.argv[1] == '--counters':
    counters_diff(sys.argv[2], sys.argv[3])
    sys.exit(0)

spark = json.load(open(sys.argv[1]))
duck = json.load(open(sys.argv[2]))
label = sys.argv[3] if len(sys.argv) > 3 else ''
sq = spark['queries'] if 'queries' in spark else spark

NAIVE = {'v_cos_neardup', 'd_jaccard'}  # intentionally O(n^2) oracles

rows = []
for q in sorted(sq):
    if q in duck and duck[q] > 0 and sq[q] > 0:
        rows.append((q, duck[q], sq[q], sq[q] / duck[q]))

print(f"| query | duckdb s | spark s | ratio | {label} |")
print("|---|---|---|---|---|")
for q, d, s, r in rows:
    print(f"| {q} | {d:.3f} | {s:.3f} | {r:.2f} | {label} |")

ts, td = sum(r[2] for r in rows), sum(r[1] for r in rows)
print(f"\nTOTAL: spark {ts:.1f} s vs duckdb {td:.1f} s = {ts/td:.2f}x over {len(rows)} rows")
nn = [r for r in rows if r[0] not in NAIVE]
if len(nn) != len(rows):
    ts2, td2 = sum(r[2] for r in nn), sum(r[1] for r in nn)
    print(f"EX-NAIVE: spark {ts2:.1f} s vs duckdb {td2:.1f} s = {ts2/td2:.2f}x over {len(nn)} rows")
weak = [(q, d, s, r) for q, d, s, r in rows if s >= 0.5 and r > 2.0]
print(f"WEAK ROWS (spark >= 0.5 s AND ratio > 2x): {len(weak)}")
for q, d, s, r in sorted(weak, key=lambda x: -x[3]):
    print(f"  {q}: {s:.3f} s, {r:.2f}x")
