#!/usr/bin/env python3
"""Compare two sets of benchmark runs.

    python3 perfbench/compare.py <runs-A> <runs-B>

Each argument is a directory holding run artifacts as run.py writes them
(.bench_build/results/<workload>/*.json; copy or move that directory
aside to keep a set). For every workload x end-to-end metric it prints
both medians, both quartile spreads and a verdict against the metric's
bound from BENCHMARK.json:

  within      the medians differ by no more than the bound
  worse       B is worse than A by more than the bound
  better      B is better than A by more than the bound
  unresolved  a set's quartile spread exceeds the bound, so the sets
              cannot tell a change from noise

Metrics that BENCHMARK.json does not gate get a default bound of 0.25.
Traced runs give the per-layer deltas and the tracing overhead (traced
op_ms.p50 over untraced op_ms.p50, minus one). The machine-load probe
is shown as a diagnostic.
"""
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
DEFAULT_BOUND = 0.25
HIGHER_IS_BETTER = {'docs_per_s', 'events_per_s', 'repeat_share'}


def load_runs(d):
    """{workload: {'untraced': [artifact], 'traced': [artifact]}}"""
    runs = {}
    for base, _, files in os.walk(d):
        for f in sorted(files):
            if not f.endswith('.json'):
                continue
            with open(os.path.join(base, f)) as fh:
                a = json.load(fh)
            if 'workload' not in a:
                continue
            kind = 'traced' if a.get('trace') else 'untraced'
            runs.setdefault(a['workload'], {'untraced': [], 'traced': []})[kind].append(a)
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def spread(xs):
    q1, med, q3 = quartiles(xs)
    if q3 == q1:
        return 0.0
    return (q3 - q1) / abs(med) if med else float('inf')


def verdict(a, b, bound, higher_better):
    """Verdict of set `b` against set `a` for one metric."""
    if spread(a) > bound or spread(b) > bound:
        return 'unresolved'
    ma, mb = statistics.median(a), statistics.median(b)
    if ma == 0:
        return 'within' if mb == 0 else 'unresolved'
    change = (mb - ma) / abs(ma)
    worse = -change if higher_better else change
    if worse > bound:
        return 'worse'
    if worse < -bound:
        return 'better'
    return 'within'


def spec():
    with open(os.path.join(os.path.dirname(HERE), 'BENCHMARK.json')) as fh:
        return json.load(fh)


def values(arts, metric):
    return [a['metrics'][metric]['value'] for a in arts if metric in a['metrics']]


def compare(runs_a, runs_b, out=sys.stdout):
    gated = {m['name']: m for m in spec()['end_to_end']}
    flagged = []
    for w in sorted(set(runs_a) | set(runs_b)):
        ua = runs_a.get(w, {}).get('untraced', [])
        ub = runs_b.get(w, {}).get('untraced', [])
        print(f'== {w}: {len(ua)} vs {len(ub)} untraced runs', file=out)
        if not ua or not ub:
            print('   (missing in one set)', file=out)
            continue
        names = [m for m in ua[0]['metrics'] if values(ub, m)]
        print(f"   {'metric':26s} {'unit':7s} {'median A':>12s} {'median B':>12s} "
              f"{'delta':>8s} {'IQR/med A':>9s} {'IQR/med B':>9s} {'bound':>6s}  verdict",
              file=out)
        for m in names:
            a, b = values(ua, m), values(ub, m)
            g = gated.get(m)
            bound = g['bound'] if g else DEFAULT_BOUND
            higher = (g['better'] == 'higher') if g else m in HIGHER_IS_BETTER
            ma, mb = statistics.median(a), statistics.median(b)
            delta = (mb - ma) / abs(ma) if ma else 0.0
            v = verdict(a, b, bound, higher)
            if g and v in ('worse', 'unresolved'):
                flagged.append(v)
            unit = ua[0]['metrics'][m]['unit']
            print(f'   {m:26s} {unit:7s} {ma:12.4f} {mb:12.4f} {delta:+8.1%} '
                  f'{spread(a):9.3f} {spread(b):9.3f} {bound:6.2f}  {v}{"" if g else " (ungated)"}',
                  file=out)
        la = [a['load_probe_ms']['after'] for a in ua]
        lb = [a['load_probe_ms']['after'] for a in ub]
        print(f'   load probe ms (diagnostic): A {statistics.median(la):.0f}, '
              f'B {statistics.median(lb):.0f}', file=out)
        for label, runs in (('A', runs_a), ('B', runs_b)):
            t = runs.get(w, {}).get('traced', [])
            u = runs.get(w, {}).get('untraced', [])
            if t and u:
                tp, up = values(t, 'op_ms.p50'), values(u, 'op_ms.p50')
                if tp and up:
                    print(f'   tracing overhead {label}: '
                          f'{statistics.median(tp) / statistics.median(up) - 1:+.1%} '
                          f'on op_ms.p50 ({len(t)} traced runs)', file=out)
        ta = runs_a.get(w, {}).get('traced', [])
        tb = runs_b.get(w, {}).get('traced', [])
        if ta and tb:
            print('   per-layer (traced medians):', file=out)
            for k in ta[0]['layers']:
                xa = statistics.median([t['layers'][k] for t in ta])
                xb = statistics.median([t['layers'][k] for t in tb if k in t['layers']])
                if xa == 0 and xb == 0:
                    continue
                d = f'{(xb - xa) / abs(xa):+8.1%}' if xa else '     new'
                print(f'     {k:26s} {xa:14.2f} {xb:14.2f} {d}', file=out)
    return 'worse' if 'worse' in flagged else 'unresolved' if flagged else 'within'


def main():
    if len(sys.argv) != 3:
        print(__doc__, file=sys.stderr)
        sys.exit(2)
    a, b = load_runs(sys.argv[1]), load_runs(sys.argv[2])
    worst = compare(a, b)
    print(f'gated verdict: {worst}')
    sys.exit(0 if worst == 'within' else 1)


if __name__ == '__main__':
    main()
