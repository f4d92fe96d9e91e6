#!/usr/bin/env python3
"""Self-test of the benchmark at tiny sizes (an 8x12 world, sf0.001 tables).

Runs every workload once untraced and once traced through run.py, the way
the benchmark is driven, and asserts for each run:
  - the last stdout line has exactly correct/attempted/failed/metrics;
  - every metric BENCHMARK.json declares is present with its unit
    (end-to-end untraced, per-layer traced), and no other;
  - no operation failed (failed_frac == 0) and the run reports correct;
  - the per-rep router counters were equal across reps;
  - a traced run wrote its span file; codegen failures are counted on the
    catalog and are 0 on the pipeline.

Usage, from the root of a checkout:  python3 perfbench/selftest.py
Takes about 8 minutes on 4 cores.
"""
import json
import os
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(ROOT, '.bench_build', 'perfbench')
WORKLOADS = ('match_city', 'match_metro', 'catalog')


def run(workload, trace):
    p = subprocess.run([sys.executable, os.path.join(BENCH, 'run.py'),
                        '--workload', workload, '--seed', '7', '--seconds', '1',
                        '--trace', str(trace), '--size', 'tiny'],
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True, timeout=900)
    assert p.returncode == 0, f'{workload} trace={trace}: exit {p.returncode}\n{p.stderr[-3000:]}'
    result = json.loads(p.stdout.strip().splitlines()[-1])
    info = [l for l in p.stderr.splitlines() if l.startswith('[perfbench] info ')]
    return result, json.loads(info[-1][len('[perfbench] info '):])


def main():
    with open(os.path.join(ROOT, 'BENCHMARK.json')) as f:
        spec = json.load(f)
    declared = {0: {m['name']: m['unit'] for m in spec['end_to_end']},
                1: {m['name']: m['unit'] for m in spec['per_layer']}}
    bad = []
    for w in WORKLOADS:
        for trace in (0, 1):
            res, info = run(w, trace)
            tag = f'{w} trace={trace}'
            if set(res) != {'correct', 'attempted', 'failed', 'metrics'}:
                bad.append(f'{tag}: keys {sorted(res)}')
            got = {k: v['unit'] for k, v in res['metrics'].items()}
            if got != declared[trace]:
                bad.append(f'{tag}: metrics differ from BENCHMARK.json: '
                           f'{sorted(set(got.items()) ^ set(declared[trace].items()))}')
            if not (res['correct'] and res['failed'] == 0 and res['attempted'] > 0):
                bad.append(f'{tag}: failed_frac {res["failed"]}/{res["attempted"]}')
            if info['counter_spread']:
                bad.append(f'{tag}: per-rep counters differ {info["counter_spread"]}')
            if trace == 1:
                if not os.path.exists(os.path.join(WORK, 'trace', f'{w}-seed7.json')):
                    bad.append(f'{tag}: no span file')
                cg = res['metrics']['functions.codegen_failures']['value']
                if (cg > 0) != (w == 'catalog'):
                    bad.append(f'{tag}: functions.codegen_failures = {cg}')
            print(f'{tag}: ok' if not any(b.startswith(tag) for b in bad) else f'{tag}: FAIL',
                  flush=True)
    for b in bad:
        print(b)
    sys.exit(1 if bad else 0)


if __name__ == '__main__':
    main()
