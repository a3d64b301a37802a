#!/usr/bin/env python3
"""Runs kgbench several times with different seeds and reports, per metric,
the median and the interquartile spread as a share of the median (the
steadiness figure BENCHMARK.json's bounds are judged against).

    python3 kgbench/spread.py --workload curation --runs 10 [--first-seed 1]
        [--seconds 10] [--trace 0]

Each run's result line is appended to .bench_out/spread-<workload>.jsonl.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument('--workload', required=True)
    ap.add_argument('--runs', type=int, default=10)
    ap.add_argument('--first-seed', type=int, default=1)
    ap.add_argument('--seconds', type=int)
    ap.add_argument('--trace', type=int, default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, 'BENCHMARK.json')) as fh:
        bench = json.load(fh)
    seconds = args.seconds or bench['run_seconds']
    bounds = {m['name']: m.get('bound') for m in bench['end_to_end']}
    os.makedirs(os.path.join(ROOT, '.bench_out'), exist_ok=True)
    log = os.path.join(ROOT, '.bench_out', f'spread-{args.workload}.jsonl')
    values = {}
    for seed in range(args.first_seed, args.first_seed + args.runs):
        out = subprocess.run([sys.executable, os.path.join(HERE, 'run.py'),
                              '--workload', args.workload, '--seed', str(seed),
                              '--seconds', str(seconds), '--trace', str(args.trace)],
                             cwd=ROOT, capture_output=True, text=True)
        lines = out.stdout.strip().splitlines()
        if out.returncode != 0 or not lines:
            print(f'seed {seed}: exit {out.returncode}\n{out.stderr[-3000:]}', flush=True)
            continue
        res = json.loads(lines[-1])
        with open(log, 'a') as fh:
            fh.write(json.dumps(dict(seed=seed, detail=json.loads(lines[-2]), result=res)) + '\n')
        print(f'seed {seed}: correct={res["correct"]} ' + ' '.join(
            f'{k}={v["value"]:.4g}' for k, v in res['metrics'].items()), flush=True)
        for k, v in res['metrics'].items():
            values.setdefault(k, []).append(v['value'])
    for k, vs in values.items():
        med = statistics.median(vs)
        spread = float('nan')
        if len(vs) >= 2 and med:
            q = statistics.quantiles(vs, n=4)
            spread = (q[2] - q[0]) / abs(med)
        b = bounds.get(k)
        note = f' bound={b} spread/bound={spread / b:.2f}' if b else ''
        print(f'{k}: n={len(vs)} median={med:.5g} spread={spread:.4f}{note}')


if __name__ == '__main__':
    main()
