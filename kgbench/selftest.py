#!/usr/bin/env python3
"""Smoke test of kgbench at sf0.001: every workload, untraced and traced, runs
the benchmark's own protocol with one-second timing, passes its correctness
checks and prints every named metric with its unit.
kg_build runs under two seeds, so the golden-triples gate also shows that two
different seeded inputs produce the same triples. Run from the repository
root (takes a few minutes; it builds first if needed):

    python3 kgbench/selftest.py
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Metrics each workload must print, beyond BENCHMARK.json's lists.
EXTRA_E2E = {'kg_query': {'query_p50_s': 's', 'query_p90_s': 's'}}
LAYERS = {
    'kg_build': ['text.sentences', 'ner.models', 'ner.tag', 'link.alias_dict', 'canon.cc',
                 'kg.triples', 'core.write'],
    'curation': ['ops.quality', 'ops.exact', 'ops.near_dup', 'ops.decontam',
                 'ops.repetition', 'ops.annotate', 'core.write'],
    'kg_query': ['kg.bgp', 'kg.graphs', 'kg.rank', 'kg.rules', 'kg.maintain', 'kg.temporal'],
}
SPAN_FIELDS = ['wall_s', 'self_s', 'busy_s', 'util', 'jobs', 'tasks', 'shuffle_mb']
FAMILY_METRICS = [f'{f}.{x}' for f in LAYERS['kg_query']
                  for x in ('p50_s', 'jobs_per_query', 'tasks_per_query')]
LAYER_EXTRAS = {
    'kg_build': ['ner.tag.tokens_per_core_s', 'canon.cc.edges', 'kg.triples.rows',
                 'core.write.mb'] + FAMILY_METRICS,
    'curation': [f'ops.{s}.keep_ratio' for s in
                 ('quality', 'exact', 'near_dup', 'decontam', 'repetition', 'annotate')]
                + ['core.write.mb'],
    'kg_query': FAMILY_METRICS + ['setup.ner.models.wall_s', 'setup.kg.triples.wall_s'],
}


def run(workload, seed, trace):
    cmd = [sys.executable, os.path.join(HERE, 'run.py'), '--workload', workload,
           '--seed', str(seed), '--seconds', '1', '--trace', str(trace), '--scale', 'sf0.001']
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or len(lines) < 2:
        raise AssertionError(f'{workload} seed {seed} trace {trace}: exit {out.returncode}\n'
                             f'{out.stderr[-3000:]}')
    return json.loads(lines[-2])['kgbench_detail'], json.loads(lines[-1])


def main():
    with open(os.path.join(ROOT, 'BENCHMARK.json')) as fh:
        bench = json.load(fh)
    e2e = {m['name']: m['unit'] for m in bench['end_to_end']}
    per_layer = {m['name']: m['unit'] for m in bench['per_layer']}
    problems = []
    for workload, seeds in (('kg_build', (1, 2)), ('curation', (1,)), ('kg_query', (1,))):
        for trace in (0, 1):
            for seed in seeds if trace == 0 else seeds[:1]:
                detail, res = run(workload, seed, trace)
                tag = f'{workload} seed={seed} trace={trace}'
                if not (res['correct'] and res['failed'] == 0 and res['attempted'] >= 1):
                    problems.append(f'{tag}: correct={res["correct"]} failed={res["failed"]}')
                want = dict(e2e, **EXTRA_E2E.get(workload, {})) if trace == 0 else dict(
                    per_layer)
                if trace == 1 and workload == 'kg_query':  # no write in the read path
                    want = {k: u for k, u in want.items() if not k.startswith('core.')}
                if workload != 'kg_query' and set(res['metrics']) != set(want):
                    problems.append(f'{tag}: metrics {sorted(res["metrics"])} are not exactly '
                                    f'{sorted(want)}')
                for name, unit in want.items():
                    got = res['metrics'].get(name)
                    if got is None or got.get('unit') != unit or \
                            not isinstance(got.get('value'), (int, float)):
                        problems.append(f'{tag}: metric {name} missing or not in {unit}: {got}')
                if trace == 1:
                    layers = detail['layers']
                    names = [f'{s}.{f}' for s in LAYERS[workload] for f in SPAN_FIELDS]
                    for name in names + LAYER_EXTRAS[workload]:
                        if name not in layers:
                            problems.append(f'{tag}: layer metric {name} missing')
                    if workload != 'kg_query' and not 0.95 <= detail['trace.coverage'] <= 1.0:
                        problems.append(f'{tag}: spans cover {detail["trace.coverage"]:.3f} '
                                        'of the traced pass')
                for k in ('cpu_steal_share', 'loadavg_1m_end'):
                    if k not in detail['host']:
                        problems.append(f'{tag}: host.{k} not recorded')
                print(f'{tag}: ok' if not problems else f'{tag}: {len(problems)} problem(s)',
                      flush=True)
    for p in problems:
        print('FAIL', p)
    print('selftest:', 'FAILED' if problems else 'passed')
    return 1 if problems else 0


if __name__ == '__main__':
    sys.exit(main())
