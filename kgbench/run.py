#!/usr/bin/env python3
"""kgbench: end-to-end and per-layer benchmark of graft's KG build, KG query
and curation paths. Run from the repository root:

    python3 kgbench/run.py --workload kg_build --seed 7 --seconds 20 --trace 0

Builds the program from source on first use (kgbench/build.sh), runs one JVM
on local[4] with a fixed heap cap, checks the outputs, and prints a detail
line followed by the result line:

    {"correct": true, "attempted": 9, "failed": 0, "metrics": {...}}

Exits 1 when a correctness check fails and 2 when the run cannot complete.
See kgbench/README.md for the workloads, metrics and protocol.
"""
import argparse
import fcntl
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, '.bench_build', 'kgbench')
OUT = os.path.join(ROOT, '.bench_out')

# The input scale (a documents table under kgbench/data; --scale overrides it
# for the self-test) and the heap of every benchmark JVM: a fixed cap and a
# 1 GB initial size, not pre-touched. GCTimeRatio=1 lets G1 grow the heap only
# when live data or an allocation needs it; with its default GC-time target a
# burst of collections grew the heap in some runs and not in others, and
# peak_rss_mb read either about 1,640 or 2,350 MB on the same workload.
SCALE = 'sf0.01'
HEAP = '3g'
HEAP_START = '1g'
# Per workload, the seconds a run may take. The listed workloads stay within
# 180 s; kg_query, run by hand, needs about three minutes at any scale.
WORKLOADS = {'kg_build': 170, 'kg_query': 300, 'curation': 170}

ADD_OPENS = [
    'java.base/java.lang', 'java.base/java.lang.invoke', 'java.base/java.lang.reflect',
    'java.base/java.io', 'java.base/java.net', 'java.base/java.nio', 'java.base/java.util',
    'java.base/java.util.concurrent', 'java.base/java.util.concurrent.atomic',
    'java.base/sun.nio.ch', 'java.base/sun.nio.cs', 'java.base/sun.security.action',
    'java.base/sun.util.calendar',
]

# compare_oracle.py binds a view for each of these tables; the KG oracles
# read only the golden triples, so all but `documents` get empty stand-ins.
ORACLE_TABLES = ['region', 'nation', 'customer', 'supplier', 'part', 'orders',
                 'lineitem', 'events', 'embeddings']


def log(msg):
    print(f'[kgbench] {msg}', file=sys.stderr, flush=True)


def spark_jars():
    """Spark's jars directory: $SPARK_HOME/jars, else next to spark-submit on
    the PATH, else the `unmanagedBase` that the repository's build.sbt names."""
    if os.environ.get('SPARK_HOME'):
        return os.path.join(os.environ['SPARK_HOME'], 'jars')
    submit = shutil.which('spark-submit')
    if submit:
        return os.path.join(os.path.dirname(os.path.dirname(os.path.realpath(submit))), 'jars')
    with open(os.path.join(ROOT, 'build.sbt')) as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    if not m:
        raise RuntimeError('Spark jars not found: set SPARK_HOME')
    return m.group(1)


def source_stamp():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ROOT, 'src/main/scala/**/*.scala'), recursive=True) +
                   glob.glob(os.path.join(HERE, 'scala/**/*.scala'), recursive=True) +
                   [os.path.join(HERE, 'build.sh')])
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, 'rb') as fh:
            h.update(fh.read())
    return h.hexdigest()


def ensure_built(jars):
    for need in ('src/main/scala', 'golden', 'tools/compare_oracle.py', 'build.sbt'):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise RuntimeError(f'{need} not found: run from a full checkout of the repository')
    stamp_file = os.path.join(BUILD, 'stamp')
    stamp = source_stamp()
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, 'lock'), 'w') as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)  # one build at a time per checkout
        if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
            return
        log('building (kgbench/build.sh)')
        subprocess.run(['bash', os.path.join(HERE, 'build.sh'), jars], cwd=ROOT, check=True,
                       stdout=sys.stderr)
        with open(stamp_file, 'w') as fh:
            fh.write(stamp)


def cpu_times():
    with open('/proc/stat') as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    return vals[7] if len(vals) > 7 else 0, sum(vals[:8])


def loadavg():
    with open('/proc/loadavg') as fh:
        return float(fh.read().split()[0])


def oracle_check(work, scale):
    """Runs tools/compare_oracle.py over the query results the JVM wrote.
    Returns (queries checked, mismatches, report lines)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    sf = os.path.join(work, 'oracle_sf', scale)
    os.makedirs(sf)
    docs = pq.ParquetDataset(glob.glob(os.path.join(work, 'in-*', scale, 'documents.parquet',
                                                    '*.parquet'))).read()
    pq.write_table(docs, os.path.join(sf, 'documents.parquet'))
    empty = pa.table({'unused': pa.array([], pa.int64())})
    for t in ORACLE_TABLES:
        pq.write_table(empty, os.path.join(sf, f'{t}.parquet'))
    out = subprocess.run([sys.executable, os.path.join(ROOT, 'tools', 'compare_oracle.py'),
                          sf, os.path.join(work, 'oracle_out')],
                         cwd=ROOT, capture_output=True, text=True, timeout=120)
    lines = out.stdout.strip().splitlines()
    ok = sum(1 for ln in lines if re.match(r'^q\w+: OK ', ln))
    checked = sum(1 for ln in lines if re.match(r'^q\w+: ', ln))
    if out.returncode != 0 or checked == 0:
        raise RuntimeError(f'compare_oracle.py failed: {out.stderr[-2000:]}')
    return checked, checked - ok, [ln for ln in lines if not re.match(r'^q\w+: OK ', ln)]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split('\n\n')[0])
    ap.add_argument('--workload', required=True, choices=sorted(WORKLOADS))
    ap.add_argument('--seed', type=int, required=True)
    ap.add_argument('--seconds', type=float, required=True)
    ap.add_argument('--trace', type=int, choices=[0, 1], default=0)
    ap.add_argument('--scale', default=SCALE)
    args = ap.parse_args()

    t_start = time.monotonic()
    jars = spark_jars()
    ensure_built(jars)
    work = os.path.join(ROOT, '.bench_work', f'{args.workload}-{args.seed}-{os.getpid()}')
    shutil.rmtree(work, ignore_errors=True)
    try:
        return run_jvm(args, jars, work, t_start)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run's work directory is still there
            pass


def run_jvm(args, jars, work, t_start):
    limit = WORKLOADS[args.workload]
    os.makedirs(os.path.join(work, 'tmp'))
    result_file = os.path.join(work, 'result.json')
    env = {k: v for k, v in os.environ.items()
           if k not in ('SPARK_GRAFT_MODEL', 'SPARK_GRAFT_MODEL_DIR', 'SPARK_LOCAL_DIRS')}
    env['SPARK_GRAFT_GOLDEN_DIR'] = os.path.join(ROOT, 'golden')
    cmd = (['java', f'-Xms{HEAP_START}', f'-Xmx{HEAP}', '-XX:+UseG1GC', '-XX:GCTimeRatio=1',
            '-Xss4m',
            f'-Djava.io.tmpdir={work}/tmp',
            f'-Dlog4j2.configurationFile={HERE}/log4j2.properties']
           + [a for p in ADD_OPENS for a in ('--add-opens', f'{p}=ALL-UNNAMED')]
           + ['-cp', f'{BUILD}/classes:{jars}/*', 'graftbench.Main',
              '--workload', args.workload, '--seed', str(args.seed),
              '--seconds', str(args.seconds), '--trace', str(args.trace),
              '--scale', args.scale, '--data', os.path.join(HERE, 'data'),
              '--golden', os.path.join(ROOT, 'golden'), '--work', work,
              '--result', result_file,
              '--deadline-s', str(limit - 40 - (time.monotonic() - t_start))])
    steal0, total0 = cpu_times()
    load0 = loadavg()
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=sys.stderr)
    try:
        rc = proc.wait(timeout=max(10, limit - 10 - (time.monotonic() - t_start)))
    except subprocess.TimeoutExpired:
        raise RuntimeError('the benchmark JVM ran past its time limit')
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    steal1, total1 = cpu_times()
    if rc != 0 or not os.path.exists(result_file):
        raise RuntimeError(f'the benchmark JVM exited with code {rc}')
    with open(result_file) as fh:
        res = json.load(fh)

    attempted, failed = res['attempted'], res['failed']
    oracle = None
    if args.workload == 'kg_query':
        checked, mismatched, report = oracle_check(work, args.scale)
        failed += mismatched
        oracle = {'checked': checked, 'mismatched': mismatched, 'report': report}
    coverage = res['detail'].get('trace.coverage')
    if args.workload != 'kg_query' and coverage is not None and not 0.95 <= coverage <= 1.0:
        log(f'spans cover {coverage:.3f} of the traced pass, outside [0.95, 1]')
        failed += 1
    host = {'cpu_steal_share': (steal1 - steal0) / max(1, total1 - total0),
            'loadavg_1m_start': load0, 'loadavg_1m_end': loadavg()}
    detail = dict(res['detail'], host=host, oracle=oracle, scale=args.scale, heap=HEAP,
                  wall_s=time.monotonic() - t_start)
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, f'{args.workload}-seed{args.seed}-trace{args.trace}.json'),
              'w') as fh:
        json.dump(dict(res, detail=detail), fh, indent=1)

    print(json.dumps({'kgbench_detail': dict(workload=args.workload, seed=args.seed, **detail)}))
    print(json.dumps({'correct': failed == 0, 'attempted': attempted, 'failed': failed,
                      'metrics': res['metrics']}))
    return 0 if failed == 0 else 1


if __name__ == '__main__':
    try:
        sys.exit(main())
    except Exception as e:  # no result line: the run did not complete
        log(f'error: {e}')
        sys.exit(2)
