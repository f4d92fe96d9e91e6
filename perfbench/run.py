#!/usr/bin/env python3
"""Benchmark entry point: builds the engine and the benchmark driver from the
checkout's sources (once per source state), runs one workload in a fresh
JVM, and prints the result object as the last line of stdout.

Usage, from the root of a checkout:
    python3 perfbench/run.py --workload match_city --seed 1 --seconds 8 --trace 0

Workloads: match_city, match_metro, catalog (see perfbench/README.md).
--trace 1 prints the per-layer metrics instead of the end-to-end ones and
writes the spans to .bench_build/perfbench/trace/<workload>-seed<n>.json.
--size tiny runs the self-test sizes (used by perfbench/selftest.py).
Build output and inputs stay under .bench_build/ and the sbt target/ dirs.
"""
import argparse
import hashlib
import json
import os
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(ROOT, '.bench_build', 'perfbench')
WORKLOADS = ('match_city', 'match_metro', 'catalog')
RUN_LIMIT_S = 170  # the JVM is killed past this, counted from start

# what the root build.sbt gives its forked JVMs: JDK 17 module opens for
# Spark, no UI, UTC, the throughput collector
ADD_OPENS = ['java.base/java.lang', 'java.base/java.lang.invoke',
             'java.base/java.lang.reflect', 'java.base/java.io',
             'java.base/java.net', 'java.base/java.nio', 'java.base/java.util',
             'java.base/java.util.concurrent',
             'java.base/java.util.concurrent.atomic', 'java.base/sun.nio.ch',
             'java.base/sun.nio.cs', 'java.base/sun.security.action',
             'java.base/sun.util.calendar']


def log(msg):
    print(f'[perfbench] {msg}', file=sys.stderr, flush=True)


def source_stamp():
    """Content hash of everything the build reads."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, 'build.sbt'),
             os.path.join(ROOT, 'project', 'build.properties'),
             os.path.join(BENCH, 'build.sbt'),
             os.path.join(BENCH, 'project', 'build.properties')]
    for top in (os.path.join(ROOT, 'src', 'main'), os.path.join(BENCH, 'src')):
        for d, _, fs in os.walk(top):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, 'rb') as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles engine + driver with sbt; returns the runtime classpath."""
    stamp = source_stamp()
    cp_file = os.path.join(WORK, 'classpath.txt')
    stamp_file = os.path.join(WORK, 'build.stamp')
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    log('building engine and benchmark driver (sbt, offline)')
    env = dict(os.environ, COURSIER_MODE='offline')
    env['SBT_OPTS'] = ('-Dsbt.override.build.repos=true '
                       '-Dsbt.repository.config=' +
                       os.path.expanduser('~/.sbt/repositories') +
                       ' -Dsbt.offline=true -Xmx2g')
    t0 = time.time()
    p = subprocess.run(['sbt', '--batch', '-Dsbt.log.noformat=true', 'compile',
                        'export Runtime/fullClasspath'],
                       cwd=BENCH, env=env, stdin=subprocess.DEVNULL,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=800)
    lines = [l for l in p.stdout.splitlines() if '.jar' in l and os.pathsep in l
             and not l.startswith('[')]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        log('build failed')
        sys.exit(3)
    cp = lines[-1].strip()
    with open(cp_file, 'w') as f:
        f.write(cp)
    with open(stamp_file, 'w') as f:
        f.write(stamp)
    log(f'built in {time.time() - t0:.0f} s')
    return cp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument('--workload', required=True, choices=WORKLOADS)
    ap.add_argument('--seed', type=int, required=True)
    ap.add_argument('--seconds', type=float, required=True)
    ap.add_argument('--trace', type=int, choices=(0, 1), default=0)
    ap.add_argument('--size', choices=('bench', 'tiny'), default='bench')
    ap.add_argument('--record', action='store_true',
                    help='record the catalog output digests instead of running')
    a = ap.parse_args()
    t_start = time.time()

    if not (os.path.isfile(os.path.join(ROOT, 'build.sbt')) and
            os.path.isdir(os.path.join(ROOT, 'src', 'main', 'scala', 'graft'))):
        log(f'no engine sources at {ROOT} (build.sbt, src/main/scala/graft)')
        sys.exit(2)
    os.makedirs(os.path.join(WORK, 'tmp'), exist_ok=True)
    cp = build()

    out = os.path.join(WORK, f'result-{a.workload}-{a.size}-trace{a.trace}.json')
    if os.path.exists(out):
        os.remove(out)
    mem = '2g' if a.size == 'tiny' else '4g'
    cmd = (['java'] +
           [x for p in ADD_OPENS for x in ('--add-opens', f'{p}=ALL-UNNAMED')] +
           [f'-Xmx{mem}', '-XX:+UseParallelGC', '-Duser.timezone=UTC',
            '-Dspark.ui.enabled=false', '-Dspark.sql.session.timeZone=UTC',
            '-Djava.io.tmpdir=' + os.path.join(WORK, 'tmp'),
            '-cp', cp, 'perfbench.Main',
            '--workload', a.workload, '--seed', str(a.seed),
            '--seconds', str(a.seconds), '--trace', str(a.trace),
            '--size', a.size, '--work', WORK, '--out', out,
            '--expected', os.path.join(BENCH, 'expected_digests.json'),
            '--record', '1' if a.record else '0'])
    jvm_log = os.path.join(WORK, f'{a.workload}-{a.size}-trace{a.trace}.log')
    with open(jvm_log, 'w') as lf:
        p = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL,
                             stdout=lf, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=max(10, RUN_LIMIT_S - (time.time() - t_start)))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = None
    with open(jvm_log, errors='replace') as lf:
        text = lf.read()
    for line in text.splitlines():
        if line.startswith('[perfbench]'):
            print(line, file=sys.stderr)
    if rc != 0 or not (a.record or os.path.exists(out)):
        sys.stderr.write(text[-6000:])
        log(f'run failed (exit {rc}); log in {jvm_log}')
        sys.exit(4)
    if a.record:
        return
    with open(out) as f:
        res = json.load(f)
    info = res.pop('info')
    log(f'info {json.dumps(info)}')
    print(json.dumps(res))


if __name__ == '__main__':
    main()
