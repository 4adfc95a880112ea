#!/usr/bin/env python3
"""Runs graft's benchmark.

    python3 perfbench/run.py --workload panel_ml --seed 1 --seconds 20 --trace 0

Run from the root of a graft checkout. The first run builds the benchmark
(perfbench/build.sbt, which compiles graft from the checkout's sources) and
records the classpath in perfbench/target/launcher.txt; later runs reuse it
until a source file changes. Each run starts one JVM with graftbench.Main,
which prints a summary and, as its last line, one JSON result object.
"""
import argparse
import json
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LAUNCHER = os.path.join(HERE, 'target', 'launcher.txt')
WORK = os.path.join(ROOT, '.bench_build')
WORKLOADS = ('panel_ml', 'panel_denton', 'corpus_mix')
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840


def die(msg):
    print(f'perfbench: {msg}', file=sys.stderr)
    sys.exit(2)


def sources():
    """Every file whose change needs a rebuild."""
    roots = [os.path.join(ROOT, 'src', 'main'), os.path.join(ROOT, 'project'),
             os.path.join(HERE, 'src', 'main'), os.path.join(HERE, 'project')]
    files = [os.path.join(ROOT, 'build.sbt'), os.path.join(HERE, 'build.sbt')]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = [x for x in dirs if x not in ('target', 'project')]
            files += [os.path.join(d, n) for n in names]
    return files


def build():
    stamp = os.path.getmtime(LAUNCHER) if os.path.exists(LAUNCHER) else -1
    if stamp >= 0 and all(os.path.getmtime(f) <= stamp for f in sources()):
        return
    env = dict(os.environ, COURSIER_MODE='offline')
    repos = os.path.expanduser('~/.sbt/repositories')
    opts = ['-Dsbt.offline=true', '-Xmx2g']
    if os.path.exists(repos):
        opts += ['-Dsbt.override.build.repos=true', f'-Dsbt.repository.config={repos}']
    env['SBT_OPTS'] = ' '.join(opts)
    print('perfbench: building', file=sys.stderr)
    code, _ = run_group(['sbt', '--batch', '-Dsbt.log.noformat=true', 'launcher'], BUILD_TIMEOUT_S,
                        cwd=HERE, env=env, stdout=sys.stderr)
    if code != 0 or not os.path.exists(LAUNCHER):
        die(f'build failed (exit {code})')


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group; on timeout kills the whole group."""
    proc = subprocess.Popen(cmd, start_new_session=True, text=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        die(f'{cmd[0]} exceeded {timeout}s')
    return proc.returncode, out


def launch(main_args, timeout):
    with open(LAUNCHER) as f:
        lines = f.read().splitlines()
    classpath, jvm = lines[0], [x for x in lines[1:] if x]
    tmp = os.path.join(WORK, 'tmp')
    os.makedirs(tmp, exist_ok=True)
    cmd = ['java', *jvm, f'-Djava.io.tmpdir={tmp}', f'-Dderby.system.home={tmp}',
           '-cp', classpath, 'graftbench.Main', *main_args, '--root', ROOT,
           '--launch-ms', repr(time.time() * 1000.0)]
    return run_group(cmd, timeout, cwd=ROOT, env=dict(os.environ, SPARK_LOCAL_DIRS=tmp),
                     stdout=subprocess.PIPE)


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument('--workload', required=True, choices=WORKLOADS)
    ap.add_argument('--seed', type=int, required=True)
    ap.add_argument('--seconds', type=float, required=True)
    ap.add_argument('--trace', type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    for need in ('build.sbt', os.path.join('src', 'main', 'scala', 'graft')):
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f'no graft sources here ({need} is missing)')
    build()
    code, out = launch(['run', '--workload', a.workload, '--seed', str(a.seed),
                        '--seconds', repr(a.seconds), '--trace', str(a.trace)], RUN_TIMEOUT_S)
    if code != 0:
        sys.stderr.write(out)
        die(f'benchmark exited with {code}')
    result = json.loads(out.rstrip('\n').split('\n')[-1])
    if set(result) != {'correct', 'attempted', 'failed', 'metrics'}:
        die('malformed result line')
    sys.stdout.write(out)
    sys.stdout.flush()


if __name__ == '__main__':
    main()
