#!/usr/bin/env python3
"""Run the benchmark once per seed and report each metric's spread.

    python3 perfbench/spread.py --workload panel_ml --seeds 1-10 --seconds 8

For every metric: the median of the runs and the distance between the first
and third quartile (statistics.quantiles, n=4) as a share of that median.
Raw results go to .bench_build/spread-<workload>.jsonl.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    lo, _, hi = spec.partition('-')
    return range(int(lo), int(hi or lo) + 1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument('--workload', required=True)
    ap.add_argument('--seeds', default='1-10')
    ap.add_argument('--seconds', default='8')
    ap.add_argument('--trace', default='0')
    a = ap.parse_args()
    os.makedirs(os.path.join(ROOT, '.bench_build'), exist_ok=True)
    log = os.path.join(ROOT, '.bench_build', f'spread-{a.workload}.jsonl')
    values = {}
    with open(log, 'a') as out:
        for seed in seeds(a.seeds):
            r = subprocess.run([sys.executable, os.path.join(HERE, 'run.py'), '--workload', a.workload,
                                '--seed', str(seed), '--seconds', a.seconds, '--trace', a.trace],
                               cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            if r.returncode != 0:
                print(f'seed {seed}: exit {r.returncode}')
                continue
            res = json.loads(r.stdout.strip().split('\n')[-1])
            out.write(json.dumps({'seed': seed, **res}) + '\n')
            out.flush()
            print(f'seed {seed}: correct={res["correct"]} failed={res["failed"]}/{res["attempted"]} ' +
                  ' '.join(f'{k}={v["value"]:.4g}' for k, v in res['metrics'].items() if v['value'] is not None),
                  flush=True)
            for k, v in res['metrics'].items():
                if v['value'] is not None:
                    values.setdefault(k, []).append(v['value'])
    for k, vs in values.items():
        med = statistics.median(vs)
        if len(vs) >= 2 and med:
            q1, _, q3 = statistics.quantiles(vs, n=4)
            print(f'{k:32s} median {med:14.6g}  spread {(q3 - q1) / abs(med):7.2%}  n={len(vs)}')


if __name__ == '__main__':
    main()
