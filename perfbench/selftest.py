#!/usr/bin/env python3
"""Self-test of the output checks: on unchanged code every workload must
report ok_rate 1.0, and one flipped label or one dropped row in an output
must drive ok_rate below 1.0. The traced ingest_enrich run, which also
checks the near-dup gate, must be correct, and one planted pair dropped from
the gate's pairs or one document moved to another component must make it
incorrect.

    python3 perfbench/selftest.py [--seconds 5] [--seed 7]
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run(workload, seed, seconds, corrupt=None, trace=0):
    cmd = [sys.executable, os.path.join(HERE, 'run.py'), '--workload', workload,
           '--seed', str(seed), '--seconds', str(seconds), '--trace', str(trace)]
    if corrupt:
        cmd += ['--corrupt', corrupt]
    p = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
    if p.returncode != 0:
        sys.exit(f'{workload} {corrupt or "clean"}: run failed ({p.returncode})')
    return json.loads(p.stdout.strip().splitlines()[-1])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument('--seconds', type=float, default=5)
    ap.add_argument('--seed', type=int, default=7)
    a = ap.parse_args()
    failures = 0
    for w in ('ingest_enrich', 'dashboard_read'):
        for corrupt in (None, 'flip', 'drop'):
            r = run(w, a.seed, a.seconds, corrupt)
            ok_rate = r['metrics']['ok_rate']['value']
            good = ok_rate == 1.0 if corrupt is None else ok_rate < 1.0 and not r['correct']
            failures += not good
            print(f'{w:15s} {corrupt or "clean":5s} ok_rate {ok_rate:.3f} '
                  f'failed {r["failed"]}/{r["attempted"]} {"PASS" if good else "FAIL"}')
    for corrupt in (None, 'nd-flip', 'nd-drop'):
        r = run('ingest_enrich', a.seed, a.seconds, corrupt, trace=1)
        good = r['correct'] == (corrupt is None)
        failures += not good
        print(f'ingest traced   {corrupt or "clean":7s} correct {r["correct"]} '
              f'failed {r["failed"]}/{r["attempted"]} {"PASS" if good else "FAIL"}')
    sys.exit(1 if failures else 0)


if __name__ == '__main__':
    main()
