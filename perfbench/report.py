#!/usr/bin/env python3
"""Per-layer report of a traced run, as markdown.

    python3 perfbench/run.py --workload ingest_enrich --seed 1 --seconds 15 --trace 1
    python3 perfbench/report.py .bench_build/traces/ingest_enrich-1.json

Lists each span name's median time per operation, its share of the summed
medians of its group (the near-dup gate's `dedup.*` spans apart from the
rest), and its median jobs, tasks and task CPU; for ingest_enrich also the
fused-vs-staged gap, the tracing overhead, and how often the fused plan
evaluates the clean step.
"""
import json
import statistics
import sys


def main(path):
    with open(path) as f:
        t = json.load(f)
    by = {}
    for s in t['spans']:
        by.setdefault(s['name'], []).append(s)
    med = {n: {k: statistics.median(s[k] for s in ss)
               for k in ('ms', 'build_ms', 'plan_ms', 'exec_ms', 'jobs', 'tasks', 'task_cpu_ms')}
           for n, ss in by.items()}
    staged = [n for n in med if n != 'pipeline.fused']
    group = lambda n: n.split('.')[0] == 'dedup'
    total = {g: sum(med[n]['ms'] for n in staged if group(n) == g) for g in (False, True)}
    ops = len({s['op'] for s in t['spans']})
    print(f'{ops} traced operations; medians per operation\n')
    print('| span | ms | share | build ms | plan ms | exec ms | jobs | tasks | task cpu ms |')
    print('|---|---|---|---|---|---|---|---|---|')
    for n in sorted(staged, key=lambda n: (group(n), -med[n]['ms'])) + \
            [n for n in med if n not in staged]:
        m = med[n]
        share = f"{m['ms'] / total[group(n)]:.1%}" if n in staged else '—'
        print(f"| {n} | {m['ms']:.0f} | {share} | {m['build_ms']:.0f} | {m['plan_ms']:.0f} | "
              f"{m['exec_ms']:.0f} | {m['jobs']:.0f} | {m['tasks']:.0f} | {m['task_cpu_ms']:.0f} |")
    layers = t.get('layers', {})
    if 'pipeline.fused_gap_ms' in layers:
        print(f"\npipeline.fused_gap_ms (median): {layers['pipeline.fused_gap_ms']:.0f} ms; "
              f"traced fused median {layers['pipeline.fused_ms']:.0f} ms")
        print(f"untraced fused runs: {[round(x) for x in t['untraced_fused_ms']]} ms; "
              f"tracing overhead (traced - untraced median): {t['trace_overhead_ms']:.0f} ms")
        print(f"fused plan: {t['fused_clean_nodes']} node(s) evaluate stripUrls, "
              f"{t['fused_batch_scans']} scan(s) of the batch's raw files")


if __name__ == '__main__':
    main(sys.argv[1])
