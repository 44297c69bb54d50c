#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload ingest_enrich --seed 1 --seconds 15 --trace 0

Builds the program from source (once per checkout), generates the seeded
inputs (cached per seed), runs the workload in one Spark JVM launched with
`java -cp`, checks the program's outputs after the timed window, and prints
one JSON line: {"correct", "attempted", "failed", "metrics"}. `--trace 0`
reports the end-to-end metrics, `--trace 1` the per-layer metrics of a
separate traced run. `--corrupt flip|drop` damages one output before the
checks, `--corrupt nd-flip|nd-drop` one output of the traced ingest run's
near-dup gate (the checker's self-test). Everything it writes stays under
`.bench_build/` in the checkout; a run's work directory is deleted at the end.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402

ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, '.bench_build')
WORKLOADS = ('ingest_enrich', 'dashboard_read')
# one core stays free for the driver thread, JIT and GC: measured on a 4-core box,
# local[4] repeats of one seed spread ~9% where local[3] repeats spread <1%
CORES = max(1, (os.cpu_count() or 2) - 1)
HEAP = "2g"
JVM_TIMEOUT_S = 170
ADD_OPENS = ['java.base/java.lang', 'java.base/java.lang.invoke', 'java.base/java.lang.reflect',
             'java.base/java.io', 'java.base/java.net', 'java.base/java.nio', 'java.base/java.util',
             'java.base/java.util.concurrent', 'java.base/java.util.concurrent.atomic',
             'java.base/sun.nio.ch', 'java.base/sun.nio.cs', 'java.base/sun.security.action',
             'java.base/sun.util.calendar']

UNITS = {'throughput_per_s': '1/s', 'latency_p50_ms': 'ms', 'setup_s': 's', 'peak_rss_mb': 'MB', 'ok_rate': 'ratio'}
_SPARK = {'spark.build_ms': 'ms', 'spark.plan_ms': 'ms', 'spark.exec_ms': 'ms',
          'spark.jobs': 'count', 'spark.tasks': 'count', 'spark.task_cpu_ms': 'ms',
          'spark.gc_ms': 'ms', 'spark.shuffle_write_bytes': 'bytes', 'spark.spill_bytes': 'bytes',
          'spark.core_busy_ratio': 'ratio', 'spark.task_skew': 'ratio', 'spark.failed_tasks': 'count'}
# per-layer metrics of the traced run, each the median over its operations;
# a layer a workload does not call reads 0 there
PER_LAYER = {
    'comments.adapt_ms': 'ms', 'comments.rows_out': 'count',
    'pipeline.dedup_ms': 'ms', 'pipeline.dedup_keep_ratio': 'ratio',
    'pipeline.antijoin_ms': 'ms', 'pipeline.antijoin_keep_ratio': 'ratio',
    'pipeline.fused_gap_ms': 'ms',
    'textfunctions.clean_ms': 'ms',
    'sentiment.score_ms': 'ms', 'sentiment.shuffle_bytes': 'bytes',
    'moderation.classify_ms': 'ms', 'moderation.flag_ratio': 'ratio',
    'storage.append_ms': 'ms', 'storage.files_written': 'count', 'storage.bytes_written': 'bytes',
    'storage.open_ms': 'ms', 'storage.files_read': 'count', 'storage.prune_ratio': 'ratio',
    **{f'relational.{t}_ms': 'ms' for t in (
        'sentiment_share', 'toxicity_share', 'daily_counts', 'platform_counts',
        'top_threads', 'platform_day_count')},
    'dedup.band_ms': 'ms', 'dedup.probe_ms': 'ms', 'dedup.candidate_pairs': 'count',
    'dedup.confirm_ratio': 'ratio', 'dedup.merge_ms': 'ms', 'dedup.index_append_ms': 'ms',
    'materialize.index_build_s': 's',
    **_SPARK,
}


def run_jvm(classes, workload, inputs, work, seconds, trace):
    os.makedirs(os.path.join(work, 'tmp'))
    out = os.path.join(work, 'result.json')
    cp = classes + os.pathsep + os.path.join(build.spark_jars(), '*')
    # -XX:-UsePerfData: no hsperfdata file under /tmp; the run writes only in the checkout
    cmd = (['java', '-XX:-UsePerfData', f'-Xms{HEAP}', f'-Xmx{HEAP}', '-Xss4m',
            '-XX:ReservedCodeCacheSize=512m',
            f'-Djava.io.tmpdir={work}/tmp', '-Duser.timezone=UTC']
           + [x for p in ADD_OPENS for x in ('--add-opens', f'{p}=ALL-UNNAMED')]
           + ['-cp', cp, 'perfbench.Main', '--workload', workload, '--inputs', inputs,
              '--work', work, '--seconds', str(seconds), '--trace', str(trace),
              '--cores', str(CORES), '--out', out])
    log_path = os.path.join(OUT, 'logs', f'{workload}.log')
    os.makedirs(os.path.dirname(log_path), exist_ok=True)
    with open(log_path, 'w') as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = 'timeout'
    if rc != 0:
        with open(log_path) as f:
            tail = f.read()[-3000:]
        raise RuntimeError(f'benchmark JVM failed ({rc}); log {log_path}:\n{tail}')
    with open(out) as f:
        return json.load(f)


def end_to_end(workload, res, manifest, ok_ops):
    ops = res['ops']
    lat = [o['latency_ms'] for o in ops]
    if workload == 'ingest_enrich':
        units = sum(manifest['batches'][o['batch']]['rows'] for o in ops)
    else:
        units = len(ops)
    return {'throughput_per_s': units / res['window_s'],
            'latency_p50_ms': statistics.median(lat),
            'setup_s': res['setup_wall_s'],
            'peak_rss_mb': res['peak_rss_mb'],
            'ok_rate': ok_ops / len(ops)}


def per_layer(res):
    layers = dict(res.get('layers', {}))
    if 'nd' in res:
        layers['materialize.index_build_s'] = res['nd']['build_s']
    return {n: float(layers.get(n, 0.0)) for n in PER_LAYER}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument('--workload', required=True, choices=WORKLOADS)
    ap.add_argument('--seed', type=int, required=True)
    ap.add_argument('--seconds', type=float, required=True)
    ap.add_argument('--trace', type=int, choices=(0, 1), default=0)
    ap.add_argument('--corrupt', choices=('flip', 'drop', 'nd-flip', 'nd-drop'))
    a = ap.parse_args()

    try:
        classes = build.ensure(ROOT, OUT)
    except build.BuildError as e:
        sys.exit(f'build: {e}')
    t0 = time.time()
    # the traced ingest run also cuts out the near-dup gate, over documents
    inputs = gen.inputs(os.path.join(OUT, 'inputs'), a.workload, a.seed,
                        docs=a.trace == 1 and a.workload == 'ingest_enrich')
    t_gen = time.time()
    with open(os.path.join(inputs, 'manifest.json')) as f:
        manifest = json.load(f)
    # a fresh work directory per run: store, index, spark.local.dir, tmp
    work = os.path.join(OUT, 'runs', f'{a.workload}-{a.seed}-{os.getpid()}-{time.time_ns()}')
    try:
        res = run_jvm(classes, a.workload, inputs, work, a.seconds, a.trace)
        t_jvm = time.time()
        ok = check.CHECKS[a.workload](res, inputs, a.corrupt)
        print(f'phases: gen {t_gen - t0:.1f}s jvm {t_jvm - t_gen:.1f}s check {time.time() - t_jvm:.1f}s'
              f" | session {res['session_s']:.1f}s build {res['build_s']:.1f}s"
              f" warmup {res['warmup_s']:.1f}s ({len(res['warmup_ms'])} ops)"
              f" window {res['window_s']:.1f}s ({len(res['ops'])} ops)", file=sys.stderr)
        if a.trace:
            trace_dir = os.path.join(OUT, 'traces')
            os.makedirs(trace_dir, exist_ok=True)
            with open(os.path.join(trace_dir, f'{a.workload}-{a.seed}.json'), 'w') as f:
                json.dump({k: res[k] for k in res if k not in ('ops',)}, f)
    except RuntimeError as e:
        sys.exit(str(e))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    attempted = len(res['ops'])
    n_ok = sum(ok)
    metrics = per_layer(res) if a.trace else end_to_end(a.workload, res, manifest, n_ok)
    units = PER_LAYER if a.trace else UNITS
    print(json.dumps({
        'correct': n_ok == attempted,
        'attempted': attempted,
        'failed': attempted - n_ok,
        'metrics': {k: {'value': v, 'unit': units[k]}
                    for k, v in metrics.items()}}))


if __name__ == '__main__':
    main()
