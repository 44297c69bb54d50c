"""Seeded input generator for the graft benchmark.

Every input the program sees is written here as parquet, from the seed alone:
the same seed gives byte-identical inputs. Sizes and mixes are fixed per
workload and only the random draws change with the seed, so every seed asks
the program for the same amount of work.

Shapes follow the reference collectors (see `graft.schema.Comments`):
  reddit  (subreddit, post_id, body, score, created_utc epoch-s, comment_id)
  4chan   (post_number, comment HTML, timestamp_raw `MM/dd/yy(Day)HH:mm:ss`,
           name, image_filename)
  youtube (video_id, video_title, comment_id, comment_time ISO-`Z`,
           comment_text)
and the near-dup documents follow `scripts/gen_scale.py` (31-word vocabulary
shards of 5000 docs, lengths 8-108 words).
"""
import datetime as dt
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_VERSION = 8

# Workload parameters. They are recorded in BENCHMARK.json's `why` lines and
# in README.md; change them only together with those.
#
# Volumes follow the reference deployment (SURVEY.md section 6): 500K+
# comments a month, collected by an hourly Airflow DAG. That is
# 500000 / (30 * 24) = 694 comments per hourly batch, rounded to 700, and
# 24 * 700 = 16800 comments per day.
BATCH_COMMENTS = 700
PER_DAY = 24 * BATCH_COMMENTS
# ingest: the store holds one day of history; each operation is the next
# hourly batch, 10% of it re-delivered ids and 2% in-batch duplicates
INGEST = dict(batch_comments=BATCH_COMMENTS, history_comments=PER_DAY, batches=96,
              redelivered_share=0.10, in_batch_dup_share=0.02)
# dashboard: three days of the reference volume, queried over 1 to 3 days
DASHBOARD = dict(days=3, comments_per_day=PER_DAY, queries=2000)
NEARDUP = dict(base_docs=5000, batch_docs=1000, batches=30,
               planted_index_share=0.04, planted_batch_share=0.01)

CACHED_SEEDS = 10
START = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
DAY_S = 86400
PLATFORM_SHARE = (0.4, 0.3, 0.3)  # reddit, 4chan, youtube

# gen_scale.py's documents vocabulary (30 words)
DOC_VOCAB = ['a', 'agg', 'batch', 'big', 'column', 'customer', 'data', 'fast',
             'filter', 'group', 'hash', 'join', 'key', 'line', 'merge', 'order',
             'part', 'query', 'row', 'scan', 'slow', 'small', 'sort', 'spark',
             'stream', 'table', 'the', 'value', 'vector', 'window']
# comment vocabulary: the documents words plus sentiment-lexicon, moderation
# and topic words, so every enrichment layer has real work
COMMENT_VOCAB = DOC_VOCAB + ['good', 'great', 'love', 'win', 'bad', 'hate',
                             'error', 'crash', 'fail', 'recession', 'economy',
                             'vote', 'jobs', 'inflation', 'rates', 'market']
PUNCT = ['!', '?', ',', "'s", '.', '...']
TEXT_POOL = 20000
DOCS_PER_SHARD = 5000
WEEKDAYS = ['Mon', 'Tue', 'Wed', 'Thu', 'Fri', 'Sat', 'Sun']


def _texts(rng, vocab, n, lo=8, hi=108):
    lens = rng.integers(lo, hi + 1, n)
    words = np.asarray(vocab)[rng.integers(0, len(vocab), int(lens.sum()))]
    out, pos = [], 0
    for ln in lens:
        out.append(' '.join(words[pos:pos + ln]))
        pos += ln
    return out


def _comment_pool(rng):
    """Distinct comment bodies with URLs and punctuation sprinkled in."""
    base = _texts(rng, COMMENT_VOCAB, TEXT_POOL)
    url = rng.random(TEXT_POOL) < 0.2
    punct = rng.integers(0, len(PUNCT), TEXT_POOL)
    out = []
    for i, t in enumerate(base):
        if url[i]:
            t = f'{t} https://news.example.com/a/{i}?ref=feed more'
        out.append(t + PUNCT[punct[i]])
    return out


def _comments(rng, pool, n, first_id, start_s, span_s=DAY_S):
    """`n` fresh comments created in `span_s` seconds from `start_s` (seconds
    since START), as one record per comment: (platform, numeric id, body,
    epoch seconds, thread)."""
    plat = rng.choice(3, n, p=PLATFORM_SHARE)
    body = rng.integers(0, len(pool), n)
    secs = START.timestamp() + start_s + rng.integers(0, span_s, n)
    thread = rng.integers(0, 400, n)
    return [(int(plat[i]), first_id + i, pool[body[i]], int(secs[i]), int(thread[i]))
            for i in range(n)]


def _write_raw(records, out_dir):
    """Split comment records into the three reference source shapes."""
    os.makedirs(out_dir, exist_ok=True)
    r, c, y = ([rec for rec in records if rec[0] == p] for p in range(3))
    pq.write_table(pa.table({
        'subreddit': [f'sub{t % 5}' for _, _, _, _, t in r],
        'post_id': [f'p{t}' for _, _, _, _, t in r],
        'body': [b for _, _, b, _, _ in r],
        'score': pa.array([i % 100 for _, i, _, _, _ in r], pa.int32()),
        'created_utc': pa.array([s for _, _, _, s, _ in r], pa.int64()),
        'comment_id': [f'r{i}' for _, i, _, _, _ in r],
    }), f'{out_dir}/reddit.parquet')

    def chan_ts(s):
        d = dt.datetime.fromtimestamp(s, dt.timezone.utc)
        return d.strftime('%m/%d/%y') + f'({WEEKDAYS[d.weekday()]})' + d.strftime('%H:%M:%S')
    pq.write_table(pa.table({
        'post_number': pa.array([i for _, i, _, _, _ in c], pa.int64()),
        'comment': [f'<span class="quote">&gt;&gt;{i - 1}</span> <b>{b}</b> &amp; &quot;done&quot;'
                    for _, i, b, _, _ in c],
        'timestamp_raw': [chan_ts(s) for _, _, _, s, _ in c],
        'name': ['Anonymous'] * len(c),
        'image_filename': pa.array([None] * len(c), pa.string()),
    }), f'{out_dir}/chan.parquet')
    pq.write_table(pa.table({
        'video_id': [f'v{t}' for _, _, _, _, t in y],
        'video_title': ['recession talk'] * len(y),
        'comment_id': [f'y{i}' for _, i, _, _, _ in y],
        'comment_time': [dt.datetime.fromtimestamp(s, dt.timezone.utc).strftime('%Y-%m-%dT%H:%M:%SZ')
                         for _, _, _, s, _ in y],
        'comment_text': [b for _, _, b, _, _ in y],
    }), f'{out_dir}/youtube.parquet')


def gen_ingest(rng, out):
    p = INGEST
    pool = _comment_pool(rng)
    n = p['batch_comments']
    n_re = int(n * p['redelivered_share'])
    n_dup = int(n * p['in_batch_dup_share'])
    n_new = n - n_re - n_dup
    hist = _comments(rng, pool, p['history_comments'], 1, 0)
    next_id = 1 + len(hist)
    _write_raw(hist, f'{out}/history')
    prev = hist[-n_new:]
    batches = []
    for b in range(p['batches']):
        # batch b collects hour b of the days after the history
        fresh = _comments(rng, pool, n_new, next_id, DAY_S + b * 3600, 3600)
        next_id += n_new
        # the collector re-fetches an overlapping window: re-delivered rows
        # are identical copies of rows of the previous batch (already stored)
        redel = [prev[i] for i in rng.choice(len(prev), n_re, replace=False)]
        dups = [fresh[i] for i in rng.choice(len(fresh), n_dup, replace=False)]
        recs = fresh + redel + dups
        recs = [recs[i] for i in rng.permutation(len(recs))]
        _write_raw(recs, f'{out}/batch-{b:03d}')
        batches.append(dict(rows=len(recs), new=n_new, redelivered=n_re, in_batch_dups=n_dup))
        prev = fresh
    return dict(params=p, batches=batches, history_rows=len(hist))


def gen_dashboard(rng, out):
    p = DASHBOARD
    pool = _comment_pool(rng)
    recs, next_id = [], 1
    for d in range(p['days']):
        recs += _comments(rng, pool, p['comments_per_day'], next_id, d * DAY_S)
        next_id += p['comments_per_day']
    _write_raw(recs, f'{out}/history')
    # seeded query mix: six templates, date ranges from one day to the span
    templates = ['sentiment_share', 'toxicity_share', 'daily_counts',
                 'platform_counts', 'top_threads', 'platform_day_count']
    spans = [1, 1, 2, 2, 3, 3]
    days = [(START + dt.timedelta(days=d)).strftime('%Y-%m-%d') for d in range(p['days'])]
    # stratified, so every seed asks for the same work in a window of any
    # length: each block of six holds every template once, and template k
    # takes span (block + k) mod 6; the seed draws the order within a block,
    # the first day and the platform
    queries = []
    for block in range(p['queries'] // len(templates)):
        for k in rng.permutation(len(templates)):
            t = templates[k]
            span = spans[(block + k) % len(spans)]
            lo = int(rng.integers(0, p['days'] - span + 1))
            plat = ['reddit', '4chan', 'youtube'][rng.integers(0, 3)]
            queries.append(dict(template=t, lo=days[lo], hi=days[lo + span - 1],
                                platform=plat if t == 'platform_day_count' else None))
    with open(f'{out}/queries.json', 'w') as f:
        json.dump(queries, f)
    return dict(params=p, rows=len(recs))


def gen_docs(rng, out):
    """Documents for the near-dup gate, which the ingest_enrich traced run
    cuts out: a base corpus plus batches with planted near-duplicates. A near-copy is
    its source text plus ' dup' (the gen_scale.py model); sources have at
    least 20 words, so MinHash (3-shingles, 16 hashes, 8 bands) finds every
    planted pair with overwhelming probability."""
    p = NEARDUP
    os.makedirs(out, exist_ok=True)

    def shard_vocab(sh):
        return DOC_VOCAB if sh == 0 else [f'{w}{sh}' for w in DOC_VOCAB]

    ids, texts = [], []
    for sh in range(p['base_docs'] // DOCS_PER_SHARD):
        t = _texts(rng, shard_vocab(sh), DOCS_PER_SHARD)
        # 5% in-shard near-dups, as gen_scale.py
        for i in np.nonzero(rng.random(DOCS_PER_SHARD) < 0.05)[0]:
            if i > 0:
                t[i] = t[int(rng.integers(0, i))] + ' dup'
        ids += range(len(ids), len(ids) + DOCS_PER_SHARD)
        texts += t
    pq.write_table(pa.table({'doc_id': pa.array(ids, pa.int64()), 'text': texts}),
                   f'{out}/base.parquet')
    n_shards = p['base_docs'] // DOCS_PER_SHARD
    corpus = list(texts)
    planted = []
    n = p['batch_docs']
    n_idx = int(n * p['planted_index_share'])
    n_in = int(n * p['planted_batch_share'])
    for b in range(p['batches']):
        first = len(corpus)
        t = _texts(rng, shard_vocab(b % n_shards), n)
        long_prev = [i for i in rng.integers(0, first, 4 * n_idx)
                     if len(corpus[i].split()) >= 20][:n_idx]
        slots = rng.choice(n, n_idx + n_in, replace=False)
        for src, slot in zip(long_prev, slots[:n_idx]):
            t[slot] = corpus[src] + ' dup'
            planted.append((int(src), first + int(slot), b))
        taken = set(int(s) for s in slots)
        cands = [j for j in range(n) if j not in taken and len(t[j].split()) >= 20]
        for slot in slots[n_idx:]:
            src = cands[int(rng.integers(0, len(cands)))]
            t[slot] = t[src] + ' dup'
            planted.append((first + min(src, int(slot)), first + max(src, int(slot)), b))
        corpus += t
        pq.write_table(pa.table({'doc_id': pa.array(range(first, first + n), pa.int64()),
                                 'text': t}), f'{out}/batch-{b:03d}.parquet')
    with open(f'{out}/planted.json', 'w') as f:
        json.dump(planted, f)
    return dict(params=p, planted=len(planted))


GENERATORS = {'ingest_enrich': gen_ingest, 'dashboard_read': gen_dashboard, 'docs': gen_docs}


def _generate(out, name, seed):
    if os.path.exists(os.path.join(out, 'manifest.json')):
        return
    tmp = out + '.tmp'
    shutil.rmtree(tmp, ignore_errors=True)
    # the seed sequence mixes in the generator so inputs draw independently
    rng = np.random.default_rng([seed, list(GENERATORS).index(name)])
    manifest = GENERATORS[name](rng, tmp)
    manifest.update(inputs=name, seed=seed, gen_version=GEN_VERSION)
    with open(os.path.join(tmp, 'manifest.json'), 'w') as f:
        json.dump(manifest, f)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)


def inputs(cache_root, workload, seed, docs=False):
    """The input directory for (workload, seed), generated on first use;
    `docs` adds the near-dup documents under `docs/`. The cache keeps the
    CACHED_SEEDS most recently used seeds per workload."""
    root = os.path.join(cache_root, workload)
    out = os.path.join(root, f'seed-{seed}-v{GEN_VERSION}')
    _generate(out, workload, seed)
    if docs:
        _generate(os.path.join(out, 'docs'), 'docs', seed)
    os.utime(out)
    entries = sorted((os.path.getmtime(os.path.join(root, e)), e) for e in os.listdir(root))
    for _, e in entries[:-CACHED_SEEDS]:
        shutil.rmtree(os.path.join(root, e), ignore_errors=True)
    return out
