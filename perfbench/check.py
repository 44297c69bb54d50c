"""Output checks, run after the timed window. Each returns one bool per
timed operation: did it complete, and does its output match the oracle.

- ingest_enrich: the store must hold exactly the enrichment that DuckDB
  computes from the same raw batches with the q74 oracle logic
  (`SparkEntry.q74Sql`): row by row, and as the q74-shaped aggregate
  (platform, day, sentiment -> cnt, hate_cnt, sum_score).
- dashboard_read: each query's result must equal DuckDB's result over the
  store's parquet files.
- the near-dup gate of the traced ingest_enrich run: every planted
  near-duplicate pair must be found by its batch, and the incrementally
  merged components must equal a one-shot `Dedup.componentIndex` over the
  same documents.

`corrupt` ('flip' or 'drop') damages one output of the first timed operation
before checking, and 'nd-flip' or 'nd-drop' one output of the near-dup gate:
the self-test that the checks can fail.
"""
import glob
import json
from decimal import ROUND_HALF_UP, Decimal

import duckdb
import pyarrow.parquet as pq

# the deterministic sentiment lexicon (valence in tenths) and moderation
# terms the pipeline promises (`graft.functions.LexiconScore`,
# `graft.ops.Moderation`)
LEXICON = {'good': 19, 'great': 31, 'love': 32, 'win': 28, 'fast': 21, 'big': 12,
           'merge': 6, 'bad': -25, 'hate': -27, 'slow': -18, 'error': -22,
           'small': -9, 'crash': -30, 'fail': -23}
FLAG_TERMS = 'error|slow|bad|crash|fail'


def _con():
    con = duckdb.connect()
    con.execute("SET threads TO 2; SET TimeZone = 'UTC'")
    return con


def _plist(files):
    return '[' + ', '.join(f"'{f}'" for f in files) + ']'


def _store_scan(store):
    return (f"read_parquet('{store}/**/*.parquet', hive_partitioning = true, "
            f"hive_types_autocast = false)")


# ---------------------------------------------------------------- ingest

def _raw_sql(dirs):
    """The three source adapters over raw batch directories, tagged with the
    batch order (`src`, -1 for the history)."""
    def files(name):
        return _plist([f'{d}/{name}.parquet' for _, d in dirs])
    order = ' '.join(f"WHEN starts_with(filename, '{d}/') THEN {i}" for i, d in dirs)
    src = f'CASE {order} END AS src'
    html = ("regexp_replace(regexp_replace(replace(replace(replace(replace(replace("
            "regexp_replace(comment, '<[^>]+>', '', 'g'), '&gt;', '>'), '&lt;', '<'), "
            "'&quot;', '\"'), '&#039;', ''''), '&amp;', '&'), '>>\\d+', '', 'g'), '^>+', '')")
    return f"""
      SELECT 'reddit' AS platform, comment_id, body,
             make_timestamp(created_utc * CAST(1000000 AS BIGINT)) AS created_ts, {src}
      FROM read_parquet({files('reddit')}, filename = true)
      UNION ALL
      SELECT '4chan', CAST(post_number AS VARCHAR), {html},
             strptime(regexp_replace(timestamp_raw, '\\(\\w+\\)', ' ', 'g'), '%m/%d/%y %H:%M:%S'), {src}
      FROM read_parquet({files('chan')}, filename = true)
      UNION ALL
      SELECT 'youtube', comment_id, comment_text,
             strptime(comment_time, '%Y-%m-%dT%H:%M:%SZ'), {src}
      FROM read_parquet({files('youtube')}, filename = true)"""


def _expected_sql(dirs):
    lex = ', '.join(f"('{w}', {t})" for w, t in LEXICON.items())
    comp = 'coalesce(sv, 0.0) / sqrt(coalesce(sv, 0.0) * coalesce(sv, 0.0) + 15.0)'
    hits = f"CAST(len(regexp_extract_all(cb, '\\b({FLAG_TERMS})\\b')) AS DOUBLE)"
    return f"""
      WITH raw AS ({_raw_sql(dirs)}),
      firsts AS (SELECT platform, comment_id, min(src) AS src,
                 arg_min(body, src) AS body, arg_min(created_ts, src) AS created_ts
                 FROM raw GROUP BY 1, 2),
      cleaned AS (SELECT *, lower(regexp_replace(regexp_replace(body, 'https?://\\S+', '', 'g'),
                  '[^a-zA-Z0-9\\s]', '', 'g')) AS cb FROM firsts),
      lex(word, tenths) AS (VALUES {lex}),
      tok AS (SELECT platform, comment_id, unnest(regexp_split_to_array(cb, '\\s+')) AS word FROM cleaned),
      sc AS (SELECT platform, comment_id, sum(tenths) / 10.0 AS sv FROM tok JOIN lex USING (word)
             GROUP BY 1, 2)
      SELECT platform, comment_id, src, strftime(created_ts, '%Y-%m-%d') AS day,
             created_ts, cb AS cleaned_body,
             CASE WHEN {comp} >= 0.05 THEN 'positive' WHEN {comp} <= -0.05 THEN 'negative'
                  ELSE 'neutral' END AS sentiment,
             CAST(round({comp} * 10000) AS BIGINT) AS score_e4,
             CAST(round({hits} / ({hits} + 1.0) * 10000) AS BIGINT) AS conf_e4
      FROM cleaned LEFT JOIN sc USING (platform, comment_id)"""


def check_ingest(res, inputs, corrupt):
    done = [o['batch'] for o in res['ops']]
    dirs = [(-1, f'{inputs}/history')] + [(b, f'{inputs}/batch-{b:03d}') for b in done]
    con = _con()
    con.execute(f'CREATE TABLE expected AS {_expected_sql(dirs)}')
    con.execute(f"""CREATE TABLE got AS SELECT platform, comment_id, day, created_ts, cleaned_body,
        sentiment, CAST(round(sentiment_score * 10000) AS BIGINT) AS score_e4,
        CAST(round(hate_speech_confidence * 10000) AS BIGINT) AS conf_e4, is_hate_speech
        FROM {_store_scan(res['store'])}""")
    if corrupt in ('flip', 'drop') and done:
        victim = ("(SELECT comment_id FROM expected WHERE src = {} ORDER BY comment_id LIMIT 1)"
                  .format(done[0]))
        if corrupt == 'flip':
            con.execute(f"""UPDATE got SET sentiment = CASE sentiment WHEN 'positive' THEN 'negative'
                ELSE 'positive' END WHERE comment_id = {victim}""")
        else:
            con.execute(f'DELETE FROM got WHERE comment_id = {victim}')
    # row level: every expected row stored once, with the expected values;
    # a wrong row fails the batch that first delivered its id
    dups = con.execute("""SELECT count(*) FROM (SELECT platform, comment_id FROM got
        GROUP BY 1, 2 HAVING count(*) > 1)""").fetchone()[0]
    bad = con.execute("""
        SELECT DISTINCT coalesce(e.src, -2) FROM expected e FULL OUTER JOIN got g USING (platform, comment_id)
        WHERE e.comment_id IS NULL OR g.comment_id IS NULL
           OR g.day <> e.day OR g.created_ts <> e.created_ts OR g.cleaned_body <> e.cleaned_body
           OR g.sentiment <> e.sentiment OR g.score_e4 <> e.score_e4 OR g.conf_e4 <> e.conf_e4
           OR g.is_hate_speech <> (e.conf_e4 > 9000)""").fetchall()
    bad = {b for (b,) in bad}
    # the q74-shaped aggregate
    agg = """SELECT platform, day, sentiment, count(*) AS cnt,
             sum(CASE WHEN conf_e4 > 9000 THEN 1 ELSE 0 END) AS hate_cnt,
             sum(score_e4) AS sum_score_e4 FROM {} GROUP BY ALL ORDER BY ALL"""
    agg_ok = con.execute(agg.format('expected')).fetchall() == con.execute(agg.format('got')).fetchall()
    # a wrong aggregate, a wrong history or unattributable row, or an id
    # stored twice (re-delivery not skipped): the store is wrong for everyone
    everyone = not agg_ok or dups or bad & {-1, -2}
    ok = [o['completed'] and not everyone and o['batch'] not in bad for o in res['ops']]
    if 'nd' in res:
        ok = [a and b for a, b in zip(ok, check_neardup(res, corrupt))]
    return ok


# ------------------------------------------------------------- dashboard

def _half_up(x, dp):
    """Spark's round() of a double: HALF_UP on the double's decimal form."""
    return float(Decimal(repr(x)).quantize(Decimal(1).scaleb(-dp), rounding=ROUND_HALF_UP)) + 0.0


def _oracle(con, scan, q):
    f = f"SELECT * FROM {scan} WHERE day BETWEEN '{q['lo']}' AND '{q['hi']}'"
    t = q['template']
    if t == 'sentiment_share':
        rows = con.execute(f"""SELECT platform, sentiment, count(*) AS cnt,
            sum(count(*)) OVER (PARTITION BY platform) AS tot FROM ({f}) GROUP BY 1, 2""").fetchall()
        return [(p, s, c, ('f', c * 100.0 / t_, 2)) for p, s, c, t_ in rows]
    if t == 'toxicity_share':
        rows = con.execute(f"""SELECT is_hate_speech, count(*), sum(count(*)) OVER ()
            FROM ({f}) GROUP BY 1""").fetchall()
        return [(h, c, ('f', c * 100.0 / t_, 4)) for h, c, t_ in rows]
    if t == 'daily_counts':
        return con.execute(f"""SELECT strftime(date_trunc('day', created_ts), '%Y-%m-%d %H:%M:%S'),
            count(*) FROM ({f}) GROUP BY 1""").fetchall()
    if t == 'platform_counts':
        return con.execute(f"""SELECT platform, count(*) AS cnt FROM ({f}) GROUP BY 1
            ORDER BY cnt DESC, platform LIMIT 3""").fetchall()
    if t == 'top_threads':
        return con.execute(f"""SELECT parent_id, count(*) AS cnt FROM ({f})
            WHERE parent_id IS NOT NULL GROUP BY 1 ORDER BY cnt DESC, parent_id LIMIT 10""").fetchall()
    if t == 'platform_day_count':
        return con.execute(f"""SELECT platform, count(*) FROM ({f})
            WHERE platform = '{q['platform']}' GROUP BY 1""").fetchall()
    raise ValueError(t)


def _same(got, want):
    """Result rows equal as multisets. Exact columns must match exactly; a
    rounded float must be Spark's rounding of the oracle's exact value, or
    within half a unit of its last digit of it (decimal-string edge cases)."""
    if len(got) != len(want):
        return False
    key = lambda r: json.dumps([v for v in r if not isinstance(v, (float, tuple))], default=str)
    for g, w in zip(sorted(got, key=key), sorted(want, key=key)):
        if len(g) != len(w):
            return False
        for gv, wv in zip(g, w):
            if isinstance(wv, tuple):
                _, exact, dp = wv
                if not (isinstance(gv, float) and (gv == _half_up(exact, dp)
                                                   or abs(gv - exact) <= 0.5 * 10 ** -dp + 1e-9)):
                    return False
            elif gv != wv:
                return False
    return True


def check_dashboard(res, inputs, corrupt):
    with open(f'{inputs}/queries.json') as f:
        queries = json.load(f)
    ops = res['ops']
    if corrupt in ('flip', 'drop') and ops and ops[0].get('rows'):
        rows = ops[0]['rows']
        if corrupt == 'drop':
            rows.pop()
        else:
            r = rows[0]
            i = next(i for i, v in enumerate(r) if isinstance(v, (str, bool)))
            r[i] = (not r[i]) if isinstance(r[i], bool) else r[i] + '_flipped'
    con = _con()
    con.execute(f"CREATE TABLE store AS SELECT * FROM {_store_scan(res['store'])}")
    oracle, ok = {}, []
    for o in ops:
        q = queries[o['query']]
        k = json.dumps(q, sort_keys=True)
        if k not in oracle:
            oracle[k] = _oracle(con, 'store', q)
        got = [tuple(r) for r in o.get('rows', [])]
        ok.append(o['completed'] and _same(got, oracle[k]))
    return ok


# --------------------------------------------------------------- near-dup

def check_neardup(res, corrupt):
    """One bool per traced ingest batch b: the near-dup gate's step on
    document batch b found its planted pairs and left the right components."""
    nd = res['nd']
    with open(f"{nd['docs']}/planted.json") as f:
        planted = json.load(f)
    with open(f"{nd['docs']}/manifest.json") as f:
        p = json.load(f)['params']
    done = list(range(nd['batches_done']))

    def table(path):
        files = glob.glob(f'{path}/*.parquet')
        return pq.read_table(files).to_pylist() if files else []
    pairs = {b: {(r['id_a'], r['id_b']) for r in table(f"{nd['pairs_dir']}/{b:03d}")} for b in done}
    inc = {r['node']: r['component'] for r in table(nd['components'])}
    one = {r['node']: r['component'] for r in table(nd['oneshot_components'])}
    # damage the first planted pair of a processed batch: drop it from the
    # batch's pairs, or move its new document to another component
    hit = [(a, d, b) for a, d, b in planted if b in pairs]
    if corrupt == 'nd-drop' and hit:
        a, d, b = hit[0]
        pairs[b].discard((a, d))
    elif corrupt == 'nd-flip' and inc:
        node = hit[0][1] if hit else min(inc)
        inc[node] = inc[node] + 1

    def batch_of(node):
        return -1 if node < p['base_docs'] else (node - p['base_docs']) // p['batch_docs']
    bad = {batch_of(n) for n in set(inc) | set(one) if inc.get(n) != one.get(n)}
    bad |= {b for a, d, b in planted if b in pairs and (a, d) not in pairs[b]}
    return [-1 not in bad and b not in bad for b in done]


CHECKS = {'ingest_enrich': check_ingest, 'dashboard_read': check_dashboard}
