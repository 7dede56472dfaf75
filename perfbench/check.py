"""Output checks: each workload's outputs against a recomputation that
shares no code with the library (DuckDB SQL, Python, numpy), over the
generated inputs and the planted truth. Every function returns a list
of mismatch descriptions; an empty list means the outputs are correct.
"""

import json
import math
import os
import xml.etree.ElementTree as ET
from decimal import Decimal, InvalidOperation, ROUND_HALF_UP

import duckdb
import numpy as np

from gen import jaccard


def _connect(run_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET memory_limit = '1GB'")
    con.execute(f"SET temp_directory = '{run_dir}/duckdb_tmp'")
    return con


def _close(a, b, tol=1e-9):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, str) or isinstance(b, str):
        return str(a) == str(b)
    a, b = float(a), float(b)
    if math.isnan(a) or math.isnan(b):
        return math.isnan(a) and math.isnan(b)
    return abs(a - b) <= tol + 1e-12 * max(abs(a), abs(b))


def _table(out, name):
    return (f"read_parquet('{out}/{name}/**/*.parquet', hive_partitioning = true, "
            f"union_by_name = true)")


def _same_rows(got, want, what, tols=None, limit=5):
    """Compare two lists of tuples in order; `tols` maps column index → tolerance."""
    errs = []
    if len(got) != len(want):
        return [f"{what}: {len(got)} rows, expected {len(want)}"]
    for i, (g, w) in enumerate(zip(got, want)):
        for j, (x, y) in enumerate(zip(g, w)):
            if not _close(x, y, (tols or {}).get(j, 1e-9)):
                errs.append(f"{what}: row {i} col {j}: {x!r} != {y!r}")
                break
        if len(errs) >= limit:
            break
    return errs


# ---------------------------------------------------------------- market_etl

PRICE_COLS = ("{'entity_id': 'BIGINT', 'date': 'DATE', 'open': 'DOUBLE', 'high': 'DOUBLE', "
              "'low': 'DOUBLE', 'close': 'DOUBLE', 'volume': 'DOUBLE'}")


def _price_view(con, prices):
    con.execute(f"""CREATE OR REPLACE VIEW px AS
        SELECT entity_id, date,
               CASE WHEN close IS NULL OR isnan(close) THEN 0.0 ELSE close END AS v
        FROM read_csv('{prices}/part-*', header = true, columns = {PRICE_COLS},
                      nullstr = '', auto_detect = false)""")


def check_rollups(con, prices, out):
    """Day/month/year grains and the combined key index against DuckDB."""
    _price_view(con, prices)
    got = con.execute(f"""SELECT period_key, agg_type, entity_id, value, year
        FROM {_table(out, 'daily')} ORDER BY ALL""").fetchall()
    want = con.execute("""SELECT DISTINCT strftime(date, '%Y-%m-%d'), 'day', entity_id, v,
        year(date) FROM px ORDER BY ALL""").fetchall()
    errs = _same_rows(got, want, "daily")
    for grain, fmt in (("monthly", "%Y-%m"), ("yearly", "%Y")):
        got = con.execute(f"""SELECT entity_id, period_key, agg_type, sum_value, max_value,
            min_value, cnt_value, avg_value, std_value FROM {_table(out, grain)}
            ORDER BY entity_id, period_key""").fetchall()
        tag = {"monthly": "month", "yearly": "year"}[grain]
        want = con.execute(f"""SELECT entity_id, strftime(date, '{fmt}') AS pk, '{tag}',
            CAST(sum(CAST(v AS DECIMAL(18,2))) AS DOUBLE), max(v), min(v), count(*),
            CAST(sum(CAST(v AS DECIMAL(18,2))) AS DOUBLE) / count(*),
            CASE WHEN count(*) > 1 THEN stddev_samp(v) END
            FROM px GROUP BY entity_id, pk ORDER BY entity_id, pk""").fetchall()
        # avg and std are published rounded to 4 decimals
        errs += _same_rows(got, want, grain, tols={7: 5.01e-5, 8: 1.01e-4})
    got = con.execute(f"""SELECT period_key, agg_type, entity_id
        FROM {_table(out, 'combined')} ORDER BY ALL""").fetchall()
    want = con.execute(" UNION ".join(
        f"SELECT DISTINCT strftime(date, '{fmt}'), '{tag}', entity_id FROM px"
        for fmt, tag in (("%Y-%m-%d", "day"), ("%Y-%m", "month"), ("%Y", "year")))
        + " ORDER BY ALL").fetchall()
    return errs + _same_rows(got, want, "combined")


def _parse_filings(filings):
    good, malformed = [], 0
    for name in sorted(os.listdir(filings)):
        for f in ET.parse(os.path.join(filings, name)).getroot():
            rev = f.findtext("revenue")
            try:
                rev = None if rev is None else Decimal(rev)
            except InvalidOperation:
                malformed += 1
                continue
            items = [(Decimal(i.findtext("amount")), Decimal(i.findtext("discount")))
                     for i in f.findall("item")]
            good.append(dict(id=int(f.findtext("filing_id")), ent=int(f.findtext("entity_id")),
                             year=f.findtext("year"), period=f.findtext("period"),
                             rev=rev, items=items))
    return good, malformed


def _rupiah(x):
    return "Rp " + f"{x:,.2f}".translate(str.maketrans(",.", ".,"))


def check_filings(con, filings, out, planted_malformed):
    good, malformed = _parse_filings(filings)
    errs = []
    if malformed != planted_malformed:
        errs.append(f"filings: parsed {malformed} malformed rows, planted {planted_malformed}")
    q = con.execute(f"SELECT count(*) FROM {_table(out, 'quarantine')}").fetchone()[0]
    if q != planted_malformed:
        errs.append(f"filings: {q} quarantined rows, planted {planted_malformed}")
    got = con.execute(f"""SELECT event_id, type_value, k_value FROM {_table(out, 'idx_kv')}
        ORDER BY event_id""").fetchall()
    want = [(g["id"], f"{g['year']}-{g['period']}",
             int(g["rev"] * 100) if g["rev"] is not None else 0)
            for g in sorted(good, key=lambda g: g["id"])]
    errs += _same_rows(got, want, "idx_kv")
    acc = {}
    for g in good:
        if not g["items"]:
            continue
        net = sum(a * (1 - d) for a, d in g["items"])
        disc = sum(a * d for a, d in g["items"])
        n, c = acc.get(g["ent"], (Decimal(0), Decimal(0)))
        acc[g["ent"]] = (n + net, c + disc)
    cent = Decimal("0.01")
    want = []
    for ent in sorted(acc):
        net, disc = acc[ent]
        rev = float(net.quantize(cent, ROUND_HALF_UP))
        profit = float((net - disc).quantize(cent, ROUND_HALF_UP))
        want.append((ent, rev, float(disc.quantize(cent, ROUND_HALF_UP)), profit,
                     round(profit / rev, 4) if rev != 0 else None))
    got = con.execute(f"""SELECT o_custkey, revenue, cost, profit, margin_ratio
        FROM {_table(out, 'idx_metrics')} ORDER BY o_custkey""").fetchall()
    errs += _same_rows(got, want, "idx_metrics", tols={4: 1.01e-4})
    got = con.execute(f"""SELECT o_orderkey, CAST(total AS DOUBLE), total_rupiah
        FROM {_table(out, 'idx_rupiah')} ORDER BY o_orderkey""").fetchall()
    want = [(g["id"], float(g["rev"]) if g["rev"] is not None else None,
             _rupiah(float(g["rev"])) if g["rev"] is not None else None)
            for g in sorted(good, key=lambda g: g["id"])]
    errs += _same_rows(got, want, "idx_rupiah")
    return errs


def check_market(run_dir, result, truth):
    out = result["checks"]["served"]
    inputs = os.path.join(run_dir, "inputs")
    con = _connect(run_dir)
    return (check_rollups(con, f"{inputs}/prices", out)
            + check_filings(con, f"{inputs}/filings", out, truth["filings"]["malformed"]))


# ----------------------------------------------------------------- api_serve

def _api_expected(con, served, api_tables, r):
    t = lambda name: _table(api_tables if name in ("customer", "part", "documents")  # noqa: E731
                            else served, name)
    op = r["op"]
    if op in ("point", "range", "period_keys"):
        g = t("monthly" if r["grain"] == "month" else "daily")
    if op == "point":
        return con.execute(f"SELECT * FROM {g} WHERE entity_id = ? AND period_key = ?",
                           [r["entity"], r["period"]]), False
    if op == "range":
        return con.execute(f"""SELECT * FROM {g} WHERE entity_id = ? AND period_key
            BETWEEN ? AND ? ORDER BY period_key""", [r["entity"], r["start"], r["end"]]), True
    if op == "period_keys":
        return con.execute(f"""SELECT DISTINCT period_key FROM {g} WHERE entity_id = ?
            ORDER BY period_key""", [r["entity"]]), True
    if op == "agg_types":
        return con.execute(f"""SELECT DISTINCT agg_type FROM {t('combined')}
            WHERE entity_id = ? ORDER BY agg_type""", [r["entity"]]), True
    if op == "detail":
        return con.execute(f"""SELECT p_partkey, p_name, p_brand, p_type, p_size,
            round(p_retailprice, 2) AS retailprice FROM {t('part')} WHERE p_partkey = ?""",
                           [r["partkey"]]), False
    if op == "search":
        return con.execute(f"""SELECT doc_id, source, lang,
            strftime(DATE '2024-01-01' + CAST((doc_id * 37) % 365 AS INTEGER), '%Y-%m-%d')
              AS published
            FROM {t('documents')} WHERE contains(lower(text), lower(?))
            ORDER BY published DESC, doc_id DESC""", [r["needle"]]), True
    if op == "report_list":
        lo, hi = (r["page"] - 1) * r["limit"], r["page"] * r["limit"]
        return con.execute(f"""WITH f AS (SELECT c_custkey, c_name FROM {t('customer')}
                WHERE contains(lower(c_name), lower(?))),
            n AS (SELECT c_custkey, c_name, row_number() OVER (ORDER BY c_custkey) AS rn FROM f)
            SELECT c_custkey, c_name, rn, (SELECT count(*) FROM f) AS total_count FROM n
            WHERE rn > ? AND rn <= ? ORDER BY rn""", [r["needle"], lo, hi]), True
    if op == "paginate":
        lo, hi = (r["page"] - 1) * r["limit"], r["page"] * r["limit"]
        return con.execute(f"""SELECT c_custkey, c_name, round(c_acctbal, 2) AS acctbal, rn
            FROM (SELECT *, row_number() OVER (ORDER BY c_acctbal DESC, c_custkey) AS rn
                  FROM {t('customer')}) WHERE rn > ? AND rn <= ? ORDER BY rn""",
                           [lo, hi]), True
    raise ValueError(op)


def check_api(run_dir, result, truth):
    served, api_tables = result["checks"]["served"], result["checks"]["api_tables"]
    with open(os.path.join(run_dir, "inputs", "requests.jsonl")) as f:
        reqs = [json.loads(line) for line in f if line.strip()]
    con = _connect(run_dir)
    errs = []
    samples = result["checks"]["samples"]
    missing = set(truth["kinds"]) - {s["op"] for s in samples}
    if missing:
        errs.append(f"api: no response sampled for {sorted(missing)}")
    for s in samples:
        r = reqs[s["request"] % len(reqs)]
        cur, ordered = _api_expected(con, served, api_tables, r)
        names = [d[0] for d in cur.description]
        want = [dict(zip(names, row)) for row in cur.fetchall()]
        cols = s["columns"]
        want = [tuple(w[c] for c in cols) for w in want]
        got = [tuple(row) for row in s["rows"]]
        if not ordered:
            key = lambda t: tuple("" if x is None else str(x) for x in t)  # noqa: E731
            got, want = sorted(got, key=key), sorted(want, key=key)
        errs += _same_rows(got, want, f"api request {s['request']} ({r['op']})")
    return errs


# ------------------------------------------------------------- corpus_curate

def check_topk(inputs, topk, mod, cap, k):
    rows = []
    for name in sorted(os.listdir(os.path.join(inputs, "embeddings"))):
        with open(os.path.join(inputs, "embeddings", name)) as f:
            rows += [json.loads(line) for line in f if line.strip()]
    ids = np.array([r["vec_id"] for r in rows])
    m = np.array([r["embedding"] for r in rows], dtype=np.float64)
    unit = m / np.linalg.norm(m, axis=1, keepdims=True)
    got = {}
    for q, v, c in topk:
        got.setdefault(q, []).append((v, c))
    errs = []
    queries = [i for i in ids if i % mod == 0 and i < cap]
    if sorted(got) != sorted(int(q) for q in queries):
        errs.append(f"topk: answered {len(got)} queries, expected {len(queries)}")
    pos = {int(i): n for n, i in enumerate(ids)}
    for q in queries:
        sims = unit @ unit[pos[int(q)]]
        sims[pos[int(q)]] = -np.inf
        best = np.sort(sims)[::-1][:k]
        ans = got.get(int(q), [])
        if len(ans) != k:
            errs.append(f"topk: query {q} has {len(ans)} answers")
            continue
        for (v, c), b in zip(ans, best):
            if abs(c - b) > 1.01e-4 or abs(sims[pos[int(v)]] - c) > 1.01e-4:
                errs.append(f"topk: query {q}: got ({v}, {c}), expected cos {b:.4f}")
                break
    return errs


def check_corpus(run_dir, result, truth):
    c = result["checks"]
    with open(os.path.join(run_dir, "texts.json")) as f:
        texts = {int(i): t for i, t in json.load(f).items()}
    errs = []
    if c["quarantined"] != truth["malformed"]:
        errs.append(f"corpus: {c['quarantined']} quarantined, planted {truth['malformed']}")
    for kind in ("phones", "emails"):
        if c[kind] != truth[kind]:
            errs.append(f"corpus: {c[kind]} {kind} found, planted {truth[kind]}")
    found = {(min(a, b), max(a, b)) for a, b, _ in c["pairs"]}
    found_batch = {(a, b) for a, b, _, _ in c["batch_pairs"]}
    for a, b, j, *_ in c["pairs"] + c["batch_pairs"]:
        if j < 0.5 or abs(jaccard(texts[a], texts[b]) - j) > 1e-9:
            errs.append(f"corpus: pair ({a}, {b}) reports Jaccard {j}")
            break
    done = set(c["batches_since_setup"])
    planted = [(min(a, b), max(a, b)) for a, b, _ in truth["dup_pairs"]]
    planted_batch = [(a, b) for a, b, _, k in truth["batch_pairs"] if k in done]
    hits = sum(p in found for p in planted) + sum(p in found_batch for p in planted_batch)
    recall = hits / (len(planted) + len(planted_batch))
    if recall < 0.95:
        errs.append(f"corpus: dup_recall {recall:.4f} below 0.95 at planted Jaccard "
                    f"{truth['jaccard_range']}")
    con = _connect(run_dir)
    curated = {r[0] for r in con.execute(
        f"SELECT doc_id FROM {_table(os.path.dirname(c['curated']), 'curated')}").fetchall()}
    both = [p for p in found if p[0] in curated and p[1] in curated]
    if both:
        errs.append(f"corpus: {len(both)} near-duplicate pairs both kept, e.g. {both[0]}")
    short = [i for i in curated if len(texts[i].split()) < 20]
    if short:
        errs.append(f"corpus: {len(short)} documents under 20 words kept, e.g. {short[0]}")
    want_idx = truth["docs"] + len(c["batches_since_setup"]) * truth["batch_docs"]
    if c["index_docs"] != want_idx:
        errs.append(f"corpus: index holds {c['index_docs']} docs, expected {want_idx}")
    q = c["topk_query"]
    errs += check_topk(os.path.join(run_dir, "inputs"), c["topk"], q["mod"], q["cap"], q["k"])
    return errs, recall

