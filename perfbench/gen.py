"""Seeded input generator for the benchmark workloads.

Every input the library sees is written here, as text files, from one
`numpy` generator seeded with the run's `--seed`; the same seed gives
byte-identical files, and `content_hash` proves it. The generator also
writes `truth.json`: the properties it planted (null/NaN rates, the
missing column, malformed-row counts, near-duplicate pairs with their
Jaccard, PII counts, the Zipf skew of the request keys) and the input
sizes, so the checks never re-derive what was planted from the output.
"""

import datetime
import hashlib
import json
import os
import re

import numpy as np

# Input sizes, bounded by the run budget: every run pays a fixed JVM,
# session and JIT warm-up cost before it measures anything. API
# responses stay small; there are more incremental batches than one
# run can ingest. A timed phase serves about 8 requests/s on 4 cores,
# so 1000 requests last a 60 s phase with margin (the list wraps).
API = dict(entities=100, days=730, filings=4000, malformed_filings=17, customers=10000,
           parts=10000, documents=4000, requests=1000, zipf_s=0.99)
# The request mix: no traffic log exists for this API, so every kind
# gets the same share. Keys follow YCSB's bounded Zipfian request
# distribution with its default constant 0.99 (Cooper et al., SoCC 2010).
API_KINDS = ("point", "detail", "range", "period_keys", "agg_types", "search",
             "report_list", "paginate")
CORPUS = dict(docs=2000, low_quality=200, dup_pairs=80, malformed=13, batches=40,
              batch_docs=80, batch_dups=5, phones=30, emails=20, vectors=4000, dim=32)

NULL_RATE = 0.02
NAN_RATE = 0.01
DUP_ROW_RATE = 0.005
START = datetime.date(2021, 1, 1)
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is"],
    "es": ["el", "la", "de", "en", "es", "los", "que"],
    "de": ["der", "die", "das", "und", "ist", "ein", "zu"],
}
SYLLABLES = ["ka", "lo", "mi", "ten", "ra", "su", "vin", "po", "ne", "dar", "qui",
             "sto", "bel", "mu", "gra", "fe", "zan", "tri", "ol", "hu", "wes", "ja"]


def content_hash(root):
    """sha256 over every file under `root`, in sorted relative-path order."""
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        for name in sorted(filenames):
            path = os.path.join(dirpath, name)
            h.update(os.path.relpath(path, root).encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def _write_parts(dirpath, lines, parts, header=None, head="", tail=""):
    os.makedirs(dirpath, exist_ok=True)
    n = len(lines)
    for p in range(parts):
        chunk = lines[p * n // parts:(p + 1) * n // parts]
        with open(os.path.join(dirpath, f"part-{p:04d}"), "w") as f:
            if header:
                f.write(header + "\n")
            f.write(head)
            f.write("\n".join(chunk))
            f.write("\n")
            f.write(tail)


def _money(cents):
    sign, cents = ("-", -cents) if cents < 0 else ("", cents)
    return f"{sign}{cents // 100}.{cents % 100:02d}"


def _dates(days):
    return [(START + datetime.timedelta(d)).isoformat() for d in range(days)]


def prices(out, rng, entities, days):
    """OHLCV rows per (entity, day) in cents; nulls, NaNs and duplicate
    rows planted at fixed rates; the `adj_close` column the pipeline
    normalizes is missing from the files."""
    dates = _dates(days)
    start = rng.integers(1_000, 50_000, size=entities)
    steps = rng.normal(0.0, 0.02, size=(entities, days))
    close = np.maximum(100, (start[:, None] * np.exp(np.cumsum(steps, axis=1))).astype(np.int64))
    spread = rng.integers(0, 200, size=(4, entities, days))
    cols = [close + spread[0] - spread[1], close + spread[2], close - spread[3], close]
    volume = rng.integers(1_000, 5_000_000, size=(entities, days))
    fault = rng.random(size=(5, entities, days))
    dup = rng.random(size=(entities, days)) < DUP_ROW_RATE
    lines = []
    planted = {"null": 0, "nan": 0, "dup_rows": int(dup.sum())}
    for e in range(entities):
        for d in range(days):
            fields = []
            for c in range(5):
                u = fault[c, e, d]
                if u < NULL_RATE:
                    fields.append("")
                    planted["null"] += 1
                elif u < NULL_RATE + NAN_RATE:
                    fields.append("NaN")
                    planted["nan"] += 1
                elif c < 4:
                    fields.append(_money(int(max(1, cols[c][e, d]))))
                else:
                    fields.append(str(int(volume[e, d])))
            line = f"{e + 1},{dates[d]}," + ",".join(fields)
            lines.append(line)
            if dup[e, d]:
                lines.append(line)
    _write_parts(os.path.join(out, "prices"), lines, 8,
                 header="entity_id,date,open,high,low,close,volume")
    return {"rows": len(lines), "entities": entities, "days": days,
            "missing_columns": ["adj_close"], "planted": planted,
            "null_rate": NULL_RATE, "nan_rate": NAN_RATE}


def filings(out, rng, n, malformed, entities):
    """XBRL-like filings, one `<filing>` element per report with
    repeated `<item>` line items; `malformed` rows carry a non-numeric
    revenue and some filings have no revenue or no items at all."""
    bad = set(rng.choice(n, size=malformed, replace=False).tolist())
    rows = []
    for i in range(n):
        fid = i + 1
        ent = int(rng.integers(1, entities + 1))
        year = 2019 + int(rng.integers(0, 5))
        period = f"Q{int(rng.integers(1, 5))}"
        u = rng.random()
        if i in bad:
            rev = "<revenue>n/a</revenue>"
        elif u < 0.01:
            rev = ""
        else:
            rev = f"<revenue>{_money(int(rng.integers(10_000, 10**10)))}</revenue>"
        items = "".join(
            f"<item><amount>{_money(int(rng.integers(100, 10**8)))}</amount>"
            f"<discount>0.{int(rng.integers(0, 30)):02d}</discount></item>"
            for _ in range(0 if rng.random() < 0.02 else int(rng.integers(1, 6))))
        rows.append(f"<filing><filing_id>{fid}</filing_id><entity_id>{ent}</entity_id>"
                    f"<year>{year}</year><period>{period}</period>{rev}{items}</filing>")
    _write_parts(os.path.join(out, "filings"), rows, 4,
                 head="<filings>\n", tail="</filings>\n")
    return {"rows": n, "malformed": malformed}


def _vocab(rng, n):
    words = set()
    while len(words) < n:
        k = int(rng.integers(2, 4))
        words.add("".join(SYLLABLES[int(j)] for j in rng.integers(0, len(SYLLABLES), size=k)))
    return sorted(words)


def _sentence_text(rng, vocab, lang, n_words):
    stops = STOPWORDS[lang]
    ws = rng.integers(0, len(vocab), size=n_words)
    sw = rng.random(size=n_words) < 0.3
    si = rng.integers(0, len(stops), size=n_words)
    out = []
    for i in range(n_words):
        out.append(stops[si[i]] if sw[i] else vocab[ws[i]])
        if i % 12 == 11:
            out[-1] += "."
    return " ".join(out)


def api_inputs(out, rng):
    cfg = API
    truth = {"prices": prices(out, rng, cfg["entities"], cfg["days"]),
             "filings": filings(out, rng, cfg["filings"], cfg["malformed_filings"],
                                cfg["entities"])}
    tags = [f"tag{i:04d}" for i in range(1000)]
    segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    lines = []
    for k in range(1, cfg["customers"] + 1):
        lines.append(f"{k},Customer {tags[int(rng.integers(0, len(tags)))]} {k:06d},"
                     f"{_money(int(rng.integers(-99_999, 999_999)))}"
                     + f",{segs[int(rng.integers(0, 5))]}")
    _write_parts(os.path.join(out, "customer"), lines, 4,
                 header="c_custkey,c_name,c_acctbal,c_mktsegment")
    vocab = _vocab(rng, 400)
    lines = []
    for k in range(1, cfg["parts"] + 1):
        name = " ".join(vocab[int(j)] for j in rng.integers(0, len(vocab), size=3))
        lines.append(f"{k},{name},Brand#{int(rng.integers(1, 6))}{int(rng.integers(1, 6))},"
                     f"TYPE{int(rng.integers(0, 150))},{int(rng.integers(1, 51))},"
                     f"{_money(int(rng.integers(90_000, 210_000)))}")
    _write_parts(os.path.join(out, "part"), lines, 4,
                 header="p_partkey,p_name,p_brand,p_type,p_size,p_retailprice")
    doc_tags = [f"news{i:04d}" for i in range(600)]
    lines = []
    langs = list(STOPWORDS)
    for k in range(1, cfg["documents"] + 1):
        lang = langs[int(rng.integers(0, 3))]
        text = _sentence_text(rng, vocab, lang, int(rng.integers(20, 60)))
        text += " " + doc_tags[int(rng.integers(0, len(doc_tags)))]
        lines.append(json.dumps({"doc_id": k, "source": f"src{int(rng.integers(0, 50))}",
                                 "lang": lang, "text": text}, sort_keys=True))
    _write_parts(os.path.join(out, "documents"), lines, 4)

    # Zipf-skewed keys: P(rank r) ∝ 1 / r^s over the n keys, mapped
    # through a seeded permutation so the hot keys are not the smallest ids.
    def zipf_keys(n):
        p = 1.0 / np.arange(1, n + 1) ** cfg["zipf_s"]
        return rng.permutation(n) + 1, p / p.sum()

    ent_keys, part_keys = zipf_keys(cfg["entities"]), zipf_keys(cfg["parts"])

    def zipf(keys):
        perm, p = keys
        return int(perm[int(rng.choice(len(perm), p=p))])

    months = sorted({d[:7] for d in _dates(cfg["days"])})
    days = _dates(cfg["days"])
    # stratified mix: every block of 8 requests holds each kind once, in
    # a seeded order, so a run's mix does not vary by seed
    kinds = [op for _ in range(cfg["requests"] // len(API_KINDS))
             for op in rng.permutation(API_KINDS).tolist()]
    reqs = []
    for op in kinds:
        r = {"op": op}
        if op in ("point", "range", "period_keys"):
            r["grain"] = ("month", "day")[int(rng.integers(0, 2))]
            r["entity"] = zipf(ent_keys)
        if op == "point":
            keys = months if r["grain"] == "month" else days
            r["period"] = keys[int(rng.integers(0, len(keys)))]
        elif op == "range":
            if r["grain"] == "month":
                i = int(rng.integers(0, len(months) - 3))
                r["start"], r["end"] = months[i], months[i + 2]
            else:
                i = int(rng.integers(0, len(days) - 31))
                r["start"], r["end"] = days[i], days[i + 30]
        elif op == "agg_types":
            r["entity"] = zipf(ent_keys)
        elif op == "detail":
            r["partkey"] = zipf(part_keys)
        elif op == "search":
            r["needle"] = doc_tags[int(rng.integers(0, len(doc_tags)))]
        elif op == "report_list":
            r["needle"] = tags[int(rng.integers(0, len(tags)))]
            r["page"], r["limit"] = int(rng.integers(1, 4)), 9
        elif op == "paginate":
            r["page"], r["limit"] = int(rng.integers(1, 6)), 9
        reqs.append(json.dumps(r, sort_keys=True))
    with open(os.path.join(out, "requests.jsonl"), "w") as f:
        f.write("\n".join(reqs) + "\n")
    truth.update(customers=cfg["customers"], parts=cfg["parts"], documents=cfg["documents"],
                 requests=cfg["requests"], zipf_s=cfg["zipf_s"], kinds=list(API_KINDS))
    return truth


def _shingles(text, k=5):
    s = " ".join(text.split()).lower()
    if len(s) <= k:
        return {s}
    return {s[i:i + k] for i in range(len(s) - k + 1)}


def jaccard(a, b):
    sa, sb = _shingles(a), _shingles(b)
    return len(sa & sb) / len(sa | sb)


def _near_dup(rng, text, lo=0.90, hi=0.97):
    """A copy of `text` with a few words replaced, re-drawn until its
    char-5 Jaccard with the original lies in [lo, hi]."""
    words = text.split()
    while True:
        w = list(words)
        for i in rng.choice(len(w), size=max(1, len(w) // 40), replace=False):
            w[int(i)] = w[int(i)][::-1] + "x"
        cand = " ".join(w)
        j = jaccard(text, cand)
        if lo <= j <= hi:
            return cand, j


def corpus_inputs(out, rng):
    cfg = CORPUS
    vocab = {lang: _vocab(rng, 1500) for lang in STOPWORDS}
    langs = list(STOPWORDS)
    next_id = [1]

    def doc(text=None, lang=None):
        lang = lang or langs[int(rng.integers(0, 3))]
        if text is None:
            text = _sentence_text(rng, vocab[lang], lang, int(rng.integers(60, 140)))
        d = {"doc_id": next_id[0], "source": f"site{int(rng.integers(0, 40))}",
             "lang": lang, "text": text}
        next_id[0] += 1
        return d

    docs = [doc() for _ in range(cfg["docs"] - cfg["dup_pairs"] - cfg["low_quality"])]
    n_long = len(docs)
    # low-quality documents: too short for the quality filter's 20 words
    docs += [doc(_sentence_text(rng, vocab["en"], "en", int(rng.integers(5, 15))), "en")
             for _ in range(cfg["low_quality"])]
    # PII: phone numbers and e-mail addresses in known documents
    for kind, n in (("phone", cfg["phones"]), ("email", cfg["emails"])):
        for i in rng.choice(len(docs), size=n, replace=False):
            d = docs[int(i)]
            if kind == "phone":
                pii = f"call {int(rng.integers(10, 100))}-{int(rng.integers(100, 1000))}-" \
                      f"{int(rng.integers(100, 1000))}-{int(rng.integers(1000, 10000))} now"
            else:
                pii = f"mail user{int(rng.integers(0, 10**6))}@example.com today"
            d["text"] = d["text"] + " " + pii
    pairs = []
    for i in rng.choice(n_long, size=cfg["dup_pairs"], replace=False):
        src = docs[int(i)]
        text, j = _near_dup(rng, src["text"])
        d = doc(text, src["lang"])
        docs.append(d)
        pairs.append([src["doc_id"], d["doc_id"], round(j, 6)])
    lines = [json.dumps(d, sort_keys=True) for d in docs]
    bad_at = sorted(rng.choice(len(lines) + cfg["malformed"], size=cfg["malformed"],
                               replace=False).tolist())
    for k, pos in enumerate(bad_at):
        bad = '{"doc_id": %d, "lang": "en", "text": "truncated' % (10**7 + k) if k % 2 \
            else '{"doc_id": "not-a-number-%d", "lang": "en", "text": "x"}' % k
        lines.insert(pos, bad)
    _write_parts(os.path.join(out, "corpus"), lines, 4)
    texts = {d["doc_id"]: d["text"] for d in docs}

    batch_pairs = []
    for b in range(cfg["batches"]):
        batch = [doc() for _ in range(cfg["batch_docs"] - cfg["batch_dups"])]
        for i in rng.choice(n_long, size=cfg["batch_dups"], replace=False):
            src = docs[int(i)]
            text, j = _near_dup(rng, src["text"])
            d = doc(text, src["lang"])
            batch.append(d)
            batch_pairs.append([d["doc_id"], src["doc_id"], round(j, 6), b])
        texts.update({d["doc_id"]: d["text"] for d in batch})
        _write_parts(os.path.join(out, f"batch{b}"), [json.dumps(d, sort_keys=True)
                                                      for d in batch], 1)

    centers = rng.normal(0, 1, size=(16, cfg["dim"]))
    labels = rng.integers(0, 16, size=cfg["vectors"])
    vecs = centers[labels] + rng.normal(0, 0.6, size=(cfg["vectors"], cfg["dim"]))
    lines = [json.dumps({"vec_id": i + 1, "label": int(labels[i]),
                         "embedding": [float(f"{x:.5f}") for x in vecs[i]]})
             for i in range(cfg["vectors"])]
    _write_parts(os.path.join(out, "embeddings"), lines, 4)

    phone = re.compile(r"\b\d{2}-\d{3}-\d{3}-\d{4}\b")
    email = re.compile(r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}")
    corpus_texts = [d["text"] for d in docs]
    with open(os.path.join(out, "..", "texts.json"), "w") as f:
        json.dump({str(k): v for k, v in texts.items()}, f)
    return {"docs": len(docs), "low_quality": cfg["low_quality"],
            "malformed": cfg["malformed"], "dup_pairs": pairs,
            "batch_pairs": batch_pairs, "batches": cfg["batches"],
            "batch_docs": cfg["batch_docs"],
            "phones": sum(len(phone.findall(t)) for t in corpus_texts),
            "emails": sum(len(email.findall(t)) for t in corpus_texts),
            "vectors": cfg["vectors"], "dim": cfg["dim"],
            "jaccard_range": [0.90, 0.97]}


def generate(workload, seed, run_dir):
    """Write `workload`'s inputs under `run_dir/inputs` and the planted
    truth to `run_dir/truth.json`; return the truth."""
    rng = np.random.default_rng([seed % 2**63, len(workload)])
    out = os.path.join(run_dir, "inputs")
    os.makedirs(out, exist_ok=True)
    if workload == "api_serve":
        truth = api_inputs(out, rng)
    elif workload == "corpus_curate":
        truth = corpus_inputs(out, rng)
    else:
        raise ValueError(f"unknown workload {workload}")
    truth["seed"] = seed
    truth["input_bytes"] = sum(os.path.getsize(os.path.join(d, f))
                               for d, _, fs in os.walk(out) for f in fs)
    truth["content_hash"] = content_hash(out)
    with open(os.path.join(run_dir, "truth.json"), "w") as f:
        json.dump(truth, f, sort_keys=True)
    return truth
