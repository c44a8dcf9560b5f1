"""Seeded input generators for the three benchmark workloads.

Every generator is a pure function of its seed and size arguments: the
same arguments give byte-identical files, and each writes a `truth.json`
next to its inputs that the harness checks graft's outputs against.
graft itself only ever reads the data files, never the truth.

- taxi_arrivals: daily taxi-trip CSV files shaped like the reference's
  green/yellow trip-record tables, with malformed rows, an all-empty
  column and occasional re-deliveries of an earlier day.
- corpus: a documents table (doc_id, text, lang, source, n_chars) over a
  Zipf vocabulary, with planted exact duplicates, near duplicates at
  known token edit rates, benchmark n-gram contamination, and short
  query documents for retrieval.
- query_batches: batches of query-document ids drawn from a Zipf law
  over the query pool, so hot queries (and their terms) repeat.
"""

import bisect
import datetime
import json
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

GREEN = "green_taxi_trip_record"
YELLOW = "yellow_taxi_trip_record"

# Column lists of the reference's trip-record tables (lower-cased the
# way the reference's catalog registers them).
TAXI_COLUMNS = {
    GREEN: ["vendorid", "lpep_pickup_datetime", "lpep_dropoff_datetime",
            "store_and_fwd_flag", "ratecodeid", "pulocationid",
            "dolocationid", "passenger_count", "trip_distance",
            "fare_amount", "extra", "mta_tax", "tip_amount",
            "tolls_amount", "ehail_fee", "improvement_surcharge",
            "total_amount", "payment_type", "trip_type",
            "congestion_surcharge"],
    YELLOW: ["vendorid", "tpep_pickup_datetime", "tpep_dropoff_datetime",
             "passenger_count", "trip_distance", "ratecodeid",
             "store_and_fwd_flag", "pulocationid", "dolocationid",
             "payment_type", "fare_amount", "extra", "mta_tax",
             "tip_amount", "tolls_amount", "improvement_surcharge",
             "total_amount", "congestion_surcharge"],
}
# The column each table leaves empty in every row.
TAXI_NULL_COLUMN = {GREEN: "ehail_fee", YELLOW: "congestion_surcharge"}
# The seven measures the purpose-built SQL sums; money is in cents and
# trip_distance in hundredths of a mile, so the truth sums are exact.
MEASURES = ["passenger_count", "trip_distance", "fare_amount", "extra",
            "tip_amount", "tolls_amount", "total_amount"]
START_DAY = datetime.date(2019, 1, 1)


def _write_json(path, obj):
    with open(path, "w") as f:
        json.dump(obj, f, indent=1, sort_keys=True)
        f.write("\n")


def _cents(v):
    return "%d.%02d" % divmod(v, 100)


def _taxi_row(rng, table, day):
    """One valid trip: (csv fields, measure values in integer units)."""
    pick = datetime.datetime(day.year, day.month, day.day) + \
        datetime.timedelta(seconds=rng.randrange(86400 - 7200))
    drop = pick + datetime.timedelta(seconds=rng.randrange(120, 7200))
    vendor = "" if rng.random() < 0.02 else str(rng.choice((1, 2)))
    m = {
        "passenger_count": rng.randint(1, 6),
        "trip_distance": rng.randint(10, 2500),
        "fare_amount": rng.randint(250, 9000),
        "extra": rng.choice((0, 50, 100)),
        "tip_amount": rng.choice((0, 0, rng.randint(0, 2000))),
        "tolls_amount": rng.choice((0, 0, 0, 576)),
    }
    mta, surcharge = 50, 30
    m["total_amount"] = (m["fare_amount"] + m["extra"] + m["tip_amount"]
                         + m["tolls_amount"] + mta + surcharge)
    v = {
        "vendorid": vendor,
        "pickup": pick.strftime("%Y-%m-%d %H:%M:%S"),
        "dropoff": drop.strftime("%Y-%m-%d %H:%M:%S"),
        "store_and_fwd_flag": "Y" if rng.random() < 0.01 else "N",
        "ratecodeid": str(rng.choice((1, 1, 1, 2, 5))),
        "pulocationid": str(rng.randint(1, 40)),
        "dolocationid": str(rng.randint(1, 40)),
        "passenger_count": str(m["passenger_count"]),
        "trip_distance": _cents(m["trip_distance"]),
        "fare_amount": _cents(m["fare_amount"]),
        "extra": _cents(m["extra"]),
        "mta_tax": _cents(mta),
        "tip_amount": _cents(m["tip_amount"]),
        "tolls_amount": _cents(m["tolls_amount"]),
        "improvement_surcharge": _cents(surcharge),
        "total_amount": _cents(m["total_amount"]),
        "payment_type": str(rng.choice((1, 1, 2, 3))),
        "trip_type": str(rng.choice((1, 2))),
        "congestion_surcharge": _cents(0),
    }
    fields = []
    for c in TAXI_COLUMNS[table]:
        if c == TAXI_NULL_COLUMN[table]:
            fields.append("")
        elif c.endswith("_pickup_datetime"):
            fields.append(v["pickup"])
        elif c.endswith("_dropoff_datetime"):
            fields.append(v["dropoff"])
        else:
            fields.append(v[c])
    return fields, m


def taxi_arrivals(out_dir, seed, n_arrivals, rows_per_arrival):
    """Write `n_arrivals` daily CSV files under out_dir/arrivals and
    out_dir/truth.json; return the truth.

    Arrivals alternate between the green and yellow tables. One in eight
    (the sixth, the fourteenth, ...) re-delivers a random earlier day of
    its table with fresh rows, which must replace that day's partition.
    About 1% of lines are malformed (a field short or a field long) and
    must be dropped by the ingest."""
    rng = random.Random("taxi:%d" % seed)
    os.makedirs(os.path.join(out_dir, "arrivals"), exist_ok=True)
    next_day = {GREEN: 0, YELLOW: 0}
    arrivals = []
    for i in range(n_arrivals):
        table = (GREEN, YELLOW)[i % 2]
        redeliver = i % 8 == 5
        if redeliver:
            day_no = rng.randrange(next_day[table])
        else:
            day_no = next_day[table]
            next_day[table] += 1
        day = START_DAY + datetime.timedelta(days=day_no)
        n = rows_per_arrival + rng.randint(-rows_per_arrival // 10,
                                           rows_per_arrival // 10)
        lines = [",".join(TAXI_COLUMNS[table])]
        totals = {k: 0 for k in MEASURES}
        valid = 0
        for _ in range(n):
            fields, m = _taxi_row(rng, table, day)
            r = rng.random()
            if r < 0.006:
                fields = fields[:-1]
            elif r < 0.01:
                fields = fields + ["999"]
            else:
                valid += 1
                for k in MEASURES:
                    totals[k] += m[k]
            lines.append(",".join(fields))
        name = "%04d_%s_%s.csv" % (i, table, day.isoformat())
        data = ("\n".join(lines) + "\n").encode()
        with open(os.path.join(out_dir, "arrivals", name), "wb") as f:
            f.write(data)
        arrivals.append({"file": "arrivals/" + name, "table": table,
                         "date": day.isoformat(), "lines": n,
                         "bytes": len(data), "valid": valid,
                         "sums": totals, "redelivery": redeliver})
    truth = {"arrivals": arrivals, "measures": MEASURES,
             "null_column": TAXI_NULL_COLUMN}
    _write_json(os.path.join(out_dir, "truth.json"), truth)
    return truth


# ---- corpus ------------------------------------------------------------

DOC_PARTS = 8
STOPWORDS = ["the", "of", "and", "to", "a", "in", "is", "it", "that", "for"]
LETTERS = "abcdefghijklmnopqrstuvwxyz"


class _Zipf:
    """Draws ranks 0..n-1 with P(r) proportional to 1/(r+1)^s."""

    def __init__(self, n, s):
        acc, self.cum = 0.0, []
        for r in range(n):
            acc += 1.0 / (r + 1) ** s
            self.cum.append(acc)

    def draw(self, rng):
        return bisect.bisect_left(self.cum, rng.random() * self.cum[-1])


def _vocab(rng, n):
    words, seen = list(STOPWORDS), set(STOPWORDS)
    while len(words) < n:
        w = "".join(rng.choice(LETTERS) for _ in range(rng.randint(3, 9)))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def _text(toks):
    return (" ".join(toks)).capitalize() + "."


def _tokens(text):
    """graft's TextFns.tokens: lower-cased [a-z0-9]+ runs."""
    out, cur = [], []
    for ch in text.lower():
        if "a" <= ch <= "z" or "0" <= ch <= "9":
            cur.append(ch)
        elif cur:
            out.append("".join(cur))
            cur = []
    if cur:
        out.append("".join(cur))
    return out


def shingle_jaccard(a, b, k=3):
    """Jaccard of the distinct word k-shingle sets of two texts."""
    def sh(t):
        toks = _tokens(t)
        return {tuple(toks[i:i + k]) for i in range(len(toks) - k + 1)}
    x, y = sh(a), sh(b)
    return len(x & y) / len(x | y) if x | y else 0.0


def corpus(out_dir, seed, n_docs, n_queries=0, n_bench=100):
    """Write out_dir/documents.parquet, out_dir/benchmark.parquet and
    out_dir/truth.json; return the truth.

    Base documents carry 22-60 Zipf-drawn tokens (inside TextFns'
    default quality window); 8% are deliberately too short or too long.
    Planted, on disjoint documents: 4% exact copies of an earlier
    document, 4% near copies at token edit rates 0.03, 0.06 and 0.15,
    and 2% documents carrying a 13-16 token span of a benchmark
    document. `n_queries` short query documents (source 'query', 3-6
    Zipf-drawn terms) are appended last."""
    rng = random.Random("corpus:%d" % seed)
    vocab = _vocab(rng, 6000)
    zipf = _Zipf(len(vocab), 1.05)

    def draw(n):
        return [vocab[zipf.draw(rng)] for _ in range(n)]

    langs = ["en"] * 7 + ["es", "es", "de"]
    sources = ["web", "web", "web", "books", "forum", "news"]
    bench = [draw(rng.randint(30, 45)) for _ in range(n_bench)]
    texts, meta = [], []
    for i in range(n_docs):
        r = rng.random()
        n = (rng.randint(5, 12) if r < 0.04 else
             rng.randint(90, 110) if r < 0.08 else rng.randint(22, 60))
        texts.append(draw(n))
        meta.append((rng.choice(langs), rng.choice(sources)))
    # planted documents sit inside TextFns.qualityKeep's default window
    # (100-450 characters, 20+ tokens), so only graft's dedup and
    # decontamination decide their fate
    good = [i for i in range(n_docs) if 22 <= len(texts[i]) <= 60
            and 100 <= len(_text(texts[i])) <= 400]
    rng.shuffle(good)
    n_plant = n_docs // 25
    exact_src = good[:n_plant]
    near_src = good[n_plant:2 * n_plant]
    contam = sorted(good[2 * n_plant:2 * n_plant + n_docs // 50])
    used = set(exact_src) | set(near_src) | set(contam)
    free = [i for i in range(n_docs) if i not in used]
    # the copies overwrite later, unplanted docs so every copy's id is
    # larger than its original's (exact dedup keeps the minimum id)
    exact, near = [], []
    for src in exact_src:
        later = [j for j in free[-64:] if j > src]
        if not later:
            continue
        dst = later[rng.randrange(len(later))]
        free.remove(dst)
        texts[dst] = list(texts[src])
        meta[dst] = meta[src]
        exact.append([src, dst])
    rates = [0.03, 0.06, 0.15]
    for src in near_src:
        later = [j for j in free[-64:] if j > src]
        if not later:
            continue
        dst = later[rng.randrange(len(later))]
        free.remove(dst)
        p = rates[len(near) % 3]
        toks = list(texts[src])
        # exactly round(p * n) tokens, at least one, change to another word
        for t in rng.sample(range(len(toks)), max(1, round(p * len(toks)))):
            w = toks[t]
            while w == toks[t]:
                w = draw(1)[0]
            toks[t] = w
        texts[dst] = toks
        meta[dst] = meta[src]
        near.append([src, dst, p])
    for d in contam:
        span = bench[rng.randrange(n_bench)]
        ln = rng.randint(13, 16)
        st = rng.randrange(len(span) - ln + 1)
        # at most 55 tokens in all, which keeps the document inside the
        # quality window's 450 characters
        toks = texts[d][:55 - ln]
        pos = rng.randrange(len(toks) + 1)
        texts[d] = toks[:pos] + span[st:st + ln] + toks[pos:]
        while len(_text(texts[d])) > 450:
            texts[d].pop(0 if pos > 0 else -1)
            pos = max(pos - 1, 0)
    queries = []
    for _ in range(n_queries):
        texts.append(draw(rng.randint(3, 6)))
        meta.append(("en", "query"))
        queries.append(len(texts) - 1)
    rows = [_text(t) for t in texts]
    table = pa.table({
        "doc_id": pa.array(range(len(rows)), pa.int64()),
        "text": pa.array(rows, pa.string()),
        "lang": pa.array([m[0] for m in meta], pa.string()),
        "source": pa.array([m[1] for m in meta], pa.string()),
        "n_chars": pa.array([len(t) for t in rows], pa.int32()),
    })
    # a directory of part files, as a Spark writer leaves a table, so
    # scans split across the cores
    docs_dir = os.path.join(out_dir, "documents.parquet")
    os.makedirs(docs_dir, exist_ok=True)
    step = -(-table.num_rows // DOC_PARTS)
    for p in range(DOC_PARTS):
        pq.write_table(table.slice(p * step, step),
                       os.path.join(docs_dir, "part-%05d.parquet" % p))
    pq.write_table(pa.table({
        "doc_id": pa.array(range(n_bench), pa.int64()),
        "text": pa.array([_text(b) for b in bench], pa.string()),
    }), os.path.join(out_dir, "benchmark.parquet"))
    truth = {
        "n_docs": len(rows),
        "n_bench": n_bench,
        "exact_dups": exact,
        "near_dups": [[a, b, p, round(shingle_jaccard(rows[a], rows[b]), 6)]
                      for a, b, p in near],
        "contaminated": contam,
        "queries": {str(q): sorted(set(_tokens(rows[q]))) for q in queries},
    }
    _write_json(os.path.join(out_dir, "truth.json"), truth)
    return truth


def query_batches(out_dir, seed, query_ids, n_batches, batch_size):
    """Write out_dir/batches.json: `n_batches` lists of `batch_size`
    distinct query ids, drawn from a Zipf law over `query_ids`."""
    rng = random.Random("queries:%d" % seed)
    os.makedirs(out_dir, exist_ok=True)
    zipf = _Zipf(len(query_ids), 0.8)
    batches = []
    for _ in range(n_batches):
        b = set()
        while len(b) < batch_size:
            b.add(query_ids[zipf.draw(rng)])
        batches.append(sorted(b))
    _write_json(os.path.join(out_dir, "batches.json"), batches)
    return batches
