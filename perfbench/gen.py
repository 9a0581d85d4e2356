"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of (seed, sizes): the same seed writes
byte-identical files, and each writes a `manifest.json` that records what was
planted (duplicate, malformed, rejected and replayed shares) next to the
ground truth the checks compare against.

    ingest_cycle  Kafka-wire-shaped price and news JSON lines: a history for
                  the backfill drain plus one price and one news file per
                  cycle, with key-set ground truth after each step.
    curation      documents/embeddings parquet with planted exact duplicates,
                  near-duplicate clusters, boilerplate templates and
                  embedding clusters.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --------------------------------------------------------------------------
# ingest_cycle

SYMBOLS = ["BTCUSDT", "ETHUSDT", "BNBUSDT", "SOLUSDT",
           "XRPUSDT", "ADAUSDT", "DOGEUSDT", "AVAXUSDT"]
BASE_PRICE = [42000.0, 2300.0, 310.0, 98.0, 0.62, 0.58, 0.09, 36.0]
INTERVALS = {"1h": 3_600_000, "1d": 86_400_000}
HOUR_MS, DAY_MS = INTERVALS["1h"], INTERVALS["1d"]
# The history ends at 01:00 UTC: cycle c lands the 1h klines that opened at
# END_MS + c hours, and the 1d series gain the next day's kline at cycle 23,
# 47, ... (the history holds the day that opened at 00:00).
END_MS = 1_704_067_200_000 + 1000 * DAY_MS + HOUR_MS  # 2026-09-27 01:00:00 UTC

# Traffic follows the reference's own rates (SURVEY.md section 6); the
# planted shares are not from the reference, they exist so that every
# rejection and dedup path of the pipeline sees rows (see README.md).
INGEST_SIZES = {
    "hist_klines": 1000,    # per (symbol, interval): the producer's limit=1000 backfill
    "hist_files": 8,
    "hist_news": 1000,      # articles queued before the first drain (invented)
    "cycles": 24,           # staged hourly cycles; a run lands the first few
    "cycle_news": 80,       # new articles a cycle; with the planted rows a cycle
                            # carries at most the consumer's 100 records a run
    "repoll_share": 0.10,   # history klines re-sent after a producer restart
    "malformed_share": 0.02,
    "missing_interval_share": 0.20,  # of 1h messages, decoded with the "1h" default
    "rejected_share": 0.05,  # news URLs outside the feed whitelist
    "recrawl_share": 0.10,   # news URLs sent again
}
NEWS_BOUND = 100  # the news consumer's max_records per DAG run

NEWS_WORDS = ("bitcoin ether market rally dip whale etf halving miners "
              "exchange stablecoin liquidity volatility regulator token "
              "defi yield staking breakout support resistance").split()


def _kline_msg(sym, interval, open_ms, o, h, l, c, v, fetched, omit_interval):
    step = INTERVALS[interval]
    iv = "" if omit_interval else f'"interval":"{interval}",'
    return (f'{{"symbol":"{sym}",{iv}"open_time":{open_ms},'
            f'"open":"{o:.2f}","high":"{h:.2f}","low":"{l:.2f}","close":"{c:.2f}",'
            f'"volume":"{v:.8f}","close_time":{open_ms + step - 1},'
            f'"fetched_at":"{fetched}"}}')


def _malformed(rng, line):
    cut = int(rng.integers(5, max(6, len(line) // 2)))
    return line[:cut]


class _PriceSeries:
    """One (symbol, interval) random walk; klines are emitted in time order."""

    def __init__(self, rng, si, interval, n_hist):
        self.rng, self.sym, self.interval = rng, SYMBOLS[si], interval
        self.price = BASE_PRICE[si] * (1 + 0.1 * si)
        if interval == "1h":
            self.open_ms = END_MS - n_hist * HOUR_MS
        else:
            self.open_ms = END_MS // DAY_MS * DAY_MS - (n_hist - 1) * DAY_MS

    def next(self):
        step = INTERVALS[self.interval]
        open_ms = self.open_ms
        o = self.price
        c = max(0.01, o * (1 + self.rng.normal(0, 0.01)))
        h = max(o, c) * (1 + abs(self.rng.normal(0, 0.003)))
        l = min(o, c) * (1 - abs(self.rng.normal(0, 0.003)))
        v = float(self.rng.uniform(10, 5000))
        self.price, self.open_ms = c, open_ms + step
        return dict(sym=self.sym, interval=self.interval, open_ms=open_ms,
                    o=round(o, 2), h=round(h, 2), l=round(l, 2),
                    c=round(c, 2), v=v)


def _fetched(ms):
    s = ms // 1000
    d = np.datetime64(s, "s").astype(object)
    return d.strftime("%Y-%m-%dT%H:%M:%S")


def _news_msg(url, title, created_s, tag, content, score):
    created = np.datetime64(created_s, "s").astype(object).strftime(
        "%Y-%m-%d %H:%M:%S+00:00")
    return json.dumps({"title": title, "url": url, "created_date": created,
                       "tag": tag, "content": content,
                       "sentiment_score": score})


class _NewsFeed:
    def __init__(self, rng):
        self.rng, self.n, self.sent = rng, 0, []

    def article(self):
        rng = self.rng
        words = rng.choice(NEWS_WORDS, size=int(rng.integers(4, 9)))
        slug = "-".join(words[:4]) + f"-{self.n}"
        if rng.random() < 0.5:
            url = f"https://www.coindesk.com/markets/2024/{slug}"
        else:
            url = f"https://www.newsbtc.com/news/bitcoin/{slug}/"
        self.n += 1
        return url, " ".join(words).title()

    def message(self, url, title):
        rng = self.rng
        created = END_MS // 1000 - int(rng.integers(0, 86400 * 60))
        tag = None if rng.random() < 0.2 else str(rng.choice(["Markets", "Policy", "Tech", "Finance"]))
        content = " ".join(rng.choice(NEWS_WORDS, size=int(rng.integers(0, 30))))
        score = round(float(rng.uniform(-1, 1)), 4)
        return _news_msg(url, title, created, tag, content, score)


def gen_ingest(root, seed, sizes=None):
    """Write the ingest_cycle inputs under `root`; return the manifest."""
    z = dict(INGEST_SIZES, **(sizes or {}))
    rng = np.random.default_rng([seed, 1])
    src_p, src_n = (os.path.join(root, "src", t) for t in ("prices", "news"))
    stage_p, stage_n = (os.path.join(root, "stage", t) for t in ("prices", "news"))
    truth = os.path.join(root, "truth")
    for d in (src_p, src_n, stage_p, stage_n, truth):
        os.makedirs(d, exist_ok=True)
    counts = {k: 0 for k in ("price_msgs", "price_klines", "price_repolled",
                             "price_malformed", "price_missing_interval",
                             "news_msgs", "news_articles", "news_recrawled",
                             "news_rejected", "news_malformed")}
    n_hist = z["hist_klines"]
    series = [_PriceSeries(rng, si, iv, n_hist) for si in range(len(SYMBOLS)) for iv in INTERVALS]

    def price_line(k, fetched_ms):
        omit = k["interval"] == "1h" and rng.random() < z["missing_interval_share"]
        counts["price_missing_interval"] += omit
        return _kline_msg(k["sym"], k["interval"], k["open_ms"], k["o"], k["h"],
                          k["l"], k["c"], k["v"], _fetched(fetched_ms), omit)

    def key(k):
        return f'{k["sym"]}|{k["interval"]}|{k["open_ms"] // 1000}'

    def emit_prices(klines, repolls, fetched_ms):
        lines = [price_line(k, fetched_ms) for k in klines + repolls]
        counts["price_klines"] += len(klines)
        counts["price_repolled"] += len(repolls)
        n_bad = int(round(len(lines) * z["malformed_share"]))
        bad = [_malformed(rng, lines[int(i)]) for i in rng.integers(0, len(lines), n_bad)]
        counts["price_malformed"] += n_bad
        lines += bad
        order = rng.permutation(len(lines))
        counts["price_msgs"] += len(lines)
        return [lines[i] for i in order]

    # history: the producer's first sweep, limit=1000 klines per series;
    # a restart later re-sends part of that window (its high-watermark is
    # kept in memory only)
    hist = [s.next() for s in series for _ in range(n_hist)]
    repoll = [hist[int(i)] for i in rng.choice(len(hist), int(len(hist) * z["repoll_share"]), replace=False)]
    lines = emit_prices(hist, repoll, END_MS)
    _write_chunks(src_p, "hist", lines, z["hist_files"])
    _write_keys(os.path.join(truth, "prices-hist.keys"), [key(k) for k in hist])

    feed = _NewsFeed(rng)

    def emit_news(n_new):
        arts = [feed.article() for _ in range(n_new)]
        lines, keys = [], []
        for url, title in arts:
            lines.append(feed.message(url, title))
            keys.append(url)
        counts["news_articles"] += len(arts)
        feed.sent += arts
        n_re = int(round(n_new * z["recrawl_share"]))
        for i in rng.integers(0, len(feed.sent), n_re):
            url, title = feed.sent[int(i)]
            lines.append(feed.message(url, title + " (updated)"))
        counts["news_recrawled"] += n_re
        n_rej = max(1, int(round(n_new * z["rejected_share"])))
        for _ in range(n_rej):
            url, title = feed.article()
            bad = url.replace("https://www.", "https://www.mirror-") if rng.random() < 0.5 \
                else url.replace("https://", "http://")
            lines.append(feed.message(bad, title))
        counts["news_rejected"] += n_rej
        n_bad = max(1, int(round(len(lines) * z["malformed_share"])))
        lines += [_malformed(rng, lines[int(i)]) for i in rng.integers(0, len(lines), n_bad)]
        counts["news_malformed"] += n_bad
        counts["news_msgs"] += len(lines)
        return [lines[i] for i in rng.permutation(len(lines))], keys

    lines, keys = emit_news(z["hist_news"])
    _write_chunks(src_n, "hist", lines, z["hist_files"])
    _write_keys(os.path.join(truth, "news-hist.keys"), keys)
    hist_counts = dict(counts)

    # cycles, one an hour: each 1h series gains the kline that opened, each
    # 1d series one when a day starts; the producer's high-watermark keeps
    # earlier klines from being sent again
    cycle_news_max = 0
    for c in range(z["cycles"]):
        now_ms = END_MS + c * HOUR_MS
        fresh = [s.next() for s in series if s.interval == "1h" or now_ms % DAY_MS == 0]
        lines = emit_prices(fresh, [], now_ms)
        _write_lines(os.path.join(stage_p, f"cycle-{c:05d}.txt"), lines)
        _write_keys(os.path.join(truth, f"prices-cycle-{c:05d}.keys"), [key(k) for k in fresh])
        lines, keys = emit_news(z["cycle_news"])
        cycle_news_max = max(cycle_news_max, len(lines))
        _write_lines(os.path.join(stage_n, f"cycle-{c:05d}.txt"), lines)
        _write_keys(os.path.join(truth, f"news-cycle-{c:05d}.keys"), keys)
    if cycle_news_max > NEWS_BOUND:
        raise ValueError(f"a cycle carries {cycle_news_max} news records, "
                         f"more than the consumer's {NEWS_BOUND} a run")

    manifest = {"workload": "ingest_cycle", "seed": seed, "sizes": z,
                "history": hist_counts, "cycle_news_max": cycle_news_max,
                "cycle": {k: counts[k] - hist_counts[k] for k in counts},
                "symbols": SYMBOLS, "intervals": list(INTERVALS)}
    _write_json(os.path.join(root, "manifest.json"), manifest)
    return manifest


def _write_lines(path, lines):
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        f.write("\n".join(lines) + "\n")


def _write_chunks(d, prefix, lines, n):
    per = (len(lines) + n - 1) // n
    for i in range(n):
        _write_lines(os.path.join(d, f"{prefix}-{i:03d}.txt"), lines[i * per:(i + 1) * per])


def _write_keys(path, keys):
    _write_lines(path, sorted(keys))


def _write_json(path, obj):
    with open(path, "w", encoding="utf-8") as f:
        json.dump(obj, f, indent=1, sort_keys=True)


# --------------------------------------------------------------------------
# documents / embeddings (curation)

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
LANGS = ["en", "fr", "es", "zh", "de"]
LANG_MARKERS = {"en": ["the", "and", "of", "is"], "de": ["der", "und", "ist"],
                "es": ["el", "los", "que"], "fr": ["le", "les", "est"],
                "zh": []}  # ASCII text, as in the TESTDATA.md corpus
TEMPLATES = [("subscribe to our newsletter for the latest updates on data "
              "engineering and stream processing news").split(),
             ("this article was generated from the project wiki all rights "
              "reserved terms of use apply").split()]

CORPUS_SIZES = {"docs": 800, "vecs": 600, "dim": 64, "clusters": 10,
                "exact_share": 0.05, "near_share": 0.10, "boiler_share": 0.06,
                "cluster_noise": 0.35}


def gen_corpus(root, seed, sizes=None):
    """documents.parquet + embeddings.parquet with planted duplicates."""
    z = dict(CORPUS_SIZES, **(sizes or {}))
    rng = np.random.default_rng([seed, 2])
    os.makedirs(root, exist_ok=True)
    n = z["docs"]
    n_exact = int(n * z["exact_share"])
    n_near = int(n * z["near_share"])
    n_boiler = int(n * z["boiler_share"])
    n_base = n - n_exact - n_near
    texts, langs, kinds = [], [], []
    for i in range(n_base):
        lang = LANGS[int(rng.integers(0, len(LANGS)))]
        words = list(rng.choice(VOCAB, size=int(rng.integers(10, 101))))
        for _ in range(int(rng.integers(0, 4)) if LANG_MARKERS[lang] else 0):
            words.insert(int(rng.integers(0, len(words) + 1)),
                         str(rng.choice(LANG_MARKERS[lang])))
        kind = "base"
        if i < n_boiler:
            t = TEMPLATES[i % len(TEMPLATES)]
            words = words[: max(6, len(words) // 3)] + t
            kind = "boilerplate"
        texts.append(" ".join(words))
        langs.append(lang)
        kinds.append(kind)
    # near duplicates: a copy of a base doc with ~6% of its words replaced,
    # keeping the 3-shingle Jaccard well above the 0.5 threshold
    for _ in range(n_near):
        j = int(rng.integers(n_boiler, n_base))
        words = texts[j].split(" ")
        if len(words) < 30:
            words = words + list(rng.choice(VOCAB, size=30))
        for _ in range(max(1, len(words) // 16)):
            words[int(rng.integers(0, len(words)))] = str(rng.choice(VOCAB))
        texts.append(" ".join(words) + " dup")
        langs.append(langs[j])
        kinds.append("near")
    for _ in range(n_exact):
        j = int(rng.integers(0, n_base))
        texts.append(texts[j])
        langs.append(langs[j])
        kinds.append("exact")
    perm = rng.permutation(n)
    texts = [texts[i] for i in perm]
    langs = [langs[i] for i in perm]
    kinds = [kinds[i] for i in perm]
    docs = pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(docs, os.path.join(root, "documents.parquet"))

    nv, dim, k = z["vecs"], z["dim"], z["clusters"]
    cent = rng.normal(0, 1, size=(k, dim))
    labels = rng.integers(0, k, size=nv).astype(np.int32)
    vecs = cent[labels] + rng.normal(0, z["cluster_noise"], size=(nv, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True) * 0.8).astype(np.float32)
    emb = pa.table({
        "vec_id": pa.array(np.arange(nv, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels),
    })
    pq.write_table(emb, os.path.join(root, "embeddings.parquet"))
    manifest = {"workload": "curation", "seed": seed, "sizes": z,
                "docs": n, "exact_dups": n_exact, "near_dups": n_near,
                "boilerplate_docs": n_boiler, "vecs": nv,
                "kinds": {kd: kinds.count(kd) for kd in sorted(set(kinds))}}
    _write_json(os.path.join(root, "manifest.json"), manifest)
    return manifest


GENERATORS = {"ingest_cycle": gen_ingest, "curation": gen_corpus}
