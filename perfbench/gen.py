#!/usr/bin/env python3
"""Seeded input generator for the benchmark, run as its own process.

    python3 perfbench/gen.py corpus --out DIR [--scale F --seed N]
        Writes the sf0.1-shaped corpus (region ... embeddings, one parquet
        file per table) that the batch queries and the stream doors read.
        The corpus is fixed (CORPUS_SEED), so per-query golden fingerprints
        hold for every run; the run's --seed only shapes the per-run inputs
        below. A small corpus of another seed serves as warm-up data.

    python3 perfbench/gen.py stream --workload W --seed N --seconds S \
        --corpus DIR --work DIR
        One process, one thread. Writes the drain backlog first, waits for
        WORK/ready (the harness has started its queries), then writes the
        open-loop files on a fixed schedule that never waits for the
        consumer. Every file name carries its due time in ns; WORK/
        manifest.json lists every file with its due and written times.

Files appear atomically: each is written under a dot-name, which Spark's
file source skips, and then renamed.
"""
import argparse
import json
import os
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CORPUS_SEED = 42
SCALE = 0.1

# Open-loop schedules; the entity_stream rate is also stated in BENCHMARK.json.
ENTITY_FILES_PER_S = 20          # 5 articles per file: 100 articles/s
ENTITY_ARTICLES_PER_FILE = 5
ENTITY_BACKLOG_FILES = 200       # drain: 200 files x 40 articles
ENTITY_BACKLOG_ARTICLES = 40
PROBE_FILES_PER_S = 4            # 5 probe documents per file: 20 docs/s
PROBE_DOCS_PER_FILE = 5
PROBE_BACKLOG_FILES = 40         # drain: 40 files x 50 probe documents
PROBE_BACKLOG_DOCS = 50
DELETE_WAVES_PER_S = 1           # 4 ids per wave
DELETE_IDS_PER_WAVE = 4
PROBE_ID_BASE = 1_000_000        # probe ids never collide with corpus ids
WORDS = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()


def _ts_us(rng, lo, hi, n):
    lo_us = np.datetime64(lo, "us").astype(np.int64)
    hi_us = np.datetime64(hi, "us").astype(np.int64)
    return rng.integers(lo_us, hi_us, n)


def _day_us(rng, lo, hi, n):
    day = 86_400_000_000
    return _ts_us(rng, lo, hi, n) // day * day


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _soup(rng, n_words):
    return " ".join(WORDS[i] for i in rng.integers(0, len(WORDS), n_words))


def corpus_tables(scale=SCALE, seed=CORPUS_SEED):
    """The fixed corpus as {table: pyarrow.Table}, shaped like the TESTDATA.md
    tables at `scale` (FIXTURES.md section 2): same schemas, row counts and
    value domains."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * scale), int(10_000 * scale), int(200_000 * scale)
    n_ord, n_li = int(1_500_000 * scale), int(6_000_000 * scale)
    n_ev, n_doc, n_emb = int(1_000_000 * scale), int(50_000 * scale), int(20_000 * scale)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), i32),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"], s)})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], s),
        "n_regionkey": pa.array(np.arange(25) % 5, i32)})
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], s),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust), f64),
        "c_mktsegment": pa.array(segments[rng.integers(0, 5, n_cust)], s)})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], s),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp), f64)})
    adj = np.array(["blue", "cold", "hot", "large", "old", "red", "shiny", "small"])
    noun = np.array(["bolt", "gear", "nut", "pipe", "plate", "ring", "screw", "valve"])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    pk = np.arange(n_part)
    t["part"] = pa.table({
        "p_partkey": pa.array(pk, i64),
        "p_name": pa.array(np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                                       noun[rng.integers(0, 8, n_part)]), s),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], s),
        "p_type": pa.array(types[rng.integers(0, 6, n_part)], s),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) / 10.0, 2), f64)})
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)], s),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord), f64),
        "o_orderdate": pa.array(_day_us(rng, "1995-01-01", "2001-08-02", n_ord), ts),
        "o_orderpriority": pa.array(prio[rng.integers(0, 5, n_ord)], s)})
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64), f64),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_li), f64),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0, f64),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0, f64),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)], s),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_li)], s),
        "l_shipdate": pa.array(_day_us(rng, "1995-01-02", "2001-11-05", n_li), ts)})
    ev_types = np.array(["click", "error", "purchase", "signup", "view"])
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(np.sort(_ts_us(rng, "2024-01-01", "2024-01-31", n_ev)), ts),
        "user_id": pa.array(rng.integers(0, 1500, n_ev), i64),
        "event_type": pa.array(ev_types[rng.integers(0, 5, n_ev)], s),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2), f64),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], s)})
    # Word soup with planted duplicates: 8 exact copies and 250 near
    # copies (another document's text plus one marker token).
    texts = [_soup(rng, int(n)) for n in rng.integers(10, 101, n_doc)]
    ids = rng.permutation(n_doc)
    for a, b in zip(ids[:8], ids[8:16]):
        texts[a] = texts[b]
    for a, b in zip(ids[16:266], ids[266:516]):
        texts[a] = texts[b] + " dup"
    langs = np.array(["de", "en", "es", "fr", "zh"])
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": pa.array(texts, s),
        "lang": pa.array(langs[rng.choice(5, n_doc, p=[0.14, 0.4, 0.15, 0.15, 0.16])], s),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)], s),
        "n_chars": pa.array([len(x) for x in texts], i64)})
    v = rng.standard_normal((n_emb, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), i32)})
    return t


def write_corpus(out, scale=SCALE, seed=CORPUS_SEED):
    os.makedirs(out, exist_ok=True)
    for name, table in corpus_tables(scale, seed).items():
        tmp = os.path.join(out, f".{name}.parquet")
        pq.write_table(table, tmp)
        os.replace(tmp, os.path.join(out, f"{name}.parquet"))


# ---- per-run stream inputs -------------------------------------------------

def _letters(n):
    """A capitalized all-letter name for n ([A-Z][a-z]+), so each source
    document contributes its own entity and the key set grows."""
    s = ""
    n += 26
    while n:
        n, r = divmod(n, 26)
        s = chr(97 + r) + s
    return "K" + s


def article_value(rng, doc_id, text):
    """One Kafka `value` payload in the producer's shape (FIXTURES.md 1.1)."""
    toks = text.split()
    title = " ".join([_letters(int(doc_id))] + [w.capitalize() for w in toks[:3]])
    desc = None if rng.random() < 0.2 else " ".join(toks[3:12])
    return json.dumps({
        "source": {"id": None, "name": f"src{doc_id % 20}"},
        "author": None, "title": title, "description": desc,
        "url": f"https://news.example/{doc_id}/{int(rng.integers(1 << 30))}",
        "publishedAt": "2024-01-01T00:00:00Z", "content": text,
        "fetchedAt": "2024-01-01T00:00:00Z", "query": "spark"}, sort_keys=True)


def probe_doc(rng, pid, texts):
    """A probe document: 40% exact copies, 30% near copies (one token
    changed), 30% novel word soup."""
    r = rng.random()
    src = int(rng.integers(len(texts)))
    if r < 0.4:
        text = texts[src]
    elif r < 0.7:
        toks = texts[src].split()
        toks[int(rng.integers(len(toks)))] = "novelword"
        text = " ".join(toks)
    else:
        text = _soup(rng, int(rng.integers(20, 80)))
    return json.dumps({"doc_id": pid, "text": text})


def _write(path, lines):
    d, name = os.path.split(path)
    tmp = os.path.join(d, "." + name)
    with open(tmp, "w") as f:
        f.write("\n".join(lines) + "\n")
    os.replace(tmp, path)


class Plan:
    """The whole per-run input, computed from the seed before any file is
    written: backlog file contents and the open-loop event list."""

    def __init__(self, workload, seed, seconds, corpus):
        self.rng = np.random.default_rng([seed, 7])
        docs = pq.read_table(os.path.join(corpus, "documents.parquet"),
                             columns=["doc_id", "text"])
        self.texts = docs.column("text").to_pylist()
        self.backlog = []   # (name, lines)
        self.events = []    # (offset_s, stream, lines)
        getattr(self, "_" + workload)(seconds)
        self.events.sort(key=lambda e: (e[0], e[1]))

    def _draw_articles(self, n):
        ids = self.rng.integers(0, len(self.texts), n)
        return [article_value(self.rng, int(i), self.texts[i]) for i in ids]

    def _entity_stream(self, seconds):
        for k in range(ENTITY_BACKLOG_FILES):
            self.backlog.append((f"b{k:05d}.json", self._draw_articles(ENTITY_BACKLOG_ARTICLES)))
        for k in range(int(seconds * ENTITY_FILES_PER_S)):
            self.events.append((k / ENTITY_FILES_PER_S, "articles",
                                self._draw_articles(ENTITY_ARTICLES_PER_FILE)))

    def _dedup_takedown(self, seconds):
        pid = PROBE_ID_BASE
        for k in range(PROBE_BACKLOG_FILES):
            lines = [probe_doc(self.rng, pid + j, self.texts) for j in range(PROBE_BACKLOG_DOCS)]
            pid += PROBE_BACKLOG_DOCS
            self.backlog.append((f"b{k:05d}.json", lines))
        for k in range(int(seconds * PROBE_FILES_PER_S)):
            lines = [probe_doc(self.rng, pid + j, self.texts) for j in range(PROBE_DOCS_PER_FILE)]
            pid += PROBE_DOCS_PER_FILE
            self.events.append((k / PROBE_FILES_PER_S, "probes", lines))
        victims = self.rng.permutation(len(self.texts))
        n_waves = int(seconds * DELETE_WAVES_PER_S)
        for k in range(n_waves):
            # the first id of each wave repeats the previous wave's last
            # id, so the door also sees ids that are already tombstoned
            ids = victims[k * (DELETE_IDS_PER_WAVE - 1):(k + 1) * (DELETE_IDS_PER_WAVE - 1) + 1]
            self.events.append(((k + 0.5) / DELETE_WAVES_PER_S, "deletes",
                                [json.dumps({"doc_id": int(i)}) for i in ids]))


def run_stream(args):
    plan = Plan(args.workload, args.seed, args.seconds, args.corpus)
    backlog_dir = os.path.join(args.work, "backlog")
    os.makedirs(backlog_dir, exist_ok=True)
    for name, lines in plan.backlog:
        _write(os.path.join(backlog_dir, name), lines)
    streams = sorted({e[1] for e in plan.events})
    for st in streams:
        os.makedirs(os.path.join(args.work, "in", st), exist_ok=True)
    _write(os.path.join(args.work, "generator_ready"), ["1"])
    ready = os.path.join(args.work, "ready")
    deadline = time.monotonic() + args.ready_timeout
    while not os.path.exists(ready):
        if time.monotonic() > deadline:
            sys.exit("generator: harness never became ready")
        time.sleep(0.01)
    t0 = time.time_ns() + 200_000_000
    manifest = []
    for k, (off, st, lines) in enumerate(plan.events):
        due = t0 + int(off * 1e9)
        wait = (due - time.time_ns()) / 1e9
        if wait > 0:
            time.sleep(wait)
        name = f"e{k:06d}_{due}.json"
        _write(os.path.join(args.work, "in", st, name), lines)
        manifest.append({"file": name, "stream": st, "due_ns": due,
                         "written_ns": time.time_ns(), "rows": len(lines),
                         "lines": lines if st == "deletes" else None})
    _write(os.path.join(args.work, "manifest.json"), [json.dumps({
        "t0_ns": t0, "files": manifest,
        "backlog_rows": sum(len(lines) for _, lines in plan.backlog)})])


def main():
    p = argparse.ArgumentParser()
    sub = p.add_subparsers(dest="cmd", required=True)
    c = sub.add_parser("corpus")
    c.add_argument("--out", required=True)
    c.add_argument("--scale", type=float, default=SCALE)
    c.add_argument("--seed", type=int, default=CORPUS_SEED)
    st = sub.add_parser("stream")
    st.add_argument("--workload", required=True, choices=["entity_stream", "dedup_takedown"])
    st.add_argument("--seed", type=int, required=True)
    st.add_argument("--seconds", type=float, required=True)
    st.add_argument("--corpus", required=True)
    st.add_argument("--work", required=True)
    st.add_argument("--ready-timeout", type=float, default=150.0)
    a = p.parse_args()
    if a.cmd == "corpus":
        write_corpus(a.out, a.scale, a.seed)
    else:
        run_stream(a)


if __name__ == "__main__":
    main()
