#!/usr/bin/env python3
"""Seeded input generator for the graft benchmark.

Usage: python3 perfbench/gen.py <workload> <seed> <outDir>

Writes the workload's tables as parquet directories of several part files
(`<table>.parquet/part-0000N.parquet`, so scans split across the cores),
plus `truth.json`: the structure the generator planted, which the output
checks read instead of any stored copy of graft's output.  The same
(workload, seed) gives byte-identical files.

Planted structure
  documents  exact-duplicate groups, near-duplicate groups (a base doc plus
             variants with one extra unique word: word-set Jaccard >= 0.95),
             perturbed docs (half the words replaced: Jaccard well below
             0.8), one boilerplate span shared by many docs, hot stop-words
             in every doc, and a zipf-skewed content vocabulary.
  vectors    unit vectors around 16 well-separated centres; near-duplicate
             groups (cosine >= 0.999) inside them; IVF queries that are small
             perturbations of corpus vectors.
  events     zipf-skewed user keys over a fixed live population, plus
             transient keys that go quiet early in the stream.
"""
import json
import sys
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORKLOADS = ("timing_catalog", "corpus_batch", "stream_ingest")
STOP = ["the", "a", "of", "and", "to", "in", "is", "for"]
SYL = ["ka", "lo", "mi", "ne", "ru", "ta", "vo", "si", "pe", "do", "ga", "hu",
       "zi", "be", "fa", "jo", "ky", "ma", "nu", "pi", "qa", "re", "so", "tu"]
BOILER = ("this record was produced by the automated archive service and is "
          "kept under the standard retention terms").split()
DIM = 64
EPOCH_US = 1704067200 * 1_000_000  # 2024-01-01T00:00:00Z
DAY_US = 86_400_000_000


def rng_for(seed, stream):
    return np.random.default_rng([seed, stream])


def write(out, name, table, files):
    d = out / f"{name}.parquet"
    d.mkdir(parents=True, exist_ok=True)
    n = table.num_rows
    step = -(-n // files) if n else 1
    for i in range(files):
        pq.write_table(table.slice(i * step, step), d / f"part-{i:05d}.parquet",
                       compression="snappy", write_statistics=True)


def vocabulary(rng, n):
    words, seen = [], set()
    while len(words) < n:
        w = "".join(rng.choice(SYL, size=int(rng.integers(2, 5))))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


class DocMaker:
    """Random bag-of-words docs: zipf content words plus hot stop-words."""

    def __init__(self, rng, vocab, zipf_a=1.1):
        self.rng, self.vocab = rng, vocab
        ranks = np.arange(1, len(vocab) + 1, dtype=np.float64)
        p = ranks ** -zipf_a
        self.p = p / p.sum()

    def words(self, lo=30, hi=80):
        n = int(self.rng.integers(lo, hi))
        content = self.rng.choice(len(self.vocab), size=n, p=self.p)
        out = [self.vocab[i] for i in content]
        for _ in range(max(3, n // 6)):
            out.insert(int(self.rng.integers(0, len(out) + 1)),
                       STOP[int(self.rng.integers(0, len(STOP)))])
        return out


def unique_word(k):
    """A word outside the generated vocabulary (letters only)."""
    s = ""
    k += 1
    while k:
        k, r = divmod(k - 1, 26)
        s = chr(ord("a") + r) + s
    return "xq" + s


def build_corpus(rng, n, vocab, boiler_share=0.1):
    """Docs with planted exact/near/perturbed groups; ids are a random
    permutation so a group's min id may be any member."""
    dm = DocMaker(rng, vocab)
    texts, kind, group = [], [], []
    n_base = int(n * 0.7)
    for _ in range(n_base):
        w = dm.words()
        if rng.random() < boiler_share:
            at = int(rng.integers(0, len(w) + 1))
            w = w[:at] + BOILER + w[at:]
        texts.append(w)
        kind.append("distinct")
        group.append(-1)
    g = 0
    uw = 0
    while len(texts) < n:
        base = int(rng.integers(0, n_base))
        if group[base] != -1 or kind[base] != "distinct":
            continue
        r = rng.random()
        reps = int(rng.integers(1, 4))
        if r < 0.3:
            kind[base] = "exact"
            group[base] = g
            for _ in range(reps):
                texts.append(list(texts[base]))
                kind.append("exact")
                group.append(g)
        elif r < 0.8:
            kind[base] = "near"
            group[base] = g
            for _ in range(reps):
                texts.append(texts[base] + [unique_word(uw)])
                uw += 1
                kind.append("near")
                group.append(g)
        else:
            w = list(texts[base])
            for i in range(0, len(w), 2):
                w[i] = unique_word(uw)
                uw += 1
            texts.append(w)
            kind.append("perturbed")
            group.append(-1)
        g += 1
    texts, kind, group = texts[:n], kind[:n], group[:n]
    ids = rng.permutation(n).astype(np.int64)
    return ids, [" ".join(w) for w in texts], kind, group


def unit(v):
    return v / np.linalg.norm(v, axis=-1, keepdims=True)


def build_vectors(rng, n, n_centres=16, dup_share=0.1):
    centres = unit(rng.standard_normal((n_centres, DIM)))
    n_base = n - int(n * dup_share)
    lab = rng.integers(0, n_centres, size=n_base)
    base = unit(centres[lab] + rng.standard_normal((n_base, DIM)) * (0.5 / np.sqrt(DIM)))
    src = rng.integers(0, n_base, size=n - n_base)
    dups = unit(base[src] + rng.standard_normal((n - n_base, DIM)) * (0.02 / np.sqrt(DIM)))
    vecs = np.vstack([base, dups]).astype(np.float32)
    labels = np.concatenate([lab, lab[src]]).astype(np.int32)
    return rng.permutation(n).astype(np.int64), vecs, labels


def vec_table(ids, vecs, labels):
    return pa.table({
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def doc_table(ids, texts, rng):
    langs = np.array(["en", "de", "fr", "es", "zh"])
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs[rng.integers(0, 5, size=len(ids))]),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, size=len(ids))]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def sorted_by_id(table, col):
    return table.take(pa.array(np.argsort(table[col].to_numpy(), kind="stable")))


# --------------------------------------------------------------------------
# timing_catalog: the catalog's table layout at sf0.01 row counts
# (customer, supplier, part, orders, lineitem, events)
# --------------------------------------------------------------------------
TIMING_ROWS = (1500, 100, 2000, 15000, 60000, 10000)
# q22_asof_join differs from its oracle on this seed's events and orders and
# matches on most others, so those two tables are written, whatever the run's
# seed, under asof_fixed/ for the query that fails on every pass.
ASOF_FIXED_SEED = 1007


def timing_tables(seed):
    """(name, table, files) of the relational tables, in generation order."""
    r = rng_for(seed, 1)
    n_cust, n_supp, n_part, n_ord, n_line, n_ev = TIMING_ROWS
    yield "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}), 1
    yield "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}), 1
    seg = np.array(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"])
    yield "customer", pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(r.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": seg[r.integers(0, 5, n_cust)]}), 2
    yield "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(r.uniform(-999.99, 9999.99, n_supp), 2)}), 1
    adj = np.array(["large", "hot", "blue", "old", "cold", "small", "red", "green"])
    noun = np.array(["ring", "bolt", "plate", "gear", "nut", "pipe", "wire", "valve"])
    ptype = np.array(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"])
    yield "part", pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": np.char.add(np.char.add(adj[r.integers(0, 8, n_part)], " "),
                              noun[r.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", r.integers(1, 26, n_part).astype(str)),
        "p_type": ptype[r.integers(0, 6, n_part)],
        "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)}), 2
    day0 = np.datetime64("1995-01-01", "us")
    o_date = day0 + r.integers(0, 2404, n_ord).astype("timedelta64[D]")
    status = np.array(["O", "F", "P"])
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    yield "orders", pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": status[r.integers(0, 3, n_ord)],
        "o_totalprice": np.round(r.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": pa.array(o_date, pa.timestamp("us")),
        "o_orderpriority": prio[r.integers(0, 5, n_ord)]}), 4
    l_ok = np.sort(r.integers(0, n_ord, n_line))
    first = np.searchsorted(l_ok, l_ok)  # 1-based line number within each order
    line_no = (np.arange(n_line) - first + 1).astype(np.int32)
    qty = r.integers(1, 51, n_line).astype(np.float64)
    ship = o_date[l_ok] + r.integers(1, 122, n_line).astype("timedelta64[D]")
    lineitem = pa.table({
        "l_orderkey": pa.array(l_ok, pa.int64()),
        "l_partkey": pa.array(r.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(line_no, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * r.uniform(900.0, 2100.0, n_line), 2),
        "l_discount": np.round(r.integers(0, 11, n_line) / 100.0, 2),
        "l_tax": np.round(r.integers(0, 9, n_line) / 100.0, 2),
        "l_returnflag": np.array(["N", "A", "R"])[r.integers(0, 3, n_line)],
        "l_linestatus": np.array(["O", "F"])[r.integers(0, 2, n_line)],
        "l_shipdate": pa.array(ship, pa.timestamp("us"))})
    yield "lineitem", lineitem.take(pa.array(r.permutation(n_line))), 4
    etypes = np.array(["signup", "click", "error", "view", "purchase"])
    ts = np.sort(EPOCH_US + r.integers(0, 3 * DAY_US, n_ev))
    yield "events", pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, 150, n_ev), pa.int64()),
        "event_type": etypes[r.integers(0, 5, n_ev)],
        "value": np.round(r.gamma(1.5, 40.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 101, n_ev)]}), 4


def gen_timing(seed, out):
    for name, table, files in timing_tables(seed):
        write(out, name, table, files)
    for name, table, files in timing_tables(ASOF_FIXED_SEED):
        if name in ("events", "orders"):
            write(out / "asof_fixed", name, table, files)
    vocab = vocabulary(rng_for(seed, 2), 2000)
    ids, texts, _, _ = build_corpus(rng_for(seed, 3), 5000, vocab)
    write(out, "documents", sorted_by_id(doc_table(ids, texts, rng_for(seed, 4)), "doc_id"), 2)
    vids, vecs, labels = build_vectors(rng_for(seed, 5), 2000)
    write(out, "embeddings", sorted_by_id(vec_table(vids, vecs, labels), "vec_id"), 2)
    n_cust, n_supp, n_part, n_ord, n_line, n_ev = TIMING_ROWS
    return {"rows": {"lineitem": n_line, "orders": n_ord, "customer": n_cust,
                     "part": n_part, "supplier": n_supp, "events": n_ev,
                     "asof_fixed/orders": n_ord, "asof_fixed/events": n_ev}}


# --------------------------------------------------------------------------
# corpus_batch: documents, vectors and IVF queries
# --------------------------------------------------------------------------
N_DOCS, N_VECS, N_QUERIES = 2000, 1500, 40


def gen_corpus(seed, out):
    vocab = vocabulary(rng_for(seed, 10), 4000)
    ids, texts, kind, group = build_corpus(rng_for(seed, 11), N_DOCS, vocab)
    write(out, "documents", doc_table(ids, texts, rng_for(seed, 12)), 4)

    vids, vecs, labels = build_vectors(rng_for(seed, 17), N_VECS)
    write(out, "embeddings", vec_table(vids, vecs, labels), 4)
    r = rng_for(seed, 18)
    qsrc = r.integers(0, N_VECS, size=N_QUERIES)
    qv = unit(vecs[qsrc] + r.standard_normal((N_QUERIES, DIM)) * (0.1 / np.sqrt(DIM)))
    write(out, "queries", vec_table(np.arange(N_QUERIES, dtype=np.int64),
                                     qv.astype(np.float32), labels[qsrc]), 1)
    return {
        "rows": {"documents": N_DOCS, "embeddings": N_VECS, "queries": N_QUERIES},
        "doc_kind": {str(int(i)): k for i, k in zip(ids, kind)},
        "doc_group": {str(int(i)): int(gr) for i, gr in zip(ids, group) if gr >= 0},
    }


# --------------------------------------------------------------------------
# stream_ingest: docs, vectors and events in event-time order
# --------------------------------------------------------------------------
S_DOCS, S_VECS, S_EVENTS, LIVE_USERS, TRANSIENT_USERS = 1200, 1200, 6000, 200, 80
S_STEP_MS = 10_000  # event time advances 10 s per doc/vector row: 200 minutes in all
MIN_MS = 60_000


def gen_stream(seed, out):
    vocab = vocabulary(rng_for(seed, 20), 3000)
    r = rng_for(seed, 21)
    dm = DocMaker(r, vocab, zipf_a=0.8)
    texts, kind = [], []
    uw = 0
    while len(texts) < S_DOCS:
        x = r.random()
        back = max(0, len(texts) - int(r.integers(1, 100)))  # within the 30-minute horizon
        if x < 0.15 and texts:  # verbatim repeat: always dropped
            texts.append(texts[back])
            kind.append("repeat")
        elif x < 0.25 and texts:  # one extra word: dropped when the signatures agree
            texts.append(texts[back] + " " + unique_word(uw))
            uw += 1
            kind.append("near")
        else:
            texts.append(" ".join(dm.words()))
            kind.append("distinct")
    span_ms = S_DOCS * S_STEP_MS
    row_ts = (EPOCH_US // 1000 + np.arange(S_DOCS, dtype=np.int64) * S_STEP_MS) * 1000
    write(out, "stream_docs", pa.table({
        "doc_id": pa.array(np.arange(S_DOCS), pa.int64()),
        "ts": pa.array(row_ts.astype("datetime64[us]"), pa.timestamp("us")),
        "text": texts}), 2)

    ids, vecs, labels = build_vectors(rng_for(seed, 22), S_VECS, dup_share=0.0)
    write(out, "stream_vectors", pa.table({
        "vec_id": pa.array(np.arange(S_VECS), pa.int64()),
        "ts": pa.array(row_ts[:S_VECS].astype("datetime64[us]"), pa.timestamp("us")),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32()))}), 2)
    write(out, "train_vectors", vec_table(ids, vecs, labels), 1)

    # events: a live population of users, each with one event type, seen at
    # least every 20 minutes (a heartbeat) plus zipf-skewed extra events; and
    # transient users seen only in the first 10 minutes. With a 30-minute
    # idle horizon no live key ever goes idle, and every transient key does.
    r = rng_for(seed, 23)
    beat = [(k * 20 * MIN_MS + int(r.integers(0, 20 * MIN_MS)), u)
            for u in range(LIVE_USERS) for k in range(span_ms // (20 * MIN_MS))]
    n_trans = TRANSIENT_USERS * 4
    n_extra = S_EVENTS - len(beat) - n_trans
    ranks = np.arange(1, LIVE_USERS + 1, dtype=np.float64) ** -1.2
    extra_u = r.choice(LIVE_USERS, size=n_extra, p=ranks / ranks.sum())
    extra_t = r.integers(0, span_ms, n_extra)
    trans_u = 100_000 + r.integers(0, TRANSIENT_USERS, n_trans)
    trans_t = r.integers(0, 10 * MIN_MS, n_trans)
    t = np.concatenate([np.array([b[0] for b in beat]), extra_t, trans_t]).astype(np.int64)
    u = np.concatenate([np.array([b[1] for b in beat]), extra_u, trans_u]).astype(np.int64)
    etypes = np.array(["click", "view", "purchase"])
    et = np.where(u < 100_000, u % 3, r.integers(0, 3, len(u)))
    order = np.argsort(t, kind="stable")
    write(out, "stream_events", pa.table({
        "event_id": pa.array(np.arange(S_EVENTS), pa.int64()),
        "ts": pa.array(((EPOCH_US // 1000 + t[order]) * 1000).astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(u[order], pa.int64()),
        "event_type": etypes[et[order]],
        "value": np.round(r.uniform(0, 100, S_EVENTS), 2)}), 2)
    return {"rows": {"stream_docs": S_DOCS, "stream_vectors": S_VECS, "stream_events": S_EVENTS},
            "doc_kind": kind, "transient_first_user": 100_000,
            "watermark_s": 1800, "window_s": 600, "chunks": 3, "horizon_s": 1800}


def generate(workload, seed, out):
    out = Path(out)
    out.mkdir(parents=True, exist_ok=True)
    truth = {"timing_catalog": gen_timing, "corpus_batch": gen_corpus,
             "stream_ingest": gen_stream}[workload](seed, out)
    truth.update(workload=workload, seed=seed)
    (out / "truth.json").write_text(json.dumps(truth, sort_keys=True))
    return truth


if __name__ == "__main__":
    if len(sys.argv) != 4 or sys.argv[1] not in WORKLOADS:
        sys.exit(f"usage: gen.py {{{'|'.join(WORKLOADS)}}} <seed> <outDir>")
    generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])
