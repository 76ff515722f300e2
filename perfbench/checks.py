"""Output checks for the graft benchmark, made apart from graft.

`check(workload, data, out, truth, last)` reads the outputs the run wrote
(`out/pass-<last>/<op>` for batch operations, `out/fixed/pass-<n>/<op>` for
the queries on fixed tables, `out/dump/<op>` for the stream sinks) and
returns the problems, where none means every output is correct, and the
operations on fixed tables that gave a wrong output. The references are
DuckDB running the catalog's own oracle SQL, the structure the generator
planted (`truth`), and numpy/python recomputations (md5 groups, k-gram
coverage, nearest centroids, asymmetric PQ distances, event-time windows).
"""
import hashlib
import json
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq

TIMING_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
                 "lineitem", "events", "documents", "embeddings"]


def read(path):
    path = Path(path)
    if not path.exists():
        raise FileNotFoundError(f"no output at {path.name}")
    return pq.read_table(path).to_pandas()


def table(data, name):
    return pq.read_table(Path(data) / f"{name}.parquet").to_pandas()


def norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime"):
            df[c] = pd.to_datetime(df[c]).dt.tz_localize(None)
    hashable = [c for c in df.columns if not isinstance(df[c].iloc[0] if len(df) else 0,
                                                         (list, np.ndarray, dict))]
    return df.sort_values(by=hashable, ignore_index=True) if hashable else df


def cell_eq(a, b):
    if isinstance(a, (list, np.ndarray)) or isinstance(b, (list, np.ndarray)):
        a, b = list(a) if a is not None else None, list(b) if b is not None else None
        return a == b or (a is not None and b is not None and len(a) == len(b)
                          and all(cell_eq(x, y) for x, y in zip(a, b)))
    if pd.isna(a) and pd.isna(b):
        return True
    if isinstance(a, float) and isinstance(b, float):
        return a == b or abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))
    return a == b


def frames_equal(x, y):
    """None when equal, else a short reason. Rows compare as a multiset."""
    x, y = norm(x), norm(y)
    if list(x.columns) != list(y.columns):
        return f"columns {list(x.columns)} vs {list(y.columns)}"
    if len(x) != len(y):
        return f"rows {len(x)} vs {len(y)}"
    for c in x.columns:
        kx, ky = x[c].dtype.kind, y[c].dtype.kind
        if {kx, ky} <= set("iu") or kx == ky or "O" in (kx, ky):
            pass
        else:
            return f"dtype of {c}: {x[c].dtype} vs {y[c].dtype}"
        for i, (a, b) in enumerate(zip(x[c].tolist(), y[c].tolist())):
            if not cell_eq(a, b):
                return f"{c} row {i}: {a!r} vs {b!r}"
    return None


# --------------------------------------------------------------------------
def duck(data, tables):
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet/*.parquet')")
    return con


def check_timing(data, out, truth, last):
    """Every query against its DuckDB oracle. A query on the fixed tables
    (`asof_fixed/`) that differs from its oracle is a failed operation, one
    per pass, not a problem: it fails there on every pass."""
    problems, failed = [], []
    oracles = json.loads((out / "dump" / "oracle_sql.json").read_text())
    con = duck(data, TIMING_TABLES)
    ran = {p.name for p in (out / f"pass-{last}").iterdir()}
    for name in sorted(ran - set(oracles["passes"]) - set(oracles["fixed"])):
        problems.append(f"{name}: not in the oracle list, so its output is unchecked")
    for name, sql in sorted(oracles["passes"].items()):
        if not sql:
            problems.append(f"{name}: has no oracle SQL, so its output is unchecked")
            continue
        try:
            got = read(out / f"pass-{last}" / name)
            why = frames_equal(got, con.sql(sql).df())
        except Exception as e:  # a missing or unreadable output is a failure too
            why = str(e)[:200]
        if why:
            problems.append(f"{name}: differs from its DuckDB oracle: {why}")
    fixed = duck(data / "asof_fixed", ["events", "orders"])
    for name, sql in sorted(oracles["fixed"].items()):
        if not sql:
            problems.append(f"{name}: has no oracle SQL, so its output is unchecked")
            continue
        want = fixed.sql(sql).df()
        # a pass whose output is missing failed in the JVM and is counted there
        for got in sorted((out / "fixed").glob(f"pass-*/{name}")):
            why = frames_equal(read(got), want)
            if why:
                failed.append(f"{name}@{got.parent.name}: {why}")
    return problems, failed


# --------------------------------------------------------------------------
def strip_spans_reference(ids, texts, k):
    """Independent k-gram coverage: a doc drops every token covered by a
    k-word window that also occurs in another doc of smaller id."""
    holders = {}
    toks = [t.split(" ") for t in texts]
    for d, ws in zip(ids, toks):
        for p in range(len(ws) - k + 1):
            g = " ".join(ws[p:p + k])
            h = holders.setdefault(g, [d, set()])
            h[0] = min(h[0], d)
            h[1].add(d)
    outs = {}
    for d, ws in zip(ids, toks):
        cover = [False] * len(ws)
        for p in range(len(ws) - k + 1):
            mn, docs = holders[" ".join(ws[p:p + k])]
            if len(docs) >= 2 and d != mn:
                for q in range(p, p + k):
                    cover[q] = True
        kept = [w for w, c in zip(ws, cover) if not c]
        outs[d] = (" ".join(kept), len(ws) - len(kept))
    return outs


def check_corpus(data, out, truth, last):
    problems = []
    o = out / f"pass-{last}"
    docs = table(data, "documents")
    ids = docs["doc_id"].tolist()
    texts = dict(zip(ids, docs["text"]))
    kind = {int(k): v for k, v in truth["doc_kind"].items()}
    group = {int(k): v for k, v in truth["doc_group"].items()}
    members = {}
    for d, g in group.items():
        members.setdefault(g, []).append(d)

    def run(name, fn):
        try:
            problems.extend(f"{name}: {p}" for p in fn(read(o / name)))
        except Exception as e:
            problems.append(f"{name}: {str(e)[:200]}")

    def exact(df):
        ref = {}
        for d in ids:
            h = hashlib.md5(texts[d].encode()).hexdigest()
            keep, n = ref.get(h, (d, 0))
            ref[h] = (min(keep, d), n + 1)
        want = pd.DataFrame([(h, k, n) for h, (k, n) in ref.items()],
                            columns=["content_hash", "keep_id", "n_copies"])
        why = frames_equal(df, want)
        return [f"md5 groups differ: {why}"] if why else []
    run("exact_dedup", exact)

    def near_dedup(df):
        keep = set(df["doc_id"].tolist())
        out_ = []
        if len(keep) != len(df):
            out_.append("duplicate survivor ids")
        lost = [d for d in ids if kind[d] in ("distinct", "perturbed") and d not in keep]
        if lost:
            out_.append(f"{len(lost)} distinct docs dropped, e.g. {lost[:3]}")
        extra = keep - set(ids)
        if extra:
            out_.append(f"unknown ids {sorted(extra)[:3]}")
        droppable = dropped = 0
        for g, ms in members.items():
            mn = min(ms)
            if mn not in keep:
                out_.append(f"group {g} lost its min id {mn}")
            others = [m for m in ms if m != mn]
            if kind[mn] == "exact" and any(m in keep for m in others):
                out_.append(f"exact group {g} keeps a non-min copy")
            droppable += len(others)
            dropped += sum(m not in keep for m in others)
        if droppable and dropped / droppable < 0.9:
            out_.append(f"near-dup recall {dropped}/{droppable} below 0.9")
        return out_
    run("dedup_corpus", near_dedup)

    def spans(df):
        ref = strip_spans_reference(ids, [texts[d] for d in ids], 8)
        want = pd.DataFrame([(d, t, n) for d, (t, n) in ref.items()],
                            columns=["doc_id", "text", "removed_tokens"])
        why = frames_equal(df, want)
        return [f"k-gram coverage differs: {why}"] if why else []
    run("substring_dedup", spans)

    vecs = table(data, "embeddings")
    V = np.stack(vecs["embedding"].to_numpy()).astype(np.float64)
    vid = vecs["vec_id"].to_numpy()

    def coarse_of(M):
        C = read(out / "dump" / "ivf_coarse").sort_values("cluster")
        cents = np.stack(C["c_centroid"].to_numpy()).astype(np.float64)
        d2 = ((M[:, None, :] - cents[None, :, :]) ** 2).sum(-1)
        return C["cluster"].to_numpy()[d2.argmin(1)], np.sort(d2, 1)

    def encode(df):
        want, d2 = coarse_of(V)
        got = df.set_index("id")["cluster"].reindex(vid).to_numpy()
        clear = d2[:, 1] - d2[:, 0] > 1e-9  # ignore exact ties
        bad = int(((got != want) & clear).sum())
        out_ = [f"{bad} vectors not in their nearest coarse cluster"] if bad else []
        if len(df) != len(vid):
            out_.append(f"{len(df)} encoded rows, want {len(vid)}")
        if not all(len(c) == 8 and min(c) >= 0 and max(c) < 16 for c in df["codes"]):
            out_.append("codes are not 8 values in [0, 16)")
        return out_
    try:
        problems.extend(f"ivfpq_encode: {p}" for p in encode(read(out / "dump" / "ivfpq_encode")))
    except Exception as e:
        problems.append(f"ivfpq_encode: {str(e)[:200]}")

    def search(df):
        """Reference IVF-PQ search: probe the 4 nearest coarse centroids,
        build each probe's asymmetric-distance table over the residual
        query, score that cluster's encoded vectors, keep the 10 best."""
        q = table(data, "queries").sort_values("vec_id")
        Q = np.stack(q["embedding"].to_numpy()).astype(np.float64)
        C = read(out / "dump" / "ivf_coarse").sort_values("cluster")
        cents, cids = np.stack(C["c_centroid"].to_numpy()).astype(np.float64), C["cluster"].to_numpy()
        P = read(out / "dump" / "ivf_pq")
        m, sub = P["subspace"].max() + 1, Q.shape[1] // (P["subspace"].max() + 1)
        book = np.zeros((m, P["code"].max() + 1, sub))
        for s_, c_, v_ in zip(P["subspace"], P["code"], P["centroid"]):
            book[s_, c_] = v_
        enc = read(out / "dump" / "ivfpq_encode")
        codes = np.stack(enc["codes"].to_numpy())
        out_ = []
        by = {k: g for k, g in df.groupby("q_id")}
        if set(by) != set(q["vec_id"]):
            out_.append("not every query answered")
        for i, qid in enumerate(q["vec_id"]):
            cd2 = ((cents - Q[i]) ** 2).sum(1)
            probes = cids[np.lexsort((cids, cd2))[:4]]
            ids, dist = [], []
            for c in probes:
                r = (Q[i] - cents[list(cids).index(c)]).reshape(m, sub)
                tbl = ((r[:, None, :] - book) ** 2).sum(-1)  # (m, codes)
                rows = np.flatnonzero(enc["cluster"].to_numpy() == c)
                ids += enc["id"].to_numpy()[rows].tolist()
                dist += tbl[np.arange(m), codes[rows]].sum(1).tolist()
            order = np.lexsort((ids, dist))
            ref = {ids[j]: dist[j] for j in order[:10]}
            cut = dist[order[min(9, len(order) - 1)]]
            g = by.get(qid)
            if g is None:
                continue
            g = g.sort_values("rank")
            if g["rank"].tolist() != list(range(1, min(10, len(ids)) + 1)):
                out_.append(f"query {qid}: ranks {g['rank'].tolist()}")
            for t, d in zip(g["t_id"], g["adc_d2"]):
                near_cut = abs(d - cut) <= 1e-9 * max(1.0, cut)
                if t not in ref and not near_cut:
                    out_.append(f"query {qid}: {t} is not among the 10 nearest by ADC")
                elif t in ref and abs(ref[t] - d) > 1e-9 * max(1.0, d):
                    out_.append(f"query {qid}: ADC distance of {t} is {d}, want {ref[t]}")
        return out_
    run("ivfpq_search", search)

    return problems


# --------------------------------------------------------------------------
def unrelated_docs(data, truth):
    """Stream docs that share no 3-word shingle with any doc of the
    `horizon_s` before them: no near-dup filter may drop these."""
    d = table(data, "stream_docs").sort_values("doc_id")
    ts = pd.to_datetime(d["ts"]).astype("datetime64[us]").astype("int64").to_numpy()
    sh = [(lambda w: {" ".join(w[i:i + 3]) for i in range(len(w) - 2)})(t.split(" "))
          for t in d["text"]]
    horizon = truth["horizon_s"] * 1_000_000
    out, lo = [], 0
    for i, doc in enumerate(d["doc_id"]):
        while ts[lo] < ts[i] - horizon:
            lo += 1
        if not any(sh[i] & sh[j] for j in range(lo, i)):
            out.append(int(doc))
    return out


def check_stream(data, out, truth, last):
    problems = []
    o = out / "dump"
    try:
        nd = read(o / "near_dup")
        kind = truth["doc_kind"]
        keep = set(nd["doc_id"].tolist())
        if len(keep) != len(nd):
            problems.append("near_dup: a doc emitted twice")
        # MinHash agreement needs a shared shingle: a dropped distinct doc must
        # share a 3-word shingle with a doc of the previous horizon
        lost = [i for i in unrelated_docs(data, truth) if i not in keep]
        if lost:
            problems.append(f"near_dup: {len(lost)} docs sharing no shingle with an earlier doc "
                            f"dropped, e.g. {lost[:3]}")
        kept_rep = [i for i, k in enumerate(kind) if k == "repeat" and i in keep]
        if kept_rep:
            problems.append(f"near_dup: {len(kept_rep)} verbatim repeats kept, e.g. {kept_rep[:3]}")
    except Exception as e:
        problems.append(f"near_dup: {str(e)[:200]}")

    con = duckdb.connect()
    con.execute(f"CREATE VIEW ev AS SELECT * FROM read_parquet('{data}/stream_events.parquet/*.parquet')")
    try:
        want = con.sql(f"""
            SELECT user_id, event_type, ts, event_id, value FROM (
              SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                                           ORDER BY ts DESC, event_id DESC) AS rn
              FROM ev WHERE user_id >= {truth['transient_first_user']})
            WHERE rn = 1""").df()
        why = frames_equal(read(o / "latest_state"), want)
        if why:
            problems.append(f"latest_state: differs from the transient keys' latest rows: {why}")
    except Exception as e:
        problems.append(f"latest_state: {str(e)[:200]}")

    try:
        C = read(o / "ivf_coarse").sort_values("cluster")
        cents = np.stack(C["c_centroid"].to_numpy()).astype(np.float64)
        v = table(data, "stream_vectors").sort_values("vec_id", ignore_index=True)
        M = np.stack(v["embedding"].to_numpy()).astype(np.float64)
        cl = C["cluster"].to_numpy()[((M[:, None, :] - cents[None]) ** 2).sum(-1).argmin(1)]
        us = lambda col: pd.to_datetime(col).astype("datetime64[us]").astype("int64")
        ts = us(v["ts"])
        w = truth["window_s"] * 1_000_000
        frame = pd.DataFrame({"ws": ts // w * w, "cluster": cl})
        want = frame.groupby(["ws", "cluster"]).size().reset_index(name="n_ingested")
        got = read(o / "ivf_balance")
        got = pd.DataFrame({"ws": us(got["window_start"]), "cluster": got["cluster"],
                            "n_ingested": got["n_ingested"]})
        # every window closed by the watermark of the last data batch must be
        # out; a window the final watermark-only batch closes may be too
        chunk = -(-len(ts) // truth["chunks"])
        wm_data = ts[: len(ts) - chunk].max() - truth["watermark_s"] * 1_000_000
        wm_final = ts.max() - truth["watermark_s"] * 1_000_000
        must = want[want["ws"] + w <= wm_data]
        emitted = set(got["ws"])
        why = frames_equal(got, want[want["ws"].isin(emitted)])
        if why or not set(must["ws"]) <= emitted or max(emitted, default=0) + w > wm_final:
            problems.append(f"ivf_balance: window counts differ from nearest-centroid group-by: "
                            f"{why or 'closed windows missing or open ones emitted'}")
    except Exception as e:
        problems.append(f"ivf_balance: {str(e)[:200]}")
    return problems


def check_repeatable(out, last):
    """Batch outputs of the first and the last pass must hold the same rows."""
    problems = []
    for first in sorted((out / "pass-0").iterdir()):
        try:
            why = frames_equal(read(first), read(out / f"pass-{last}" / first.name))
        except Exception as e:
            why = str(e)[:200]
        if why:
            problems.append(f"{first.name}: output changed between passes: {why}")
    return problems


def check(workload, data, out, truth, last):
    """(problems, failed): problems make the run incorrect; failed names the
    operations on fixed inputs that gave a wrong output, one per pass."""
    data, out = Path(data), Path(out)
    if workload == "timing_catalog":
        problems, failed = check_timing(data, out, truth, last)
    else:
        fn = {"corpus_batch": check_corpus, "stream_ingest": check_stream}[workload]
        problems, failed = fn(data, out, truth, last), []
    if workload != "stream_ingest":
        problems += check_repeatable(out, last)
    return problems, failed


def layer_extras(workload, data, out, truth, last):
    """Per-layer numbers that come from the checked outputs."""
    data, out = Path(data), Path(out)
    if workload == "corpus_batch":
        q = table(data, "queries").sort_values("vec_id")
        vecs = table(data, "embeddings")
        Q = np.stack(q["embedding"].to_numpy()).astype(np.float64)
        V = np.stack(vecs["embedding"].to_numpy()).astype(np.float64)
        d2 = ((Q[:, None, :] - V[None, :, :]) ** 2).sum(-1)
        res = read(out / f"pass-{last}" / "ivfpq_search")
        hits = sum(len(set(vecs["vec_id"].to_numpy()[np.argsort(d2[i])[:10]]) &
                       set(res.loc[res["q_id"] == qid, "t_id"]))
                   for i, qid in enumerate(q["vec_id"]))
        return {"operators.ivf_recall_at_10": hits / (10 * len(q))}
    if workload == "stream_ingest":
        kept = len(read(out / "dump" / "near_dup"))
        return {"streaming.near_dups_dropped": truth["rows"]["stream_docs"] - kept}
    return {}
