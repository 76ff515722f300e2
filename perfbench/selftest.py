#!/usr/bin/env python3
"""Self-test of the benchmark's generator and output checks.

Usage (from the repository root): python3 perfbench/selftest.py

1. The generator gives byte-identical files for the same seed, and other
   files for another seed.
2. One run of every workload (seed 7, kept under perfbench/.work) passes its
   checks; then each checked output is corrupted in a copy, once by dropping
   one row and once by perturbing one value, and the check must fail and
   name that output.
3. The timing query on fixed tables is counted failed on every pass, and
   not once its outputs are replaced by its oracle's result; a timing query
   without an oracle is reported, not skipped.
Exits non-zero on the first failure.
"""
import filecmp
import json
import shutil
import subprocess
import sys
import tempfile
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

BENCH = Path(__file__).resolve().parent
sys.path.insert(0, str(BENCH))
import checks  # noqa: E402
import gen  # noqa: E402

SEED = 7


def same_tree(a, b):
    fa = sorted(p.relative_to(a) for p in Path(a).rglob("*") if p.is_file())
    fb = sorted(p.relative_to(b) for p in Path(b).rglob("*") if p.is_file())
    return fa == fb and all(filecmp.cmp(Path(a) / f, Path(b) / f, shallow=False) for f in fa)


def test_generator(tmp):
    for w in gen.WORKLOADS:
        gen.generate(w, 5, tmp / f"{w}-a")
        gen.generate(w, 5, tmp / f"{w}-b")
        gen.generate(w, 6, tmp / f"{w}-c")
        assert same_tree(tmp / f"{w}-a", tmp / f"{w}-b"), f"{w}: same seed, different files"
        assert not same_tree(tmp / f"{w}-a", tmp / f"{w}-c"), f"{w}: another seed, same files"
        print(f"ok   generator {w}: byte-identical per seed")


def rewrite(path, df):
    shutil.rmtree(path)
    path.mkdir()
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path / "part-0.parquet")


def first_where(df, mask):
    return df.index[mask][0]


# (output, where it lives, row to drop, value to perturb) per workload; the
# row choices avoid rows whose loss a correct check may legitimately accept
# (a surviving near-duplicate the planted truth allows to be dropped).
def corruptions(workload, data, truth):
    def drop_row(select=lambda df: df.index[0]):
        return lambda df: df.drop(index=select(df))

    def bump(col, delta):
        def f(df):
            df = df.copy()
            i = df.index[0]
            v = df.at[i, col]
            df.at[i, col] = v + delta if not isinstance(v, str) else v + "x"
            return df
        return f

    if workload == "timing_catalog":
        return None  # every oracle-checked query, built below
    if workload == "corpus_batch":
        kind = {int(k): v for k, v in truth["doc_kind"].items()}
        distinct = lambda df: first_where(df, df["doc_id"].map(lambda d: kind[d] == "distinct"))
        return [
            ("exact_dedup", "last", drop_row(), bump("n_copies", 1)),
            ("dedup_corpus", "last", drop_row(distinct), bump("doc_id", 10_000_000)),
            ("substring_dedup", "last", drop_row(), bump("removed_tokens", 1)),
            ("ivfpq_search", "last", drop_row(), bump("adc_d2", 1e3)),
            ("ivfpq_encode", "dump", drop_row(), lambda df: df.assign(
                cluster=[(c + 1) % 16 if i == 0 else c for i, c in enumerate(df["cluster"])])),
        ]
    repeat = truth["doc_kind"].index("repeat")
    free = set(checks.unrelated_docs(data, truth))
    return [
        ("near_dup", "dump", drop_row(lambda df: first_where(df, df["doc_id"].isin(free))),
         lambda df: df.assign(doc_id=[repeat] + df["doc_id"].tolist()[1:])),
        ("latest_state", "dump", drop_row(), bump("value", 0.5)),
        ("ivf_balance", "dump", drop_row(), bump("n_ingested", 1)),
    ]


def test_fixed(data, out, truth, last):
    """The fixed-table query fails its oracle on every pass, and the count
    comes from the compare: the oracle's own result counts as correct."""
    _, wrong = checks.check("timing_catalog", data, out, truth, last)
    sqls = json.loads((out / "dump" / "oracle_sql.json").read_text())["fixed"]
    assert len(wrong) == len(sqls) * (last + 1), f"fixed queries: {wrong}"
    print(f"ok   timing_catalog fixed tables: {len(wrong)} failed passes counted")
    with tempfile.TemporaryDirectory(dir=BENCH / ".work") as t:
        copy = Path(t) / "outputs"
        shutil.copytree(out, copy)
        con = checks.duck(data / "asof_fixed", ["events", "orders"])
        for name, sql in sqls.items():
            for target in (copy / "fixed").glob(f"pass-*/{name}"):
                rewrite(target, con.sql(sql).df())
        problems, wrong = checks.check("timing_catalog", data, copy, truth, last)
        assert not problems and not wrong, f"oracle output counted wrong: {problems} {wrong}"
    print("ok   timing_catalog fixed tables: the oracle's own output is not counted failed")


def test_oracle_list(data, out, truth, last):
    """A query the passes ran is checked or reported: one whose oracle is
    null, or that is missing from the oracle list, is a check failure."""
    with tempfile.TemporaryDirectory(dir=BENCH / ".work") as t:
        copy = Path(t) / "outputs"
        shutil.copytree(out, copy)
        f = copy / "dump" / "oracle_sql.json"
        sqls = json.loads(f.read_text())
        name = sorted(sqls["passes"])[0]
        for label, edit in (("null oracle", lambda d: d.update({name: None})),
                            ("not listed", lambda d: d.pop(name))):
            edited = json.loads(json.dumps(sqls))
            edit(edited["passes"])
            f.write_text(json.dumps(edited))
            problems, _ = checks.check("timing_catalog", data, copy, truth, last)
            hit = [p for p in problems if p.startswith(name)]
            assert hit, f"timing_catalog {name} ({label}): unchecked output not reported"
            print(f"ok   timing_catalog {name} ({label}): {hit[0][:100]}")


def test_checks(workload):
    work = BENCH / ".work" / f"{workload}-{SEED}"
    subprocess.run([sys.executable, str(BENCH / "run.py"), "--workload", workload, "--seed",
                    str(SEED), "--seconds", "1", "--trace", "0", "--keep"], check=True,
                   stdout=subprocess.DEVNULL)
    data, out = work / "data", work / "out" / "outputs"
    truth = json.loads((data / "truth.json").read_text())
    last = json.loads((work / "out" / "result.json").read_text())["passes"] - 1
    clean, _ = checks.check(workload, data, out, truth, last)
    assert not clean, f"{workload}: clean run fails its checks: {clean}"
    print(f"ok   {workload}: clean outputs pass")
    cases = corruptions(workload, data, truth)
    if cases is None:
        test_fixed(data, out, truth, last)
        test_oracle_list(data, out, truth, last)
        names = json.loads((out / "dump" / "oracle_sql.json").read_text())["passes"]
        cases = []
        for n in sorted(names):
            df = checks.read(out / f"pass-{last}" / n)
            num = [c for c in df.columns if df[c].dtype.kind in "if"]
            col = num[0] if num else df.columns[0]
            cases.append((n, "last", lambda d: d.iloc[1:],
                          lambda d, c=col: d.assign(**{c: [v + 1 if not isinstance(v, str) else v + "x"
                                                            for v in d[c].iloc[:1]] + d[c].iloc[1:].tolist()})))
    if workload != "stream_ingest":
        name = cases[0][0]
        cases.append((name, "first", cases[0][2], cases[0][3]))
    for name, where, drop, perturb in cases:
        for label, fn in (("row dropped", drop), ("value perturbed", perturb)):
            with tempfile.TemporaryDirectory(dir=BENCH / ".work") as t:
                copy = Path(t) / "outputs"
                shutil.copytree(out, copy)
                sub = {"last": f"pass-{last}", "first": "pass-0", "dump": "dump"}[where]
                target = copy / sub / name
                rewrite(target, fn(checks.read(target)))
                problems, _ = checks.check(workload, data, copy, truth, last)
                hit = [p for p in problems if p.startswith(name)]
                assert hit, f"{workload} {name} ({where}, {label}): corruption not caught"
                print(f"ok   {workload} {name} ({where}, {label}): {hit[0][:100]}")


def main():
    (BENCH / ".work").mkdir(exist_ok=True)
    with tempfile.TemporaryDirectory(dir=BENCH / ".work") as t:
        test_generator(Path(t))
    for w in gen.WORKLOADS:
        test_checks(w)
    print("selftest passed")


if __name__ == "__main__":
    main()
