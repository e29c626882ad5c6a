"""Self-tests for the output checks: each check must accept an output
built from the independent computation and reject deliberately
corrupted copies of it, so that no check can pass vacuously.

    python3 perfbench/selftest.py

Needs no Spark session; ``run.py`` runs it before every benchmark run
and refuses to measure if any case misbehaves.
"""

from __future__ import annotations

import hashlib
import os
import sys
import tempfile

import numpy as np
import pandas as pd

import checks
import inputs


def _star_case(tmp: str):
    meta = inputs.stocks_drop(os.path.join(tmp, "drop"), seed=7, n_tickers=6, n_days=60, n_bad=4)
    good, n_malformed = checks.parse_drop(meta["path"])
    want = checks.expected_star(good)
    fact = want["fact"].copy()
    fact["entity_key"] = [hashlib.md5(t.encode()).hexdigest() for t in fact["series_key"]]
    fact["year"] = fact["date"].dt.year
    fact["month"] = fact["date"].dt.month
    args = dict(want=want, n_rows=meta["rows"], n_planted=len(meta["bad"]), n_malformed=n_malformed)
    return fact, want["entity"].copy(), want["dim_date"].copy(), args


def _corpus_case():
    rng = np.random.default_rng(11)
    docs = inputs._documents(rng, 300).to_pandas()
    docs.loc[5, "text"] = "zz qq xx"  # no stopword: language gate drops it
    want = checks.expected_corpus(docs)
    assert 5 not in want["may"] and want["must"] == want["may"]
    out = docs[docs["doc_id"].isin(want["must"])].copy()
    out["split"] = np.array(["train", "val", "test"])[np.arange(len(out)) % 3]
    out["n_tokens"] = out["text"].map(lambda t: len(checks.TOKEN.findall(t)))
    out["bin_id"] = np.arange(len(out))
    out["oversize"] = False
    stats = {"kept": len(out), "per_split": out["split"].value_counts().to_dict()}
    return docs, out.reset_index(drop=True), stats, want


def cases(tmp: str):
    """(name, callable that must raise CheckError or not, expect_reject)."""
    fact, entity, dim_date, a = _star_case(tmp)

    def star(f=fact, e=entity, d=dim_date, **over):
        kw = dict(a, **over)
        return lambda: checks.check_star(f, e, d, kw["want"], kw["n_rows"], kw["n_planted"], kw["n_malformed"])

    def mod(df, fn):
        df = df.copy()
        fn(df)
        return df

    first_vol = fact["volatility"].first_valid_index()
    yield "star: exact output passes", star(), False
    yield "star: within tolerance passes", star(
        f=mod(fact, lambda d: d.__setitem__("volatility", d["volatility"] + 5e-7))
    ), False
    yield "star: shifted return", star(
        f=mod(fact, lambda d: d.__setitem__("daily_return", d.groupby("series_key")["daily_return"].shift(1)))
    ), True
    yield "star: volatility off by 2e-6", star(
        f=mod(fact, lambda d: d.__setitem__("volatility", d["volatility"].where(d.index != first_vol, d["volatility"] + 2e-6)))
    ), True
    yield "star: volatility before 20 returns", star(
        f=mod(fact, lambda d: d.__setitem__("volatility", d["volatility"].fillna(0.01)))
    ), True
    yield "star: dropped row", star(f=fact.drop(index=3).reset_index(drop=True)), True
    yield "star: malformed row kept", star(
        f=pd.concat([fact, fact.iloc[[0]]], ignore_index=True)
    ), True
    yield "star: wrong md5", star(
        f=mod(fact, lambda d: d.__setitem__("entity_key", d["entity_key"].where(d.index != 0, "0" * 32)))
    ), True
    yield "star: wrong dim_entity md5", star(
        e=mod(entity, lambda d: d.__setitem__("entity_key", d["entity_key"].str.upper()))
    ), True
    yield "star: wrong weekend flag", star(
        d=mod(dim_date, lambda d: d.__setitem__("is_weekend", ~d["is_weekend"]))
    ), True
    yield "star: wrong day of week", star(d=mod(dim_date, lambda d: d.__setitem__("dow", (d["dow"] + 1) % 7))), True
    yield "star: missing trading date", star(d=dim_date.iloc[1:].reset_index(drop=True)), True
    yield "star: planted count mismatch", star(n_malformed=a["n_malformed"] - 1), True

    docs, out, stats, want = _corpus_case()

    def corpus(o=out, s=stats):
        return lambda: checks.check_corpus(o, s, want, ["train", "val", "test"], 512)

    def restat(o):
        return {"kept": len(o), "per_split": {k: int((o["split"] == k).sum()) for k in ("train", "val", "test")}}

    lost = out[out["split"] != "val"].reset_index(drop=True)
    dup = pd.concat([out, out.iloc[[0]].assign(doc_id=10_000)], ignore_index=True)
    bad = pd.concat([out, docs.iloc[[5]].assign(split="train", n_tokens=3, bin_id=-1, oversize=False)], ignore_index=True)
    packed = mod(out, lambda d: d.__setitem__("bin_id", 0))
    yield "corpus: exact output passes", corpus(), False
    yield "corpus: lost split", corpus(lost, restat(lost)), True
    yield "corpus: split stats disagree", corpus(s={"kept": len(out), "per_split": {"train": len(out), "val": 0, "test": 0}}), True
    yield "corpus: duplicate content", corpus(dup, restat(dup)), True
    yield "corpus: doc failing the gate kept", corpus(bad, restat(bad)), True
    yield "corpus: dropped doc", corpus(out.iloc[1:], restat(out.iloc[1:])), True
    yield "corpus: doc in two splits", corpus(
        pd.concat([out, out.iloc[[0]].assign(split="val")], ignore_index=True), stats
    ), True
    yield "corpus: sequence over budget", corpus(packed), True
    yield "corpus: wrong token count", corpus(mod(out, lambda d: d.__setitem__("n_tokens", d["n_tokens"] + 1))), True

    q = pd.DataFrame({"k": ["a", "b", "c"], "t": pd.to_datetime(["2024-01-01", "2024-01-02", "2024-01-03"]), "v": [0.1, 0.2, None]})
    yield "frames: reordered rows pass", lambda: checks.compare_frames(q.iloc[::-1], q, "q"), False
    yield "frames: dropped row", lambda: checks.compare_frames(q.iloc[1:], q, "q"), True
    yield "frames: float off by 2e-6", lambda: checks.compare_frames(mod(q, lambda d: d.__setitem__("v", d["v"] + 2e-6)), q, "q"), True
    yield "frames: NULL became a value", lambda: checks.compare_frames(mod(q, lambda d: d.__setitem__("v", d["v"].fillna(0.0))), q, "q"), True
    yield "frames: wrong key", lambda: checks.compare_frames(mod(q, lambda d: d.__setitem__("k", ["a", "b", "x"])), q, "q"), True
    yield "frames: missing column", lambda: checks.compare_frames(q.drop(columns="v"), q, "q"), True


def run(verbose: bool = False) -> list[str]:
    """Return the names of the cases that misbehaved."""
    bad = []
    with tempfile.TemporaryDirectory(prefix="selftest-") as tmp:
        named = list(cases(tmp))
    for name, fn, expect_reject in named:
        try:
            fn()
            rejected = False
        except checks.CheckError:
            rejected = True
        ok = rejected == expect_reject
        if verbose:
            print(f"{'ok ' if ok else 'BAD'} {name}")
        if not ok:
            bad.append(name)
    return bad


if __name__ == "__main__":
    sys.exit(1 if run(verbose=True) else 0)
