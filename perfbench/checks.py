"""Output checks computed apart from the program.

Each ``check_*`` function takes the program's output as pandas frames
plus an independently computed expectation, and raises ``CheckError``
on the first mismatch. Nothing here imports the program: the star
metrics are recomputed with pandas from the raw CSV, the corpus gates
are recomputed from their documented formulas, and query results are
compared against DuckDB.

Floats are compared within ``TOL`` after rows are matched on their
non-float columns. The program rounds every float to 6 decimals
(HALF_UP on the decimal value) while pandas and DuckDB round the
binary double (half-even), so a value that lands on a rounding
boundary may differ by one unit of the 6th decimal between two
correct engines; it may never differ by more.
"""

from __future__ import annotations

import datetime
import hashlib
import re

import numpy as np
import pandas as pd

TOL = 1e-6 + 1e-9


class CheckError(AssertionError):
    pass


def _fail(msg: str) -> None:
    raise CheckError(msg)


# --- generic frame comparison ------------------------------------------


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        first = s.dropna().iloc[0] if s.dropna().size else None
        if s.dtype == object and isinstance(first, (datetime.date, datetime.datetime)):
            s = pd.to_datetime(s)
        if pd.api.types.is_datetime64_any_dtype(s):
            s = pd.to_datetime(s)
            if getattr(s.dt, "tz", None) is not None:
                s = s.dt.tz_convert("UTC").dt.tz_localize(None)
            df[c] = s.astype("datetime64[us]")
        elif pd.api.types.is_bool_dtype(s):
            df[c] = s.astype("boolean")
        elif pd.api.types.is_integer_dtype(s):
            df[c] = s.astype("Int64")
        elif pd.api.types.is_float_dtype(s) or isinstance(first, float):
            df[c] = s.astype("float64")
        elif isinstance(first, (list, tuple, np.ndarray)):
            df[c] = s.map(lambda v: None if v is None else tuple(v))
        elif isinstance(first, (int, np.integer)):
            df[c] = s.astype("Int64")
    return df


def compare_frames(got: pd.DataFrame, want: pd.DataFrame, what: str) -> None:
    """Same columns, same row multiset; floats within ``TOL`` once
    rows are matched on every non-float column."""
    if sorted(got.columns) != sorted(want.columns):
        _fail(f"{what}: columns {sorted(got.columns)} != {sorted(want.columns)}")
    if len(got) != len(want):
        _fail(f"{what}: {len(got)} rows, expected {len(want)}")
    g, w = _normalize(got), _normalize(want)
    floats = [c for c in g.columns if g[c].dtype == "float64"]
    keys = [c for c in g.columns if c not in floats]
    order = keys + floats
    g = g.sort_values(order, na_position="last", kind="stable").reset_index(drop=True)
    w = w.sort_values(order, na_position="last", kind="stable").reset_index(drop=True)
    for c in keys:
        gs, ws = g[c], w[c]
        same = (gs == ws).fillna(False) | (gs.isna() & ws.isna())
        if not bool(np.all(same)):
            i = int(np.flatnonzero(~np.asarray(same))[0])
            _fail(f"{what}: column {c} row {i}: {gs.iloc[i]!r} != {ws.iloc[i]!r}")
    for c in floats:
        _close(g[c].to_numpy(), w[c].to_numpy(), f"{what}: column {c}")


def _close(got: np.ndarray, want: np.ndarray, what: str) -> None:
    got, want = np.asarray(got, dtype=float), np.asarray(want, dtype=float)
    gn, wn = np.isnan(got), np.isnan(want)
    if not np.array_equal(gn, wn):
        i = int(np.flatnonzero(gn != wn)[0])
        _fail(f"{what} row {i}: NULL mismatch ({got[i]} vs {want[i]})")
    diff = np.abs(np.where(gn, 0.0, got - want))
    if diff.size and diff.max() > TOL:
        i = int(diff.argmax())
        _fail(f"{what} row {i}: {got[i]!r} != {want[i]!r}")


# --- star_etl ------------------------------------------------------------

NUMERIC_COLS = ["Open", "High", "Low", "Close", "Adj Close", "Volume"]


def parse_drop(csv_path: str) -> tuple[pd.DataFrame, int]:
    """Independent parse of a stocks CSV drop: a row whose date or any
    numeric cell does not parse is malformed. Returns (good rows,
    number of malformed rows)."""
    raw = pd.read_csv(csv_path, dtype=str, keep_default_na=False)
    good = pd.DataFrame({"Ticker": raw["Ticker"]})
    good["Date"] = pd.to_datetime(raw["Date"], format="%Y-%m-%d", errors="coerce")
    for c in NUMERIC_COLS:
        good[c] = pd.to_numeric(raw[c], errors="coerce")
    ok = good.notna().all(axis=1)
    return good[ok].reset_index(drop=True), int((~ok).sum())


def expected_star(good: pd.DataFrame) -> dict[str, pd.DataFrame]:
    """The reference's metrics recomputed with pandas: per ticker in
    date order, DailyReturn = pct_change of Close (rounded to 6 dp)
    and Volatility = the 20-row sample std of those returns, NULL
    until 20 returns exist."""
    g = good.sort_values(["Ticker", "Date"], ignore_index=True)
    ret = g.groupby("Ticker")["Close"].pct_change().round(6)
    vol = ret.groupby(g["Ticker"]).rolling(20, min_periods=20).std().reset_index(level=0, drop=True)
    fact = pd.DataFrame(
        {
            "series_key": g["Ticker"],
            "date": g["Date"],
            "close": g["Close"],
            "volume": g["Volume"].astype(np.int64),
            "daily_return": ret,
            "volatility": vol.round(6),
        }
    )
    tickers = sorted(g["Ticker"].unique())
    entity = pd.DataFrame(
        {"entity_key": [hashlib.md5(t.encode()).hexdigest() for t in tickers], "entity_name": tickers}
    )
    dates = pd.Series(sorted(g["Date"].unique()))
    dow = (dates.dt.weekday + 1) % 7  # 0 = Sunday, as the reference's strftime('%w')
    dim_date = pd.DataFrame(
        {
            "date_key": dates,
            "year": dates.dt.year,
            "month": dates.dt.month,
            "dow": dow,
            "is_weekend": dow.isin([0, 6]),
        }
    )
    return {"fact": fact, "entity": entity, "dim_date": dim_date}


def check_star(
    fact: pd.DataFrame,
    entity: pd.DataFrame,
    dim_date: pd.DataFrame,
    want: dict[str, pd.DataFrame],
    n_rows: int,
    n_planted: int,
    n_malformed: int,
) -> None:
    """``fact``/``entity``/``dim_date`` are the written star tables;
    ``want`` comes from ``expected_star``."""
    if n_malformed != n_planted:
        _fail(f"independent parse found {n_malformed} malformed rows, {n_planted} were planted")
    rejected = n_rows - len(fact)
    if rejected != n_planted:
        _fail(f"{rejected} rows rejected, {n_planted} planted")
    keys = [hashlib.md5(t.encode()).hexdigest() for t in fact["series_key"]]
    if list(fact["entity_key"]) != keys:
        _fail("fact_market.entity_key is not md5(ticker)")
    d = pd.to_datetime(fact["date"])
    if not (np.array_equal(d.dt.year, fact["year"]) and np.array_equal(d.dt.month, fact["month"])):
        _fail("fact_market year/month partitions disagree with date")
    cols = list(want["fact"].columns)
    compare_frames(fact[cols], want["fact"], "fact_market")
    compare_frames(entity, want["entity"], "dim_entity")
    compare_frames(dim_date[list(want["dim_date"].columns)], want["dim_date"], "dim_date")


# --- corpus --------------------------------------------------------------

EN_STOP = ("the", "a", "of", "and", "to", "in", "is", "that", "it", "for")
STOP = {
    "en": EN_STOP,
    "es": ("el", "la", "de", "que", "y", "en", "un", "por", "con", "los"),
    "fr": ("le", "la", "de", "et", "les", "des", "en", "un", "du", "que"),
    "de": ("der", "die", "und", "in", "den", "von", "zu", "das", "mit", "ist"),
    "zh": ("de", "shi", "le", "zai", "you", "wo", "ta", "men", "zhe", "bu"),
}
LANG_ORDER = ("en", "es", "fr", "de", "zh")
PUNCT = re.compile(r"[.,!?;:()\-]")
NON_ALPHA = re.compile(r"[^A-Za-z]")
TOKEN = re.compile(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]")


def _norm(text: str) -> str:
    return re.sub(r"\s+", " ", text.strip(" ").lower())


def quality_gate(text: str) -> tuple[float, str]:
    """(quality score, predicted language) by the corpus builder's
    documented heuristic: a linear blend of length, alpha, stopword
    and punctuation ratios; language = the stopword list with the
    largest distinct-token overlap, first in fixed order on ties."""
    words = _norm(text).split(" ")
    n_chars, n_words = len(text), len(words)
    n_stop = sum(w in EN_STOP for w in words)
    punct = (n_chars - len(PUNCT.sub("", text))) / n_chars
    alpha = len(NON_ALPHA.sub("", text)) / n_chars
    score = (
        min(n_words / 100.0, 1.0) * 0.25
        + alpha * 0.35
        + min(n_stop / n_words * 5.0, 1.0) * 0.25
        + (1.0 - min(punct * 10.0, 1.0)) * 0.15
    )
    distinct = set(words)
    overlap = {lang: len(distinct & set(STOP[lang])) for lang in LANG_ORDER}
    best = max(overlap.values())
    lang = next(lang for lang in LANG_ORDER if overlap[lang] == best) if best > 0 else "und"
    return score, lang


def expected_corpus(docs: pd.DataFrame, quality_min: float = 0.5) -> dict[str, set[int]]:
    """Doc ids that must and may survive the default gate chain:
    quality and language gate, then exact dedup on the normalized
    text keeping the smallest id. A doc whose score sits within one
    unit of the 6th decimal of the threshold may go either way."""
    scored = [(int(i), t, *quality_gate(t)) for i, t in zip(docs["doc_id"], docs["text"])]
    must, may = {}, {}
    for doc_id, text, score, lang in sorted(scored):
        if lang == "und":
            continue
        key = _norm(text)
        if score >= quality_min - TOL:
            may.setdefault(key, doc_id)
        if score >= quality_min + TOL:
            must.setdefault(key, doc_id)
    return {"must": set(must.values()), "may": set(may.values())}


def check_corpus(
    out: pd.DataFrame, stats: dict, want: dict[str, set[int]], splits: list[str], seq_budget: int
) -> None:
    """``out`` is the written corpus (every column plus ``split``)."""
    ids = out["doc_id"].astype(np.int64)
    if ids.duplicated().any():
        _fail("a doc appears in more than one split or twice in one split")
    kept = set(ids)
    if not want["must"] <= kept:
        _fail(f"{len(want['must'] - kept)} docs that pass every gate are missing")
    if not kept <= want["may"]:
        _fail(f"{len(kept - want['may'])} kept docs fail the quality gate or duplicate a kept doc")
    if out["text"].map(_norm).duplicated().any():
        _fail("duplicate content survived")
    if not set(out["split"]) <= set(splits):
        _fail(f"unknown split names {set(out['split']) - set(splits)}")
    if stats["kept"] != len(out) or sum(stats["per_split"].values()) != len(out):
        _fail(f"split sizes {stats['per_split']} do not partition the {len(out)} kept docs")
    for name in splits:
        if stats["per_split"][name] != int((out["split"] == name).sum()):
            _fail(f"split {name}: stats say {stats['per_split'][name]} docs")
    tokens = out["text"].map(lambda t: len(TOKEN.findall(t)))
    if not np.array_equal(tokens.to_numpy(), out["n_tokens"].to_numpy()):
        _fail("n_tokens disagrees with the pre-tokenizer count")
    bins = out.groupby(["split", "bin_id"]).agg(
        tok=("n_tokens", "sum"), n=("n_tokens", "size"), big=("oversize", "max")
    )
    over = bins[(bins["tok"] > seq_budget) & ~((bins["n"] == 1) & bins["big"])]
    if len(over):
        _fail(f"{len(over)} packed sequences exceed the {seq_budget}-token budget")
