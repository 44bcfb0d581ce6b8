"""Seeded input generation for the benchmark workloads.

Every generator is a pure function of ``(seed, sf)``: the same pair gives
the same pandas frames, byte for byte. The library only ever sees these
generated frames, converted to Spark DataFrames by the workloads.

``sf`` follows the shape of the TPC-H-ish test tables: at sf 0.1 there
are 1,000 assets and 5,000 documents, and both scale linearly with
``sf``. The number of trading dates grows with the square root of ``sf``
(379 at sf 0.1, 120 at sf 0.01). Small floors keep sf 0.001 exercising
every code path.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

# 25 TPC-H nation names: the group labels of the factor panel
NATIONS = [
    "ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA",
    "FRANCE", "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN",
    "JORDAN", "KENYA", "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA", "ROMANIA",
    "SAUDI ARABIA", "VIETNAM", "RUSSIA", "UNITED KINGDOM", "UNITED STATES",
]

# one stem vocabulary, inflected per language so character n-grams
# carry the language (language ID then has a real signal to find)
_STEMS = [
    "data", "query", "join", "scan", "window", "table", "batch", "stream",
    "order", "group", "value", "column", "spark", "merge", "sort", "hash",
    "filter", "key", "row", "line", "part", "agg", "vector", "customer",
    "small", "big", "fast", "slow", "the", "a", "index",
]
_LANG_AFFIX = {
    "en": ("", ""),
    "de": ("ge", "ung"),
    "es": ("", "ado"),
    "fr": ("le", "eux"),
    "zh": ("zh", "qi"),
}
LANGS = sorted(_LANG_AFFIX)
N_SOURCES = 20


def _rng(seed: int, stream: int) -> np.random.Generator:
    # seed sequences take non-negative entries only
    return np.random.default_rng([seed % 2**63, stream])


def _sizes(sf: float) -> dict[str, int]:
    return {
        "assets": max(12, int(round(10_000 * sf))),
        "dates": max(40, int(round(1_200 * sf ** 0.5))),
        "docs": max(60, int(round(50_000 * sf))),
    }


def factor_panel(seed: int, sf: float) -> dict[str, pd.DataFrame]:
    """(date, asset, factor), (date, asset, price) and (asset, group).

    Prices are a heavy-tailed random walk over business days; the factor
    is a noisy view of the next five days' return, so quantile spreads and
    IC are non-trivial. About 15% of (date, asset) factor observations are
    missing, and a few price jumps trip the z-score filter.
    """
    n = _sizes(sf)
    rng = _rng(seed, 1)
    dates = pd.bdate_range("2015-01-02", periods=n["dates"])
    assets = np.arange(1, n["assets"] + 1, dtype=np.int64)
    rets = rng.standard_t(df=3, size=(len(dates), len(assets))) * 0.01
    logp = np.log(20 + 80 * rng.random(len(assets))) + np.cumsum(rets, axis=0)
    price = np.exp(logp)
    fwd5 = np.full_like(price, np.nan)
    fwd5[:-5] = price[5:] / price[:-5] - 1.0
    signal = np.nan_to_num(fwd5) + rng.normal(0.0, 0.04, size=price.shape)
    keep = rng.random(price.shape) > 0.15
    d_idx, a_idx = np.nonzero(keep)
    factor = pd.DataFrame({
        "date": dates[d_idx],
        "asset": assets[a_idx],
        "factor": signal[d_idx, a_idx],
    })
    dd, aa = np.meshgrid(np.arange(len(dates)), np.arange(len(assets)), indexing="ij")
    prices = pd.DataFrame({
        "date": dates[dd.ravel()],
        "asset": assets[aa.ravel()],
        "price": price.ravel(),
    })
    groups = pd.DataFrame({
        "asset": assets,
        "group": np.array(NATIONS, dtype=object)[rng.integers(0, len(NATIONS), len(assets))],
    })
    return {"factor": factor, "prices": prices, "groups": groups}


def documents(seed: int, sf: float) -> dict:
    """(doc_id, text, lang, source, n_chars) with injected duplicates.

    About 4% of documents are exact copies of an earlier document and 12%
    are near-duplicates (an earlier document with a few tokens replaced),
    so every dedup operator finds work. The seed also picks the BM25 query
    terms and the two DSIR target sources.
    """
    n = _sizes(sf)["docs"]
    rng = _rng(seed, 2)
    vocab = {
        lang: [pre + s + suf for s in _STEMS] for lang, (pre, suf) in _LANG_AFFIX.items()
    }
    langs = np.array(LANGS, dtype=object)[rng.integers(0, len(LANGS), n)]
    lengths = rng.integers(12, 90, n)
    kind = rng.random(n)
    texts: list[str] = []
    for i in range(n):
        words = vocab[langs[i]]
        if i >= 10 and kind[i] < 0.04:
            j = int(rng.integers(0, i))
            texts.append(texts[j])
            langs[i] = langs[j]
            continue
        if i >= 10 and kind[i] < 0.16:
            j = int(rng.integers(0, i))
            toks = texts[j].split(" ")
            for p in rng.integers(0, len(toks), max(1, len(toks) // 20)):
                toks[p] = vocab[langs[j]][int(rng.integers(0, len(_STEMS)))]
            texts.append(" ".join(toks))
            langs[i] = langs[j]
            continue
        # Zipf-ish word choice: common words dominate, as in real text
        idx = np.minimum(rng.zipf(1.4, lengths[i]) - 1, len(_STEMS) - 1)
        texts.append(" ".join(words[k] for k in idx))
    docs = pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": langs,
        "source": [f"src{k}" for k in rng.integers(0, N_SOURCES, n)],
    })
    docs["n_chars"] = docs["text"].str.len().astype(np.int64)
    en = vocab["en"]
    terms = [en[k] for k in rng.choice(len(en), size=3, replace=False)]
    targets = [f"src{k}" for k in sorted(rng.choice(N_SOURCES, size=2, replace=False))]
    return {"docs": docs, "bm25_terms": terms, "dsir_sources": targets}

