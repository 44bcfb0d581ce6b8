"""Output checks that do not depend on a recorded fingerprint.

Each check looks at one workload's collected result tables and returns a
list of problems (empty when the output is right). They run on the warm
iteration of every run, so a seed never seen before is still checked
against facts that follow from how its inputs were generated.
"""

from __future__ import annotations

import numpy as np


def _clean_factor(t: dict, state: dict) -> list[str]:
    cf = t["clean_factor"]
    problems = []
    if len(cf) == 0:
        return ["clean_factor is empty"]
    if not set(cf["factor_quantile"]) <= {1, 2, 3, 4, 5}:
        problems.append("factor_quantile outside 1..5")
    if cf["group"].isna().any():
        problems.append("clean_factor has rows without a group")
    # prices are complete, so the 1D forward return is the next
    # business day's price over today's
    px = state["prices_pd"].pivot(index="date", columns="asset", values="price")
    nxt = (px.shift(-1) / px - 1.0).stack().rename("want").reset_index()
    got = cf.merge(nxt, on=["date", "asset"], how="left")
    if not np.allclose(got["1D"], got["want"], rtol=1e-9, atol=1e-12):
        problems.append("1D forward returns differ from the prices")
    return problems


TEAR_SHEET_TABLES = {
    "factor_returns", "mean_return_by_quantile", "mean_return_by_quantile_by_date",
    "alpha_beta", "mean_returns_spread", "ic", "ic_summary", "mean_ic_monthly",
    "quantile_turnover", "turnover_summary", "rank_autocorrelation",
}


def _factor_tear_sheet(t: dict, state: dict) -> list[str]:
    problems = _clean_factor(t, state)
    tables = set(t) - {"clean_factor"}
    if tables != TEAR_SHEET_TABLES:
        problems.append(f"tear-sheet tables differ: {sorted(tables ^ TEAR_SHEET_TABLES)}")
    problems += [f"{k} is empty" for k, v in t.items() if len(v) == 0]
    if len(t.get("mean_return_by_quantile", [])) != 5:
        problems.append("mean_return_by_quantile does not have 5 quantiles")
    ic = t.get("ic")
    if ic is not None and not ic.drop(columns="date").abs().le(1.0 + 1e-9).all().all():
        problems.append("an IC lies outside [-1, 1]")
    return problems


def _corpus(t: dict, state: dict) -> list[str]:
    n = state["n_docs"]
    problems = [
        f"{k} has {len(t[k])} rows, not one per document"
        for k in ("simhash", "token_stats", "bm25", "dsir")
        if len(t[k]) != n
    ]
    if t["exact_dups"]["n_dups"].sum() != n:
        problems.append("exact-duplicate groups do not cover every document")
    if len(t["exact_dups"]) == n:
        problems.append("no exact duplicate found, but the inputs hold some")
    aj = t["allpairs_jaccard"]["jaccard"]
    if len(aj) == 0 or aj.min() < 0.6 - 1e-12 or aj.max() > 1.0 + 1e-12:
        problems.append("all-pairs Jaccard pairs missing or outside [0.6, 1]")
    # every language has its own affixes, so n-gram language ID is exact
    if t["langid"]["correct"].mean() < 0.95:
        problems.append("language ID accuracy below 95%")
    pairs = t["allpairs_jaccard"]
    nodes = set(pairs["id_a"]) | set(pairs["id_b"])
    if set(t["dup_clusters"]["node"]) != nodes:
        problems.append("duplicate clusters do not label every near-duplicate")
    tp = t["token_pairs"]
    if len(tp) == 0 or not (tp["item_a"] < tp["item_b"]).all():
        problems.append("token co-occurrence pairs missing or not ordered")
    return problems


_CHECKS = {"factor_tear_sheet": _factor_tear_sheet, "corpus_curation": _corpus}


def check(workload: str, tables: dict, state: dict) -> list[str]:
    return _CHECKS[workload](tables, state)
