"""Oracle results, independent of the engine: each registered query's
DuckDB SQL run on the same generated inputs.

Comparison and the HUGEINT/DECIMAL type lint are ``tools/check.py``'s
``compare`` and ``lint_oracle_types``, so a pass here means what a pass
of the repository's own correctness harness means.

Results are cached per input set and seed under
``.perfbench/oracle/``; ``run.py --recompute-oracle`` rebuilds them.
"""

from __future__ import annotations

import os
import pickle
import shutil
import sys

import pandas as pd


def _check_module(root: str):
    tools = os.path.join(root, "tools")
    if tools not in sys.path:
        sys.path.insert(0, tools)
    import check

    return check


def cache_dir(cache: str, seed: int, input_set: str) -> str:
    return os.path.join(cache, "oracle", f"s{seed}", input_set)


def ensure(
    root: str, cache: str, seed: int, input_set: str, sf_dir: str, queries: dict[str, str],
    recompute: bool = False,
) -> str:
    """Compute (or reuse) the oracle result of every query in
    ``queries`` (name -> DuckDB SQL). Returns the cache directory."""
    out = cache_dir(cache, seed, input_set)
    if recompute:
        shutil.rmtree(out, ignore_errors=True)
    missing = [n for n in queries if not os.path.exists(os.path.join(out, f"{n}.pkl"))]
    if not missing:
        return out
    check = _check_module(root)
    os.makedirs(out, exist_ok=True)
    con = check.duck_connect(sf_dir)
    try:
        for name in missing:
            rel = con.sql(queries[name])
            lint = check.lint_oracle_types(rel)
            result = {"lint": lint, "df": rel.df()}
            tmp = os.path.join(out, f"{name}.pkl.partial")
            with open(tmp, "wb") as f:
                pickle.dump(result, f)
            os.rename(tmp, os.path.join(out, f"{name}.pkl"))
    finally:
        con.close()
    return out


class Checker:
    """Compares engine outputs with the cached oracle results."""

    def __init__(self, root: str, oracle_dir: str):
        self._check = _check_module(root)
        self._dir = oracle_dir
        self._cache: dict[str, dict] = {}

    def problems(self, query: str, got: pd.DataFrame) -> list[str]:
        if query not in self._cache:
            with open(os.path.join(self._dir, f"{query}.pkl"), "rb") as f:
                self._cache[query] = pickle.load(f)
        want = self._cache[query]
        return list(want["lint"]) + self._check.compare(query, got, want["df"])
