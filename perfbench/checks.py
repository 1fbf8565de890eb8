"""Result checks, run outside the op timer.

Registry queries are checked against their DuckDB oracle. The oracle runs
once per input directory; its result is kept as a fingerprint: a hash of
the rows after the value canonicalization of
``plans.differential.canonicalize`` (columns sorted by name, floats to 9
significant digits, timestamps to microseconds, row order ignored), done
with vectorized numpy so a million-row result checks in well under a
second. A result whose fingerprint differs from the oracle's is compared
again through ``canonicalize`` itself, so the verdict never rests on the
fast path alone.
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np
import pandas as pd


def _round_sig9(a: np.ndarray) -> np.ndarray:
    out = a.astype(np.float64, copy=True)
    m = np.isfinite(out) & (out != 0)
    scale = 10.0 ** (np.floor(np.log10(np.abs(out[m]))) - 8)
    out[m] = np.round(out[m] / scale) * scale
    out[out == 0] = 0.0  # -0.0 and 0.0 hash alike
    return out


def _normalize(s: pd.Series) -> np.ndarray:
    if pd.api.types.is_bool_dtype(s) or pd.api.types.is_integer_dtype(s):
        return s.to_numpy(dtype=np.int64)
    if pd.api.types.is_float_dtype(s):
        return _round_sig9(s.to_numpy())
    if pd.api.types.is_datetime64_any_dtype(s):
        if getattr(s.dt, "tz", None) is not None:
            s = s.dt.tz_localize(None)
        return s.to_numpy().astype("datetime64[us]").astype(np.int64)
    return s.astype(str).to_numpy(dtype=object)


def fingerprint(pdf: pd.DataFrame) -> str:
    """Order-independent digest of a result frame (see module docstring)."""
    cols = sorted(pdf.columns)
    norm = pd.DataFrame({f"c{i}": _normalize(pdf[c]) for i, c in enumerate(cols)})
    rows = np.sort(pd.util.hash_pandas_object(norm, index=False).to_numpy())
    h = hashlib.sha256(",".join(cols).encode())
    h.update(rows.tobytes())
    return h.hexdigest()[:32]


def canonical_digest(pdf: pd.DataFrame) -> str:
    from ray_beam_runner_spark.plans.differential import canonicalize

    return hashlib.sha256(canonicalize(pdf).to_csv(index=False).encode()).hexdigest()[:32]


class Oracle:
    """DuckDB oracle results of registry queries over one input directory,
    cached on disk next to the inputs."""

    def __init__(self, sf_dir: str):
        self.sf_dir = sf_dir
        self._path = os.path.join(sf_dir, "_ORACLE.json")
        self._fp: dict[str, str] = {}
        if os.path.exists(self._path):
            with open(self._path) as f:
                self._fp = json.load(f)
        self._canon: dict[str, str] = {}

    def _run(self, name: str) -> pd.DataFrame:
        from ray_beam_runner_spark.plans.differential import duckdb_connect
        from ray_beam_runner_spark.queries import ORACLE

        con = duckdb_connect(self.sf_dir)
        try:
            return con.execute(ORACLE[name]).fetchdf()
        finally:
            con.close()

    def prepare(self, names) -> None:
        """Compute and persist the fingerprint of every missing query."""
        missing = [n for n in names if n not in self._fp]
        for name in missing:
            self._fp[name] = fingerprint(self._run(name))
        if missing:
            tmp = self._path + ".tmp"
            with open(tmp, "w") as f:
                json.dump(self._fp, f, indent=0, sort_keys=True)
            os.replace(tmp, self._path)

    def matches(self, name: str, pdf: pd.DataFrame) -> bool:
        if fingerprint(pdf) == self._fp[name]:
            return True
        if name not in self._canon:
            self._canon[name] = canonical_digest(self._run(name))
        return canonical_digest(pdf) == self._canon[name]
