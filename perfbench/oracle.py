"""Output checks: canonical result digests against the registry's DuckDB oracles.

A query's result is reduced to one SHA-256 digest of its canonical form:
columns sorted by name, rows sorted, every value mapped to a canonical
string. The canonicalisation follows ``tests/test_oracle_parity.py``:
floats compare exactly (no tolerance), NaN and NULL are the same value, an
integral float equals the integer, timestamps print to the microsecond and
lists compare element-wise.

Oracle digests are expensive (some DuckDB oracles run for minutes at
scale), so they are computed once per input data set and stored:
``digests.json`` beside this file holds the digests of the inputs the
benchmark ships, keyed by a fingerprint of those inputs. Digests for any
other input are computed on first use and cached in the work directory.
"""

from __future__ import annotations

import datetime as _dt
import decimal
import hashlib
import json
import math
import os

import numpy as np
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
SHIPPED_DIGESTS = os.path.join(HERE, "digests.json")


def _canon_value(v):
    if v is None or v is pd.NaT:
        return None
    if isinstance(v, (bool, np.bool_)):
        return "b:" + str(bool(v))
    if isinstance(v, (int, np.integer)):
        return "n:" + str(int(v))
    if isinstance(v, (float, np.floating)):
        f = float(v)
        if math.isnan(f):
            return None
        if f.is_integer() and abs(f) < 2**63:
            return "n:" + str(int(f))
        return "n:" + repr(f)
    if isinstance(v, decimal.Decimal):
        if v.is_nan():
            return None
        if v == v.to_integral_value():
            return "n:" + str(int(v))
        f = float(v)
        return "n:" + (repr(f) if decimal.Decimal(f) == v else str(v.normalize()))
    if isinstance(v, pd.Timestamp):
        return "t:" + v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, _dt.datetime):
        return "t:" + v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, _dt.date):
        return "d:" + v.isoformat()
    if isinstance(v, (bytes, bytearray, memoryview)):
        return "x:" + bytes(v).hex()
    if isinstance(v, dict):
        return [_canon_value(x) for x in v.values()]
    if isinstance(v, (list, tuple, np.ndarray)):
        return [_canon_value(x) for x in v]
    return "s:" + str(v)


def digest(pdf: pd.DataFrame) -> dict:
    """``{"rows": n, "sha256": hex}`` of a result frame, order-insensitive."""
    cols = sorted(pdf.columns)
    rows = sorted(
        json.dumps([_canon_value(v) for v in row])
        for row in pdf[cols].itertuples(index=False, name=None)
    )
    h = hashlib.sha256(json.dumps(cols).encode())
    for r in rows:
        h.update(b"\n" + r.encode())
    return {"rows": len(rows), "sha256": h.hexdigest()}


def _file_sha(path: str) -> str:
    with open(path, "rb") as f:
        return hashlib.file_digest(f, "sha256").hexdigest()


def fingerprint(data_dir: str) -> str:
    """Content fingerprint of an input directory's parquet tables."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(data_dir)):
        if name.endswith(".parquet"):
            h.update(f"{name}:{_file_sha(os.path.join(data_dir, name))}\n".encode())
    return h.hexdigest()[:16]


def duckdb_digests(data_dir: str, names: list[str]) -> dict[str, dict]:
    """Run each query's registered oracle SQL in DuckDB over ``data_dir``."""
    import duckdb

    from oil_wells_data_wrangling_spark.plans.registry import REGISTRY, _load_all
    from oil_wells_data_wrangling_spark.sources.readers import TABLE_NAMES

    _load_all()
    con = duckdb.connect()
    con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
    for t in TABLE_NAMES:
        path = os.path.join(data_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    out = {}
    for name in names:
        oracle = REGISTRY[name].oracle
        if oracle is None:
            raise SystemExit(f"{name} has no oracle; it cannot be a benchmark query")
        out[name] = digest(con.execute(oracle).fetchdf())
    con.close()
    return out


def expected_digests(
    key: str, data_dir: str, names: list[str], cache_dir: str, shipped: str
) -> dict[str, dict]:
    """Oracle digests for ``names`` over the input identified by ``key``:
    from the shipped file when it has them, else computed once and cached."""
    def load(path: str) -> dict[str, dict]:
        if not os.path.exists(path):
            return {}
        with open(path) as f:
            return json.load(f).get(key, {})

    cached = os.path.join(cache_dir, f"digests-{key}.json")
    store = load(cached)
    known = {**store, **load(shipped)}  # the shipped (or given) file wins
    missing = [n for n in names if n not in known]
    if missing:
        print(f"oracle: computing {len(missing)} DuckDB digest(s) for {key}", flush=True)
        fresh = duckdb_digests(data_dir, missing)
        known.update(fresh)
        with open(cached + ".tmp", "w") as f:
            json.dump({key: {**store, **fresh}}, f, indent=1, sort_keys=True)
        os.replace(cached + ".tmp", cached)
    return {n: known[n] for n in names}
