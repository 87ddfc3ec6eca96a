"""Output checks, independent of the plan under test, run after the timed
section.  Each returns the indices of the operations whose output is wrong.

- `cosmap_run` outputs: exactly N rows with sample ids 0..N-1, per-row
  bounds every row must satisfy, and for a seeded subset of samples `n`
  and `inv` equal to a brute-force haversine over the whole catalog.
- query outputs: the DuckDB oracle (`tools/check_oracle.py`) on the first
  successful output of each query; every later output of that query must
  hold the same rows.
"""
import glob
import math
import random
import re
import subprocess
import sys
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT / "tools"))
import check_oracle  # noqa: E402

RADIUS_DEG = 2.0 / 60.0
MIN_RADIUS_ARCSEC = 5.0
BOUNDARY_DEG = 1e-9
SUBSET = 100
INV_TOLERANCE = 2e-3


def read_catalog(path):
    t = pq.read_table(path, columns=["ra", "dec"])
    ra = t.column("ra").to_numpy()
    dec = t.column("dec").to_numpy()
    order = np.argsort(dec, kind="stable")
    return ra[order], dec[order]


def brute_force(catalog, ra0, dec0):
    """(n, inv) of one sample, or None when a pair lies within
    BOUNDARY_DEG of the cone radius or the minimum radius."""
    ra, dec = catalog
    lo = np.searchsorted(dec, dec0 - RADIUS_DEG - 1e-6, side="left")
    hi = np.searchsorted(dec, dec0 + RADIUS_DEG + 1e-6, side="right")
    r1, d1 = np.radians(ra[lo:hi]), np.radians(dec[lo:hi])
    r0, d0 = math.radians(ra0), math.radians(dec0)
    h = np.sin((d1 - d0) / 2) ** 2 + np.cos(d0) * np.cos(d1) * np.sin((r1 - r0) / 2) ** 2
    sep = np.degrees(2 * np.arcsin(np.minimum(1.0, np.sqrt(h))))
    min_deg = MIN_RADIUS_ARCSEC / 3600.0
    if np.any(np.abs(sep - RADIUS_DEG) < BOUNDARY_DEG) or np.any(np.abs(sep - min_deg) < BOUNDARY_DEG):
        return None
    kept = sep[(sep <= RADIUS_DEG) & (sep * 3600.0 > MIN_RADIUS_ARCSEC)]
    return len(kept), float(np.round(kept * 3600.0, 3).sum())


def read_csv_dir(path):
    files = sorted(glob.glob(f"{path}/*.csv"))
    if not files:
        return None
    return pd.concat([pd.read_csv(f) for f in files], ignore_index=True)


def sky_problems(out, n_samples, catalog, rng):
    """Why a `cosmap run` output is wrong, or None when it is right."""
    if out is None:
        return "no output"
    if list(out.columns) != ["sample_id", "ra", "dec", "n", "inv"]:
        return f"columns {list(out.columns)}"
    if len(out) != n_samples:
        return f"{len(out)} rows, expected {n_samples}"
    if sorted(out.sample_id.tolist()) != list(range(n_samples)):
        return "sample ids are not 0..N-1"
    radius_arcsec = RADIUS_DEG * 3600.0
    n, inv = out.n.to_numpy(), out.inv.to_numpy()
    if np.any(n < 0) or np.any(inv < MIN_RADIUS_ARCSEC * n - INV_TOLERANCE) \
            or np.any(inv > radius_arcsec * n + INV_TOLERANCE):
        return "a row's inv lies outside [5 arcsec * n, 2 arcmin * n]"
    rows = out.set_index("sample_id")
    for sid in rng.sample(range(n_samples), min(SUBSET, n_samples)):
        row = rows.loc[sid]
        expected = brute_force(catalog, float(row.ra), float(row.dec))
        if expected is None:
            continue
        if int(row.n) != expected[0] or abs(float(row.inv) - expected[1]) > INV_TOLERANCE:
            return f"sample {sid}: n={int(row.n)} inv={row.inv}, brute force {expected}"
    return None


def check_sky(ops, n_samples, seed, log=sys.stderr):
    bad, catalogs = set(), {}
    for i, op in enumerate(ops):
        if op["name"] != "cosmap_run" or not op["ok"]:
            continue
        if op["input"] not in catalogs:
            catalogs[op["input"]] = read_catalog(op["input"])
        why = sky_problems(read_csv_dir(op["output"]), n_samples, catalogs[op["input"]],
                           random.Random(seed * 7919 + i))
        if why:
            print(f"[perfbench] check failed: cosmap_run {op['pass']}: {why}", file=log)
            bad.add(i)
    return bad


def oracle_verdicts(corpus, pass_dir):
    """query -> True (EXACT or APPROX) / False (BAD) from the oracle tool.
    The tool binds a view over every corpus table; the tables the
    benchmark queries never read are written empty first."""
    for t in check_oracle.TABLES:
        path = Path(corpus) / f"{t}.parquet"
        if not path.exists():
            pq.write_table(pa.table({"unused": pa.array([], pa.int32())}), path)
    r = subprocess.run([sys.executable, str(ROOT / "tools" / "check_oracle.py"), corpus,
                        pass_dir, "--only-present"], cwd=pass_dir, capture_output=True, text=True)
    verdicts = {}
    for line in r.stdout.splitlines():
        m = re.match(r"^(OK |~  |BAD) (\S+)\s", line)
        if m:
            verdicts[m.group(2)] = m.group(1) != "BAD"
    return verdicts


def canonical_rows(path):
    files = glob.glob(f"{path}/*.parquet")
    if not files:
        return None
    return check_oracle.canon_df(pd.concat([pd.read_parquet(f) for f in files]))


def check_queries(ops, log=sys.stderr):
    bad, reference, verdicts = set(), {}, {}
    for i, op in enumerate(ops):
        if op["name"] == "cosmap_run" or not op["ok"]:
            continue
        q, out = op["name"], f"{op['output']}/{op['name']}"
        ref = (op["input"], q)
        rows = canonical_rows(out)
        if rows is None:
            why = "no output"
        elif ref not in reference:
            key = (op["input"], op["output"])
            if key not in verdicts:
                verdicts[key] = oracle_verdicts(*key)
            ok = verdicts[key].get(q, False)
            why = None if ok else "differs from the DuckDB oracle"
            if ok:
                reference[ref] = rows
        else:
            why = None if rows == reference[ref] else "differs from its oracle-checked output"
        if why:
            print(f"[perfbench] check failed: {q} {op['pass']}: {why}", file=log)
            bad.add(i)
    return bad
