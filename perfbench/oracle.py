"""Reference results for the benchmark's pipelines.

Every pipeline except ``sensors_kriging`` is checked against its
``oracle_sql()`` twin run on DuckDB over the same parquet tables, compared
with ``tools/check_oracle.py``'s ``canon``/``value_hash`` (row count, column
set and exact canonical values). ``sensors_kriging`` has no SQL twin: it is
checked against an independent NumPy least-squares solve of the ordinary
kriging system over the same capped 1000-point sensor set, within
``KRIGING_TOL``.

The expected row count, columns and hash of each SQL twin are kept in
``perfbench/.cache/oracle`` under a digest of the query text and the input
tables, so later runs in a checkout skip the DuckDB queries: the
``emb_ann_ivf`` twin alone takes about 10 s.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import sys
from dataclasses import asdict, dataclass
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd

# Spark rounds kriging output to 1e-6; the values are account balances of
# magnitude <= 1e4, so 1e-4 is a relative tolerance of about 1e-8.
KRIGING_TOL = 1e-4
KRIGING_MAX_POINTS = 1000  # ordinary_kriging's default cap
CACHE = Path(__file__).resolve().parent / ".cache" / "oracle"


@dataclass
class Expected:
    rows: int
    columns: list[str]
    hash: str | None = None
    frame: pd.DataFrame | None = None  # numeric reference (kriging)


def _canon_tools(root: str):
    tools = os.path.join(root, "tools")
    if tools not in sys.path:
        sys.path.insert(0, tools)
    import check_oracle

    return check_oracle.canon, check_oracle.value_hash


def _connect(data_dir: str, tables) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
        )
    return con


def kriging_reference(con: duckdb.DuckDBPyConnection, entry) -> pd.DataFrame:
    """Ordinary kriging (linear variogram, nugget 0, slope 1) of the sensor
    layer onto the query's grid, solved with ``numpy.linalg.lstsq``."""
    pts = con.sql(
        f"SELECT lon AS x, lat AS y, COALESCE(val, 0.0) AS v FROM ({entry.SENSORS_SQL}) "
        f"ORDER BY x, y, v LIMIT {KRIGING_MAX_POINTS}"
    ).df().to_numpy(dtype="float64")
    xy, v = pts[:, :2], pts[:, 2]
    n = len(v)
    dist = np.hypot(xy[:, 0][:, None] - xy[:, 0][None, :], xy[:, 1][:, None] - xy[:, 1][None, :])
    k = np.ones((n + 1, n + 1))
    k[:n, :n] = dist
    np.fill_diagonal(k[:n, :n], 0.0)
    k[n, n] = 0.0
    xmin, xmax, ymin, ymax = entry.IDW_EXTENT
    step = entry.IDW_STEP
    nx = max(0, math.ceil((xmax - xmin) / step - 1e-12))
    ny = max(0, math.ceil((ymax - ymin) / step - 1e-12))
    gx, gy = np.meshgrid(xmin + np.arange(nx) * step, ymin + np.arange(ny) * step, indexing="ij")
    gx, gy = gx.ravel(), gy.ravel()
    rhs = np.ones((n + 1, len(gx)))
    rhs[:n] = np.hypot(gx[None, :] - xy[:, 0][:, None], gy[None, :] - xy[:, 1][:, None])
    w = np.linalg.lstsq(k, rhs, rcond=None)[0]
    return pd.DataFrame({"gx": gx, "gy": gy, "val_krig": w[:n].T @ v})


class Oracle:
    """Expected outputs for a set of pipelines over one data directory."""

    def __init__(self, root: str, data_dir: str, names) -> None:
        import __spark_entry__ as entry

        self._canon, self._hash = _canon_tools(root)
        sqls = entry.oracle_sql()
        data = hashlib.sha256()
        for t in entry.TABLES:
            data.update(Path(data_dir, f"{t}.parquet").read_bytes())
        con = _connect(data_dir, entry.TABLES)
        self.expected: dict[str, Expected] = {}
        try:
            for name in names:
                if name == "sensors_kriging":
                    ref = kriging_reference(con, entry)
                    self.expected[name] = Expected(len(ref), sorted(ref.columns), frame=ref)
                    continue
                key = hashlib.sha256((data.hexdigest() + sqls[name]).encode()).hexdigest()
                path = CACHE / f"{name}-{key[:16]}.json"
                if path.is_file():
                    self.expected[name] = Expected(**json.loads(path.read_text()))
                    continue
                odf = con.sql(sqls[name]).df()
                exp = Expected(len(odf), sorted(odf.columns), hash=self._hash(self._canon(odf)))
                CACHE.mkdir(parents=True, exist_ok=True)
                tmp = path.with_suffix(f".{os.getpid()}.tmp")
                tmp.write_text(json.dumps({k: v for k, v in asdict(exp).items() if k != "frame"}))
                os.replace(tmp, path)
                self.expected[name] = exp
        finally:
            con.close()

    def check(self, name: str, got: pd.DataFrame) -> str | None:
        """``None`` when ``got`` matches the reference, else a reason."""
        exp = self.expected[name]
        if len(got) != exp.rows:
            return f"rows {len(got)} != {exp.rows}"
        if sorted(got.columns) != exp.columns:
            return f"columns {sorted(got.columns)} != {exp.columns}"
        if exp.frame is not None:
            return _check_kriging(got, exp.frame)
        if exp.rows and self._hash(self._canon(got)) != exp.hash:
            return "values differ"
        return None


def _check_kriging(got: pd.DataFrame, ref: pd.DataFrame) -> str | None:
    key = ["gx", "gy"]
    a = got.assign(gx=got.gx.round(9), gy=got.gy.round(9)).sort_values(key)
    b = ref.assign(gx=ref.gx.round(9), gy=ref.gy.round(9)).sort_values(key)
    if not np.array_equal(a[key].to_numpy(), b[key].to_numpy()):
        return "grid points differ"
    err = np.abs(a.val_krig.to_numpy() - b.val_krig.to_numpy()).max(initial=0.0)
    return None if err <= KRIGING_TOL else f"max |error| {err:.3g} > {KRIGING_TOL}"
