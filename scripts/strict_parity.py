"""Strict driver-replica parity: compare every oracled query Spark-vs-
DuckDB at sf0.01 WITHOUT the int/float/Decimal unification the local
test harness applies (tests/oracle_utils.py::canon_cell maps 950 and
950.0 to one token — stricter on values, blinder on representation
than the driver's hash, which is exactly how the r02 HUGEINT failures
slipped through locally).

Here every cell is canonicalized WITH its type family:
  int -> i:<decimal digits>      float -> f:<repr>     Decimal -> d:<str>
so any cross-engine representation drift the type audit could miss
(int-vs-float column, Decimal scale) shows up as a strict mismatch.

Run: python scripts/strict_parity.py [sf_dir] [name ...]
(sf_dir defaults to sf0.01; with names given, only those queries run —
the targeted re-verify loop after a plan change. A name that is not
registered or has no oracle exits 2 before Spark starts.)
"""

from __future__ import annotations

import datetime
import math
import os
import sys
from decimal import Decimal

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from insurance_claim_data_pipeline_spark import registry  # noqa: E402
from insurance_claim_data_pipeline_spark.session import get_spark  # noqa: E402
from tests.oracle_utils import duckdb_conn  # noqa: E402


def strict_cell(v) -> str:
    if v is None:
        return "␀"
    if isinstance(v, (bool, np.bool_)):
        return f"b:{bool(v)}"
    if isinstance(v, (float, np.floating)):
        f = float(v)
        if math.isnan(f):
            return "␀"
        if f == 0.0:
            # r11 skew-parity finding: DuckDB ROUND propagates the sign
            # of zero (-0.0) where Spark normalizes to +0.0; IEEE says
            # they are equal, so the strict canon must too.
            return "f:0.0"
        return f"f:{f!r}"
    if isinstance(v, (int, np.integer)):
        return f"i:{int(v)}"
    if isinstance(v, Decimal):
        return f"d:{v}"
    if isinstance(v, pd.Timestamp):
        return f"t:{v.isoformat()}"
    if isinstance(v, datetime.datetime):
        return f"t:{pd.Timestamp(v).isoformat()}"
    if isinstance(v, datetime.date):
        return f"t:{v.isoformat()}"
    if isinstance(v, (bytes, bytearray)):
        return "y:" + bytes(v).hex()
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(strict_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{strict_cell(x)}" for k, x in sorted(v.items())) + "}"
    return f"s:{v}"


def table_sig(pdf: pd.DataFrame) -> list[tuple]:
    cols = sorted(pdf.columns)
    rows = [tuple(strict_cell(v) for v in row) for row in pdf[cols].itertuples(index=False)]
    rows.sort()
    return rows


def oracled_specs(names) -> dict:
    """The registered, oracled specs to check: all of them when ``names``
    is empty, else exactly ``names``. Raises ``KeyError`` listing every
    name that is unregistered or has no oracle, so a misspelt name
    fails instead of checking nothing."""
    oracled = {n: s for n, s in registry.all_specs().items() if s.oracle is not None}
    unknown = sorted(set(names) - set(oracled))
    if unknown:
        raise KeyError(unknown)
    return {n: s for n, s in oracled.items() if not names or n in names}


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    try:
        specs = oracled_specs(set(sys.argv[2:]))
    except KeyError as e:
        print(f"unregistered or oracle-less: {' '.join(e.args[0])}", file=sys.stderr)
        return 2
    spark = get_spark("strict-parity")
    con = duckdb_conn(sf_dir)
    bad = 0
    for name, spec in specs.items():
        try:
            s = table_sig(spec.fn(spark, sf_dir).toPandas())
            o = table_sig(con.execute(spec.oracle).df())
        except Exception as e:  # pragma: no cover - diagnostic tool
            print(f"ERROR  {name}: {e}")
            bad += 1
            continue
        if s != o:
            bad += 1
            so, ss = set(o), set(s)
            diff_s = [r for r in s if r not in so][:2]
            diff_o = [r for r in o if r not in ss][:2]
            print(f"STRICT-MISMATCH {name}\n  spark-only: {diff_s}\n  oracle-only: {diff_o}")
    con.close()
    print(f"done: checked {len(specs)}, {bad} strict mismatch(es)")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
