"""Local replica of the driver's correctness gate (SURVEY.md §5.2 tier 1).

Runs each registered query on Spark and its oracle SQL on DuckDB over
the same parquet directory, then compares row count, column-name set,
and an order-insensitive canonical value hash. Keys without an oracle
get a rows-only check. Never declare a key in __spark_entry__.py until
it passes here at sf0.01.

Usage:
    python tools/verify_local.py                 # all keys, sf0.01
    python tools/verify_local.py q_agg_groupby   # subset
    SF_DIR=/root/testdata/sf0.001 python tools/verify_local.py
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from novlake_spark.registry import oracle_sql, queries  # noqa: E402
from novlake_spark.session import get_session  # noqa: E402
from novlake_spark.sources.tables import TABLES  # noqa: E402


def _cell(v) -> str:
    """Canonical string for one value — engine-agnostic but TYPE-faithful.

    Round-5 lesson (CORRECTNESS_r05 q_win_cumsum_skewsafe): the driver's
    hash distinguishes float ``6.0`` from int ``6``; this harness used to
    canonicalize them together and shipped an oracle whose windowed
    sum(BIGINT) came back from DuckDB as HUGEINT→float64. Floats now hash
    as floats — an int-vs-float drift fails locally exactly like it fails
    on the driver."""
    if v is None:
        return "@N"
    if isinstance(v, float):
        if math.isnan(v):
            return "@N"
        return repr(round(v, 9))  # 3.0 hashes as '3.0', never '3'
    if isinstance(v, (int,)):
        return str(v)
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return "[" + ",".join(_cell(x) for x in v) + "]"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def canon_hash(df: pd.DataFrame) -> str:
    cols = sorted(df.columns)
    rows = sorted("|".join(_cell(row[c]) for c in cols) for _, row in df[cols].iterrows())
    return hashlib.md5("\n".join(rows).encode()).hexdigest()


def unhashable_cells(df: pd.DataFrame) -> list[str]:
    """Columns whose cells the DRIVER's canonicalizer cannot hash.

    Round-6 lesson (CORRECTNESS_r06: q_emb_quantize +
    q_multimodal_phash_clusters): the driver's ``_canon`` does pandas
    ``sort_values`` over ALL columns before hashing, which factorizes
    object cells — numpy arrays / lists / dicts are unhashable there
    and the check dies with TypeError before comparing anything. This
    harness's ``canon_hash`` string-joins sequences (``_cell``), i.e.
    it is MORE robust than the driver — the wrong direction for a
    gate. So any array/map-typed result column is a local FAILURE for
    every key (the driver canonicalizes WEAK keys' frames too — the
    r6 clusters key was weak and still crashed). Emit integer rows via
    ``posexplode`` or a joined string (the q_agg_collect discipline)
    instead.
    """
    bad = []
    for c in df.columns:
        if df[c].dtype == object:
            col = df[c].dropna()
            if len(col) and col.map(
                lambda v: isinstance(v, (list, tuple, dict, set))
                or type(v).__name__ == "ndarray"
            ).any():
                bad.append(c)
    return bad


def main() -> int:
    sf_dir = os.environ.get("SF_DIR", "/root/testdata/sf0.01")
    keys = sys.argv[1:] or sorted(queries().keys())
    qs, oracles = queries(), oracle_sql()

    spark = get_session("novlake-verify", shuffle_partitions=int(os.environ.get("VERIFY_SHUFFLE", "8")))
    con = duckdb.connect()
    for t in TABLES:
        # driver fixtures are single files; tools/gen_sf.py rehearsal
        # fixtures are Spark-written directories — accept both
        p = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(p):
            p = f"{p}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    failures = []
    for key in keys:
        if key not in qs:
            print(f"{key}: UNKNOWN KEY")
            failures.append(key)
            continue
        t0 = time.time()
        try:
            sdf = qs[key](spark, sf_dir).toPandas()
        except Exception as e:
            print(f"{key}: SPARK ERROR {type(e).__name__}: {str(e)[:300]}")
            failures.append(key)
            continue
        finally:
            # graph keys persist intermediates at reuse points; release
            # them per-key so a 229-key sweep doesn't build storage
            # pressure (same hygiene as bench.run_once)
            from novlake_spark.cache import release_tracked

            release_tracked()
        bad = unhashable_cells(sdf)
        if bad:
            print(
                f"{key}: FAIL driver-unhashable array/map cells in columns {bad} "
                f"(posexplode or array_join them — CORRECTNESS_r06 class)"
            )
            failures.append(key)
            continue
        if key not in oracles:
            print(f"{key}: WEAK rows={len(sdf)} cols={sorted(sdf.columns)} ({time.time()-t0:.1f}s)")
            continue
        try:
            odf = con.execute(oracles[key]).fetchdf()
        except Exception as e:
            print(f"{key}: ORACLE ERROR {type(e).__name__}: {str(e)[:300]}")
            failures.append(key)
            continue
        problems = []
        if len(sdf) != len(odf):
            problems.append(f"rows {len(sdf)} != {len(odf)}")
        if sorted(sdf.columns) != sorted(odf.columns):
            problems.append(f"cols {sorted(sdf.columns)} != {sorted(odf.columns)}")
        elif canon_hash(sdf) != canon_hash(odf):
            problems.append("hash mismatch")
        # Result-TYPE drift is a FAILURE, not a warning (round-5 lesson:
        # the driver hashes values type-faithfully, so a Spark int64
        # against an oracle float64 is red there even when every value
        # is numerically equal). Same-KIND width differences (int32 vs
        # int64, datetime64[us] vs [ns]) repr identically and stay
        # benign; cross-kind (int vs float, object vs numeric) fails.
        dt = [
            f"{c}:{sdf[c].dtype}!={odf[c].dtype}"
            for c in sdf.columns
            if c in odf.columns and sdf[c].dtype.kind != odf[c].dtype.kind
        ]
        if dt:
            problems.append(f"dtype kind {dt}")
        else:
            width = [
                f"{c}:{sdf[c].dtype}~{odf[c].dtype}"
                for c in sdf.columns
                if c in odf.columns and str(sdf[c].dtype) != str(odf[c].dtype)
            ]
            if width:
                print(f"{key}: WIDTH NOTE {width}")  # same kind, repr-equal
        if problems:
            print(f"{key}: FAIL {', '.join(problems)} ({time.time()-t0:.1f}s)")
            if "hash mismatch" in problems and len(sdf) == len(odf):
                cols = sorted(sdf.columns)
                srows = sorted("|".join(_cell(r[c]) for c in cols) for _, r in sdf[cols].iterrows())
                orows = sorted("|".join(_cell(r[c]) for c in cols) for _, r in odf[cols].iterrows())
                shown = 0
                for a, b in zip(srows, orows):
                    if a != b and shown < 3:
                        print(f"    spark : {a[:200]}\n    oracle: {b[:200]}")
                        shown += 1
            failures.append(key)
        else:
            print(f"{key}: OK rows={len(sdf)} ({time.time()-t0:.1f}s)")

    print(f"\n{len(keys)-len(failures)}/{len(keys)} passed")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
