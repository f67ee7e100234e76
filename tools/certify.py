"""End-of-round certification runner -- the verify-skill recipe as one
command (driver-mimic vanilla session, NOT session.get_spark):

    python tools/certify.py                 # probe + full + codegen
    python tools/certify.py --skip-codegen

Stages (each prints one summary line; any failure aborts loudly):
1. JSONPROBE -- the corpus has no duplicate-key props JSON (q_fn_json's
              oracle parity rests on it).
2. FULL     -- every registry key vs DuckDB at sf0.01 (rows-only keys
              get the driver's weaker count check).
3. CODEGEN  -- all keys at sf0.001 under codegen.fallback=false +
              factoryMode=CODEGEN_ONLY (an interpreted-fallback
              regression fails loudly instead of silently slowing).

The full pytest suite stays separate (`python -m pytest tests/ -q`) --
it is CI, not the driver surface.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = ("region nation customer supplier part orders lineitem "
          "events documents embeddings").split()


def _duck(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * "
                    f"FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def _probe_json_dupkeys(spark, sf_dir: str) -> None:
    """ADVICE r16: q_fn_json parity rests on the corpus generator
    emitting single-key props -- json_tuple (the registered form) is
    LAST-wins on duplicate JSON keys while the DuckDB oracle's
    json_extract_string is FIRST-wins.  This probe counts events where
    json_tuple and get_json_object disagree on $.k, so a future corpus
    generation with duplicate keys fails HERE with a pointed message
    instead of as an opaque q_fn_json hash mismatch."""
    from pyspark.sql import functions as F

    from financialtransactionmonitoringsystem_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    n = (ev.select(F.json_tuple(F.col("props"), "k").alias("jt"),
                   F.get_json_object("props", "$.k").alias("gjo"))
         .filter(~F.col("jt").eqNullSafe(F.col("gjo"))).count())
    assert n == 0, (
        f"{n} events have duplicate-key props JSON: json_tuple "
        f"(last-wins, = serde_json/reference semantics) and "
        f"get_json_object/DuckDB (first-wins) disagree on $.k -- "
        f"q_fn_json's oracle parity no longer holds on this corpus; "
        f"see the q_fn_json docstring (functions/scalar.py)")
    print(f"JSONPROBE: 0 duplicate-key $.k disagreements at {sf_dir}",
          flush=True)


def _sweep(spark, keys, sf_dir: str, label: str) -> None:
    import __spark_entry__ as E
    from tests.compare import assert_frames_match

    qs, osql = E.queries(), E.oracle_sql()
    con = _duck(sf_dir)
    t0, nm, nr = time.time(), 0, 0
    for k in keys:
        if k in osql:
            assert_frames_match(qs[k](spark, sf_dir).toPandas(),
                                con.execute(osql[k]).df(), k)
            nm += 1
        else:
            assert qs[k](spark, sf_dir).count() >= 0, k
            nr += 1
    print(f"{label}: {nm} MATCH + {nr} rows-only, 0 fails, "
          f"{time.time() - t0:.0f}s", flush=True)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--skip-codegen", action="store_true")
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--codegen-sf", default="/root/testdata/sf0.001")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = (SparkSession.builder.master("local[8]")
             .config("spark.ui.enabled", "false").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as E

    keys = list(E.queries())
    print(f"registry: {len(keys)} keys; entry() rows:",
          len(E.entry(spark).collect()), flush=True)
    _probe_json_dupkeys(spark, args.sf)
    _sweep(spark, keys, args.sf, f"FULL{len(keys)}")
    spark.stop()

    if args.skip_codegen:
        return
    spark = (SparkSession.builder.master("local[8]")
             .config("spark.ui.enabled", "false")
             .config("spark.sql.codegen.fallback", "false")
             .config("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    qs = E.queries()
    t0 = time.time()
    for k in qs:
        assert qs[k](spark, args.codegen_sf).count() >= 0, k
    print(f"CODEGEN: all {len(qs)} at {args.codegen_sf}, "
          f"{time.time() - t0:.0f}s", flush=True)


if __name__ == "__main__":
    main()
