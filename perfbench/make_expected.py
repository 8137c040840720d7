"""Regenerate the stored expectations in ``perfbench/expected/``.

    python3 perfbench/make_expected.py [analytics] [corpus]

* ``analytics.json``: for every ``bench.HEADLINE`` query, the digest
  (``digest.py``) of its DuckDB oracle (``QuerySpec.oracle``) over the
  bundled sf0.01 tables. Oracles are far too slow to run per benchmark
  run, so they run here, once. Each digest is cross-checked against the
  engine's own result before it is written; a query whose engine result
  disagrees with its oracle is reported and the file is not written.
* ``corpus_funnel.json``: the stage funnel of ``pipeline.corpus_pipeline``
  over the bundled sf0.1 documents table.

Both files record the sha256 of the tables they were made from; the
benchmark refuses to compare against them if a table changes.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

SF001 = os.path.join(HERE, "data", "sf0.01")
SF01 = os.path.join(HERE, "data", "sf0.1")


def sha256s(paths) -> dict:
    out = {}
    for p in sorted(paths):
        with open(p, "rb") as fh:
            out[os.path.relpath(p, HERE)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def write(name: str, obj: dict) -> None:
    os.makedirs(os.path.join(HERE, "expected"), exist_ok=True)
    with open(os.path.join(HERE, "expected", name), "w") as fh:
        json.dump(obj, fh, indent=1, sort_keys=True)
        fh.write("\n")


def analytics(spark) -> None:
    import duckdb

    import bench
    import __spark_entry__ as entry
    from digest import digest
    from ua2sql_spark.catalog import TABLES

    oracles, fns = entry.oracle_sql(), entry.queries()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF001}/{t}.parquet')")
    digests, bad = {}, []
    for name in bench.HEADLINE:
        t = time.perf_counter()
        want = digest(con.execute(oracles[name]).fetchdf(), ROOT)
        t_oracle = time.perf_counter() - t
        got = digest(fns[name](spark, SF001).toPandas(), ROOT)
        print(f"{name:34s} oracle {t_oracle:7.2f} s  {want}  {'ok' if got == want else 'ENGINE DIFFERS'}")
        digests[name] = want
        if got != want:
            bad.append(name)
    if bad:
        raise SystemExit(f"engine result differs from the oracle for {bad}; nothing written")
    paths = [os.path.join(SF001, f) for f in os.listdir(SF001) if f.endswith(".parquet")]
    write("analytics.json", {"inputs": sha256s(paths), "digests": digests})


def corpus(spark) -> None:
    import shutil
    import tempfile

    from ua2sql_spark.pipeline import corpus_pipeline

    out = tempfile.mkdtemp(prefix="perfbench_corpus_")
    try:
        m = corpus_pipeline(spark, SF01, os.path.join(out, "wds"))
    finally:
        shutil.rmtree(out, ignore_errors=True)
    funnel = {k: m[k] for k in ("n_raw", "n_gated", "n_survivors", "n_sequences", "n_exported", "n_shards")}
    assert sum(r["n_samples"] for r in m["manifest"]) == m["n_survivors"] == m["n_exported"]
    print("corpus funnel", funnel)
    write("corpus_funnel.json", {"inputs": sha256s([os.path.join(SF01, "documents.parquet")]), "funnel": funnel})


def main() -> None:
    which = set(sys.argv[1:]) or {"analytics", "corpus"}
    from ua2sql_spark.session import get_spark

    spark = get_spark("perfbench-expected")
    try:
        if "analytics" in which:
            analytics(spark)
        if "corpus" in which:
            corpus(spark)
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
