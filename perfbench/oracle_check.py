"""Cross-check perfbench/goldens.json against the repository's DuckDB oracles.

    python3 perfbench/oracle_check.py

Run from the repository root. The oracle SQL comes from
``__spark_entry__.oracle_sql()``; each oracle is written for one fixed
parameter, which this script substitutes with the parameter of every golden
op of the same shape, then compares DuckDB's rows with the golden digest
(ranks, attributes and bins exactly, scores to 1e-6):

* fedex_filter  <- fedex_filter_explain_text   (threshold ``45``)
* fedex_join    <- fedex_join_explain_text     (priority ``1-URGENT``)
* shapley       <- shapley_join_explain_text   (priority ``1-URGENT``)
* many_to_one   <- many_to_one_full_rules      (flags ``R`` and ``A``)
* curation_pipeline <- curation_pipeline       (survivor ids of each split's base)

Exits non-zero on any mismatch. Needs Spark only to evaluate the seeded
split of the corpus (Spark's xxhash64 has no DuckDB equivalent).
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import data  # noqa: E402
import run  # noqa: E402
from workloads import CorpusIngest, _ids_digest  # noqa: E402

SUBSTITUTE = {
    "fedex_filter": ("fedex_filter_explain_text",
                     lambda p: [("l_quantity > 45", f"l_quantity > {p['thr']}")]),
    "fedex_join": ("fedex_join_explain_text",
                   lambda p: [("'1-URGENT'", f"'{p['priority']}'")]),
    "shapley": ("shapley_join_explain_text",
                lambda p: [("'1-URGENT'", f"'{p['priority']}'")]),
    "many_to_one": ("many_to_one_full_rules",
                    lambda p: [("l_returnflag = 'R'", f"l_returnflag = '{p['returned']}'"),
                               ("l_returnflag = 'A'", f"l_returnflag = '{p['accepted']}'")]),
}


def substituted(sql: str, pairs) -> str:
    """Replace every ``old`` with its ``new`` in one pass (through
    placeholders, so one substitution cannot feed the next)."""
    for i, (old, _) in enumerate(pairs):
        if old not in sql:
            raise ValueError(f"oracle no longer contains {old!r}")
        sql = sql.replace(old, f"\x00{i}\x00")
    for i, (_, new) in enumerate(pairs):
        sql = sql.replace(f"\x00{i}\x00", new)
    return sql


def parse_key(key: str) -> tuple[str, dict]:
    kind, _, params = key.partition("|")
    p = {}
    for item in filter(None, params.split(",")):
        k, _, v = item.partition("=")
        p[k] = int(v) if v.lstrip("-").isdigit() else v
    return kind, p


def split_bases(paths: dict) -> dict[int, list[int]]:
    """doc ids of each split's base corpus, computed by the same Spark
    expression the workload uses."""
    from pyspark.sql import functions as F

    from pd_explain_spark import get_spark

    spark = get_spark("perfbench-oracle")
    docs = spark.read.parquet(paths["documents"])
    w = CorpusIngest()
    out = {}
    for v in range(w.SPLITS):
        part = F.pmod(F.xxhash64(F.col("doc_id"), F.lit(v)), F.lit(w.PARTS))
        out[v] = [r[0] for r in docs.filter(part < w.PARTS // 2).select("doc_id").collect()]
    spark.stop()
    return out


def main() -> int:
    build_dir = os.path.join(ROOT, ".bench_build", "perfbench")
    workdir = os.path.join(build_dir, f"oracle-{os.getpid()}")
    try:
        run.pin_environment(workdir, run.session_shape(build_dir))
        run.import_library()
        sys.path.insert(0, ROOT)
        import __spark_entry__

        oracles = __spark_entry__.oracle_sql()
        with open(run.GOLDENS) as f:
            goldens = json.load(f)
        paths = data.write_tables(os.path.join(workdir, "data"))
        con = duckdb.connect()
        for t in ("lineitem", "orders"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{paths[t]}')")
        checked, bad = 0, []
        for key, want in sorted(goldens.items()):
            kind, p = parse_key(key)
            if kind not in SUBSTITUTE:
                continue
            name, pairs = SUBSTITUTE[kind]
            rows = con.execute(substituted(oracles[name], pairs(p))).fetchall()
            got = [[r[0], r[1], r[2], float(r[3]), float(r[4])]
                   for r in sorted(rows, key=lambda r: r[0])]
            checked += 1
            if not run.same(got, want):
                bad.append(key)
                print(f"MISMATCH {key}\n  oracle {got}\n  golden {want}")
        bases = split_bases(paths)
        for v, ids in bases.items():
            key = f"curation_pipeline|split={v}"
            if key not in goldens:
                continue
            con.execute("DROP VIEW IF EXISTS documents")
            con.execute(
                f"CREATE VIEW documents AS SELECT * FROM read_parquet('{paths['documents']}') "
                f"WHERE doc_id IN ({','.join(map(str, ids))})")
            rows = con.execute(oracles["curation_pipeline"]).fetchall()
            checked += 1
            if not run.same(_ids_digest(r[0] for r in rows), goldens[key]):
                bad.append(key)
                print(f"MISMATCH {key}")
        print(f"oracle check: {checked} golden ops compared, {len(bad)} mismatches")
        return 1 if bad or not checked else 0
    finally:
        from pyspark import SparkContext

        if SparkContext._gateway is not None:
            proc = SparkContext._gateway.proc
            SparkContext._gateway.shutdown()
            proc.stdin.close()
            proc.wait(timeout=60)
        shutil.rmtree(workdir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
