"""Capture ``explain('formatted')`` output for named queries() entries.

Usage:
    python scripts/capture_plans.py [--no-checkpoint] <suffix> <entry> [entry ...]

Writes ``plans/$PLANS_ROUND/<entry>_<suffix>.txt`` (default round ``r13``)
for each entry (suffix is ``before`` or ``after``). The plan is the
optimizer's initial formatted plan (what ``df.explain('formatted')``
prints) captured over ``$SPARK_GRAFT_SF_DIR`` (default sf0.1), so
plan-shape claims can be checked without running Spark. Expression and
exchange ids are masked (``doc_id#123L`` is written ``doc_id#L``,
``plan_id=42`` as ``plan_id=``), so a ``diff`` of a before and an after
capture shows only real plan changes.

``--no-checkpoint``: for entries whose result frame is
checkpoint-terminated (``_finalize_release`` / ``checkpoint_df``) the
standard capture shows only a `Scan ExistingRDD` stub. This switch
replaces every checkpoint site with identity FOR THE CAPTURE ONLY, so
the dumped plan is the full pre-checkpoint query tree the engine
actually optimizes. Never used in a timed path.
"""

from __future__ import annotations

import argparse
import importlib
import io
import os
import pkgutil
import re
import sys
from contextlib import redirect_stdout

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as entrymod
import pd_explain_spark
from pd_explain_spark import get_spark


def disable_checkpoints() -> None:
    """Make every checkpoint site an identity. Modules that bound
    ``checkpoint_df`` at import hold their own reference, so every
    package module is imported and each such binding is replaced — not
    only the ``session`` attribute that function-local imports read."""
    import pd_explain_spark.functions.dedup as dedup
    import pd_explain_spark.session as session

    original = session.checkpoint_df

    def identity(df, *a, **k):
        return df

    for info in pkgutil.walk_packages(pd_explain_spark.__path__, "pd_explain_spark."):
        mod = importlib.import_module(info.name)
        if getattr(mod, "checkpoint_df", None) is original:
            mod.checkpoint_df = identity
    # _finalize_release is only ever imported function-locally
    dedup._finalize_release = lambda out, cached: out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--no-checkpoint", action="store_true",
                    help="capture the full pre-checkpoint plan tree")
    ap.add_argument("suffix")
    ap.add_argument("entries", nargs="+")
    args = ap.parse_args()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(ROOT, "plans", os.environ.get("PLANS_ROUND", "r13"))
    os.makedirs(out_dir, exist_ok=True)
    if args.no_checkpoint:
        disable_checkpoints()
    spark = get_spark("capture_plans")
    qs = entrymod.queries()
    for name in args.entries:
        df = qs[name](spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(out_dir, f"{name}_{args.suffix}.txt")
        text = re.sub(r"(#|plan_id=)\d+", r"\1", buf.getvalue())
        with open(path, "w") as f:
            f.write(text)
        print(f"wrote {path} ({len(text)} bytes)")


if __name__ == "__main__":
    main()
