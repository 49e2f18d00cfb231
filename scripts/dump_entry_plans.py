"""Dump `.explain("formatted")` of catalog entries, one file per entry.

Usage: python scripts/dump_entry_plans.py OUTDIR SUFFIX [--sf DIR] ENTRY...

Writes OUTDIR/<entry>_<SUFFIX>.txt for each ENTRY; `--sf` defaults to
$SPARK_GRAFT_SF_DIR. The before/after evidence for a plan change: run
once from the pre-change tree (SUFFIX=before) and once from the changed
tree (SUFFIX=after), then diff the pairs. A committed set names its
entries in its file names — e.g. to regenerate plans/r16's "after" side:

    python scripts/dump_entry_plans.py plans/r16 after --sf DIR \\
        $(ls plans/r16 | sed -n 's/_after\\.txt$//p')
"""

from __future__ import annotations

import argparse
import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from chchfr_data_collection_spark.queries import catalog  # noqa: E402
from chchfr_data_collection_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("outdir")
    ap.add_argument("suffix")
    ap.add_argument(
        "--sf", metavar="DIR", default=os.environ.get("SPARK_GRAFT_SF_DIR")
    )
    ap.add_argument("entries", nargs="+", metavar="ENTRY")
    args = ap.parse_args()
    if not args.sf:
        ap.error("--sf DIR (or $SPARK_GRAFT_SF_DIR) is required")
    cat = catalog()
    unknown = [e for e in args.entries if e not in cat]
    if unknown:
        ap.error(f"unknown catalog entries: {', '.join(unknown)}")
    os.makedirs(args.outdir, exist_ok=True)
    spark = get_spark("dump_entry_plans")
    for name in args.entries:
        df = cat[name].fn(spark, args.sf)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(args.outdir, f"{name}_{args.suffix}.txt")
        with open(path, "w") as f:
            f.write(buf.getvalue())
        print("dumped", name)
    spark.stop()


if __name__ == "__main__":
    main()
