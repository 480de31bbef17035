"""Capture .explain("formatted") for headline queries -> plans/r<round>/<q>_<tag>.txt.

Usage: python tools/capture_plans.py <round> <tag> [query ...]
With no query args, captures every headline query from bench.py.

Plan capture is untimed — safe to run alongside other work.  Each step
goes through bench.prepare, so shared tables are cleared exactly as the
bench clears them and each plan reflects the shape the bench actually
pays (the persisted shared tables appear as InMemoryTableScan in
downstream consumers, by design).
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE, PREPARE_STEPS, prepare  # noqa: E402
from helium_arango_etl_spark.registry import QUERIES  # noqa: E402
from helium_arango_etl_spark.session import get_spark  # noqa: E402


def main() -> None:
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    rnd, tag = sys.argv[1], sys.argv[2]
    names = sys.argv[3:] or [n for n in HEADLINE if n in QUERIES or n in PREPARE_STEPS]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", f"r{rnd}"
    )
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name=f"plans-{tag}")
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        spark.sparkContext.setJobDescription(f"plan:{name}")
        try:
            df = prepare(spark, sf_dir, name)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            path = os.path.join(out_dir, f"{name}_{tag}.txt")
            with open(path, "w", encoding="utf-8") as f:
                f.write(buf.getvalue())
            print(f"OK  {name}", flush=True)
        except Exception as exc:  # noqa: BLE001
            print(f"ERR {name}: {exc}", flush=True)


if __name__ == "__main__":
    main()
