#!/usr/bin/env python
"""Minhash-LSH scale probe: separate CANDIDATE growth (a property of the
corpus's duplicate rate) from BANDING cost growth (a property of the
operator) — the round-8 verdict's open question on the 4.7× sf1 ratio.

For a given fixture dir it measures, with the exact dedup_minhash_lsh
parameters (n=3, k=32, bands=8, threshold=0.7):
  - n_docs
  - candidate pairs out of the (band, bucket) self-join, pre-verify
  - verified near-dup pairs and the end-to-end wall time

Run it on sf0.1, on the near-dup 10× clone (make_sf1.py ... neardup) and
on the constant-duplicate-rate 10× clone (make_sf1.py ... disjoint); the
three rows land in BASELINE.md's round-9 table.

Usage: python scripts/minhash_scale_probe.py [sf_dir ...]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from distributed_graph_database_system_spark.operators.dedup import (  # noqa: E402
    minhash_lsh_candidates,
    minhash_lsh_pairs,
)
from distributed_graph_database_system_spark.session import get_spark  # noqa: E402
from distributed_graph_database_system_spark.sources.catalog import load_table  # noqa: E402


def main() -> int:
    dirs = sys.argv[1:] or ["/root/testdata/sf0.1"]
    spark = get_spark(app_name="minhash_scale_probe")
    for sf_dir in dirs:
        docs = load_table(spark, sf_dir, "documents")
        n_docs = docs.count()
        cands = minhash_lsh_candidates(docs).count()
        t0 = time.monotonic()
        pairs = minhash_lsh_pairs(docs, threshold=0.7).count()
        wall = time.monotonic() - t0
        print(
            json.dumps(
                {
                    "sf_dir": sf_dir,
                    "n_docs": n_docs,
                    "candidate_pairs": cands,
                    "verified_pairs": pairs,
                    "lsh_wall_s": round(wall, 2),
                }
            ),
            flush=True,
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
