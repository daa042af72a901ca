#!/usr/bin/env python3
"""Generate the sf1 tables offline: all ten tables at 10x the sf0.1 rows,
with the hot structures the sf1 sweep exists to test (a hot city of
3 x 2,000 coincident customers, a hot near-identical document family of
2,000, a hot embedding cluster of 5,000). See dev/sf1_sweep.md.

A thin wrapper over graftbench/gen.py, the one generator: fraction 1.0,
seed 20260814.

Usage: python3 dev/gen_sf1.py [out_dir]   (default /tmp/graft_sf1)
"""
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                "..", "graftbench"))
import gen  # noqa: E402

if __name__ == "__main__":
    out = sys.argv[1] if len(sys.argv) > 1 else "/tmp/graft_sf1"
    gen.generate(out, gen.DEFAULT_SEED, 1.0)
    print(f"wrote {out}/{{documents,embeddings,events,customer,supplier,"
          "nation,region,part,orders,lineitem}.parquet")
