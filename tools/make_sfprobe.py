#!/usr/bin/env python3
"""Synthesize the 10x-sf0.1 RELATIONAL probe tables of a scale-probe decade.

Replicates the TPC-H-ish tables with per-copy key offsets so every
foreign key stays consistent WITHIN a copy (l_orderkey+K joins
o_orderkey+K, etc.) — the corpus grows horizontally, join selectivity
and group sizes are preserved per copy. Dimensions (region, nation)
stay single-copy: they are broadcast sides keyed from both copies.
documents/embeddings of the same decade come from
`sbt "Test/runMain graft.ScaleProbe [dstDir] [copies]"`; profile the
decades with `sbt "Test/runMain graft.Profile <queries> /root/testdata/sf0.01
/root/testdata/sf0.1 <dstDir>"`.

Usage: make_sfprobe.py [srcDir] [dstDir] [copies]
"""
import sys
import duckdb

SRC = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
DST = sys.argv[2] if len(sys.argv) > 2 else "/tmp/graft-sfprobe"
COPIES = int(sys.argv[3]) if len(sys.argv) > 3 else 10
K = 10_000_000  # multiple of 8 so events' partition = event_id % 8 keeps its spread

OFFSET_COLS = {
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "events": ["event_id", "user_id"],
}
COPY_AS_IS = ["region", "nation"]


def main():
    con = duckdb.connect()
    for t in COPY_AS_IS:
        con.execute(f"""COPY (SELECT * FROM read_parquet('{SRC}/{t}.parquet'))
            TO '{DST}/{t}.parquet' (FORMAT PARQUET)""")
        print(t, "copied as-is")
    for t, keys in OFFSET_COLS.items():
        cols = [c[0] for c in con.execute(
            f"DESCRIBE SELECT * FROM read_parquet('{SRC}/{t}.parquet')").fetchall()]
        sel = ", ".join(
            f'"{c}" + c.copy * {K} AS "{c}"' if c in keys else f'"{c}"'
            for c in cols)
        con.execute(f"""COPY (
            SELECT {sel}
            FROM read_parquet('{SRC}/{t}.parquet')
            CROSS JOIN (SELECT unnest(range({COPIES})) AS copy) c)
            TO '{DST}/{t}.parquet' (FORMAT PARQUET)""")
        n = con.execute(
            f"SELECT count(*) FROM read_parquet('{DST}/{t}.parquet')").fetchone()[0]
        print(t, n, "rows")


if __name__ == "__main__":
    main()
