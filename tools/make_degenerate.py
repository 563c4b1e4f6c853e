#!/usr/bin/env python3
"""Degenerate-input gate corpus (dev tooling; round-8 verdict item 4).

Builds <dst> as a full table dir: every table symlinked from <src>
except documents.parquet, which is <src>'s documents PLUS planted
degenerate rows — empty text, whitespace-only, single-token,
punctuation-only, newline-only, and a 2-token doc. The reference
tests the empty path explicitly (test/model/test_tfidf.py:15);
the tokenizer-family oracles must stay bit-identical on these rows
(this is exactly where split('')/range(1, len-k)/division guards
can split the engines).

Usage:
    python3 tools/make_degenerate.py /root/testdata/sf0.001 /tmp/graft_degen_sf
then:
    SPARK_GRAFT_CPUS=8 sbt -batch "runMain graft.Verify /tmp/graft_degen_sf /tmp/degen_out"
    python3 tools/check_oracle.py /tmp/degen_out /tmp/graft_degen_sf
"""
import os
import shutil
import sys

import duckdb

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "embeddings",
]

DEGENERATE = [
    ("empty", ""),
    ("spaces", "   "),
    ("newlines", "\n\n\t \n"),
    ("single", "solitary"),
    ("punct", "!!! ... ???"),
    ("two", "alpha beta"),
]


def main() -> int:
    src, dst = sys.argv[1], sys.argv[2]
    if os.path.exists(dst):
        shutil.rmtree(dst)
    os.makedirs(dst)
    for t in TABLES:
        os.symlink(f"{src}/{t}.parquet", f"{dst}/{t}.parquet")
    con = duckdb.connect()
    base = con.execute(
        f"SELECT max(doc_id) FROM read_parquet('{src}/documents.parquet')"
    ).fetchone()[0]
    # E'...' escape-string literals: a plain SQL literal would plant
    # LITERAL backslash-n bytes instead of newlines (found round 8 —
    # the whitespace-mix row was silently a 2-word backslash doc)
    rows = ",\n".join(
        f"({base + 1 + i}, E{text!r}, 'en', 'degenerate', {len(text)})"
        for i, (_, text) in enumerate(DEGENERATE))
    con.execute(f"""
        COPY (
          SELECT * FROM read_parquet('{src}/documents.parquet')
          UNION ALL
          SELECT * FROM (VALUES {rows})
            v(doc_id, text, lang, source, n_chars)
          ORDER BY doc_id
        ) TO '{dst}/documents.parquet' (FORMAT PARQUET)
    """)
    n = con.execute(
        f"SELECT count(*) FROM read_parquet('{dst}/documents.parquet')"
    ).fetchone()[0]
    print(f"wrote {dst}/documents.parquet ({n} rows, {len(DEGENERATE)} degenerate)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
