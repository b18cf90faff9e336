#!/usr/bin/env python3
"""Check localcheck.py on a hand-built Verify output directory: two
gates dumped (one matching its oracle, one not), one attempted gate
with no dump. Expect one pass, two failures, the missing gate named.

    python3 scripts/localcheck_test.py
"""
import contextlib
import io
import os
import sys
import tempfile

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import localcheck  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main():
    with tempfile.TemporaryDirectory() as tmp:
        sf, out = os.path.join(tmp, "sf"), os.path.join(tmp, "out")
        os.makedirs(sf)
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"COPY (SELECT 1::BIGINT AS k) TO '{sf}/{t}.parquet' (FORMAT parquet)")
        for name, sql in [("q_good", "SELECT 1::BIGINT AS k"), ("q_bad", "SELECT 2::BIGINT AS k")]:
            os.makedirs(os.path.join(out, name))
            con.execute(f"COPY ({sql}) TO '{out}/{name}/part-0.parquet' (FORMAT parquet)")
        with open(os.path.join(out, "oracle_sql.json"), "w") as f:
            f.write('{"q_good": "SELECT k FROM region", "q_bad": "SELECT k FROM region", '
                    '"q_lost": "SELECT k FROM region"}')
        with open(os.path.join(out, "attempted.txt"), "w") as f:
            f.write("q_bad\nq_good\nq_lost\n")
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            rc = localcheck.main(sf, out)
        text = buf.getvalue()
        print(text)
        assert rc == 1, rc
        assert "FAIL q_lost: no dump" in text, text
        assert "FAIL q_bad: values differ" in text, text
        assert "PASS q_good (1 rows)" in text, text
        assert text.rstrip().endswith("1 pass, 0 rows-only, 2 fail"), text
    print("localcheck_test: ok")


if __name__ == "__main__":
    main()
