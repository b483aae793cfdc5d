"""Derive the benchmark's input profile from a carmenspark testdata directory.

The benchmark never reads the testdata tables while it runs: it generates
its inputs from the seed and from this profile, which holds only the
properties the generator needs (corpus vocabulary with word counts, the
token-length histogram, and the key ranges of the tables whose keys feed
the synthetic features and points).

Usage (needs the duckdb Python package):

    python3 perfbench/profile/derive.py <testdata-dir>/sf0.1 > perfbench/profile/sf0.1.json
"""
import json
import sys

import duckdb


def main(sf_dir):
    con = duckdb.connect()

    def q(sql):
        return con.sql(sql.replace("$D", sf_dir)).fetchall()

    vocab = q("SELECT w, count(*) FROM (SELECT unnest(string_split(text, ' ')) w "
              "FROM '$D/documents.parquet') GROUP BY 1 ORDER BY 2 DESC, 1")
    lens = q("SELECT len(string_split(text, ' ')) n, count(*) "
             "FROM '$D/documents.parquet' GROUP BY 1 ORDER BY 1")

    def key_range(table, key):
        lo, hi, n = q(f"SELECT min({key}), max({key}), count(*) FROM '$D/{table}.parquet'")[0]
        return {"key_min": lo, "key_max": hi, "rows": n}

    profile = {
        "source": "sf0.1 testdata: documents, events, customer, nation, region",
        "documents": {
            "rows": q("SELECT count(*) FROM '$D/documents.parquet'")[0][0],
            "vocab": [[w, c] for w, c in vocab],
            "token_len": [[n, c] for n, c in lens],
        },
        "events": key_range("events", "event_id"),
        "customer": key_range("customer", "c_custkey"),
        "nation": key_range("nation", "n_nationkey"),
        "region": key_range("region", "r_regionkey"),
    }
    json.dump(profile, sys.stdout, indent=1)
    sys.stdout.write("\n")


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit("usage: derive.py <sf-dir>")
    main(sys.argv[1])
