#!/usr/bin/env python3
"""Prints the corpus distributions that Corpus.scala freezes.

    python3 perfbench/derive_stats.py PATH/TO/documents.parquet

Reads a documents table (doc_id, text, lang, ...) with DuckDB and prints
the token unigram counts, the doc length histogram in tokens and the lang
mix, in the form of the Scala constants `wordCounts`, `lengthCounts` and
`langCounts`. The benchmark itself never reads the table: it generates its
corpora from the frozen constants, so a run needs nothing outside the
checkout.
"""

import sys

import duckdb


def main():
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    src = sys.argv[1].replace("'", "''")
    c = duckdb.connect()
    words = c.sql(f"""select w, count(*) from (select unnest(string_split(text, ' ')) w
                      from '{src}') group by 1 order by 2 desc, 1""").fetchall()
    lens = c.sql(f"""select len(string_split(text, ' ')) l, count(*) from '{src}'
                     group by 1 order by 1""").fetchall()
    langs = c.sql(f"select lang, count(*) from '{src}' group by 1 order by 2 desc, 1").fetchall()
    print("wordCounts =", ", ".join(f'"{w}" -> {n}' for w, n in words))
    print(f"lengthCounts = ({lens[0][0]} to {lens[-1][0]}) zip", [n for _, n in lens])
    print("langCounts =", ", ".join(f'"{l}" -> {n}' for l, n in langs))


if __name__ == "__main__":
    main()
