#!/usr/bin/env python3
"""Regenerate src/main/resources/sf01_documents.txt from the sf0.1 test data.

    python3 graftbench/extract_documents.py <sf0.1 dir>

The corpus generator (Gen.scala) builds its text from these documents:
the first 2000 by doc_id of the sf0.1 `documents` table, one per line,
leaving out the table's own near-duplicates (the rows ending in the
`dup` marker word) and exact repeats, since the generator plants
duplicates itself. It also prints the table's measured properties that
config.json takes over. Needs pyarrow; the benchmark never runs this.
"""
import os
import sys

import pyarrow.parquet as pq

N = 2000


def main():
    t = pq.read_table(os.path.join(sys.argv[1], "documents.parquet"),
                      columns=["doc_id", "text", "source"]).to_pylist()
    t.sort(key=lambda r: r["doc_id"])
    words = [len(r["text"].split()) for r in t]
    near = sum(r["text"].endswith(" dup") for r in t)
    texts = [r["text"] for r in t]
    print(f"documents {len(t)}, sources {len(set(r['source'] for r in t))}, "
          f"words {min(words)}-{max(words)}, near-duplicates {near / len(t):.4f}, "
          f"exact repeats {(len(texts) - len(set(texts))) / len(t):.4f}", file=sys.stderr)
    seen, out = set(), []
    for r in t:
        x = r["text"]
        if x.endswith(" dup") or x in seen:
            continue
        seen.add(x)
        out.append(x)
        if len(out) == N:
            break
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, "src", "main", "resources", "sf01_documents.txt"), "w") as f:
        f.write("\n".join(out) + "\n")


if __name__ == "__main__":
    main()
