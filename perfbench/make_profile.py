"""Derive ``fixture_profile.json`` from a ``documents.parquet`` fixture.

The benchmark must run from a bare checkout, so it never reads the fixture
tables at run time. This script condenses the fixture's text and metadata
into the distributions the seeded generator samples from: word
frequencies, words per document, and the ``lang``/``source`` mixes.

Usage: python3 perfbench/make_profile.py <dir holding documents.parquet>
"""

from __future__ import annotations

import collections
import json
import os
import sys

import pyarrow.parquet as pq

OUT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixture_profile.json")


def profile(path: str) -> dict:
    t = pq.read_table(path, columns=["text", "lang", "source"]).to_pydict()
    words = collections.Counter(w for x in t["text"] for w in x.split())
    lengths = collections.Counter(len(x.split()) for x in t["text"])
    return {
        "fixture": os.path.basename(os.path.dirname(os.path.abspath(path)))
        + "/documents.parquet",
        "rows": len(t["text"]),
        "words": dict(sorted(words.items())),
        "doc_words": {str(k): v for k, v in sorted(lengths.items())},
        "langs": dict(sorted(collections.Counter(t["lang"]).items())),
        "sources": dict(sorted(collections.Counter(t["source"]).items())),
    }


def main() -> int:
    if len(sys.argv) != 2:
        print(__doc__.strip().splitlines()[-1], file=sys.stderr)
        return 2
    prof = profile(os.path.join(sys.argv[1], "documents.parquet"))
    with open(OUT, "w") as f:
        json.dump(prof, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {OUT}: {prof['rows']} rows, {len(prof['words'])} words")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
