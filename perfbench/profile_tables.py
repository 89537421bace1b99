"""Print the distributions ops_board's generator is fitted to, for one or
more table directories side by side: a directory of the repo's test tables
(e.g. sf0.1) and the generated variants under ``.perfbench_work/inputs/``.

    python3 perfbench/profile_tables.py DIR [DIR ...]

Each DIR holds documents.parquet and lineitem.parquet.
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pandas as pd


def profile(d: str) -> dict[str, str]:
    docs = pd.read_parquet(os.path.join(d, "documents.parquet"))
    words = docs["text"].str.split()
    dup = docs["text"].str.endswith(" dup")
    first = {}
    for i, text in enumerate(docs["text"]):
        first.setdefault(text, i)
    bases = [first.get(t[:-4]) for t in docs["text"][dup]]
    later = sum(b is not None and b > i
                for b, i in zip(bases, np.flatnonzero(dup)))
    plain = words[~dup].str.len()
    vocab = {w for ws in words for w in ws} - {"dup"}
    langs = docs["lang"].value_counts(normalize=True)
    li = pd.read_parquet(os.path.join(d, "lineitem.parquet"))
    n = len(li)
    days = (li["l_shipdate"] - pd.Timestamp("1995-01-01")).dt.days
    out = {
        "documents.rows": f"{len(docs)}",
        "vocabulary": f"{len(vocab)}",
        "words/text (non-dup) min/p50/max":
            f"{plain.min()}/{int(plain.median())}/{plain.max()}",
        "words/text mean": f"{words.str.len().mean():.1f}",
        "dup share": f"{dup.mean():.3f}",
        "dups whose base text is later": f"{later / max(dup.sum(), 1):.2f}",
        "sources": f"{docs['source'].nunique()}",
        "langs": " ".join(f"{k}={v:.2f}" for k, v in langs.items()),
        "lineitem.rows": f"{n}",
        "orderkeys/row": f"{li['l_orderkey'].nunique() / n:.3f}",
        "partkeys/row": f"{li['l_partkey'].nunique() / n:.4f}",
        "suppkeys/row": f"{li['l_suppkey'].nunique() / n:.5f}",
        "lines/order mean": f"{li.groupby('l_orderkey').size().mean():.2f}",
        "discount 0 / 0.05 share":
            f"{(li['l_discount'] == 0).mean():.3f}/"
            f"{np.isclose(li['l_discount'], 0.05).mean():.3f}",
        "tax 0 / 0.04 share":
            f"{(li['l_tax'] == 0).mean():.3f}/"
            f"{np.isclose(li['l_tax'], 0.04).mean():.3f}",
        "extendedprice p0/p50/p100":
            "/".join(f"{x:.0f}" for x in
                     np.percentile(li["l_extendedprice"], [0, 50, 100])),
        "corr(price, quantity)":
            f"{np.corrcoef(li['l_extendedprice'], li['l_quantity'])[0, 1]:.3f}",
        "ship day min/max": f"{days.min()}/{days.max()}",
    }
    return out


def main() -> int:
    if len(sys.argv) < 2:
        print(__doc__, file=sys.stderr)
        return 2
    cols = [profile(d) for d in sys.argv[1:]]
    heads = [os.path.basename(os.path.normpath(d)) for d in sys.argv[1:]]
    print("| figure | " + " | ".join(heads) + " |")
    print("|---" * (len(heads) + 1) + "|")
    for k in cols[0]:
        print(f"| {k} | " + " | ".join(c[k] for c in cols) + " |")
    return 0


if __name__ == "__main__":
    sys.exit(main())
