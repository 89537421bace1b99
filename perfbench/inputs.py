"""Seeded benchmark inputs, generated once per (workload, seed) and cached.

Every generator is a pure function of its seed, so the same seed always
yields byte-identical inputs. Generation runs before any timing starts and
writes plain parquet under the work directory; the program under test only
ever sees the files.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

# kg_build: files per input. The seed picks one of KG_VARIANTS index
# windows of the repo's synthetic corpus, whose expected stage digests are
# recorded in expected_kg.json (see record_expected.py); fixture rows 0..7
# (giant, broken-tail, poison and empty files) are always included.
KG_FILES = 16_000
KG_VARIANTS = 4
# kg_build's traced append: share of the input committed before the append.
APPEND_BASE_SHARE = 0.9
# ops_board: rows of the two tables the board queries read, 12% of the rows
# of the repo's sf0.1 test tables (5,000 documents / 600,000 lineitems).
# The distributions below are fitted to those tables (profile_tables.py
# prints both side by side).
BOARD_DOCS = 600
BOARD_LINEITEMS = 72_000
# ops_board seeds map onto this many input variants, whose expected outputs
# are recorded in expected_board.json (see record_expected.py).
BOARD_VARIANTS = 4

# documents: the 30-word vocabulary of sf0.1, drawn uniformly; 10-99 words a
# text; 5% of documents repeat another one (earlier or later) with " dup"
# appended; the language shares and the 20 round-robin sources of sf0.1.
WORDS = ("a the spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part fast "
         "row agg key query scan batch").split()
TEXT_WORDS = (10, 100)
DUP_SHARE = 0.05
LANGS = {"en": 0.41, "zh": 0.15, "es": 0.15, "fr": 0.15, "de": 0.14}
SOURCES = 20


def _write(pdf: pd.DataFrame, path: str, row_groups: int = 32) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    pdf.to_parquet(tmp, index=False,
                   row_group_size=max(len(pdf) // row_groups, 1))
    os.replace(tmp, path)


def kg_variant(seed: int) -> int:
    return seed % KG_VARIANTS


def kg_indices(seed: int, n: int = KG_FILES) -> list[int]:
    """Fixture rows 0..7 plus the corpus index window of the seed's
    variant; windows do not overlap."""
    from smart_pdf_md_spark.corpus import FIXED_ROWS
    start = FIXED_ROWS + kg_variant(seed) * n
    return list(range(FIXED_ROWS)) + list(range(start, start + n - FIXED_ROWS))


def kg_corpus(root: str, seed: int) -> str:
    """repo_files parquet for kg_build."""
    from smart_pdf_md_spark.corpus import CORPUS_VERSION, generate_batch
    path = os.path.join(root, f"kg_v{CORPUS_VERSION}_{KG_FILES}"
                              f"_v{kg_variant(seed)}.parquet")
    if not os.path.exists(path):
        _write(generate_batch(kg_indices(seed)), path)
    return path


def kg_append_base(root: str, seed: int) -> str:
    """kg_corpus without every tenth distinct file: the base committed
    before the append. Rows are split by file identity (repo, path,
    commit), so every delivery of a held-back file is new to the append."""
    path = os.path.join(root, os.path.basename(kg_corpus(root, seed))
                        .replace(".parquet", "_base.parquet"))
    if not os.path.exists(path):
        full = pd.read_parquet(kg_corpus(root, seed))
        ids = list(zip(full["repo"], full["path"], full["commit"]))
        step = round(1 / (1 - APPEND_BASE_SHARE))
        held = set(list(dict.fromkeys(ids))[step - 1::step])
        _write(full[[i not in held for i in ids]], path)
    return path


def board_variant(seed: int) -> int:
    return seed % BOARD_VARIANTS


def board_tables(root: str, seed: int) -> str:
    """Directory holding documents.parquet and lineitem.parquet with the
    schemas of the repo's test tables, for the variant the seed selects."""
    v = board_variant(seed)
    d = os.path.join(root, f"board_{BOARD_DOCS}_{BOARD_LINEITEMS}_v{v}")
    if os.path.exists(os.path.join(d, "_DONE")):
        return d
    os.makedirs(d, exist_ok=True)
    rng = np.random.default_rng(1_000 + v)
    texts = [" ".join(rng.choice(WORDS, size=int(rng.integers(*TEXT_WORDS))))
             for _ in range(BOARD_DOCS)]
    for i in np.flatnonzero(rng.random(BOARD_DOCS) < DUP_SHARE):
        # near-duplicate of any other document, earlier or later
        j = (i + int(rng.integers(1, BOARD_DOCS))) % BOARD_DOCS
        texts[i] = texts[j] + " dup"
    _write(pd.DataFrame({
        "doc_id": np.arange(BOARD_DOCS, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(list(LANGS), size=BOARD_DOCS,
                           p=list(LANGS.values())),
        "source": [f"src{i % SOURCES}" for i in range(BOARD_DOCS)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }), os.path.join(d, "documents.parquet"), row_groups=1)
    # lineitem: TPC-H key domains per row (orders n/4, parts n/30,
    # suppliers n/600); price, discount and tax rounded from uniform draws,
    # the price independent of the quantity; ship dates 1-2499 days after
    # 1995-01-01, as in sf0.1
    n = BOARD_LINEITEMS
    qty = rng.integers(1, 51, n).astype(np.float64)
    _write(pd.DataFrame({
        "l_orderkey": rng.integers(0, n // 4, n),
        "l_partkey": rng.integers(0, n // 30, n),
        "l_suppkey": rng.integers(0, n // 600, n),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(rng.uniform(900, 105_000, n), 2),
        "l_discount": np.round(rng.uniform(0, 0.10, n), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, n), 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n),
        "l_linestatus": rng.choice(["F", "O"], n),
        "l_shipdate": (np.datetime64("1995-01-01")
                       + rng.integers(1, 2500, n).astype("timedelta64[D]")
                       ).astype("datetime64[us]"),
    }), os.path.join(d, "lineitem.parquet"), row_groups=8)
    open(os.path.join(d, "_DONE"), "w").close()
    return d
