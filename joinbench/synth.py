"""Seeded documents table (doc_id, text, lang) that
sources.pages.load_pages turns into pages, one page per document.

    python3 joinbench/synth.py OUT_DIR SEED N_DOCS

writes OUT_DIR/documents.parquet.  run.py starts it as a child process,
so that the driver's peak RSS holds the engine's work and not this.
The doc ids, and so the page hashes that place each page, depend on
the seed.
"""

from __future__ import annotations

import sys

_WORDS = ("the fast key order sort table scan merge part window small "
          "hash join batch spark value query row data column").split()
_LANGS = ("en", "es", "fr", "de", "zh", "ja")


def write_documents(out_dir: str, seed: int, n: int) -> None:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    rng = np.random.default_rng(seed)
    base = int(rng.integers(1, 1 << 20)) * n
    words = np.array(_WORDS)
    picks = words[rng.integers(0, len(words), (n, 6))]
    texts = [" ".join(row) for row in picks]
    langs = np.array(_LANGS)[rng.integers(0, len(_LANGS), n)]
    pq.write_table(pa.table({
        "doc_id": np.arange(base, base + n, dtype=np.int64),
        "text": texts, "lang": langs}), f"{out_dir}/documents.parquet")


if __name__ == "__main__":
    write_documents(sys.argv[1], int(sys.argv[2]), int(sys.argv[3]))
