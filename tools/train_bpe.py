"""Train the checked-in BPE merges table (functions/bpe_merges.py).

Reads the sf0.001 ``documents`` corpus, pre-tokenizes with the SAME RE2
pattern the Spark expression uses (via DuckDB, so the training pieces match
what both engines extract at query time), runs the deterministic reference
trainer, and writes the table as a Python literal. Run once; the artifact is
committed so every engine/oracle invocation sees the identical fixed model:

    python tools/train_bpe.py [--sf-dir /root/testdata/sf0.001] [--n 48]

``--n 48`` (the committed table) deliberately stops short of absorbing the
synthetic corpus's 61-piece vocabulary: at 127 merges the trainer converges
and every piece collapses to one token, making real-BPE counts identical to
pre-tokenizer piece counts — a degenerate oracle. At 48, per-piece counts
span 1-6 tokens with cascading merges, so the driver compare actually
exercises the merge loop.
"""

from __future__ import annotations

import argparse
import sys
from collections import Counter
from pathlib import Path

# the repo root replaces tools/, where profile.py would shadow the standard
# library module pyspark imports
sys.path[0] = str(Path(__file__).resolve().parent.parent)

from biocurator_mapper_spark.functions.bpe import train_merges  # noqa: E402
from biocurator_mapper_spark.functions.text import BPE_TOKEN_RE  # noqa: E402

OUT = (
    Path(__file__).resolve().parent.parent
    / "biocurator_mapper_spark"
    / "functions"
    / "bpe_merges.py"
)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ap.add_argument("--n", type=int, default=48)
    args = ap.parse_args()

    import duckdb

    con = duckdb.connect()
    rows = con.execute(
        f"""
        SELECT piece, count(*)::BIGINT AS c FROM (
          SELECT unnest(regexp_extract_all(coalesce(text, ''), ?)) AS piece
          FROM '{args.sf_dir}/documents.parquet'
        ) GROUP BY piece ORDER BY piece
        """,
        [BPE_TOKEN_RE],
    ).fetchall()
    counts = Counter(dict(rows))
    merges = train_merges(counts, n_merges=args.n)

    lines = ",\n    ".join(f"({a!r}, {b!r})" for a, b in merges)
    OUT.write_text(
        '"""BPE merge table — GENERATED by tools/train_bpe.py; do not edit.\n\n'
        f"Trained on {args.sf_dir}/documents.parquet "
        f"({sum(counts.values())} pieces, {len(counts)} distinct) with the\n"
        "deterministic trainer in functions/bpe.py (ties break to the\n"
        'lexicographically smallest pair). Fixed model: applies at any SF.\n"""\n\n'
        f"MERGES: list[tuple[str, str]] = [\n    {lines},\n]\n"
    )
    print(f"wrote {OUT} ({len(merges)} merges)")


if __name__ == "__main__":
    main()
