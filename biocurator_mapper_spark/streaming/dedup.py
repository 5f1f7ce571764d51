"""Streaming deduplication over continuously arriving documents.

The batch dedup family (operators/dedup.py) has a streaming twin for the
ingest path of a training-data pipeline: drop exact/near duplicates AS
pages land, before they ever hit storage.

Two tiers:

- ``streaming_exact_dedup``: content-fingerprint dedup with
  ``dropDuplicatesWithinWatermark`` — state is bounded by the watermark
  horizon (an unbounded ``dropDuplicates`` would grow state forever at
  100 TB/day; within-watermark is the production form: duplicates of a
  document almost always arrive within hours — crawler retries, mirror
  fetches — so a 1-day horizon removes ~all of them with finite state);
- ``streaming_simhash_marks``: stateless near-dup ANNOTATION — computes the
  48-bit SimHash sketch per incoming page (pure codegen expressions, no
  state) so a periodic batch job (``simhash_near_dup_pairs``) can sweep
  cross-horizon near-duplicates offline. Splitting "mark online, pair
  offline" keeps the stream narrow and shuffle-free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import doc_fingerprint
from ..operators.dedup import simhash_expr


def streaming_exact_dedup(
    pages_stream: DataFrame,
    text_col: str = "text",
    ts_col: str = "warc_ts",
    watermark: str = "1 day",
) -> DataFrame:
    """stream → stream with exact-content duplicates dropped within the
    watermark horizon. Keyed by the normalized-content fingerprint (the
    same md5 the batch ``fingerprint_dedup`` groups by), so case/spacing
    variants collapse too."""
    # NULL text → NULL fingerprint, and dropDuplicatesWithinWatermark
    # treats NULL keys as EQUAL — all not-yet-extracted (html-only) pages
    # would collapse to one. Key such rows by their unique url instead so
    # they pass through for later extraction. concat() null-propagates, so
    # a NULL-text/NULL-url row needs one more fallback (its event time) or
    # all such rows would still collapse under NULL-equal semantics.
    return (
        pages_stream.withColumn(
            "fingerprint",
            F.coalesce(
                doc_fingerprint(F.col(text_col)),
                F.concat(F.lit("nullarmor:"), F.col("url")),
                F.concat(F.lit("nullrow:"), F.col(ts_col).cast("string")),
            ),
        )
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["fingerprint"])
    )


def streaming_simhash_marks(
    pages_stream: DataFrame, text_col: str = "text", out_col: str = "simhash"
) -> DataFrame:
    """+ 48-bit SimHash sketch per page — stateless, codegen-only; feeds the
    offline block-permutation pairing sweep."""
    return pages_stream.withColumn(out_col, simhash_expr(F.col(text_col)))


def streaming_neardup_sink(
    pages_stream: DataFrame,
    catalog,
    out_table: str,
    state_table: str,
    checkpoint_dir: str,
    id_col: str = "url",
    text_col: str = "text",
    n: int = 3,
    bands: int = 4,
    threshold: float = 0.5,
    n_buckets: int = 64,
    trigger: dict | None = None,
):
    """Streaming NEAR-duplicate dedup with durable cross-batch state: each
    micro-batch runs ``operators.dedup.incremental_dedup`` against the
    catalog-stored signature table (only the batch is shingled/hashed —
    history contributes its saved band keys and hash sets), appends the
    surviving docs to ``out_table`` and MERGEs their signatures into
    ``state_table``. Unlike ``dropDuplicatesWithinWatermark`` this tier has
    NO horizon: a near-duplicate arriving months later still collides with
    the stored bands, and state lives in the catalog (bucketed parquet),
    not in executor memory.

    Replay-idempotent without transactions: both writes are keyed MERGEs,
    and a replayed batch finds its own previously-committed signatures in
    the store, so its docs verify as near-duplicates of themselves and the
    batch converges to a no-op; a crash BETWEEN the two merges replays
    into the same final state (the doc merge re-commits identical rows).
    Returns the started StreamingQuery."""
    from ..operators.dedup import incremental_dedup, signature_state

    def _batch(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.take(1):
            return
        # ONE row per id within the batch (crawler revisits / two part
        # files in a trigger can repeat an id): incremental_dedup's strict
        # id_a < id_b rule never pairs equal ids, and merge_upsert rejects
        # duplicate-key sources — without this the stream would die on the
        # first exact re-fetch. Winner = content-hash order (deterministic
        # under replay, same rule as merge_upsert_stream's tiebreak).
        from pyspark.sql import Window

        non_key = [c for c in batch_df.columns if c != id_col]
        w = Window.partitionBy(id_col).orderBy(
            F.asc(F.xxhash64(F.to_json(F.struct(*non_key))))
            if non_key
            else F.asc(id_col)
        )
        batch_df = (
            batch_df.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn")
        )
        if catalog.exists(state_table):
            state = catalog.read(state_table)
        else:
            # empty state with the exact schema the increment produces
            state = signature_state(
                batch_df.limit(0), id_col, text_col, n=n, bands=bands,
            )
        kept, kept_state = incremental_dedup(
            batch_df, state, id_col, text_col, n=n, bands=bands,
            threshold=threshold,
        )
        # keyed MERGE for both writes (idempotent under replay); docs
        # first, then state — see the crash-ordering argument above
        catalog.merge_upsert(kept, out_table, [id_col], n_buckets=n_buckets)
        catalog.merge_upsert(
            kept_state, state_table, [id_col], n_buckets=n_buckets
        )

    return (
        pages_stream.writeStream.foreachBatch(_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(**(trigger or {"availableNow": True}))
        .start()
    )


def streaming_exactsubstr_sink(
    pages_stream: DataFrame,
    catalog,
    out_table: str,
    state_table: str,
    checkpoint_dir: str,
    id_col: str = "url",
    text_col: str = "text",
    length: int = 50,
    n_buckets: int = 64,
    trigger: dict | None = None,
):
    """Streaming ExactSubstr with durable gram state: each micro-batch cuts
    every duplicated >=L-char normalized run — against the CATALOG-stored
    gram keys (no horizon: a passage lifted months later is still cut) and
    within the batch — writes (id, text_cut, n_cut_chars) to ``out_table``
    and inserts the batch's new grams into ``state_table``. Only the batch
    is ever hashed; stored grams travel as bare keys + first-contributor id.

    Replay-idempotent without transactions, via two rules working together:
    state rows carry ``first_i`` and a stored gram never marks its own
    first contributor (so a replayed batch re-derives exactly its original
    marks — its own grams in the store don't over-cut it), and the state
    merge is FIRST-WRITER-WINS (new grams anti-join the store before the
    keyed MERGE, so a replay inserts nothing and cross-batch first_i never
    flips). Both writes are keyed MERGEs; a crash between them replays
    into the same final state.

    Semantics note: a RE-crawled id (same id, new text, later batch) is
    not cut against its own earlier grams — a document is not a duplicate
    of itself; run the capture-level URL dedup upstream if recrawls should
    collapse instead. Returns the started StreamingQuery."""
    from ..operators.exactsubstr import (
        cut_spans_by_range,
        gram_state,
        incremental_substring_spans,
    )

    def _batch(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.take(1):
            return
        from pyspark.sql import Window

        # one row per id within the batch (deterministic content-hash
        # winner — same rule as the near-dup sink above)
        non_key = [c for c in batch_df.columns if c != id_col]
        w = Window.partitionBy(id_col).orderBy(
            F.asc(F.xxhash64(F.to_json(F.struct(*non_key))))
            if non_key
            else F.asc(id_col)
        )
        batch_df = (
            batch_df.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn")
        )
        if catalog.exists(state_table):
            state = catalog.read(state_table)
        else:
            state = gram_state(
                batch_df.limit(0), id_col, text_col, length, with_first=True
            )
        spans = incremental_substring_spans(
            batch_df, state, id_col, text_col, length
        )
        cut = cut_spans_by_range(batch_df, spans, id_col, text_col)
        catalog.merge_upsert(cut, out_table, [id_col], n_buckets=n_buckets)
        new_grams = gram_state(
            batch_df, id_col, text_col, length, with_first=True
        ).join(state.select("h1", "h2"), ["h1", "h2"], "left_anti")
        if new_grams.take(1):
            catalog.merge_upsert(
                new_grams, state_table, ["h1", "h2"], n_buckets=n_buckets
            )

    return (
        pages_stream.writeStream.foreachBatch(_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(**(trigger or {"availableNow": True}))
        .start()
    )
