"""Incremental ingest: Structured Streaming over landed page files.

The reference has no stream processing — new data arrives as a whole new
ontology dump and a full re-embed swaps a collection pointer
(``app/main.py:268-277,580-596``). The engine's analog for continuously
arriving WEB PAGES is a file-source stream: ``readStream`` on the landing
directory, ``foreachBatch`` running the identical batch pipeline (one code
path for batch + streaming), checkpointed so restarts resume exactly-once
per micro-batch. New ONTOLOGY versions stay batch: version-hash gate +
atomic pointer swap (ontology/version.py, sources/catalog.py).

At scale the same topology runs against an Iceberg/Kafka source: only the
``format(...)`` changes; watermarking is unnecessary because triples are
per-page facts (no event-time aggregation), and dedup-on-resume comes from
the sink's idempotent bucket overwrite.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..pipeline.triples import TERM_ROW_COLS, build_triples
from ..testdata.pages_gen import PAGES_SCHEMA


def stream_pages_from_directory(spark: SparkSession, landing_dir: str) -> DataFrame:
    """File-source stream of page rows (parquet files dropped into a dir)."""
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(landing_dir)
    )


def incremental_triples_query(
    pages_stream: DataFrame,
    terms: DataFrame,
    output_dir: str,
    checkpoint_dir: str,
    k: int = 5,
    on_batch: Callable[[int, int], None] | None = None,
) -> StreamingQuery:
    """pages stream → triples appended per micro-batch.

    ``foreachBatch`` reuses the batch ``build_triples`` plan verbatim — the
    micro-batch DataFrame is just a bounded pages table. The stream
    checkpoint makes re-delivery exactly-once at the batch level; the
    append sink partitions like the batch writer.

    The ontology side is prepared ONCE, not per micro-batch: the term rows
    are collected (bounded by ``DRIVER_TERMS_MAX``) and embedded through
    ``embed_with_cache`` on the driver up front, and every batch's
    ``build_triples`` call reads them from driver memory. Draining a
    backlog of N batches pays the collect and the embed once, not N times.
    """
    from ..operators.mentions import collect_driver_rows
    from ..pipeline.model_client import embed_with_cache

    term_rows = collect_driver_rows(
        terms.select(*TERM_ROW_COLS), "ontology terms"
    )
    term_vecs = embed_with_cache(
        [(r.term_id, r.searchable_text) for r in term_rows]
    )

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        triples = build_triples(
            batch_df, terms, k=k, term_vecs=term_vecs, term_rows=term_rows
        )
        # idempotent per micro-batch: each batch owns a deterministic
        # batch_id=<n> directory and OVERWRITES it, so a post-write,
        # pre-checkpoint crash followed by replay rewrites the same files
        # instead of appending duplicates (exactly-once at the batch level)
        triples.write.mode("overwrite").parquet(
            f"{output_dir}/batch_id={batch_id}"
        )
        if on_batch is not None:
            on_batch(batch_id, batch_df.count())

    return (
        pages_stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
