"""Ontology acquisition: streamed download + history (SURVEY §2 S1/S7/W2).

The reference streams the ontology dump over HTTP in 8 KiB chunks with
progress + cooperative cancellation and records a keep-last-10 download
history per ontology (``app/main.py:172-216``, ``app/config_updater.py:
99-184``). Acquisition is inherently a driver-side setup step — the cluster
reads the LANDED file; only bookkeeping belongs in tables:

- ``download_with_progress``: stdlib urllib streamed GET (supports file://
  for tests), chunked, progress callback, cancellation callback;
- ``record_download`` / ``download_history``: history rows in the catalog's
  append log, pruned to the last 10 per ontology with the same window
  expression as W2 (`row_number() over (partition by ontology
  order by ts desc) <= 10`);
- ``latest_download``: newest history record whose file still exists
  (reference config_updater.py:249-262, J4).
"""

from __future__ import annotations

import os
import urllib.request
from collections.abc import Callable

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .catalog import ParquetCatalog, utc_now

CHUNK_SIZE = 8192
HISTORY_TABLE = "_download_history"
KEEP_LAST = 10


class DownloadCancelled(RuntimeError):
    pass


def download_with_progress(
    url: str,
    dest_path: str,
    progress: Callable[[int, int | None], None] | None = None,
    should_cancel: Callable[[], bool] | None = None,
) -> int:
    """Streamed download → dest_path; returns bytes written.

    Progress gets (bytes_done, total_or_None); cancellation is cooperative
    per chunk (reference app/main.py:189-193).
    """
    os.makedirs(os.path.dirname(dest_path) or ".", exist_ok=True)
    tmp = dest_path + ".part"
    done = 0
    with urllib.request.urlopen(url) as resp:  # noqa: S310 — caller controls the URL
        total = resp.headers.get("Content-Length")
        total_i = int(total) if total else None
        with open(tmp, "wb") as out:
            while True:
                if should_cancel is not None and should_cancel():
                    out.close()
                    os.unlink(tmp)
                    raise DownloadCancelled(url)
                chunk = resp.read(CHUNK_SIZE)
                if not chunk:
                    break
                out.write(chunk)
                done += len(chunk)
                if progress is not None:
                    progress(done, total_i)
    os.replace(tmp, dest_path)
    return done


def record_download(
    catalog: ParquetCatalog,
    ontology: str,
    filename: str,
    size_bytes: int,
    status: str = "completed",
) -> None:
    catalog.append_rows(
        HISTORY_TABLE,
        [(ontology, filename, int(size_bytes),
          round(size_bytes / 1024 / 1024, 2), status, utc_now())],
        "ontology string, filename string, size_bytes long, size_mb double, "
        "status string, ts timestamp",
    )


def download_history(catalog: ParquetCatalog, keep_last: int = KEEP_LAST) -> DataFrame:
    """History pruned to the newest ``keep_last`` rows per ontology (W2)."""
    log = catalog.read_log(HISTORY_TABLE)
    if log is None:
        raise FileNotFoundError("no download history")
    w = Window.partitionBy("ontology").orderBy(F.desc("ts"), F.desc("filename"))
    return log.withColumn("_rn", F.row_number().over(w)).where(
        F.col("_rn") <= keep_last
    ).drop("_rn")


def latest_download(catalog: ParquetCatalog, ontology: str) -> str | None:
    """Newest completed record whose file still exists (J4)."""
    try:
        hist = download_history(catalog)
    except FileNotFoundError:
        return None
    rows = (
        hist.where((F.col("ontology") == ontology) & (F.col("status") == "completed"))
        .orderBy(F.desc("ts"), F.desc("filename"))
        .select("filename")
        .collect()
    )
    for r in rows:
        if os.path.exists(r.filename):
            return r.filename
    return None
