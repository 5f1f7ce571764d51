"""Ontology version management: metadata, content hash, incremental gate.

Spark restatement of ``app/ontology_version_manager.py``:

- P12: graph meta → {version_date, version_url, format_version, graph_id};
- P13: content_hash = first 16 hex of sha256 over a sort-keyed JSON of the
  version fields + node count (ontology_version_manager.py:67-84);
- J3: compare_versions — if the stored hash for the ontology matches the
  incoming document's hash, skip the (expensive) re-parse/re-embed; else
  rebuild and atomically swap the table pointer
  (ontology_version_manager.py:149-183 + config_updater.py:84-93).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.catalog import ParquetCatalog, utc_now

OBO_FORMAT_PRED = "http://www.geneontology.org/formats/oboInOwl#hasOBOFormatVersion"
VERSION_INFO_PRED = "http://www.w3.org/2002/07/owl#versionInfo"


def version_info(obo_df: DataFrame) -> DataFrame:
    """One-row version metadata from graphs[0] (P12)."""
    g = F.try_element_at(F.col("graphs"), F.lit(1))
    bpv = F.coalesce(
        g["meta"]["basicPropertyValues"],
        F.array().cast("array<struct<pred:string,val:string>>"),
    )

    def first_val(pred: str):
        return F.try_element_at(
            F.filter(bpv, lambda p: p["pred"] == pred), F.lit(1)
        )["val"]

    return obo_df.select(
        g["id"].alias("graph_id"),
        g["meta"]["version"].alias("version_url"),
        F.coalesce(first_val(VERSION_INFO_PRED), F.lit("")).alias("version_date"),
        F.coalesce(first_val(OBO_FORMAT_PRED), F.lit("")).alias("format_version"),
        F.coalesce(F.size(g["nodes"]), F.lit(0)).alias("node_count"),
    )


def content_hash_of(obo_df: DataFrame) -> str:
    """16-hex content hash over sort-keyed version fields + node count.

    Driver-side (the version row is a single record); same shape as the
    reference's sha256(json.dumps(..., sort_keys=True))[:16].
    """
    import hashlib

    row = version_info(obo_df).collect()[0]
    payload = json.dumps(
        {
            "format_version": row.format_version,
            "graph_id": row.graph_id,
            "node_count": row.node_count,
            "version_date": row.version_date,
            "version_url": row.version_url,
        },
        sort_keys=True,
    )
    return hashlib.sha256(payload.encode("utf-8")).hexdigest()[:16]


class OntologyVersionGate:
    """J3: skip-or-rebuild decision + atomic pointer swap.

    ``ensure(obo_df, build_fn)`` returns the current terms table, rebuilding
    only when the content hash changed. The swap is the catalog's pointer
    replace — readers never see a half-built version (the reference's
    zero-downtime collection swap).
    """

    def __init__(self, catalog: ParquetCatalog, ontology_name: str):
        self.catalog = catalog
        self.name = ontology_name
        self.terms_table = f"ontology_terms_{ontology_name}"
        self.versions_table = "_ontology_versions"

    def stored_hash(self) -> str | None:
        log = self.catalog.read_log(self.versions_table)
        if log is None:
            return None
        rows = (
            log.where(F.col("ontology") == self.name)
            .orderBy(F.desc("stored_ts"))
            .limit(1)
            .collect()
        )
        return rows[0].content_hash if rows else None

    def ensure(self, obo_df: DataFrame, build_fn) -> tuple[DataFrame, bool]:
        """Returns (terms_df, rebuilt)."""
        new_hash = content_hash_of(obo_df)
        if self.stored_hash() == new_hash and self.catalog.exists(self.terms_table):
            return self.catalog.read(self.terms_table), False
        terms = build_fn(obo_df)
        self.catalog.write_replace(terms, self.terms_table)
        self.catalog.append_rows(
            self.versions_table,
            [(self.name, new_hash, utc_now())],
            "ontology string, content_hash string, stored_ts timestamp",
        )
        return self.catalog.read(self.terms_table), True


def enabled_ontologies(config: dict) -> list[str]:
    """Names of configured ontologies with enabled=true (F9; the reference
    filters its ontology registry the same way, app/main.py:367-371 and
    app/config.py:32-33 — absent flag defaults to enabled)."""
    return sorted(
        name for name, c in config.items() if (c or {}).get("enabled", True)
    )


def filter_enabled_terms(terms: DataFrame, config: dict) -> DataFrame:
    """Keep only terms whose CURIE prefix belongs to an enabled ontology —
    the F9 gate applied to the terms relation (a broadcast-friendly isin
    over the dimension table; Catalyst folds the literal list)."""
    names = enabled_ontologies(config)
    return terms.where(F.split(F.col("term_id"), ":").getItem(0).isin(names))
