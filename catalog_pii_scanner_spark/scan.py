"""One catalog scan, end to end: the engine behind the ``scan`` verb.

Order: ``since`` lookback pruning -> ``incremental`` fingerprint pruning
-> melt -> findings rollup -> findings records -> store and JDBC merges
-> tag write-back -> fingerprint sidecar. The sidecar is written LAST,
so a scan that fails anywhere before it never marks its columns fresh:
the next incremental run rescans them.

Both prunings act at PLAN CONSTRUCTION: a pruned column never enters the
melt projection, so the parquet scan reads neither its pages nor its
footer stats, and at catalog scale the rescan I/O tracks the delta, not
the catalog.
"""

from __future__ import annotations

from functools import reduce
from typing import Callable, NamedTuple

from pyspark.sql import DataFrame, Row, SparkSession

from .operators.findings import findings_rollup
from .operators.incremental import column_fingerprints
from .operators.rules import RULES, Rule
from .sinks.findings_store import (changed_column_refs, merge_findings,
                                   merge_findings_jdbc, parse_since,
                                   recently_scanned_refs,
                                   to_findings_records,
                                   write_column_fingerprints)
from .sinks.writeback import apply_writeback
from .sources.melt import column_ref, melt_table

#: table -> [(column, dtype)]: the scan's column set.
TableCols = dict[str, list[tuple[str, str]]]


class ScanResult(NamedTuple):
    #: one findings record per column with PII (empty when pruning left
    #: nothing to scan)
    findings: list[Row]
    #: progress records, in order: pruning counts, first-run marker,
    #: write-back counters
    events: list[dict]


def prune_columns(table_cols: TableCols,
                  keep: Callable[[str, str], bool]) -> tuple[TableCols, int]:
    """Keep the columns ``keep(table, column)`` accepts and drop tables
    left empty; returns the pruned map and the number of columns
    removed from THIS map (not a store-wide count)."""
    pruned = {t: [(c, ty) for c, ty in cols if keep(t, c)]
              for t, cols in table_cols.items()}
    n_removed = sum(map(len, table_cols.values())) \
        - sum(map(len, pruned.values()))
    return {t: cols for t, cols in pruned.items() if cols}, n_removed


def melt_catalog(spark: SparkSession, sf_dir: str,
                 table_cols: TableCols) -> DataFrame:
    return reduce(DataFrame.unionByName,
                  [melt_table(spark, sf_dir, t, columns=cols)
                   for t, cols in table_cols.items()])


def scan_catalog(spark: SparkSession, sf_dir: str, table_cols: TableCols,
                 store: str = "", *,
                 rules: tuple[Rule, ...] = RULES,
                 since: str = "",
                 incremental: bool = False,
                 jdbc_url: str = "",
                 client=None,
                 full_catalog: bool = False) -> ScanResult:
    """Scan ``table_cols`` of the parquet tables under ``sf_dir``.

    Each option is one ``scan`` flag: ``store`` the keyed findings store
    (``--store``, also the ``since`` lookback source and the home of the
    fingerprint sidecar), ``rules`` the enabled rule set (``--config``),
    ``since`` a lookback window such as '24h' (``--since``),
    ``incremental`` content-fingerprint pruning (``--incremental``),
    ``jdbc_url`` a JDBC findings table (``--jdbc-url``), ``client`` the
    catalog the tags are written back to through
    ``sinks.writeback.apply_writeback`` (``--apply`` passes a
    ``FakeCatalogClient``; ``SessionCatalogClient(spark)`` tags the
    session catalog; None skips write-back).
    ``full_catalog`` says ``table_cols`` is the whole catalog (no
    ``--tables``/``--target``): only then, and without ``since``, may
    the sidecar evict the fingerprints of dropped or renamed columns.
    """
    if (since or incremental) and not store:
        raise ValueError("since and incremental scans need a store "
                         "(the lookback source and fingerprint sidecar)")
    # only a full-catalog fingerprint basis may drop stored refs
    evict = full_catalog and not since
    events: list[dict] = []
    if since:
        # columns with a fresh-enough finding in the store are skipped
        skip = recently_scanned_refs(spark, store, parse_since(since))
        table_cols, n_skip = prune_columns(
            table_cols, lambda t, c: column_ref(t, c) not in skip)
        events.append({"since": since, "skipped_columns": n_skip,
                       "tables_remaining": len(table_cols)})
        if not table_cols:
            return ScanResult([], events)
    fps_cur = vals = None
    if incremental:
        # one cheap distinct+hash pass fingerprints every candidate
        # column; only columns whose stored fingerprint moved (or that
        # have none) are scanned
        vals_all = melt_catalog(spark, sf_dir, table_cols)
        fps_cur = column_fingerprints(vals_all).localCheckpoint(eager=True)
        changed = changed_column_refs(spark, store, fps_cur)
        if changed is None:
            # first run: nothing is pruned, so the scan reuses the melt
            # the fingerprint pass already built
            vals = vals_all
            events.append({"incremental": True, "first_run": True})
        else:
            table_cols, n_skip = prune_columns(
                table_cols, lambda t, c: column_ref(t, c) in changed)
            events.append({"incremental": True, "skipped_columns": n_skip,
                           "tables_remaining": len(table_cols)})
        if not table_cols:
            # nothing changed: refresh the sidecar timestamps and stop
            write_column_fingerprints(fps_cur, store, evict_missing=evict)
            return ScanResult([], events)
    if vals is None:
        # rebuilt from the pruned map, NOT a column_ref filter over the
        # fingerprint melt, so the parquet scan reads only the changed
        # columns' pages. (Sharing the fingerprint pass's distinct
        # relation through persist/checkpoint was measured and rejected:
        # ~18 s of cache fill against ~6 s of re-derivation saved at
        # sf0.1 — operators/incremental.py.)
        vals = melt_catalog(spark, sf_dir, table_cols)
    findings = to_findings_records(findings_rollup(vals, rules=rules))
    rows = findings.collect()
    if store:
        merge_findings(spark, findings, store)
    if jdbc_url:
        merge_findings_jdbc(spark, findings, jdbc_url, "findings")
    if client is not None:
        events.append({"writeback": apply_writeback(findings, client)})
    if fps_cur is not None:
        # findings landed: NOW the columns count as freshly scanned
        write_column_fingerprints(fps_cur, store, evict_missing=evict)
    return ScanResult(rows, events)
