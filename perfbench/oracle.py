"""DuckDB oracles for the benchmark's outputs.

Each oracle is built from the scanner package's own oracle SQL builders
(the ones its correctness gate uses) and runs in DuckDB over the same
parquet files the engine reads. Results are normalized to hashable rows
so a check is a multiset symmetric difference.
"""

from __future__ import annotations

import os
from collections import Counter

import duckdb

#: The melted documents column (the scanner's melt type vocabulary).
DOCUMENT_COLUMNS = [("text", "string")]


def _connect(views: dict[str, str]) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect(config={"threads": len(os.sched_getaffinity(0))})
    # its progress bar would write into the result stream
    con.execute("PRAGMA disable_progress_bar")
    for name, path in views.items():
        con.execute(f"CREATE VIEW {name} AS "
                    f"SELECT * FROM read_parquet('{path}')")
    return con


def findings_rows(rows) -> list[tuple]:
    """(column_ref, types, confidence, hit_rate) rows of a findings
    relation, rounded the way the engine rounds them."""
    return sorted((r[0], tuple(r[1]), round(float(r[2]), 6),
                   round(float(r[3]), 6)) for r in rows)


def catalog_oracle(cat_dir: str,
                   schema: dict[str, list[tuple[str, str]]]) -> dict:
    """What a full scan of ``cat_dir`` must leave behind:

    - ``findings``: column-level findings, ``oracles.scan_findings_oracle``
      over the union of ``melt_oracle_sql(table, columns)``, re-nested
      per column the way ``to_findings_records`` does (sorted types, max
      confidence and hit_rate);
    - ``distinct_values``: (column_ref, distinct non-null values) per
      column, the ``n_values`` of its fingerprint in the sidecar."""
    from catalog_pii_scanner_spark.oracles import scan_findings_oracle
    from catalog_pii_scanner_spark.sources.melt import melt_oracle_sql
    con = _connect({t: os.path.join(cat_dir, f"{t}.parquet")
                    for t in schema})
    melted = "(" + " UNION ALL ".join(
        melt_oracle_sql(t, cols)[1:-1] for t, cols in schema.items()) + ")"
    per_type = scan_findings_oracle(melted, class_col="vclass")
    rows = con.execute(f"""
        SELECT column_ref, list_sort(list(pii_type)), max(confidence),
               max(hit_rate)
        FROM ({per_type}) GROUP BY column_ref""").fetchall()
    distinct = con.execute(f"""
        SELECT column_ref, count(DISTINCT value) FROM {melted}
        GROUP BY column_ref ORDER BY column_ref""").fetchall()
    con.close()
    return {"findings": findings_rows(rows),
            "distinct_values": [list(r) for r in distinct]}


def document_predictions(docs_dir: str) -> list[tuple]:
    """Fused predictions over the documents: the composition
    ``__spark_entry__._full_pipeline_oracle`` states for the demo
    relation (scored candidates -> redacted contexts -> N5 signal
    histogram -> md5hex embed heads -> 11-type fusion), over the
    melted ``documents.text`` column."""
    from catalog_pii_scanner_spark import oracles
    from catalog_pii_scanner_spark.operators import ner
    from catalog_pii_scanner_spark.operators.ensemble import (
        ensemble_oracle_sql)
    from catalog_pii_scanner_spark.operators.redaction import (
        redaction_oracle_exprs)
    from catalog_pii_scanner_spark.sources.melt import melt_oracle_sql
    con = _connect({"documents": os.path.join(docs_dir, "documents.parquet")})
    e = redaction_oracle_exprs("duckdb")
    nersig = ner.ner_context_signals_oracle_sql(
        "ctxh", keep=("ckey",), wrap_cte="nersig").strip()
    scored = oracles.scored_candidates_cte(
        melt_oracle_sql("documents", DOCUMENT_COLUMNS))
    sql = ("WITH " + scored.lstrip() + f""",
cand_rel AS (
  SELECT DISTINCT column_ref, value, pii_type, match_text,
         rule_confidence, validated, {e['context']} AS context
  FROM scored
),
ctxh AS (
  SELECT context, md5(context) AS ckey
  FROM (SELECT DISTINCT context FROM cand_rel)
),
{nersig},
cand2 AS (SELECT c.*, md5(c.context) AS ckey FROM cand_rel c)
""" + ensemble_oracle_sql("cand2", ner_rel="nersig", embed_hash_col="ckey"))
    rows = con.execute(sql).fetchall()
    con.close()
    return prediction_rows(rows)


def prediction_rows(rows) -> list[tuple]:
    """(column_ref, value, pii_type, match_text, label, score) rows."""
    return sorted((r[0], r[1], r[2], r[3], r[4], round(float(r[5]), 6))
                  for r in rows)


def mismatch(got: list[tuple], want: list[tuple]) -> int:
    """Rows in the symmetric difference of two multisets."""
    a, b = Counter(got), Counter(want)
    return sum(((a - b) + (b - a)).values())
