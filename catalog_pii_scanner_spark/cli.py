"""Command-line surface mirroring the reference's CLI verbs
(reference: src/catalog_pii_scanner/cli.py — scan, scan_text, gen-synth,
train-embed, calibrate, eval, export), argparse-based (no typer in this
environment), each verb a thin wrapper over the engine operators.

    python -m catalog_pii_scanner_spark.cli scan --sf-dir ... [--apply]
    python -m catalog_pii_scanner_spark.cli scan-text "call 555-867-5309"
    python -m catalog_pii_scanner_spark.cli gen-synth --n 500 --out d/
    python -m catalog_pii_scanner_spark.cli train-embed --data d/ --out m.npz
    python -m catalog_pii_scanner_spark.cli calibrate --data d/ --out c.json \
        [--model m.npz]
    python -m catalog_pii_scanner_spark.cli eval-trained --data d/ \
        [--model m.npz] [--calibration c.json]
    python -m catalog_pii_scanner_spark.cli eval --sf-dir DIR
    python -m catalog_pii_scanner_spark.cli export --store s/ --fmt csv --out e/
"""

from __future__ import annotations

import argparse
import json
import sys


#: Target-URI schemes this CLI can enumerate (the reference validates its
#: scheme against glue/unity/hms connectors the same way).
KNOWN_SCHEMES = frozenset({"spark"})


def _spark(app: str):
    from .session import get_spark
    return get_spark(f"cpss-{app}")


def cmd_scan(args) -> int:
    from .config import load_config
    from .operators.rules import rules_for_types
    from .scan import prune_columns, scan_catalog
    from .sinks.writeback import FakeCatalogClient
    from .sources.melt import TESTDATA_SCHEMAS
    from .sources.targets import match_names, parse_target

    if (args.since or args.incremental) and not args.store:
        raise SystemExit("--since and --incremental need --store (the "
                         "lookback source and fingerprint sidecar)")
    tables = tuple(args.tables.split(",")) if args.tables \
        else tuple(TESTDATA_SCHEMAS)
    col_pat = "*"
    if args.target:
        # reference P1: glob URI gates enumeration before any scan job.
        # Component semantics follow the column_ref shape
        # spark://table/column: the first pattern prunes tables, the
        # second prunes columns, both with the reference's fnmatch
        # semantics (glue.py:152-159 / unity.py:110-115) and both at
        # plan construction, so a pruned column never enters the melt,
        # the --since lookback OR the --incremental fingerprint basis
        # (fingerprinting glob-excluded columns would mark them freshly
        # scanned without scanning them, and later --incremental runs
        # would prune their PII forever).
        scheme, tbl_pat, col_pat = parse_target(args.target)
        if scheme not in KNOWN_SCHEMES:
            raise SystemExit(
                f"unknown target scheme {scheme!r}; known: "
                f"{', '.join(sorted(KNOWN_SCHEMES))}")
        tables = match_names(tables, tbl_pat)
    table_cols, _ = prune_columns(
        {t: TESTDATA_SCHEMAS[t] for t in tables},
        lambda t, c: bool(match_names((c,), col_pat)))
    if not table_cols:
        print("[]")
        return 0
    cfg = load_config(args.config or None)
    result = scan_catalog(
        _spark("scan"), args.sf_dir, table_cols, args.store,
        rules=rules_for_types(cfg.rules.enabled_types),
        since=args.since, incremental=args.incremental,
        jdbc_url=args.jdbc_url,
        client=FakeCatalogClient() if args.apply else None,
        full_catalog=not (args.tables or args.target))
    for event in result.events:
        print(json.dumps(event), file=sys.stderr)
    print(json.dumps([r.asDict() for r in result.findings], default=str,
                     indent=2))
    return 0


def cmd_scan_text(args) -> int:
    from .config import load_config
    from .operators.embeddings import EmbedModel
    from .operators.findings import scan_values
    from .operators.pipeline import full_scan_predictions
    from .operators.rules import rules_for_types
    spark = _spark("scan-text")
    cfg = load_config(args.config or None)
    df = spark.createDataFrame([("cli", args.text)],
                               "column_ref string, value string")
    cands = scan_values(df, rules=rules_for_types(cfg.rules.enabled_types))
    if args.ensemble or cfg.ai.mode in ("ensemble", "ensemble+llm"):
        # the reference's scan_text path: contexts -> N5 + E2 signals ->
        # fusion, gated by the P6 decision threshold (calibrated scale).
        # the N5 provider is ai.ner.provider, gated at
        # ai.ner.confidence_min; ai.ner.enabled=false builds no N5 stage
        # (None: a null ner_sig). mode ensemble+llm swaps the provider
        # for the (TTL-cached, worker-singleton) LLM stub — the
        # declared-but-never-built reference mode, config-dispatched.
        from .operators.ensemble import (EnsembleWeights,
                                         IDENTITY_CALIBRATION,
                                         REFERENCE_WEIGHTS)
        ner_provider = ("fake_llm" if cfg.ai.mode == "ensemble+llm"
                        else cfg.ai.ner.provider if cfg.ai.ner.enabled
                        else None)
        # SURVEY §7.6: the reference ships two disagreeing weight sets
        # (dataclass 0.6/0.2/0.4 actually used; config 0.4/0.3/0.3 never
        # wired). This engine is config-driven; --reference-compat selects
        # the dataclass defaults for 1:1 parity runs.
        weights = (REFERENCE_WEIGHTS if args.reference_compat
                   else EnsembleWeights(w_rule=cfg.ai.ensemble.w_rule,
                                        w_ner=cfg.ai.ensemble.w_ner,
                                        w_embed=cfg.ai.ensemble.w_embed))
        model = EmbedModel.load(args.model) if args.model else None
        # the declared LLM knobs are enforced on the fake_llm path:
        # cost_cap_usd_per_scan budget-gates the model stage, and
        # cache_ttl_minutes reaches the provider singleton.
        llm_kw = ({"llm_cost_cap_usd": cfg.ai.llm.cost_cap_usd_per_scan,
                   "llm_cache_ttl_minutes": cfg.ai.llm.cache_ttl_minutes}
                  if ner_provider == "fake_llm" else {})
        preds = full_scan_predictions(
            cands, model=model, weights=weights,
            decision_threshold=cfg.ai.ensemble.decision_threshold,
            ner_provider=ner_provider,
            ner_confidence_min=cfg.ai.ner.confidence_min,
            calibration=IDENTITY_CALIBRATION, **llm_kw)
        print(json.dumps([
            {"type": r.label, "text": r.match_text,
             "score": round(r.score, 6)}
            for r in preds.collect()], indent=2))
        return 0
    rows = cands.collect()
    print(json.dumps([
        {"type": r.pii_type, "text": r.match_text,
         "confidence": round(r.rule_confidence, 4),
         "validated": r.validated, "prob": round(r.prob, 6)}
        for r in rows], indent=2))
    return 0


def cmd_profile(args) -> int:
    """Column profiling over catalog tables (pre-sampling survey)."""
    from .operators.profile import profile_columns
    from .sources.melt import TESTDATA_SCHEMAS, melt_table
    from functools import reduce
    from pyspark.sql import DataFrame
    spark = _spark("profile")
    tables = tuple(args.tables.split(",")) if args.tables \
        else tuple(TESTDATA_SCHEMAS)
    vals = reduce(DataFrame.unionByName,
                  [melt_table(spark, args.sf_dir, t) for t in tables])
    prof = profile_columns(vals, exact=not args.approx)
    if args.out:
        prof.write.mode("overwrite").parquet(args.out)
        print(f"wrote profiles to {args.out}", file=sys.stderr)
    print(json.dumps([r.asDict() for r in
                      prof.orderBy("column_ref").collect()],
                     default=str, indent=2))
    return 0


def cmd_dedup(args) -> int:
    """Corpus near-dup keep-list (the dedup family's product)."""
    from .operators.dedup import dedup_keep_list
    spark = _spark("dedup")
    keep = dedup_keep_list(spark, args.sf_dir,
                           threshold=args.threshold)
    if args.out:
        keep.write.mode("overwrite").parquet(args.out)
        print(f"wrote keep-list to {args.out}", file=sys.stderr)
    stats = keep.groupBy("keep").count().collect()
    print(json.dumps({str(r.keep).lower(): r["count"] for r in stats}))
    return 0


def cmd_scan_corpus(args) -> int:
    """PII exposure report over a documents corpus: per-type rollup plus
    the over-budget doc count — the corpus analog of `scan`'s findings
    rollup. --out writes the full per-doc density frame."""
    from pyspark.sql import functions as F
    from .operators.pii_docs import doc_pii_density_docs
    spark = _spark("scan-corpus")
    docs = spark.read.parquet(f"{args.sf_dir}/documents.parquet")
    dens = doc_pii_density_docs(docs)
    if args.out:
        dens.write.mode("overwrite").parquet(args.out)
        print(f"wrote per-doc densities to {args.out}", file=sys.stderr)
    summary = dens.agg(
        F.count("*").alias("n_docs"),
        F.sum((F.col("n_pii") > 0).cast("int")).alias("n_docs_with_pii"),
        F.sum("n_pii").alias("n_spans"),
        F.sum((F.col("pii_density") > args.max_density).cast("int"))
        .alias("n_over_budget")).collect()[0]
    by_type = (dens.where(F.col("pii_types_csv") != "")
               .select(F.explode(F.split("pii_types_csv", ","))
                       .alias("pii_type"))
               .groupBy("pii_type").count()
               .orderBy("pii_type").collect())
    print(json.dumps({
        "n_docs": summary.n_docs,
        "n_docs_with_pii": int(summary.n_docs_with_pii or 0),
        "n_spans": int(summary.n_spans or 0),
        "n_over_budget": int(summary.n_over_budget or 0),
        "max_density": args.max_density,
        "docs_by_type": {r.pii_type: r["count"] for r in by_type},
    }))
    return 0


def cmd_export_corpus(args) -> int:
    """Materialize the curated (dedup + verdict + scrub) training corpus."""
    from .sinks.corpus_export import export_training_corpus
    spark = _spark("export-corpus")
    stats = export_training_corpus(spark, args.sf_dir, args.out,
                                   anonymize=not args.no_anonymize)
    print(json.dumps(stats))
    return 0


def cmd_gen_synth(args) -> int:
    from .sources.datasets import generate_synthetic, save_jsonl
    spark = _spark("gen-synth")
    save_jsonl(generate_synthetic(spark, args.n, args.seed), args.out)
    print(f"wrote {args.n} examples to {args.out}")
    return 0


def cmd_train_embed(args) -> int:
    from .operators.training import train_embed
    from .sources.datasets import load_jsonl
    spark = _spark("train-embed")
    model = train_embed(spark, load_jsonl(spark, args.data))
    model.save(args.out)
    print(f"trained heads: {sorted(model.heads)} -> {args.out}")
    return 0


def cmd_calibrate(args) -> int:
    """Reference calibrate semantics (eval.py:80-103): per-type Platt over
    the full raw ensemble scores, with the --model embed model bound."""
    from .operators.embeddings import EmbedModel
    from .operators.training import fit_calibrator_ensemble, labeled_basis
    from .sources.datasets import load_jsonl
    spark = _spark("calibrate")
    model = EmbedModel.load(args.model) if args.model else None
    params = fit_calibrator_ensemble(
        labeled_basis(load_jsonl(spark, args.data), model))
    with open(args.out, "w") as f:
        json.dump({t: list(p) for t, p in params.items()}, f)
    print(f"calibrated types: {sorted(params)} -> {args.out}")
    return 0


def _load_calibration(path: str) -> dict[str, tuple[float, float]]:
    """A calibration JSON as ``calibrate`` writes it: ``{type: [a, b]}``.
    The file comes from outside the program, so an unknown type or an
    entry that is not two numbers is an error naming the key (an unknown
    type would otherwise run silently at identity)."""
    from .pii_types import ALL_PII_TYPES
    with open(path) as f:
        raw = json.load(f)
    if not isinstance(raw, dict):
        raise SystemExit(f"{path}: expected an object {{type: [a, b]}}")
    params = {}
    for t, p in raw.items():
        if t not in ALL_PII_TYPES:
            raise SystemExit(f"{path}: unknown PII type {t!r}; known: "
                             f"{', '.join(ALL_PII_TYPES)}")
        if not (isinstance(p, list) and len(p) == 2 and all(
                isinstance(v, (int, float)) and not isinstance(v, bool)
                for v in p)):
            raise SystemExit(f"{path}: entry {t!r} must be two numbers "
                             f"[a, b], got {p!r}")
        params[t] = (float(p[0]), float(p[1]))
    return params


def _print_metrics(rows) -> None:
    for r in sorted(rows, key=lambda r: (r.level, r.pii_type)):
        if r.level == "type":
            print(f"{r.pii_type:14s} P={r.precision:.4f} "
                  f"R={r.recall:.4f} F1={r.f1:.4f}")
    micro = next(r for r in rows if r.level == "micro")
    macro = next(r for r in rows if r.level == "macro")
    print(f"Micro: P={micro.precision:.4f} R={micro.recall:.4f} "
          f"F1={micro.f1:.4f}")
    print(f"Macro: P={macro.precision:.4f} R={macro.recall:.4f} "
          f"F1={macro.f1:.4f}")


def cmd_eval_trained(args) -> int:
    """Phase-3 closure verb (reference ``cps eval``): evaluate the full
    TRAINED ensemble on a labeled corpus; without --calibration, fit it
    on the same labeled basis the eval reads."""
    from .operators.embeddings import EmbedModel
    from .operators.evaluate import eval_metrics_trained
    from .operators.training import fit_calibrator_ensemble, labeled_basis
    from .sources.datasets import load_jsonl
    calibration = (_load_calibration(args.calibration) if args.calibration
                   else None)
    spark = _spark("eval-trained")
    data = load_jsonl(spark, args.data).localCheckpoint(eager=True)
    model = EmbedModel.load(args.model) if args.model else None
    basis = labeled_basis(data, model)
    if calibration is None:
        calibration = fit_calibrator_ensemble(basis)
    _print_metrics(eval_metrics_trained(basis, calibration).collect())
    return 0


def cmd_eval(args) -> int:
    from .operators.evaluate import eval_metrics
    _print_metrics(eval_metrics(_spark("eval"), args.sf_dir).collect())
    return 0


def cmd_export(args) -> int:
    from .sinks.findings_store import (export_csv, export_json,
                                       read_merged_findings)
    spark = _spark("export")
    findings = read_merged_findings(spark, args.store)
    if args.fmt == "json":
        export_json(findings, args.out)
    else:
        export_csv(findings, args.out)
    print(f"exported {findings.count()} findings to {args.out}")
    return 0


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="cpss-spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    s = sub.add_parser("scan", help="scan catalog tables -> findings")
    s.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    s.add_argument("--tables", default="")
    s.add_argument("--target", default="",
                   help="glob URI spark://table_pat/column_pat, "
                        "e.g. spark://cust*/c_name")
    s.add_argument("--config", default="")
    s.add_argument("--store", default="",
                   help="keyed parquet findings store: one row per "
                        "column, upserted by each scan")
    s.add_argument("--jdbc-url", default="",
                   help="JDBC findings upsert, e.g. jdbc:derby:db;create=true")
    s.add_argument("--since", default="",
                   help="incremental scan: skip columns with a finding "
                        "newer than this window ('24h', '7d', or hours); "
                        "lookback source is --store")
    s.add_argument("--incremental", action="store_true",
                   help="content-based incremental scan: fingerprint "
                        "every column's distinct value set, rescan only "
                        "columns whose fingerprint moved since the last "
                        "run (sidecar lives in --store)")
    s.add_argument("--apply", action="store_true",
                   help="tag write-back via the fake catalog client")
    s.set_defaults(fn=cmd_scan)

    s = sub.add_parser("scan-text", help="detect PII in one text")
    s.add_argument("text")
    s.add_argument("--config", default="")
    s.add_argument("--ensemble", action="store_true",
                   help="full pipeline: contexts -> NER/embed signals -> "
                        "11-type fusion gated by decision_threshold")
    s.add_argument("--model", default="",
                   help="trained embed model (.npz); default: offline "
                        "deterministic model")
    s.add_argument("--reference-compat", action="store_true",
                   help="fuse with the reference's dataclass weight "
                        "defaults (0.6/0.2/0.4) instead of the config "
                        "weights")
    s.set_defaults(fn=cmd_scan_text)

    s = sub.add_parser("gen-synth", help="generate labeled JSONL")
    s.add_argument("--n", type=int, default=500)
    s.add_argument("--seed", type=int, default=1234)
    s.add_argument("--out", required=True)
    s.set_defaults(fn=cmd_gen_synth)

    s = sub.add_parser("train-embed")
    s.add_argument("--data", required=True)
    s.add_argument("--out", required=True)
    s.set_defaults(fn=cmd_train_embed)

    s = sub.add_parser("calibrate")
    s.add_argument("--data", required=True)
    s.add_argument("--out", required=True)
    s.add_argument("--model", default="",
                   help="trained embed model (.npz); default: offline "
                        "deterministic model")
    s.set_defaults(fn=cmd_calibrate)

    s = sub.add_parser("eval")
    s.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    s.set_defaults(fn=cmd_eval)

    s = sub.add_parser("eval-trained",
                       help="evaluate the trained ensemble on a labeled "
                            "JSONL corpus (reference `cps eval`)")
    s.add_argument("--data", required=True)
    s.add_argument("--model", default="")
    s.add_argument("--calibration", default="",
                   help="calibration JSON from `calibrate` (default: "
                        "fit on --data)")
    s.set_defaults(fn=cmd_eval_trained)

    s = sub.add_parser("profile", help="column profiles -> JSON/parquet")
    s.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    s.add_argument("--tables", default="")
    s.add_argument("--approx", action="store_true",
                   help="HLL distinct counts (the 100 TB path)")
    s.add_argument("--out", default="")
    s.set_defaults(fn=cmd_profile)

    s = sub.add_parser("dedup", help="near-dup keep-list for a corpus")
    s.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    s.add_argument("--threshold", type=float, default=0.5)
    s.add_argument("--out", default="")
    s.set_defaults(fn=cmd_dedup)

    s = sub.add_parser("scan-corpus",
                       help="PII exposure report over a documents corpus")
    s.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    s.add_argument("--out", default="",
                   help="write the per-doc density frame as parquet")
    s.add_argument("--max-density", type=float, default=0.1,
                   help="over-budget threshold for the summary count")
    s.set_defaults(fn=cmd_scan_corpus)

    s = sub.add_parser("export-corpus",
                       help="curated+scrubbed training corpus -> parquet")
    s.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    s.add_argument("--out", required=True)
    s.add_argument("--no-anonymize", action="store_true",
                   help="skip the PII scrub pass (keep raw text)")
    s.set_defaults(fn=cmd_export_corpus)

    s = sub.add_parser("serve", help="health endpoint (GET /healthz)")
    s.add_argument("--host", default="127.0.0.1")
    s.add_argument("--port", type=int, default=8000)
    s.add_argument("--once", action="store_true",
                   help="answer one request then exit (for tests)")
    s.set_defaults(fn=cmd_serve)

    s = sub.add_parser("export")
    s.add_argument("--store", required=True)
    s.add_argument("--fmt", choices=("json", "csv"), default="json")
    s.add_argument("--out", required=True)
    s.set_defaults(fn=cmd_export)
    return p


def make_health_server(host: str = "127.0.0.1", port: int = 0):
    """The reference's API surface is GET /healthz only (reference
    api.py:7-13, FastAPI); this is the dependency-free stdlib rendering.
    Returns an http.server.HTTPServer bound and ready (port 0 = ephemeral,
    read the actual one from ``server_address``)."""
    import http.server

    class Handler(http.server.BaseHTTPRequestHandler):
        def do_GET(self):  # noqa: N802 (stdlib API name)
            if self.path == "/healthz":
                body = json.dumps({"status": "ok"}).encode()
                self.send_response(200)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)
            else:
                self.send_error(404)

        def log_message(self, *args):  # quiet: structured logs only
            pass

    return http.server.HTTPServer((host, port), Handler)


def cmd_serve(args) -> int:
    srv = make_health_server(args.host, args.port)
    print(f"serving /healthz on "
          f"{srv.server_address[0]}:{srv.server_address[1]}",
          file=sys.stderr)
    if args.once:
        srv.handle_request()
    else:  # pragma: no cover - interactive mode
        srv.serve_forever()
    return 0


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    raise SystemExit(main())
