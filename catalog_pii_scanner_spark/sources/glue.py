"""Glue Catalog protocol surface (reference S1 full + K2 protocol):
paginated enumeration, throttle retry/backoff, and TableInput whitelist
sanitization for write-back.

Reference behaviors mirrored (connectors/glue.py):
- glue.py:36-48 — exponential backoff retries on throttle-coded errors
  only; other errors propagate immediately.
- glue.py:100-140 — NextToken pagination for get_databases/get_tables,
  drained to exhaustion.
- glue.py:142-171 — fnmatch gates applied DURING the walk, before any
  get_table cost.
- glue.py:241-353 — GetTable output contains read-only/unknown fields
  (CreateTime, TableArn, VersionId, ...) that UpdateTable rejects with
  InvalidInputException; a strict whitelist prunes them. Here the
  whitelist is a declarative nested spec + one generic pruner instead of
  per-shape functions.
- glue.py:184-238 — column tag update: the diff and the comment rule
  are sinks/writeback.apply_writeback's; ``GlueEnumerator`` is its
  two-method client (column Parameters + Comment, sanitized update_table).

All of this is driver-side protocol work (catalog APIs are not
data-plane); the enumeration lands in the same canonical columns frame
as the other connectors (sources/catalog.py COLUMNS_SCHEMA) where the
data-plane takes over.
"""

from __future__ import annotations

import copy
import fnmatch
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from ..sinks.writeback import PII_FLAG_KEY, PII_TYPES_KEY
from .catalog import COLUMNS_SCHEMA, column_ref
from .melt import TESTDATA_SCHEMAS

#: AWS error codes treated as retryable throttling (reference glue.py:25-29).
THROTTLE_CODES = frozenset({
    "ThrottlingException", "TooManyRequestsException",
    "RequestLimitExceeded",
})


#: write-back key -> Glue column Parameters key (reference glue.py:210).
GLUE_TAG_KEYS = {PII_FLAG_KEY: "pii", PII_TYPES_KEY: "pii_types"}


class GlueClientError(RuntimeError):
    """Protocol error carrying the AWS-style error code."""

    def __init__(self, code: str, message: str = "") -> None:
        super().__init__(f"{code}: {message}")
        self.code = code


def is_throttle(err: Exception) -> bool:
    return getattr(err, "code", None) in THROTTLE_CODES


def with_backoff(fn: Callable[[], object], *, max_retries: int = 5,
                 base_delay: float = 0.5, max_delay: float = 8.0,
                 sleep: Callable[[float], None] = time.sleep):
    """Run ``fn`` with exponential backoff on throttle errors; anything
    else raises immediately. ``sleep`` is injectable so tests assert the
    retry schedule without wall-clock waits (jitter policy, if wanted,
    also lives in the injected sleep)."""
    for attempt in range(max_retries + 1):
        try:
            return fn()
        except Exception as e:  # noqa: BLE001 - classified below
            if attempt >= max_retries or not is_throttle(e):
                raise
            sleep(min(base_delay * (2 ** attempt), max_delay))
    raise AssertionError("unreachable")


# --- TableInput whitelist ----------------------------------------------------

#: Nested whitelist spec. Grammar: None = copy value verbatim;
#: frozenset = dict, keep only these keys (verbatim values);
#: dict = dict, keep only these keys, each pruned by its sub-spec;
#: ("list", spec) = list of dicts, each pruned by spec.
_COLUMN = frozenset({"Name", "Type", "Comment", "Parameters"})
_STORAGE_DESCRIPTOR = {
    "Columns": ("list", _COLUMN),
    "Location": None, "AdditionalLocations": None, "InputFormat": None,
    "OutputFormat": None, "Compressed": None, "NumberOfBuckets": None,
    "SerdeInfo": frozenset({"Name", "SerializationLibrary", "Parameters"}),
    "BucketColumns": None,
    "SortColumns": ("list", frozenset({"Column", "SortOrder"})),
    "Parameters": None,
    "SkewedInfo": frozenset({"SkewedColumnNames", "SkewedColumnValues",
                             "SkewedColumnValueLocationMaps"}),
    "StoredAsSubDirectories": None,
    "SchemaReference": {
        "SchemaId": frozenset({"SchemaArn", "SchemaName", "RegistryName"}),
        "SchemaVersionId": None, "SchemaVersionNumber": None,
    },
}
TABLE_INPUT_SPEC = {
    "Name": None, "Description": None, "Owner": None, "Retention": None,
    "StorageDescriptor": _STORAGE_DESCRIPTOR,
    "PartitionKeys": ("list", _COLUMN),
    "ViewOriginalText": None, "ViewExpandedText": None, "TableType": None,
    "Parameters": None,
    "TargetTable": frozenset({"CatalogId", "DatabaseName", "Name"}),
}


def _prune(value, spec):
    if spec is None:
        return copy.deepcopy(value)
    if isinstance(spec, tuple):  # ("list", item_spec)
        return [_prune(v, spec[1]) for v in value if isinstance(v, dict)]
    if isinstance(spec, frozenset):
        return {k: copy.deepcopy(v) for k, v in value.items() if k in spec}
    return {k: _prune(value[k], spec[k]) for k in spec if k in value}


def table_to_input(tbl: dict) -> dict:
    """GetTable output -> valid UpdateTable TableInput: whitelist-prune
    every nested shape (read-only/unknown keys cause
    InvalidInputException on the real API) and fill required defaults."""
    ti = _prune(tbl, TABLE_INPUT_SPEC)
    ti.setdefault("Name", tbl.get("Name"))
    ti.setdefault("StorageDescriptor", {})
    ti.setdefault("Parameters", tbl.get("Parameters") or {})
    ti.setdefault("TableType", tbl.get("TableType") or "EXTERNAL_TABLE")
    return ti


# --- paginated enumeration ---------------------------------------------------

def _drain(call: Callable[[str | None], dict], items_key: str) -> list:
    """Exhaust a NextToken-paginated lister."""
    out, token = [], None
    while True:
        resp = call(token)
        out.extend(resp.get(items_key, []) or [])
        token = resp.get("NextToken")
        if not token:
            return out


def _column(tbl: dict, name: str) -> dict:
    for c in (tbl.get("StorageDescriptor") or {}).get("Columns") or []:
        if c.get("Name") == name:
            return c
    raise KeyError(f"table {tbl.get('Name')!r} has no column {name!r}")


def _any_match(name: str, patterns) -> bool:
    pats = [patterns] if isinstance(patterns, str) else list(patterns)
    return any(fnmatch.fnmatch(name, p) for p in pats)


class GlueEnumerator:
    """Paginated, backoff-wrapped walk over a Glue-protocol client
    (injectable: the real boto3 client and the fake share the surface
    get_databases/get_tables/get_table/update_table)."""

    def __init__(self, client, max_retries: int = 5,
                 base_delay: float = 0.5,
                 sleep: Callable[[float], None] = time.sleep) -> None:
        self._client = client
        self._retry = dict(max_retries=max_retries, base_delay=base_delay,
                           sleep=sleep)

    def _paged(self, fn, items_key: str, **kw) -> list:
        def call(token):
            args = dict(kw, **({"NextToken": token} if token else {}))
            return with_backoff(lambda: fn(**args), **self._retry)
        return _drain(call, items_key)

    def list_databases(self) -> list[str]:
        dbs = self._paged(self._client.get_databases, "DatabaseList")
        return [d["Name"] for d in dbs if d.get("Name")]

    def list_tables(self, database: str) -> list[dict]:
        return self._paged(self._client.get_tables, "TableList",
                           DatabaseName=database)

    def iter_columns(self, db_patterns=("*",), table_patterns=("*",)):
        """Yield (database, table, column-dict) with the fnmatch gates
        applied before each table's columns are touched."""
        for db in self.list_databases():
            if not _any_match(db, db_patterns):
                continue
            for tbl in self.list_tables(db):
                name = tbl.get("Name")
                if not name or not _any_match(name, table_patterns):
                    continue
                sd = tbl.get("StorageDescriptor") or {}
                for c in sd.get("Columns") or []:
                    yield db, name, c

    def get_table(self, database: str, table: str) -> dict:
        return with_backoff(
            lambda: self._client.get_table(DatabaseName=database,
                                           Name=table),
            **self._retry)["Table"]

    def get_column(self, database: str, table: str, column: str):
        """Write-back client (sinks/writeback.apply_writeback): the
        column's ``Parameters{pii, pii_types}`` tags and Comment."""
        c = _column(self.get_table(database, table), column)
        params = c.get("Parameters") or {}
        return ({k: params[g] for k, g in GLUE_TAG_KEYS.items()
                 if g in params}, c.get("Comment"))

    def update_column(self, database: str, table: str, column: str,
                      props: dict[str, str], comment: str | None) -> None:
        """Set the column's Parameters/Comment on the table's freshly
        read, sanitized TableInput and ``update_table`` it (reference
        glue.py:184-238)."""
        ti = table_to_input(self.get_table(database, table))
        c = _column(ti, column)
        c["Parameters"] = {**(c.get("Parameters") or {}),
                           **{GLUE_TAG_KEYS[k]: v for k, v in props.items()}}
        if comment is not None:
            c["Comment"] = comment
        with_backoff(lambda: self._client.update_table(
            DatabaseName=database, TableInput=ti), **self._retry)


def glue_columns(spark: SparkSession, enumerator: GlueEnumerator,
                 db_patterns=("*",), table_patterns=("*",),
                 catalog: str = "glue") -> DataFrame:
    """S1: paginated Glue walk -> canonical columns frame."""
    rows = [
        (catalog, db, tbl, c.get("Name"), c.get("Type"), c.get("Comment"),
         column_ref(catalog, db, tbl, c.get("Name")))
        for db, tbl, c in enumerator.iter_columns(db_patterns,
                                                  table_patterns)
    ]
    return spark.createDataFrame(rows, COLUMNS_SCHEMA)


# --- fake client (protocol double) ------------------------------------------

class FakeGlueClient:
    """In-memory Glue protocol double with REAL protocol behaviors:
    NextToken pagination (``page_size`` forces multi-page listings),
    injectable throttle bursts (``throttle_next(n)`` makes the next n
    calls raise ThrottlingException), and STRICT TableInput validation on
    update_table — unknown keys raise InvalidInputException exactly like
    the live API, so the whitelist sanitizer is load-bearing in tests."""

    def __init__(self, databases: dict[str, dict[str, list[dict]]],
                 page_size: int = 2) -> None:
        # {database: {table: [ {Name, Type, Comment?, Parameters?} ]}}
        self._dbs = {
            db: {t: {"Name": t,
                     "DatabaseName": db,
                     "CreateTime": "2024-01-01T00:00:00Z",
                     "TableArn": f"arn:fake:table/{db}/{t}",
                     "VersionId": "1",
                     "TableType": "EXTERNAL_TABLE",
                     "Parameters": {},
                     "StorageDescriptor": {"Columns": cols}}
                 for t, cols in tables.items()}
            for db, tables in databases.items()
        }
        self.page_size = page_size
        self.api_calls = 0
        self._throttle_budget = 0

    def throttle_next(self, n: int) -> None:
        self._throttle_budget = n

    def _gate(self) -> None:
        self.api_calls += 1
        if self._throttle_budget > 0:
            self._throttle_budget -= 1
            raise GlueClientError("ThrottlingException", "Rate exceeded")

    def _page(self, items: list, token: str | None):
        start = int(token or 0)
        end = start + self.page_size
        return items[start:end], (str(end) if end < len(items) else None)

    def get_databases(self, NextToken: str | None = None) -> dict:
        self._gate()
        page, nxt = self._page(
            [{"Name": db} for db in sorted(self._dbs)], NextToken)
        return {"DatabaseList": page,
                **({"NextToken": nxt} if nxt else {})}

    def get_tables(self, DatabaseName: str,
                   NextToken: str | None = None) -> dict:
        self._gate()
        tables = [copy.deepcopy(self._dbs[DatabaseName][t])
                  for t in sorted(self._dbs[DatabaseName])]
        page, nxt = self._page(tables, NextToken)
        return {"TableList": page, **({"NextToken": nxt} if nxt else {})}

    def get_table(self, DatabaseName: str, Name: str) -> dict:
        self._gate()
        return {"Table": copy.deepcopy(self._dbs[DatabaseName][Name])}

    def update_table(self, DatabaseName: str, TableInput: dict) -> dict:
        self._gate()
        self._validate_input(TableInput)
        current = self._dbs[DatabaseName][TableInput["Name"]]
        keep = {k: current[k] for k in
                ("DatabaseName", "CreateTime", "TableArn") if k in current}
        current.clear()
        current.update(copy.deepcopy(TableInput), **keep)
        current["VersionId"] = "2"
        return {}

    @staticmethod
    def _validate_input(ti: dict) -> None:
        def check(value, spec, path):
            if spec is None:
                return
            if isinstance(spec, tuple):
                for v in value:
                    check(v, spec[1], path + "[]")
                return
            for k in value:
                if k not in spec:
                    raise GlueClientError(
                        "InvalidInputException",
                        f"unknown TableInput key {path}.{k}")
                if isinstance(spec, dict):
                    check(value[k], spec[k], f"{path}.{k}")
        check(ti, TABLE_INPUT_SPEC, "TableInput")
        if "Name" not in ti:
            raise GlueClientError("InvalidInputException", "Name required")


def stub_glue_client(database: str = "testdata",
                     page_size: int = 2) -> FakeGlueClient:
    """Deterministic fake from the shared testdata schema constants (the
    same vocabulary the oracle renders)."""
    return FakeGlueClient(
        {database: {t: [{"Name": c, "Type": dt} for c, dt in cols]
                    for t, cols in TESTDATA_SCHEMAS.items()}},
        page_size=page_size)


def glue_columns_oracle_sql(database: str = "testdata",
                            catalog: str = "glue",
                            table_patterns=("*",)) -> str:
    """DuckDB VALUES rendering of the stub walk (glob gates shared with
    the engine via fnmatch semantics -> literal row filtering here)."""
    rows = []
    for t in sorted(TESTDATA_SCHEMAS):
        if not _any_match(t, table_patterns):
            continue
        for c, dt in TESTDATA_SCHEMAS[t]:
            rows.append(
                f"('{catalog}', '{database}', '{t}', '{c}', '{dt}', "
                f"CAST(NULL AS VARCHAR), "
                f"'{column_ref(catalog, database, t, c)}')")
    return ("SELECT * FROM (VALUES " + ", ".join(rows) +
            ') t(catalog, "schema", "table", "column", data_type, '
            'comment, ref)')
