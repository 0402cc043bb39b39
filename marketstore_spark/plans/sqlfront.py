"""marketstore-flavored SQL front-end.

Reference: sqlparser/ — the reference parses a Presto-style grammar
restricted to SELECT over backtick-quoted TimeBucketKey table names
(``SELECT * FROM `TSLA/1Min/OHLCV` WHERE Epoch BETWEEN ... LIMIT n``),
INSERT INTO a bucket from a SELECT
(sqlparser/insertintostatement.go), and UDA calls in the select list
resolved through the registry (sqlparser/registry.go: tickcandler,
candlecandler, count/min/max/avg, gap, adjust; all_test.go:66,351 show
the accepted statement shapes).

Spark design: this is a thin *rewriter*, not a parser — Spark SQL
already speaks a superset of the grammar, so the only marketstore-isms
to translate are (a) backtick TBK table names, which become temp views
registered from the catalog, and (b) a select list that is one call to
a registered UDA (``SELECT ema('20', Price) FROM `K` WHERE ... LIMIT
n``), which Spark lacks as a SQL function: it resolves through the same
registry as Query's function chain (plans/query.REGISTRY), over the
statement's bucket.  Scalar UDAs (min/max/avg/count) are native SQL
aggregates and pass through to Catalyst untouched — no reason to
reimplement what the optimizer already vectorizes.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

from marketstore_spark.catalog import Catalog
from marketstore_spark.plans.query import REGISTRY, QueryParams, call_uda

_TBK_RE = re.compile(r"`([^`]+/[^`]+/[^`]+)`")
_INSERT_RE = re.compile(r"^\s*insert\s+into\s+`([^`]+)`\s+(.*)$", re.I | re.S)
_CREATE_VIEW_RE = re.compile(
    r"^\s*create\s+view\s+(\w+)\s+as\s+(.*)$", re.I | re.S
)
# Spark SQL's own aggregates: these stay in the statement
_NATIVE = ("min", "max", "avg", "count")
_UDA_RE = re.compile(
    r"^\s*select\s+(" + "|".join(n for n in REGISTRY if n not in _NATIVE) + r")"
    r"\s*\((.*?)\)\s+from\s+(\S+)"
    r"(?:\s+where\s+(.*?))?(?:\s+limit\s+(\d+))?\s*$",
    re.I | re.S,
)


class MarketSQL:
    """Execute marketstore-style SQL against a bucket catalog."""

    def __init__(self, catalog: Catalog):
        self.catalog = catalog
        self.spark = catalog.spark
        self._view_keys: dict[str, str] = {}  # temp view -> TBK it serves

    # -- public -----------------------------------------------------------
    def sql(self, statement: str) -> DataFrame:
        stmt = statement.strip().rstrip(";").strip()
        if re.match(r"^explain\s", stmt, re.I):
            # sqlparser/explainstatement.go: EXPLAIN <statement> returns
            # the parse tree; here, the Catalyst physical plan.
            df = self.sql(stmt.split(None, 1)[1])
            from marketstore_spark.sources.parquet import explain_str

            lines = explain_str(df).splitlines()
            return self.spark.createDataFrame([(l,) for l in lines], "plan: string")
        m = _INSERT_RE.match(stmt)
        if m:
            key, select = m.group(1), m.group(2)
            out = self.sql(select)
            self.catalog.write(key, out)
            return out
        m = _CREATE_VIEW_RE.match(stmt)
        if m:
            # sqlparser/all_test.go:71: CREATE VIEW name AS SELECT ...
            name, select = m.group(1), m.group(2)
            out = self.sql(select)
            out.createOrReplaceTempView(name)
            return out
        return self._select(stmt)

    # -- internals --------------------------------------------------------
    def _register_tbks(self, stmt: str) -> str:
        """Swap backtick TBK names for temp views fed by the catalog."""

        def repl(m: re.Match) -> str:
            key = m.group(1)
            view = "tbk_" + re.sub(r"[^A-Za-z0-9_]", "_", key)
            self.catalog.read(key).createOrReplaceTempView(view)
            self._view_keys[view] = key
            return view

        return _TBK_RE.sub(repl, stmt)

    def _select(self, stmt: str) -> DataFrame:
        stmt = self._register_tbks(stmt)
        m = _UDA_RE.match(stmt)
        if m is None:
            return self.spark.sql(stmt)

        fname, rawargs, view, where, limit = m.groups()
        base = self.spark.table(view)
        if where:
            base = base.filter(where)
        # the statement's TBK is one symbol: the registry runs the UDA
        # over a constant key (adjust() joins the CA bucket on it)
        symbol = self._view_keys.get(view, "/").split("/")[0]
        return call_uda(
            base,
            f"{fname}({rawargs})",
            QueryParams(symbols=[symbol], symbol_col=None),
            self.catalog,
            limit=int(limit) if limit is not None else None,
        )
