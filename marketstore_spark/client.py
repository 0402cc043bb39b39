"""pymarketstore-compatible client facade.

Reference: the marketstore client library (pymarketstore) exposes
``Params('TSLA', '1Min', 'OHLCV', start, end, limit)`` →
``Client.query(...)`` → ``QueryReply.first().df()``; plus
``write``/``list_symbols``/``create``/``destroy`` and raw ``sql``
(frontend/query.go DataService.Query; frontend/write.go).  A user of
the reference drives everything through this surface, so the same
surface is provided over the Spark engine: the wire format becomes
Arrow (``toPandas``) instead of the NumpyMultiDataset msgpack frames
(utils/io), and queries compile to Catalyst plans instead of scanner
calls.

Scale: one query = one plan per requested key, built by
plans/query.run_query — time predicates and projections push into the
Parquet scan; directional limits on a single bucket compile to
TakeOrderedAndProject (top-K, no global sort).  ``.df()`` is the only
collect point, sized by the user's own limit/range, and orders the rows
by their time column (the reference's Epoch order); ``.dataframe()`` is
the plan itself, unordered — a bucket scans in file order.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Iterable

import pandas as pd
from pyspark.sql import DataFrame

from marketstore_spark.catalog import Catalog
from marketstore_spark.plans.query import QueryParams, run_query, time_column
from marketstore_spark.plans.sqlfront import MarketSQL


@dataclass
class Params:
    """Mirror of pymarketstore.Params."""

    symbols: str | list[str]
    timeframe: str
    attrgroup: str
    start: object | None = None
    end: object | None = None
    limit: int | None = None
    limit_from_start: bool = False
    columns: list[str] | None = None
    functions: list[str] = field(default_factory=list)

    @property
    def symbol_list(self) -> list[str]:
        return [self.symbols] if isinstance(self.symbols, str) else list(self.symbols)

    def keys(self) -> list[str]:
        return [f"{s}/{self.timeframe}/{self.attrgroup}" for s in self.symbol_list]


class DataSet:
    """One key's result (pymarketstore DataSet): lazy DataFrame in,
    pandas out."""

    def __init__(self, key: str, df: DataFrame, ts_col: str = "ts"):
        self.key = key
        self.symbol = key.split("/")[0]
        self._df = df
        self._ts_col = ts_col

    def df(self) -> pd.DataFrame:
        """The rows, stably sorted by their ``time_column`` (plans/query)."""
        pdf = self._df.toPandas()
        ts = time_column(pdf.columns, self._ts_col)
        return pdf if ts is None else pdf.sort_values(ts, kind="stable", ignore_index=True)

    def arrays(self) -> dict[str, "np.ndarray"]:
        """Column-major numpy arrays — the reference's npy wire format
        (frontend/query_test.go TestQueryNpyMulti; utils/io
        ColumnSeries is exactly a name→array map).  Arrow-backed
        conversion, one array per column."""
        import numpy as np  # noqa: F401  (return type)

        pdf = self.df()
        return {c: pdf[c].to_numpy() for c in pdf.columns}

    def dataframe(self) -> DataFrame:
        """Spark-native escape hatch (no collect, no order)."""
        return self._df


class QueryReply:
    """pymarketstore QueryReply: first()/all()/keys()."""

    def __init__(self, datasets: list[DataSet]):
        self._datasets = datasets

    def first(self) -> DataSet:
        return self._datasets[0]

    def all(self) -> dict[str, DataSet]:
        return {d.key: d for d in self._datasets}

    def keys(self) -> list[str]:
        return [d.key for d in self._datasets]


class Client:
    """Drop-in shaped replacement for pymarketstore.Client over a
    bucket catalog (no server hop — the 'connection' is a
    SparkSession)."""

    def __init__(self, catalog: Catalog, ts_col: str = "ts"):
        self.catalog = catalog
        self.ts_col = ts_col
        self._msql = MarketSQL(catalog)

    # -- query (frontend/query.go:143) ------------------------------------
    def query(self, params: Params) -> QueryReply:
        # one bucket, one symbol; the catalog gives adjust() its CA
        # bucket, like the reference's caloader
        out = []
        for sym, key in zip(params.symbol_list, params.keys()):
            qp = QueryParams(
                symbols=[sym], symbol_col=None,
                epoch_start=params.start, epoch_end=params.end,
                limit_record_count=params.limit,
                limit_from_start=params.limit_from_start,
                columns=params.columns, functions=params.functions,
                ts_col=self.ts_col,
            )
            df = run_query(self.catalog.read(key), qp, self.catalog)
            out.append(DataSet(key, df, self.ts_col))
        return QueryReply(out)

    # -- write path (frontend/write.go) -----------------------------------
    def write(self, data, tbk: str, mode: str = "append") -> None:
        if isinstance(data, pd.DataFrame):
            data = self.catalog.spark.createDataFrame(data)
        self.catalog.write(tbk, data, mode=mode)

    def list_symbols(self, format: str = "symbol") -> list[str]:
        """format='symbol' | 'tbk' (ListSymbolsRequest.Format)."""
        return self.catalog.list_symbols(format=format)

    def create(self, tbk: str, schema_sample: DataFrame) -> None:
        self.catalog.create(tbk, schema_sample)

    def destroy(self, tbk: str) -> None:
        self.catalog.destroy(tbk)

    def sql(self, statement: str) -> DataFrame:
        return self._msql.sql(statement)


class HttpClient:
    """Wire client for the RPC frontend (server.py) — the
    pymarketstore-over-HTTP shape: the reference's client speaks
    msgpack-RPC to ``/rpc``; this one speaks the same request shapes
    in either codec (``codec='msgpack'`` sends the reference's
    ``application/x-msgpack`` frames via msgpacklite; default JSON),
    plus the long-poll ``GET /stream`` subscription.

    Results come back as the wire's ColumnSeries dicts (name→values,
    timestamps as epoch NANOSECONDS like the reference's Epoch index);
    ``to_frame`` lifts one into pandas.  Pure stdlib — usable from any
    process with no Spark on the client side, which is the point of a
    wire client.
    """

    def __init__(
        self, base_url: str, timeout: float = 120.0, codec: str = "json"
    ):
        if codec not in ("json", "msgpack"):
            raise ValueError(f"codec must be 'json' or 'msgpack', got {codec!r}")
        self.base_url = base_url.rstrip("/")
        self.timeout = timeout
        self.codec = codec
        self._rid = 0

    def _rpc(self, method: str, params: dict) -> dict:
        import json as _json
        import urllib.request as _rq

        self._rid += 1
        envelope = {
            "jsonrpc": "2.0", "id": self._rid, "method": method, "params": params
        }
        if self.codec == "msgpack":
            from marketstore_spark import msgpacklite

            body = msgpacklite.packb(envelope)
            ctype = "application/x-msgpack"
        else:
            body = _json.dumps(envelope).encode()
            ctype = "application/json"
        req = _rq.Request(
            f"{self.base_url}/rpc", data=body, headers={"Content-Type": ctype}
        )
        with _rq.urlopen(req, timeout=self.timeout) as resp:
            raw = resp.read()
        if self.codec == "msgpack":
            from marketstore_spark import msgpacklite

            out = msgpacklite.unpackb(raw)
        else:
            out = _json.loads(raw)
        if "error" in out:
            raise RuntimeError(f"{method}: {out['error']}")
        return out["result"]

    # -- DataService surface ----------------------------------------------
    def query(
        self,
        destination: str,
        epoch_start: int | None = None,
        epoch_end: int | None = None,
        limit_record_count: int | None = None,
        limit_from_start: bool = False,
        columns: list[str] | None = None,
        functions: list[str] | None = None,
    ) -> dict:
        """One QueryRequest; returns {tbk: column_series_dict}."""
        req = {"destination": destination, "limit_from_start": limit_from_start}
        if epoch_start is not None:
            req["epoch_start"] = epoch_start
        if epoch_end is not None:
            req["epoch_end"] = epoch_end
        if limit_record_count is not None:
            req["limit_record_count"] = limit_record_count
        if columns:
            req["columns"] = columns
        if functions:
            req["functions"] = functions
        out = self._rpc("DataService.Query", {"requests": [req]})
        return out["responses"][0]["result"]

    def sql(self, statement: str) -> dict:
        return self._rpc("DataService.SQL", {"statement": statement})

    def write(
        self,
        columns: dict,
        tbk: str,
        mode: str = "append",
        ts_columns: list[str] | None = None,
    ) -> dict:
        """One write-request entry in THIS server's JSON envelope — the
        ``{'key', 'data', 'mode'}`` analogue of the reference's
        MultiWriteRequest (frontend/write.go:36), not a wire-compatible
        clone of it: the reference entry is ``{dataset:
        NumpyMultiDataset, is_variable_length}`` with the TBK embedded
        in the dataset and no mode field, so a reference client
        (pymarketstore) would not interoperate.  The server iterates
        ``params['requests']``; the ColumnSeries map travels under
        ``data['columns']`` and epoch-ns timestamp column names under
        ``data['ts_columns']``."""
        data: dict = {"columns": columns}
        if ts_columns is not None:
            data["ts_columns"] = ts_columns
        out = self._rpc(
            "DataService.Write",
            {"requests": [{"key": tbk, "data": data, "mode": mode}]},
        )
        return out["responses"][0]

    def list_symbols(self, format: str = "symbol") -> list[str]:
        return self._rpc("DataService.ListSymbols", {"format": format})["results"]

    def create(
        self, tbk: str, columns: dict, ts_columns: list[str] | None = None
    ) -> dict:
        req: dict = {"key": tbk, "columns": columns}
        if ts_columns is not None:
            req["ts_columns"] = ts_columns
        out = self._rpc("DataService.Create", {"requests": [req]})
        return out["responses"][0]

    def destroy(self, tbk: str) -> dict:
        out = self._rpc("DataService.Destroy", {"requests": [{"key": tbk}]})
        return out["responses"][0]

    def get_info(self, tbk: str) -> dict:
        out = self._rpc("DataService.GetInfo", {"requests": [{"key": tbk}]})
        return out["responses"][0]

    def server_version(self) -> dict:
        return self._rpc("DataService.ServerVersion", {})

    # -- live stream (GET /stream long-poll) ------------------------------
    def stream_poll(
        self, streams: str, cursor: int = 0, timeout: float = 30.0
    ) -> dict:
        """One long-poll against the subscription endpoint; returns
        {"cursor": M, "payloads": [...]} — re-issue with the returned
        cursor to continue (frontend/stream/stream.go's subscription,
        pull-shaped)."""
        import json as _json
        import urllib.parse as _up
        import urllib.request as _rq

        qs = _up.urlencode(
            {"streams": streams, "cursor": cursor, "timeout": timeout}
        )
        with _rq.urlopen(
            f"{self.base_url}/stream?{qs}", timeout=self.timeout + timeout
        ) as resp:
            out = _json.loads(resp.read())
        if "error" in out:
            raise RuntimeError(f"stream: {out['error']}")
        return out["result"]

    @staticmethod
    def to_frame(series: dict) -> pd.DataFrame:
        """ColumnSeries dict → pandas frame; epoch-ns 'ts'-like columns
        stay as int64 nanoseconds (the wire contract — callers convert
        with pd.to_datetime(..., unit='ns') when they want instants)."""
        return pd.DataFrame(series)
