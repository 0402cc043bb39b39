"""The one QueryRequest → DataFrame planner, and the one UDA registry.

Reference: frontend/query.go QueryRequest — destination key(s), epoch
start/end (+nanos), limit_record_count + limit_from_start, columns, and
an experimental ``Functions`` chain resolved through the UDA registry
(sqlparser/registry.go NewDefaultAggRunner, Run).  :func:`run_query` is
the only place a QueryRequest becomes a plan: the registered
``query_*``/``multi_query`` keys call it on a many-symbol frame keyed by
``symbol_col``, and ``Client.query`` (so every msgpack, JSON and gRPC
``Query``) calls it once per bucket with ``symbol_col=None``.
registry.go registers each UDA once, and both Query's chain and the UDA
calls in a SQL select list resolve through it; :data:`REGISTRY` is that
table here, shared by :func:`run_query` and MarketSQL
(plans/sqlfront.py).

Spark design: the request compiles to one declarative DataFrame plan —
Catalyst then pushes the time predicates and the projection into the
Parquet scan.  A limit is a per-symbol row_number window on a keyed
frame and a bounded top-K (TakeOrderedAndProject) on one bucket
(operators/slice.limit_records).  The function chain is a fold over
registered DataFrame→DataFrame operators, mirroring AggRunner.Run's
chain-the-output-into-the-next-input loop (registry.go:52-64).  The
plan has no final sort: a wire result lands whole on the driver, where
``DataSet.df()`` (client.py) orders the rows by the time column; a
Spark global sort in front of that collect would cost a sampling job
and a shuffle.  ``DataSet.dataframe()`` is the unordered plan.
"""

from __future__ import annotations

import re
from collections.abc import Callable, Sequence
from dataclasses import dataclass, field
from functools import cached_property

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from marketstore_spark.operators import bars, candler, ewm, quant, slice as slice_ops, uda
from marketstore_spark.operators.ca import CA_BUCKET, adjust_with_actions
from marketstore_spark.operators.candler import timeframe_to_duration
from marketstore_spark.operators.funnel import event_funnel, rfm_segments
from marketstore_spark.operators.sessionize import sessionize
from marketstore_spark.streaming.sessions import session_window_agg


@dataclass
class QueryParams:
    """Mirror of frontend/query.go QueryRequest (msgpack fields)."""

    symbols: Sequence[str] | None = None  # Destination symbols (None = all)
    epoch_start: object | None = None
    epoch_end: object | None = None
    limit_record_count: int | None = None
    limit_from_start: bool = False
    columns: Sequence[str] | None = None
    functions: Sequence[str] = field(default_factory=list)

    # None: the frame is one bucket, whose symbol is symbols[0]
    symbol_col: str | None = "user_id"
    ts_col: str = "ts"
    value_col: str = "value"
    tiebreak: Sequence[str] = ("event_id",)


def time_column(columns, first: str = "ts", required: bool = False) -> str | None:
    """The time column among ``columns``: ``first``, then ``ts``,
    ``Epoch``, ``epoch`` (tick buckets keep their time in ``ts``; rollups
    and candles in ``epoch``).  None when there is none, unless
    ``required``."""
    ts = next((c for c in (first, "ts", "Epoch", "epoch") if c in columns), None)
    if ts is None and required:
        raise ValueError(f"no timestamp column among {list(columns)}")
    return ts


# -- one call's scope ------------------------------------------------------


@dataclass
class _Call:
    """The frame a UDA call runs on and the query's column roles."""

    df: DataFrame
    p: QueryParams
    catalog: object | None = None

    @cached_property
    def columns(self) -> list[str]:  # one schema round trip per call
        return self.df.columns

    @cached_property
    def ts(self) -> str:
        return time_column(self.columns, self.p.ts_col, required=True)

    @cached_property
    def tiebreak(self) -> list[str]:
        return [c for c in self.p.tiebreak if c in self.columns]

    @property
    def tb(self) -> str:  # the one-column tiebreak the quant operators take
        return self.tiebreak[0] if self.tiebreak else self.ts

    @property
    def keys(self) -> list[str]:
        return [self.p.symbol_col] if self.p.symbol_col else []

    def keyed(self) -> tuple[DataFrame, str]:
        """The frame and its symbol column; a one-bucket frame gets a
        constant ``__symbol`` the call's result drops again."""
        if self.p.symbol_col:
            return self.df, self.p.symbol_col
        sym = self.p.symbols[0] if self.p.symbols else "_"
        return self.df.withColumn("__symbol", F.lit(sym)), "__symbol"


# -- operators, by calling convention ------------------------------------


def _by_symbol(fn: Callable[..., DataFrame], tiebreak: bool = True):
    """An operator keyed by ``symbol_col`` that returns the key as
    ``symbol`` (operators/quant, operators/bars)."""

    def op(c: _Call, **kw) -> DataFrame:
        df, sym = c.keyed()
        kw.setdefault("value_col", c.p.value_col)
        if tiebreak:
            kw["tiebreak_col"] = c.tb
        out = fn(df, symbol_col=sym, ts_col=c.ts, **kw)
        return out if c.p.symbol_col else out.drop("symbol")

    return op


def _by_key(fn: Callable[..., DataFrame]):
    """An ``operators/ewm`` recurrence keyed by ``key_cols``."""

    def op(c: _Call, **kw) -> DataFrame:
        df, sym = c.keyed()
        return fn(df, key_cols=(sym,), ts_col=c.ts, tiebreak=c.tiebreak, **kw)

    return op


def _scalar(agg: str):
    def op(c: _Call, value_col: str) -> DataFrame:
        return uda.scalar_agg(c.df, agg, value_col, key_cols=c.keys)

    return op


def _gap(c: _Call, threshold: float | None) -> DataFrame:
    # gap(1800) — threshold mode; gap() — z-score mode (uda/gap/gap.go)
    if threshold is None:
        return uda.gap_zscore(
            c.df, key_cols=c.keys, ts_col=c.ts, order_tiebreak=c.tiebreak
        )
    return uda.gap_threshold(
        c.df, threshold, key_cols=c.keys, ts_col=c.ts, order_tiebreak=c.tiebreak
    )


def _adjust(c: _Call, kinds: list[str] | None, price_col: str) -> DataFrame:
    """adjust('split,dividend', Price): backward price adjustment
    against the catalog's CA bucket, as the reference's caloader reads
    it (uda/adjust; GetRateChanges' includeSplits / includeDividends
    map to the kind list)."""
    if c.catalog is None:
        raise ValueError(
            "adjust() reads the corporate-actions table from a catalog's "
            "CA/EVENT/ACTIONS bucket (operators/ca.ingest_announcements): "
            "call it through Client.query or MarketSQL"
        )
    ca = c.catalog.read(CA_BUCKET)
    kinds = kinds or ["split", "dividend"]
    df, sym = c.keyed()
    return adjust_with_actions(
        df,
        ca,
        symbol_col=sym,
        ts_col=c.ts,
        price_col=price_col,
        include_splits="split" in kinds or "reverse_split" in kinds,
        include_dividends="dividend" in kinds,
    )


def _tickcandler(c: _Call, timeframe: str, price_col: str, **tags) -> DataFrame:
    # tickcandler('5Min', Price, Sum::Volume) — one price column
    # (tickcandler.go:Init), extras tagged Sum::/Avg::
    return candler.tick_candles(
        c.df, timeframe, key_cols=c.keys, ts_col=c.ts, price_col=price_col,
        tiebreak=c.tiebreak, **tags,
    )


def _candlecandler(
    c: _Call, timeframe: str, open=None, high=None, low=None, close=None, **tags
) -> DataFrame:
    # candlecandler('12Min', Open, High, Low, Close, Sum::Volume)
    ohlc = (open, high, low, close)
    if None in ohlc:
        if ohlc != (None,) * 4:
            raise ValueError("candlecandler needs Open, High, Low, Close columns")
        ohlc = ("open", "high", "low", "close")
    return candler.candle_candles(
        c.df, timeframe, key_cols=c.keys, ts_col=c.ts, ohlc=ohlc, **tags
    )


def _nbbo(df: DataFrame, venue_col: str | None = None, **kw) -> DataFrame:
    # Without event_id the tiebreak falls back to the timestamp; deriving
    # synthetic bid/ask sides then evaluates pmod(<timestamp>, 4), which
    # fails analysis with a cryptic DATATYPE_MISMATCH — fail loud instead
    # (the volume guard's treatment).
    if kw["tiebreak_col"] == kw["ts_col"] and not {"bid_c", "ask_c"} <= set(
        df.columns
    ):
        raise ValueError(
            "nbbo needs either an integer 'event_id' tiebreak "
            "column (to derive synthetic bid/ask sides) or "
            "pre-sided 'bid_c'/'ask_c' columns in the bucket"
        )
    if venue_col is None:
        df, venue_col = df.withColumn("__venue", F.lit("_")), "__venue"
    return quant.nbbo(df, venue_col=venue_col, **kw)


# The event-analytics UDAs run over an events-shaped bucket (user_id +
# ts [+ event_type/value]); a synthetic single-user default would return
# plausible-looking wrong counts, so the registry requires user_id.
def _sessions(c: _Call, gap_seconds: int) -> DataFrame:
    return sessionize(
        c.df, gap_seconds=gap_seconds, key_cols=("user_id",), ts_col=c.ts,
        tiebreak=tuple(c.tiebreak) or (c.ts,),
    )


def _session_window(c: _Call, gap_seconds: int) -> DataFrame:
    # the NATIVE F.session_window grouping: identical session boundaries
    # to sessions(), but the same query text runs unchanged (plus a
    # watermark) on the live feed via streaming.sessions.stream_sessions
    return session_window_agg(
        c.df, gap_seconds=gap_seconds, key_col="user_id", ts_col=c.ts
    )


def _funnel(c: _Call, steps: list[str] | None, window_us: int | None) -> DataFrame:
    if not steps:
        raise ValueError("funnel needs a step list: funnel('a,b,c')")
    return event_funnel(
        c.df, steps, window_us=window_us, user_col="user_id", ts_col=c.ts,
        tiebreak_col=c.tb,
    )


def _rfm(c: _Call, value_col: str) -> DataFrame:
    return rfm_segments(c.df, user_col="user_id", ts_col=c.ts, value_col=value_col)


# -- the registry ----------------------------------------------------------

_NUM = re.compile(r"-?\d+(\.\d*)?([eE][-+]?\d+)?$")


def _int(s: str) -> int:
    return int(s) if s.lstrip("-").isdigit() else int(float(s))


# parameter kinds: (accepts the token?, its value)
INT = (_NUM.match, _int)
FLOAT = (_NUM.match, float)
TIMEFRAME = (lambda s: not _NUM.match(s), str)  # '5Min', as the candlers take it
DURATION = (lambda s: not _NUM.match(s), timeframe_to_duration)  # '1D' → '1 day'
LIST = (lambda s: True, lambda s: [k.strip() for k in s.split(",") if k.strip()])

# markers: QueryParams.value_col as a column default; the call's time
# and tiebreak columns in a LIMIT order
VALUE, TS, TIEBREAK = "<value>", "<ts>", "<tiebreak>"
_PRICE = (("value_col", VALUE),)
_PRICE_VOLUME = (("value_col", VALUE), ("volume_col", "volume"))
_DAY = ("timeframe", DURATION, "1 day")
_HOUR = ("timeframe", DURATION, "1 hour")
_ON_TIME = (TS, "epoch", TIEBREAK)


@dataclass(frozen=True)
class Uda:
    """One registered UDA.

    ``params`` are ``(name, kind, default)``: each binds the next
    parameter token its kind accepts and keeps its default otherwise; a
    numeric parameter reads one item of a quoted comma list
    (``macd('12,26,9')``), and a trailing LIST takes every token left.
    ``cols`` are ``(name, default column)``, bound in order to the
    call's bare identifiers, then to quoted names no parameter took; a
    defaulted column must exist in the frame.
    ``needs`` are columns the frame must have; ``order`` the columns a
    SQL ``LIMIT`` orders by (those the result has, else its first);
    ``tags`` whether Sum::/Avg:: tags, bare or quoted, bind as
    ``sum_cols``/``avg_cols``.
    """

    op: Callable[..., DataFrame]
    params: tuple = ()
    cols: tuple = ()
    needs: tuple[str, ...] = ()
    order: tuple[str, ...] = ("epoch",)
    tags: bool = False


REGISTRY: dict[str, Uda] = {
    # uda/{min,max,avg,count}; MarketSQL leaves these to Spark SQL
    **{agg: Uda(_scalar(agg), cols=_PRICE) for agg in ("min", "max", "avg", "count")},
    "gap": Uda(_gap, params=(("threshold", FLOAT, None),), order=("prev_ts",)),
    "adjust": Uda(
        _adjust, params=(("kinds", LIST, None),), cols=(("price_col", VALUE),),
        order=(TS,),
    ),
    "tickcandler": Uda(
        _tickcandler, params=(("timeframe", TIMEFRAME, "5Min"),),
        cols=(("price_col", VALUE),), tags=True,
    ),
    "candlecandler": Uda(
        _candlecandler, params=(("timeframe", TIMEFRAME, "5Min"),),
        cols=(("open", None), ("high", None), ("low", None), ("close", None)),
        tags=True,
    ),
    # indicator family: the same operators the driver keys use
    "ema": Uda(
        _by_key(ewm.ema), params=(("span", INT, 20),), cols=_PRICE, order=_ON_TIME
    ),
    "macd": Uda(
        _by_key(ewm.macd),
        params=(("fast", INT, 12), ("slow", INT, 26), ("signal", INT, 9)),
        cols=_PRICE, order=_ON_TIME,
    ),
    "obv": Uda(_by_symbol(quant.obv), cols=(("volume_col", "volume"),), order=_ON_TIME),
    "stochastic": Uda(
        _by_symbol(quant.stochastic_k), params=(("n", INT, 14), ("d_periods", INT, 3)),
        cols=_PRICE, order=_ON_TIME,
    ),
    "twap": Uda(_by_symbol(quant.twap), params=(_DAY,), cols=_PRICE),
    "atr": Uda(
        _by_symbol(quant.atr), params=(("n", INT, 14), _DAY), cols=_PRICE,
        order=_ON_TIME,
    ),
    "donchian": Uda(
        _by_symbol(quant.donchian, tiebreak=False), params=(("n", INT, 20), _DAY),
        cols=_PRICE, order=_ON_TIME,
    ),
    # microstructure: tickrule(Price, Volume), nbbo('1Min', Venue)
    "tickrule": Uda(_by_symbol(quant.tick_rule), cols=_PRICE_VOLUME),
    "nbbo": Uda(
        _by_symbol(_nbbo), params=(("timeframe", DURATION, "1 minute"),),
        cols=(("venue_col", None),),
    ),
    # round-7: heikinashi('1D', Price), ichimoku('9,26,52', '1D', Price),
    # amihud('1D', Price, Volume)
    "heikinashi": Uda(_by_symbol(bars.heikin_ashi), params=(_DAY,), cols=_PRICE),
    "ichimoku": Uda(
        _by_symbol(quant.ichimoku),
        params=(("tenkan_n", INT, 9), ("kijun_n", INT, 26), ("senkou_n", INT, 52), _DAY),
        cols=_PRICE,
    ),
    "amihud": Uda(
        _by_symbol(quant.amihud_illiquidity), params=(_DAY,), cols=_PRICE_VOLUME
    ),
    # round-8 serial-dependence + range-estimator family
    "rollspread": Uda(_by_symbol(quant.roll_spread), params=(_DAY,), cols=_PRICE),
    "autocorr": Uda(_by_symbol(quant.autocorr_returns), params=(_DAY,), cols=_PRICE),
    "varratio": Uda(
        _by_symbol(quant.variance_ratio), params=(("q", INT, 5), _DAY), cols=_PRICE
    ),
    "kylelambda": Uda(
        _by_symbol(quant.kyle_lambda), params=(_HOUR,), cols=_PRICE_VOLUME
    ),
    "vpin": Uda(
        _by_symbol(bars.vpin), params=(("bucket_volume", INT, 2000), ("n", INT, 10)),
        cols=_PRICE_VOLUME, order=("bucket_id",),
    ),
    "markout": Uda(
        _by_symbol(quant.markout_returns), params=(("horizon", INT, 3), _HOUR),
        cols=_PRICE,
    ),
    "rangevol": Uda(_by_symbol(quant.range_vol), params=(_DAY,), cols=_PRICE),
    "corwinschultz": Uda(_by_symbol(quant.corwin_schultz), params=(_DAY,), cols=_PRICE),
    "kaufmaner": Uda(
        _by_symbol(quant.kaufman_er), params=(("n", INT, 10), _DAY), cols=_PRICE
    ),
    "trimmedmean": Uda(
        _by_symbol(quant.trimmed_mean), params=(("trim_pct", INT, 5), _DAY), cols=_PRICE
    ),
    "realizedmoments": Uda(
        _by_symbol(quant.realized_moments), params=(_DAY,), cols=_PRICE
    ),
    "mfi": Uda(
        _by_symbol(quant.mfi), params=(("n", INT, 14), _DAY), cols=_PRICE_VOLUME
    ),
    "cci": Uda(_by_symbol(quant.cci), params=(("n", INT, 14), _DAY), cols=_PRICE),
    "aroon": Uda(_by_symbol(quant.aroon), params=(("n", INT, 25), _DAY), cols=_PRICE),
    "adx": Uda(_by_symbol(quant.adx), params=(("n", INT, 14), _DAY), cols=_PRICE),
    "liquiditypanel": Uda(
        _by_symbol(quant.liquidity_panel), params=(("q", INT, 5), _DAY), cols=_PRICE
    ),
    # event analytics (round 10): sessions(1800), session_window(1800),
    # funnel('view,click,buy'[, window_us]), rfm(value)
    "sessions": Uda(
        _sessions, params=(("gap_seconds", INT, 1800),), needs=("user_id",),
        order=("user_id", "session_id"),
    ),
    "session_window": Uda(
        _session_window, params=(("gap_seconds", INT, 1800),), needs=("user_id",),
        order=("user_id", "session_start"),
    ),
    "funnel": Uda(
        _funnel, params=(("steps", LIST, None), ("window_us", INT, None)),
        needs=("user_id", "event_type"), order=("step",),
    ),
    "rfm": Uda(
        _rfm, cols=(("value_col", VALUE),), needs=("user_id",),
        order=("r_score", "f_score", "m_score"),
    ),
}


# -- calls -----------------------------------------------------------------

_TOKEN_RE = re.compile(r"""'([^']*)'|"([^"]*)"|(\w+::\w+)|(-?\d[\w.]*)|([A-Za-z_]\w*)""")
_TAG_RE = re.compile(r"(sum|avg)::\w+$", re.I)
_IDENT_RE = re.compile(r"[A-Za-z_]\w*$")


def parse_call(call: str) -> tuple[str, list[str], list[str], list[str]]:
    """``name('5Min', 12, Price, Sum::Volume)`` → (name, parameters,
    tags, columns): quoted or number-led tokens are parameters,
    ``Sum::``/``Avg::`` tokens tags, bare identifiers columns.
    Reference: sqlparser/registry.go ParseFunctionCall."""
    call = call.strip()
    lp, rp = call.index("("), call.rindex(")")
    params, tags, cols = [], [], []
    for q1, q2, tag, num, ident in _TOKEN_RE.findall(call[lp + 1 : rp]):
        if tag:
            tags.append(tag)
        elif ident:
            cols.append(ident)
        else:
            params.append(q1 or q2 or num)
    return call[:lp].strip().lower(), params, tags, cols


def _bind(name: str, u: Uda, c: _Call, params, tags, cols) -> dict:
    """The keyword arguments of ``u.op`` for one call's tokens, or a
    ValueError naming what the call got wrong."""
    kw = {}
    toks, tags, cols = list(params), list(tags), list(cols)
    if len(u.params) == 1 and u.params[0][1] is LIST and not toks:
        # adjust(split): a bare word naming no column of the frame is an
        # item of the entry's one list parameter
        toks = [x for x in cols if x not in c.columns]
        cols = [x for x in cols if x in c.columns]
    for i, (pname, kind, default) in enumerate(u.params):
        accepts, value = kind
        if not toks or not accepts(toks[0] if kind is LIST else toks[0].split(",")[0]):
            kw[pname] = default
        elif kind is LIST:
            n = len(toks) if i == len(u.params) - 1 else 1
            kw[pname] = [k for t in toks[:n] for k in value(t)]
            del toks[:n]
        else:
            head, _, rest = toks.pop(0).partition(",")
            if rest:
                toks.insert(0, rest)
            kw[pname] = value(head)
    # a quoted token no parameter took is a tag or a column, as the
    # chain read max('Price') or tickcandler('1H', 'Sum::Volume')
    extra = []
    for t in toks:
        if u.tags and _TAG_RE.match(t):
            tags.append(t)
        elif _IDENT_RE.match(t) and len(cols) < len(u.cols):
            cols.append(t)
        else:
            extra.append(t)
    extra += [*cols[len(u.cols) :], *(tags if not u.tags else [])]
    if extra:
        raise ValueError(f"{name}() does not take the argument(s) {extra}")
    for (cname, default), given in zip(u.cols, cols + [None] * len(u.cols)):
        col = given or (c.p.value_col if default == VALUE else default)
        if given is None and col is not None and col not in c.columns:
            raise ValueError(
                f"{name} needs a {col} column: pass it as a column argument, "
                f"or add a '{col}' column to the bucket"
            )
        kw[cname] = col
    if u.tags:
        for kind in ("sum", "avg"):
            kw[f"{kind}_cols"] = [
                t.split("::", 1)[1] for t in tags if t.lower().startswith(kind + "::")
            ]
    for col in u.needs:
        if col not in c.columns:
            raise ValueError(f"{name} needs a column named {col!r} in the bucket")
    return kw


def call_uda(
    df: DataFrame,
    call: str,
    params: QueryParams,
    catalog=None,
    limit: int | None = None,
) -> DataFrame:
    """Apply one registered UDA call to ``df``; with ``limit``, the
    first rows in the entry's order.  ``catalog`` supplies the CA
    bucket to adjust()."""
    name, args, tags, cols = parse_call(call)
    u = REGISTRY.get(name)
    if u is None:
        raise ValueError(
            f"no function in the UDA registry named {name!r}; "
            f"known: {', '.join(sorted(REGISTRY))}"
        )
    c = _Call(df, params, catalog)
    out = u.op(c, **_bind(name, u, c, args, tags, cols))
    if not params.symbol_col:
        out = out.drop("__symbol")
    if limit is not None:
        marks = {TS: [c.ts], TIEBREAK: c.tiebreak}
        order = [o for m in u.order for o in marks.get(m, [m]) if o in out.columns]
        out = out.orderBy(*(order or out.columns[:1])).limit(limit)
    return out


def apply_functions(df: DataFrame, params: QueryParams, catalog=None) -> DataFrame:
    """Fold ``params.functions`` over ``df``, each call's output the
    next one's input (registry.go AggRunner.Run)."""
    for call in params.functions:
        df = call_uda(df, call, params, catalog)
    return df


def run_query(df: DataFrame, params: QueryParams, catalog=None) -> DataFrame:
    """Compile a QueryRequest to a single DataFrame plan; ``catalog``
    supplies the CA bucket to adjust().  The range and the limit run on
    the frame's :func:`time_column`; a limit orders by it, then the
    tiebreak columns the frame has, else every other column."""
    keys = [params.symbol_col] if params.symbol_col else []
    if params.symbols and keys:
        df = df.filter(F.col(params.symbol_col).isin(list(params.symbols)))
    limit = params.limit_record_count
    if (params.epoch_start, params.epoch_end, limit) != (None, None, None):
        cols = df.columns
        ts = time_column(cols, params.ts_col, required=True)
        df = slice_ops.time_range(df, ts, params.epoch_start, params.epoch_end)
        if limit is not None:
            tb = [c for c in params.tiebreak if c in cols] or [c for c in cols if c != ts]
            df = slice_ops.limit_records(
                df, limit, key_cols=keys, order_cols=[ts, *tb],
                from_start=params.limit_from_start,
            )
    df = slice_ops.project_columns(df, params.columns)
    return apply_functions(df, params, catalog)
