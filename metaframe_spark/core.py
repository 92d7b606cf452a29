"""MetaFrame — a metadata-propagating wrapper around ``pyspark.sql.DataFrame``.

Reproduces (Spark-first, from scratch) the capability surface of the reference
``invent-analytics/metaframe`` (its ``metaframe.py:1-197``; SURVEY.md §1-§2):

* a free-form, frame-level ``metadata`` dict that survives DataFrame
  transformations (reference: ``metaframe.py:111-117``);
* automatic primary-key inference for the row-uniqueness operations
  ``groupBy``/``groupby``/``dropDuplicates``/``drop_duplicates``/``distinct``
  (reference: ``metaframe.py:48-60, 121-177``);
* full delegation of the PySpark DataFrame / GroupedData / DataFrameWriter API
  (reference: ``metaframe.py:77-119``) — every relational operator, scalar
  function, and I/O path is Spark's own, so Catalyst/Tungsten/AQE optimize the
  plan untouched.

Three rules carry the whole wrapper:

* **routing follows the class** — a name resolves on the wrapper exactly when
  ``MetaFrame`` itself defines it (its methods, constants and the three
  ``__slots__`` fields); every other name is looked up once on the wrapped
  Spark object, so a column can never shadow the wrapper's own machinery;
* **every hop is a MetaFrame** — callables are wrapped and their
  DataFrame/GroupedData results re-wrapped; the ``.na``/``.stat`` accessors
  are MetaFrames over Spark's accessor object, so their results take the
  same PK rules as direct calls; ``.write``/``.writeStream`` go through one
  writer chain proxy;
* **one argument reader** — every PK rule reads a positional-or-keyword
  argument with :func:`_arg` and column names with :func:`_names`; a value
  :func:`_names` does not recognise goes to Spark to accept or reject.

Differences from the reference (deliberate fixes, SURVEY.md §7.2 P0; the
original quirky behaviors are available via ``strict_reference_compat=True``):

* works on PySpark 4.x (``__new__`` override — the reference's
  subclass-without-super-init pattern crashes there, SURVEY.md §7.4);
* PK column order is preserved (reference loses it via ``set()``,
  ``metaframe.py:152`` — quirk q1);
* ``Column`` arguments to ``groupBy`` are accepted by extracting the column
  name (reference raises ``TypeError`` — quirk q2);
* the primary key is *invalidated* when an operation drops a PK column or can
  break uniqueness (``union``/fan-out ``join``; reference never invalidates —
  quirk q3);
* metadata survives the ``.na`` / ``.stat`` / ``.write`` / ``mf[["c"]]``
  accessor hops (reference loses it — quirk q4): the ``na``/``stat`` hops are
  MetaFrames, the writer hops keep it until the terminal save;
* the constructor unwraps an already-wrapped MetaFrame (reference
  double-wraps — quirk q5);
* metadata-driven optimization: ``dropDuplicates``/``distinct`` become
  driver-side no-ops when the known primary key already guarantees uniqueness
  (SURVEY.md §4.3a) — this removes an entire shuffle at any scale.
"""

from __future__ import annotations

import functools
import logging
import re
from typing import Any, Callable, Dict, Iterable, List, Optional, Tuple, Union

from pyspark.sql import Column, DataFrame
from pyspark.sql.group import GroupedData
from pyspark.sql.readwriter import DataFrameWriter

LOG = logging.getLogger("metaframe_spark")

_COLUMN_REPR = re.compile(r"Column<'(.*)'>")

#: operations after which uniqueness of any prior PK can silently break even
#: though all PK columns are still present: set ops add rows, cross joins and
#: row-multiplicity operators (mapInPandas/mapInArrow/unpivot/melt) can emit
#: any number of rows per input row, and ``transform`` applies an arbitrary
#: user function.
_UNIQUENESS_BREAKING = frozenset(
    {
        "union",
        "unionAll",
        "unionByName",
        "crossJoin",
        "mapInPandas",
        "mapInArrow",
        "transform",
        "unpivot",
        "melt",
        # GroupedData fan-out UDFs: the grouped-map function may emit any
        # number of rows per group, and `toDF` re-binds column names
        # positionally — the old PK name can land on different data
        "apply",
        "applyInPandas",
        "applyInArrow",
        "applyInPandasWithState",
        "transformWithStateInPandas",
        "cogroup",
        "toDF",
    }
)

#: value rewrites (direct and ``.na``) -> position of their ``subset``
#: argument; rewriting values inside a PK column can merge distinct keys.
_VALUE_REWRITES = {"fillna": 1, "fill": 1, "replace": 2}

#: generator functions that fan rows out when they appear inside a projection
#: (``select``/``selectExpr``/``withColumn``) — presence invalidates the PK.
_GENERATOR_RE = re.compile(
    r"\b(?:explode|explode_outer|posexplode|posexplode_outer|inline|inline_outer|stack)\s*\(",
    re.IGNORECASE,
)

#: join types (as :func:`_join_type` spells them) in which each left row
#: appears at most once when the join keys are unique on the right side.
_LEFT_ONCE_JOINS = frozenset({"inner", "left", "leftouter"})

#: join types that return a row subset of the left side and no new columns.
_SEMI_ANTI_JOINS = frozenset({"semi", "leftsemi", "anti", "leftanti"})

#: writer terminals whose first argument is a filesystem PATH — only these
#: get a metadata sidecar (saveAsTable/insertInto/jdbc take a table name,
#: which must never be treated as a local directory).
_PATH_TERMINALS = frozenset({"save", "parquet", "csv", "json", "orc", "text"})


def _arg(args: Tuple, kwargs: Dict, i: int, name: str, default: Any = None) -> Any:
    """A positional-or-keyword argument: ``args[i]`` when passed by
    position, else ``kwargs[name]``, else ``default``."""
    return args[i] if len(args) > i else kwargs.get(name, default)


def _names(value: Any) -> Optional[List[str]]:
    """Column names as a list: a ``str`` is one name, a ``list``/``tuple``
    of ``str`` is several. Anything else (None, a set, Columns) is None:
    no PK rule reads it, and Spark accepts or rejects it."""
    if isinstance(value, str):
        return [value]
    if isinstance(value, (list, tuple)) and all(isinstance(v, str) for v in value):
        return list(value)
    return None


def _join_type(how: Any) -> str:
    """A join type in one spelling: lower case, no underscores, and
    ``"inner"`` when unset (``"left_outer"`` -> ``"leftouter"``)."""
    return str(how or "inner").lower().replace("_", "")


def _without_pk(md: Dict[str, Any]) -> Dict[str, Any]:
    return {k: v for k, v in md.items() if k != "primary_key"}


def _column_name(col: Column, df: Optional[DataFrame] = None) -> Optional[str]:
    """Extraction of a plain column name from a Column object.

    Fast path: parse the repr (covers ``F.col("a")``). Robust path (when the
    source frame is available): resolve through the analyzer —
    ``df.select(col).columns`` names aliased/backticked references correctly
    — and accept the name only if it is a real column of
    ``df`` (an expression's generated name can't be a PK column).
    """
    m = _COLUMN_REPR.match(str(col))
    if m:
        name = m.group(1)
        if re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", name):
            return name
    if df is not None:
        try:
            name = df.select(col).columns[0]
            if name in df.columns:
                return name
        except Exception:
            pass
    return None


def _ordered_dedupe(names: Iterable[str]) -> List[str]:
    seen = set()
    out = []
    for n in names:
        if n not in seen:
            seen.add(n)
            out.append(n)
    return out


class MetaFrame(DataFrame):
    """A ``DataFrame`` wrapper carrying a frame-level metadata dict.

    ``MetaFrame(df, {"source": "tpch"})`` behaves exactly like ``df`` for every
    DataFrame operation, but transformation results stay ``MetaFrame``s sharing
    the metadata, and ``groupBy``/``dropDuplicates``/``distinct`` additionally
    record an inferred ``primary_key``.

    Nominal inheritance from ``DataFrame`` exists only so
    ``isinstance(mf, DataFrame)`` holds (reference semantics,
    ``metaframe.py:27``); no DataFrame state is initialized — ``__new__`` is
    overridden because PySpark 4.x's ``DataFrame.__new__`` would otherwise
    invoke the classic ``__init__(jdf, sql_ctx)`` and crash (SURVEY.md §7.4).
    """

    # the instance fields, declared so the routing rule covers them
    __slots__ = ("df", "metadata", "strict_reference_compat")

    #: result types that get re-wrapped with the caller's metadata
    #: (reference: ``metaframe.py:46``). These are the PySpark-4 *unified*
    #: base classes, which both the classic and the Spark Connect
    #: implementations subclass — so Connect frames re-wrap correctly by
    #: construction (not exercised in CI: this environment lacks grpcio,
    #: which Connect requires; SURVEY.md §7.4).
    RETURNED_CLASSES: Tuple[type, ...] = (DataFrame, GroupedData, DataFrameWriter)

    #: PK-inference rule table (reference: ``metaframe.py:48-60``); values are
    #: rule names dispatched in :meth:`_set_pk_after`.
    SET_PK_AFTER: Dict[str, str] = {
        "groupBy": "from_args",
        "groupby": "from_args",
        "dropDuplicates": "from_subset_or_all",
        "drop_duplicates": "from_subset_or_all",
        "distinct": "all_columns",
    }

    # -- construction --------------------------------------------------------

    def __new__(cls, *args: Any, **kwargs: Any) -> "MetaFrame":
        # bypass DataFrame.__new__ (PySpark 4 dispatches it to the classic
        # implementation which calls __init__(jdf, sql_ctx) — SURVEY.md §7.4)
        return object.__new__(cls)

    def __init__(
        self,
        df: Union[DataFrame, GroupedData, DataFrameWriter],
        metadata: Optional[Dict[str, Any]] = None,
        *,
        strict_reference_compat: bool = False,
    ) -> None:
        # deliberately no super().__init__() — composition in practice
        # (reference: ``metaframe.py:62-69``)
        if isinstance(df, MetaFrame):
            if strict_reference_compat:
                pass  # reference double-wraps (quirk q5)
            else:
                if metadata is None:
                    metadata = dict(df.metadata)
                df = df.df
        object.__setattr__(self, "df", df)
        object.__setattr__(self, "metadata", metadata if metadata is not None else {})
        object.__setattr__(self, "strict_reference_compat", strict_reference_compat)

    def _mf_kwargs(self) -> Dict[str, Any]:
        return {"strict_reference_compat": self.strict_reference_compat}

    # -- repr ----------------------------------------------------------------

    def __str__(self) -> str:
        # reference: ``metaframe.py:71-75``
        return str(self.df) + " metadata: " + str(self.metadata)

    def __repr__(self) -> str:
        return self.__str__()

    # -- attribute routing ---------------------------------------------------

    def __getattribute__(self, key: str) -> Any:
        get = object.__getattribute__
        if key.startswith("__") or key in _CLASS_NAMES:
            return get(self, key)
        try:
            attr = getattr(get(self, "df"), key)
        except AttributeError:
            # not Spark's either: normal resolution raises the standard
            # error, mirroring the reference's column-lookup fallback
            # failing for non-DataFrame wrapped objects (``metaframe.py:89``)
            return get(self, key)
        if callable(attr):
            return get(self, "_wrapper")(attr, key)
        return get(self, "_rewrap_accessor")(key, attr)

    def __getattr__(self, key: str) -> Any:
        raise AttributeError(
            f"'{type(self).__name__}' wrapping {type(object.__getattribute__(self, 'df')).__name__} "
            f"has no attribute '{key}'"
        )

    def __getitem__(self, key: Any) -> Any:
        # reference passes through raw (``metaframe.py:96-97``) which loses
        # metadata for list-selects; fixed mode re-wraps DataFrame results (q4)
        result = self.df[key]
        if not self.strict_reference_compat and isinstance(result, DataFrame):
            md = self.metadata
            pk = md.get("primary_key")
            if pk and not set(pk).issubset(set(result.columns)):
                # list-select dropped a PK column — don't propagate the key
                md = _without_pk(md)
            return MetaFrame(result, md, **self._mf_kwargs())
        return result

    def _rewrap_accessor(self, key: str, attr: Any) -> Any:
        """Non-callable attribute hop.

        The reference returns these raw, losing metadata through ``.na`` /
        ``.stat`` / ``.write`` (``metaframe.py:87-88``, quirk q4). Fixed mode
        wraps the ``na``/``stat`` accessor in a MetaFrame (as it wraps
        ``GroupedData``), so its results take the PK rules of direct calls,
        and the writers in their chain proxies.
        """
        if self.strict_reference_compat:
            return attr
        if key in ("na", "stat"):
            return MetaFrame(attr, self.metadata, **self._mf_kwargs())
        if key == "write":
            return MetaWriter(attr, self.metadata, self._mf_kwargs())
        if key == "writeStream":
            return MetaStreamWriter(attr, self.metadata)
        return attr

    # -- delegation wrapper --------------------------------------------------

    def _wrapper(self, func: Callable, callable_key: str) -> Callable:
        """Wrap a delegated bound method (reference: ``metaframe.py:99-119``).

        DataFrame/GroupedData/Writer results are re-wrapped with the caller's
        metadata; the five PK ops additionally run PK inference; everything
        else (Rows, ints, None, pandas, RDDs) passes through untouched.
        """

        @functools.wraps(func)
        def wrapped(*args: Any, **kwargs: Any) -> Any:
            if not self.strict_reference_compat:
                shortcut = self._pk_shortcircuit(callable_key, args, kwargs)
                if shortcut is not None:
                    return shortcut
                if callable_key == "join":
                    args, kwargs = self._pk_join_broadcast_hint(args, kwargs)
            result = func(*args, **kwargs)
            if isinstance(result, MetaFrame):
                result = result.df
            if isinstance(result, MetaFrame.RETURNED_CLASSES):
                if callable_key in MetaFrame.SET_PK_AFTER:
                    return self._set_pk_after(result, callable_key, args, kwargs)
                out = MetaFrame(result, self.metadata, **self._mf_kwargs())
                if not self.strict_reference_compat:
                    out = self._invalidate_pk_if_needed(out, callable_key, args, kwargs)
                return out
            if (
                not self.strict_reference_compat
                and isinstance(result, list)
                and result
                and all(isinstance(x, DataFrame) for x in result)
            ):
                # randomSplit returns a list of DataFrames — the reference
                # leaves it unwrapped (``metaframe.py:46,113``); keep metadata.
                return [MetaFrame(x, self.metadata, **self._mf_kwargs()) for x in result]
            return result

        return wrapped

    # -- PK inference (reference: ``metaframe.py:121-177``) ------------------

    def _set_pk_after(
        self, result: Any, callable_key: str, args: Tuple, kwargs: Dict
    ) -> "MetaFrame":
        rule = MetaFrame.SET_PK_AFTER[callable_key]
        primary_key: Optional[List[str]] = None

        if rule == "all_columns":  # distinct
            primary_key = list(result.columns)
        elif rule == "from_args":  # groupBy / groupby
            cols = list(args)
            if len(cols) == 1 and isinstance(cols[0], (list, tuple)):
                cols = list(cols[0])
            if self.strict_reference_compat:
                # reference dedupes via set() — order lost, Columns TypeError
                # (quirks q1/q2, ``metaframe.py:150-152``)
                primary_key = list(set(cols)) if cols else None
            else:
                names: List[str] = []
                src = self.df if isinstance(self.df, DataFrame) else None
                for c in cols:
                    if isinstance(c, str):
                        names.append(c)
                    elif isinstance(c, Column):
                        n = _column_name(c, src)
                        if n is None:
                            names = []
                            break
                        names.append(n)
                    else:
                        names = []
                        break
                primary_key = _ordered_dedupe(names) if names else None
        elif rule == "from_subset_or_all":  # dropDuplicates / drop_duplicates
            subset = _arg(args, kwargs, 0, "subset")
            if subset is None:
                primary_key = list(result.columns) if isinstance(result, DataFrame) else None
            else:
                primary_key = _names(subset)

        if primary_key is None:
            LOG.info("could not infer primary key after %s; metadata unchanged", callable_key)
            return MetaFrame(result, self.metadata, **self._mf_kwargs())
        return MetaFrame(
            result,
            {**self.metadata, "primary_key": primary_key},
            **self._mf_kwargs(),
        )

    # -- PK maintenance (fixed mode only; SURVEY.md §4.3) --------------------

    def _pk_shortcircuit(self, callable_key: str, args: Tuple, kwargs: Dict) -> Optional["MetaFrame"]:
        """Driver-side no-op rewrite for dedup on a known primary key.

        If rows are already unique per ``primary_key`` and the dedup subset
        contains the PK, ``dropDuplicates``/``distinct`` cannot remove any row
        — skip the operation entirely (saves a full shuffle; SURVEY.md §4.3a).
        Only calls Spark itself accepts are skipped: a subset that is not a
        list or tuple of existing column names goes to Spark, which rejects
        it (a bare ``str`` or a ``set`` raise there with or without a PK).
        """
        pk = self.metadata.get("primary_key")
        if (
            not pk
            or callable_key not in ("distinct", "dropDuplicates", "drop_duplicates")
            or not isinstance(self.df, DataFrame)
        ):
            return None
        columns = self.df.columns
        if not set(pk).issubset(columns):
            return None
        if callable_key == "distinct" and not args and not kwargs:
            return MetaFrame(
                self.df,
                {**self.metadata, "primary_key": list(columns)},
                **self._mf_kwargs(),
            )
        if callable_key in ("dropDuplicates", "drop_duplicates"):
            subset = _arg(args, kwargs, 0, "subset")
            names = list(columns) if subset is None else _names(subset)
            if names is None or isinstance(subset, str) or not set(names).issubset(columns):
                return None  # let Spark raise its own error
            if set(pk).issubset(names):
                return MetaFrame(
                    self.df,
                    {**self.metadata, "primary_key": names},
                    **self._mf_kwargs(),
                )
        return None

    # PK-unique-keyed build sides may be broadcast well past Spark's default
    # 10 MB autoBroadcastJoinThreshold: uniqueness guarantees one hash-map
    # entry per row and no multiplicative blowup on the probe side. The cap
    # still bounds network fan-out (cap × executors bytes on a cluster).
    PK_BROADCAST_MAX_BYTES = 128 * 1024 * 1024
    _PK_BROADCAST_CONF = "spark.metaframe.pkJoinBroadcastThreshold"

    @staticmethod
    def _pk_covered_other(args: Tuple, kwargs: Dict) -> Optional["MetaFrame"]:
        """The join's other side when it is a MetaFrame whose known
        ``primary_key`` the ``on`` column names cover — each row of this
        side then matches at most one of its rows — else None. A Column
        condition is not provably an equi-join on names and never
        qualifies."""
        other = _arg(args, kwargs, 0, "other")
        if not isinstance(other, MetaFrame):
            return None
        pk = other.metadata.get("primary_key")
        on = _names(_arg(args, kwargs, 1, "on"))
        if pk and on is not None and set(pk).issubset(on):
            return other
        return None

    def _pk_join_broadcast_hint(self, args: Tuple, kwargs: Dict) -> Tuple[Tuple, Dict]:
        """Join-cardinality hint from PK metadata (SURVEY.md §4.3b).

        When the OTHER side of an equi-join is a MetaFrame whose declared
        ``primary_key`` is covered by the join keys, each probe row matches
        at most one build row — the dimension-lookup pattern. If that side's
        optimizer size estimate is under the threshold (conf
        ``spark.metaframe.pkJoinBroadcastThreshold``, default 128 MB), inject
        ``hint("broadcast")`` so Catalyst plans a BroadcastHashJoin even
        where its own conservative stats would pick sort-merge. Purely a
        physical-strategy hint: results are byte-identical (oracled as
        q54_pk_broadcast_join), and joins that might fan out, non-equi
        conditions, or over-cap sides are left untouched.
        """
        other = self._pk_covered_other(args, kwargs)
        # broadcast of the RIGHT side is only valid for these join types
        # (right/full outer must stream the right side)
        if (
            other is None
            or not isinstance(other.df, DataFrame)
            or _join_type(_arg(args, kwargs, 2, "how")) not in _LEFT_ONCE_JOINS | _SEMI_ANTI_JOINS
        ):
            return args, kwargs
        try:
            # never hint a streaming side: stream-stream joins must shuffle
            # both sides, and a broadcast hint there is wrong at any size
            if other.df.isStreaming:
                return args, kwargs
            # cache the estimate on the DataFrame: its plan is immutable, and
            # re-running the optimizer for every join against the same dim
            # would add driver latency to wide query graphs
            size = getattr(other.df, "_mf_size_estimate", None)
            if size is None:
                size = int(
                    other.df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
                )
                other.df._mf_size_estimate = size
            cap = int(
                self.df.sparkSession.conf.get(
                    self._PK_BROADCAST_CONF, str(self.PK_BROADCAST_MAX_BYTES)
                )
            )
        except Exception:  # Connect / stats unavailable — never block the join
            return args, kwargs
        if size <= 0 or size > cap:
            return args, kwargs
        hinted = MetaFrame(
            other.df.hint("broadcast"), other.metadata, **self._mf_kwargs()
        )
        if args:
            args = (hinted,) + tuple(args[1:])
        else:
            kwargs = {**kwargs, "other": hinted}
        return args, kwargs

    def _invalidate_pk_if_needed(
        self, out: "MetaFrame", callable_key: str, args: Tuple, kwargs: Dict
    ) -> "MetaFrame":
        """Drop a stale ``primary_key`` (fixes reference quirk q3).

        Hazards handled: (a) the op removed/renamed a PK column (subset check
        at the end — this also covers ``stat`` results such as ``crosstab``);
        (b) the op can change row multiplicity even with all PK columns
        present — unions, cross joins, ``mapInPandas``/``mapInArrow``/
        ``unpivot``/``melt``/``transform``, generator expressions in a
        projection; (c) the op rewrote values *inside* a PK column
        (``withColumn`` on a PK name, ``replace``/``fillna``/``na.fill``
        touching PK).

        Joins keep the left PK when they provably cannot fan out: semi/anti
        joins always; inner/left equi-joins whose key set covers the *other*
        side's known primary key (each left row matches at most one right
        row) — see :meth:`_pk_covered_other`.
        """
        pk = out.metadata.get("primary_key")
        if not pk:
            return out
        invalid = False
        if callable_key in _UNIQUENESS_BREAKING:
            invalid = True
        elif callable_key == "join":
            how = _join_type(_arg(args, kwargs, 2, "how"))
            invalid = how not in _SEMI_ANTI_JOINS and (
                how not in _LEFT_ONCE_JOINS or self._pk_covered_other(args, kwargs) is None
            )
        elif callable_key in ("withColumn", "withColumns"):
            # overwriting a PK column in place breaks uniqueness silently;
            # a generator expr fans rows out.
            if callable_key == "withColumn":
                target = _arg(args, kwargs, 0, "colName")
                targets = [target] if isinstance(target, str) else []
                exprs = list(args[1:]) + [v for k, v in kwargs.items() if k != "colName"]
            else:
                colsmap = _arg(args, kwargs, 0, "colsMap", {})
                targets = list(colsmap) if isinstance(colsmap, dict) else []
                exprs = list(colsmap.values()) if isinstance(colsmap, dict) else []
            if any(t in pk for t in targets):
                invalid = True
            elif any(_GENERATOR_RE.search(str(e)) for e in exprs):
                invalid = True
        elif callable_key in ("select", "selectExpr"):
            flat: List[Any] = []
            for a in args:
                flat.extend(a if isinstance(a, (list, tuple)) else [a])
            if any(_GENERATOR_RE.search(str(a)) for a in flat):
                invalid = True
            else:
                # an expression ALIASED to a PK name re-binds that name to
                # different data — the subset check below would still pass
                for name in pk:
                    alias_re = re.compile(
                        r"\bAS\s+`?" + re.escape(name) + r"`?\b", re.IGNORECASE
                    )
                    if any(alias_re.search(str(a)) for a in flat):
                        invalid = True
                        break
        elif callable_key in _VALUE_REWRITES:
            # no subset means every column, the PK ones included
            subset = _names(_arg(args, kwargs, _VALUE_REWRITES[callable_key], "subset"))
            invalid = subset is None or bool(set(subset) & set(pk))
        if not invalid and isinstance(out.df, DataFrame):
            try:
                if not set(pk).issubset(set(out.df.columns)):
                    invalid = True
            except Exception:  # unresolvable plan state — keep metadata as-is
                return out
        if invalid:
            return MetaFrame(out.df, _without_pk(out.metadata), **self._mf_kwargs())
        return out

    # -- metadata plane (reference: ``metaframe.py:179-197``) ----------------

    def set_metadata(self, **params: Any) -> "MetaFrame":
        """Return a new MetaFrame with ``params`` merged into the metadata."""
        return MetaFrame(self.df, {**self.metadata, **params}, **self._mf_kwargs())

    def with_primary_key(self, *cols: str) -> "MetaFrame":
        """Explicitly declare the primary key (extension; not in reference)."""
        return self.set_metadata(primary_key=list(cols))

    @property
    def primary_key(self) -> Optional[List[str]]:
        """The inferred/declared primary key, or None if never set."""
        return self.metadata.get("primary_key")

    def to_spark(self) -> Union[DataFrame, GroupedData, DataFrameWriter]:
        """The wrapped raw Spark object (escape hatch)."""
        return self.df


#: the names that resolve on a MetaFrame itself (see ``__getattribute__``)
_CLASS_NAMES = frozenset(vars(MetaFrame))


class _ChainProxy:
    """One link of a Spark writer's builder chain, carrying the caller's
    metadata: non-callable attributes pass through, and each method's result
    goes to :meth:`_chain`, which re-wraps the next link or acts at a
    terminal."""

    def __init__(self, writer: Any, metadata: Dict[str, Any]):
        self._writer = writer
        self._metadata = metadata

    def __getattr__(self, key: str) -> Any:
        attr = getattr(self._writer, key)
        if not callable(attr):
            return attr

        @functools.wraps(attr)
        def wrapped(*args: Any, **kwargs: Any) -> Any:
            return self._chain(key, attr(*args, **kwargs), args, kwargs)

        return wrapped

    def _chain(self, key: str, result: Any, args: Tuple, kwargs: Dict) -> Any:
        raise NotImplementedError


class MetaWriter(_ChainProxy):
    """Wraps ``DataFrameWriter`` so chained writer config keeps metadata and
    terminal saves persist the metadata as a JSON sidecar next to the data.

    Metadata is driver-side only in the reference and does not survive a
    ``write`` → ``read`` round-trip (SURVEY.md §7.4 "metadata durability");
    the sidecar (``_metaframe_metadata.json`` inside the output directory)
    plus :func:`metaframe_spark.io.read_parquet` fix that for path-based
    sinks. Sidecar write is best-effort: non-local filesystems skip silently.
    """

    SIDECAR = "_metaframe_metadata.json"

    #: key under which frame metadata is persisted on catalog tables
    TABLE_PROPERTY = "metaframe.metadata"

    def __init__(self, writer: DataFrameWriter, metadata: Dict[str, Any], mf_kwargs: Dict[str, Any]):
        super().__init__(writer, metadata)
        self._mf = mf_kwargs

    def _chain(self, key: str, result: Any, args: Tuple, kwargs: Dict) -> Any:
        if key in _PATH_TERMINALS:
            path = _arg(args, kwargs, 0, "path")
            if isinstance(path, str) and path:
                self._write_sidecar(path)
        elif key in ("saveAsTable", "insertInto"):
            name = _arg(args, kwargs, 0, "name" if key == "saveAsTable" else "tableName")
            if isinstance(name, str) and name:
                self._write_table_properties(name)
        elif isinstance(result, DataFrameWriter):
            return MetaWriter(result, self._metadata, self._mf)
        return result

    def _write_table_properties(self, table: str) -> None:
        """Persist the metadata into the catalog table's TBLPROPERTIES.

        Table sinks have no directory for a sidecar, but the catalog itself
        is durable, replicated storage — the natural metadata home at
        cluster scale (and what a sidecar can never give object-store
        tables). Restored by :func:`metaframe_spark.io.read_table`.
        Best-effort: JDBC/temp targets without ALTER TABLE support skip.
        """
        if not self._metadata:
            return
        try:
            import json

            from pyspark.sql import SparkSession

            spark = getattr(getattr(self._writer, "_df", None), "sparkSession", None)
            if spark is None:
                spark = SparkSession.getActiveSession()
            if spark is None:
                return
            # Spark SQL string literals are backslash-escaped as well as
            # quote-escaped: both must be doubled or a metadata value
            # containing e.g. "\n" would round-trip as invalid JSON
            payload = (
                json.dumps(self._metadata, default=str)
                .replace("\\", "\\\\")
                .replace("'", "''")
            )
            spark.sql(
                f"ALTER TABLE {table} SET TBLPROPERTIES "
                f"('{self.TABLE_PROPERTY}' = '{payload}')"
            )
        except Exception:  # pragma: no cover - best effort
            LOG.debug("could not persist metadata on table %s", table, exc_info=True)

    def _write_sidecar(self, path: str) -> None:
        if not self._metadata:
            return
        try:
            import json
            import os

            if "://" in path and not path.startswith("file:"):
                return  # non-local FS: skip (cluster deployments use table props)
            local = path[len("file:"):] if path.startswith("file:") else path
            if os.path.isdir(local):
                with open(os.path.join(local, self.SIDECAR), "w") as fh:
                    json.dump(self._metadata, fh, default=str)
        except Exception:  # pragma: no cover - best effort
            LOG.debug("could not write metadata sidecar for %s", path, exc_info=True)


class MetaStreamWriter(_ChainProxy):
    """Wraps ``DataStreamWriter`` so chained streaming-sink config keeps the
    caller's metadata until the terminal ``start()``/``toTable()``.

    The reference loses metadata at the ``writeStream`` property hop
    (``metaframe.py:87-88``, SURVEY.md §2.3 row 16, quirk q4); this proxy
    fixes that for the streaming path the same way :class:`MetaWriter` does
    for batch writes. ``metadata`` stays inspectable on the proxy; the
    terminal result (a ``StreamingQuery``) passes through raw — queries are
    runtime handles, not frames.
    """

    @property
    def metadata(self) -> Dict[str, Any]:
        return self._metadata

    def _chain(self, key: str, result: Any, args: Tuple, kwargs: Dict) -> Any:
        if type(result).__name__ == "DataStreamWriter":
            return MetaStreamWriter(result, self._metadata)
        return result
