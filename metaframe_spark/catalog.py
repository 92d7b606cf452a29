"""Metadata-aware SQL re-entry (the last durability gap).

The reference loses metadata when a frame round-trips through
``createOrReplaceTempView`` + ``spark.sql`` (SURVEY.md §7.4 "metadata
durability", verified). :class:`MetaCatalog` closes the gap: it records
each registered view's metadata driver-side and re-attaches it to
``sql()`` results that reference registered views.

``primary_key`` is deliberately NOT restored automatically: arbitrary SQL
can fan out, aggregate, or re-bind columns, and a wrongly-restored key
would arm the dedup short-circuit (see core.py). Callers that know their
query preserves a key pass it explicitly via ``primary_key=``.
"""

from __future__ import annotations

import re
from typing import Any, Dict, List, Optional

from pyspark.sql import SparkSession

from .core import MetaFrame


class MetaCatalog:
    """Temp-view registry that survives SQL re-entry.

    >>> cat = MetaCatalog(spark)
    >>> cat.register(orders_mf, "orders_v")        # metadata recorded
    >>> out = cat.sql("SELECT * FROM orders_v WHERE o_totalprice > 100")
    >>> out.metadata                               # non-PK metadata restored
    """

    def __init__(self, spark: SparkSession):
        self._spark = spark
        self._registry: Dict[str, Dict[str, Any]] = {}

    def register(self, mf: MetaFrame, name: str) -> None:
        """Register a MetaFrame as a temp view and record its metadata."""
        mf.createOrReplaceTempView(name)  # delegated through the wrapper
        md = dict(mf.metadata) if isinstance(mf, MetaFrame) else {}
        self._registry[name] = md

    def referenced_views(self, query: str) -> List[str]:
        """Registered view names the query actually reads from."""
        return self._referenced_views(self._spark.sql(query), query)

    def _referenced_views(self, df, query: str) -> List[str]:
        """Resolve referenced views from the ANALYZED plan, not the SQL text
        (a view name inside a string literal or comment must not leak
        that view's metadata). Only ``View (<name>``
        nodes count: every resolved view reference expands to one, while
        user-written subquery/DataFrame aliases appear ONLY as
        ``SubqueryAlias`` — matching those too would leak metadata to
        ``SELECT * FROM (SELECT ...) AS sales`` when a view named ``sales``
        is registered. Falls back to a word-boundary text match
        when the plan string is unavailable (e.g. Spark Connect), or when
        the plan parsed but matched no registered view under
        ``spark.sql.legacy.storeAnalyzedPlanForView=true`` (that config can
        inline a view's stored plan without a ``View (`` node). Known
        limitation: a backticked view name containing a comma truncates at
        the comma and is treated as a miss (false negatives beat metadata
        leaks)."""
        plan = None
        try:
            plan = df._jdf.queryExecution().analyzed().toString()
        except Exception:
            pass  # Connect / plan string unavailable -> text fallback
        if plan is not None:
            refs = {
                m.group(1).split("`.`")[-1].strip("`").lower()
                for m in re.finditer(r"View \(([^,]+),", plan)
            }
            hits = [name for name in self._registry if name.lower() in refs]
            legacy_view_plans = False
            try:
                legacy_view_plans = (
                    str(
                        self._spark.conf.get(
                            "spark.sql.legacy.storeAnalyzedPlanForView",
                            "false",
                        )
                    ).lower()
                    == "true"
                )
            except Exception:  # pragma: no cover - conf unavailable
                pass
            if hits or not legacy_view_plans:
                return hits
        return [
            name
            for name in self._registry
            if re.search(r"\b" + re.escape(name) + r"\b", query, re.IGNORECASE)
        ]

    def sql(
        self,
        query: str,
        metadata: Optional[Dict[str, Any]] = None,
        primary_key: Optional[List[str]] = None,
    ) -> MetaFrame:
        """Run SQL and re-attach metadata from the referenced views.

        Multiple referenced views merge left-to-right in registration
        order (later keys win); an explicit ``metadata`` overrides both.
        ``primary_key`` is only set when passed explicitly (see module
        docstring for why).
        """
        df = self._spark.sql(query)
        merged: Dict[str, Any] = {}
        for name in self._referenced_views(df, query):
            merged.update(self._registry[name])
        merged.pop("primary_key", None)
        if metadata:
            merged.update(metadata)
        if primary_key is not None:
            merged["primary_key"] = list(primary_key)
        return MetaFrame(df, merged)
