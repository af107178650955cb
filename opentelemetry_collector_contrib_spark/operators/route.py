"""Routing connector — pipeline fan-out by condition.

Reference: connector/routingconnector (logs.go:62-119, router.go:113-159,
config.go:22-45,71-81). Semantics reproduced exactly:

- a routing table of ordered (route_id, condition) entries;
- ``match_once=True``: a row goes to the FIRST matching route only
  (router.go first-match short circuit);
- ``match_once=False``: a row is DUPLICATED into every matching route
  (logs.go:74-97);
- rows matching no route go to ``default`` (default_pipelines,
  config.go:34-38);
- condition evaluation errors → default route under ignore mode
  (logs.go:86-92) — here conditions are Column exprs, so "error" means
  NULL-valued predicate, coalesced to false.

Two sink shapes. ``write_routed`` is the one-pass path: it tags each
row (a single CASE WHEN with match_once, an exploded tag array with
multi-match) and fans out with one partitioned write. ``split`` returns
one filtered DataFrame per route; each re-evaluates ``df`` unless the
caller materializes it first, as ``CollectorConfig`` does for every
routing input that feeds more than one pipeline.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEFAULT_ROUTE = "default"


@dataclass
class Route:
    route_id: str
    condition: Column  # boolean Column; NULL treated as no-match


class Router:
    def __init__(self, routes: list[Route], match_once: bool = False):
        self.routes = routes
        self.match_once = match_once

    def _cond(self, r: Route) -> Column:
        return F.coalesce(r.condition, F.lit(False))

    def tag(self, df: DataFrame, col: str = "route") -> DataFrame:
        """match_once mode: add the first-match route tag column."""
        expr = F.lit(DEFAULT_ROUTE)
        for r in reversed(self.routes):
            expr = F.when(self._cond(r), F.lit(r.route_id)).otherwise(expr)
        return df.withColumn(col, expr)

    def tags_multi(self, df: DataFrame, col: str = "routes") -> DataFrame:
        """multi-match mode: array of every matching route id (default when
        empty) — lets a single pass + explode replace N full scans."""
        arr = F.array(
            *[
                F.when(self._cond(r), F.lit(r.route_id))
                for r in self.routes
            ]
        )
        arr = F.filter(arr, lambda x: x.isNotNull())
        arr = F.when(F.size(arr) == 0, F.array(F.lit(DEFAULT_ROUTE))).otherwise(arr)
        return df.withColumn(col, arr)

    def split(self, df: DataFrame) -> dict[str, DataFrame]:
        """Materialize one DataFrame per route (incl. default).

        match_once: single tag column, per-route filter on it.
        multi-match: per-route independent filters (a row can appear in
        several outputs — the duplication semantics of logs.go:74-97).
        Nothing is cached here: each output re-reads ``df``. Writing
        several outputs from one evaluation takes either a materialized
        ``df`` (``CollectorConfig`` local-checkpoints it) or
        write_routed(), which does one pass via explode+partitionBy.
        """
        out: dict[str, DataFrame] = {}
        if self.match_once:
            tagged = self.tag(df)
            for r in self.routes:
                out[r.route_id] = tagged.filter(
                    F.col("route") == r.route_id
                ).drop("route")
            out[DEFAULT_ROUTE] = tagged.filter(
                F.col("route") == DEFAULT_ROUTE
            ).drop("route")
        else:
            none_match = None
            for r in self.routes:
                c = self._cond(r)
                out[r.route_id] = df.filter(c)
                none_match = ~c if none_match is None else none_match & ~c
            out[DEFAULT_ROUTE] = df.filter(
                none_match if none_match is not None else F.lit(True)
            )
        return out

    def write_routed(self, df: DataFrame, base_path: str) -> None:
        """Scale path: ONE pass over the input — tag (or explode the
        multi-match tag array), then a single partitionBy(route) parquet
        write. At 100 TB this beats N filtered scans by ~N×; the explode
        only duplicates rows that actually multi-match. (Rotation and
        codec are the config file exporter's options,
        CollectorConfig._file_writer.)"""
        if self.match_once:
            tagged = self.tag(df)
        else:
            tagged = self.tags_multi(df).withColumn(
                "route", F.explode_outer("routes")
            ).drop("routes")
        tagged.write.mode("overwrite").partitionBy("route").parquet(base_path)
