"""API-view layer: schema-evolution-resilient named queries (SURVEY.md §7
step 9; replaces the reference's meta-programming operators X1-X3).

The reference tracks column renames by (a) appending to
schema_api_mapping.json and (b) having an LLM REWRITE ITS OWN API SOURCE
into apiv{N}.py files (ref: api.py:264-348, schema_api_mapping.json:1-38).
The deterministic re-design: a view is a set of LOGICAL column bindings
captured at definition time; every execution re-resolves each binding
against the table's current schema via field-id history first
(VersionedTable.resolve_column) and the deterministic semantic matcher as
a fallback — so a rename never breaks the view and no source code is ever
rewritten.  ``binding_report()`` is the derived replacement for
schema_api_mapping.json.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame

from thesis_iceberg_spark.functions.resolve import MATCH, MatchResult, match_column
from thesis_iceberg_spark.tablefmt.table import VersionedTable


@dataclass
class ApiView:
    """A named projection over a VersionedTable, robust to schema evolution."""

    name: str
    table: VersionedTable
    logical_columns: dict[str, str]  # output alias -> column name as first defined

    def _current_table(self) -> VersionedTable:
        """A fresh handle per execution: schema changes committed by other
        writers since this view was constructed must be visible (the whole
        point of the layer)."""
        return VersionedTable(self.table.spark, self.table.location)

    def resolve(self, table: VersionedTable | None = None) -> dict[str, MatchResult]:
        """Re-resolve every logical column against the CURRENT schema (that
        of ``table``, a fresh handle when None): field-id history first
        (exact semantics), semantic matcher second."""
        table = self._current_table() if table is None else table
        out: dict[str, MatchResult] = {}
        cols = table.columns
        for alias, defined_name in self.logical_columns.items():
            hist = table.resolve_column(defined_name)
            if hist is not None:
                out[alias] = MatchResult(MATCH, hist, 1.0)
            else:
                out[alias] = match_column(defined_name, cols)
        return out

    def dataframe(self) -> DataFrame:
        """Execute the view; raises if any binding is NO_MATCH/AMBIGUOUS
        (the reference surfaces these as HTTP errors, api.py:410-413).
        Resolution and the read share one handle, so one metadata load
        serves the whole execution: a rename committed meanwhile cannot
        leave the resolved names pointing at another schema."""
        table = self._current_table()
        resolved = self.resolve(table)
        bad = {a: r.status for a, r in resolved.items() if r.status != MATCH}
        if bad:
            raise KeyError(f"unresolvable view columns: {bad}")
        df = table.read()
        return df.select(
            *[df[r.column].alias(alias) for alias, r in resolved.items()]
        )

    def binding_report(self) -> dict:
        """Derived mapping artifact (replaces schema_api_mapping.json):
        current schema version + how every logical column resolved."""
        table = self._current_table()
        return {
            "view": self.name,
            "schema_id": table._meta["current_schema_id"],
            "bindings": {
                alias: {"defined_as": self.logical_columns[alias], "status": r.status,
                        "resolved_to": r.column, "score": round(r.score, 4)}
                for alias, r in self.resolve(table).items()
            },
        }


@dataclass
class ViewRegistry:
    """Named-view catalog (the engine's 'API version' surface)."""

    views: dict[str, ApiView] = field(default_factory=dict)

    def register(self, view: ApiView) -> None:
        self.views[view.name] = view

    def dataframe(self, name: str) -> DataFrame:
        return self.views[name].dataframe()

    def report(self) -> list[dict]:
        return [v.binding_report() for v in self.views.values()]
