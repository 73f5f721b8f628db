"""Catalog + feature-offset map (DbInfo analog).

The reference discovers tables/columns once at startup through JDBC
metadata and assigns every column of every table a global one-hot offset
(``DbInfo.java:19-40``), then exposes per-query visible-attribute bitsets
(``DbInfo.getDQFeatures`` :54-69, per the DQ paper encoding credited at
``QueryGraph.java:189-190`` -- Krishnan et al. 2018).  Here the catalog is
the Spark session catalog over parquet-backed temp views.
"""

from __future__ import annotations

from pathlib import Path

from . import TABLES
from .sqlparse import ColumnRef, ParsedQuery


class Catalog:
    """Registers the testdata parquet tables as temp views and builds the
    database-global attribute-offset map."""

    def __init__(self, spark, sf_dir: str, tables=TABLES, register: bool = True):
        self.spark = spark
        self.sf_dir = str(sf_dir)
        self.tables = [
            t for t in tables if Path(self.sf_dir, f"{t}.parquet").exists()
        ]
        # global one-hot offsets (DbInfo.init :19-40)
        self.offsets: dict[str, int] = {}
        self.columns: dict[str, list[str]] = {}
        off = 0
        for t in self.tables:
            cols = [f.name for f in self.df(t).schema.fields]
            self.columns[t] = cols
            self.offsets[t] = off
            off += len(cols)
        self.attr_count = off
        if register:
            self.register_views()

    def df(self, table: str):
        """``session.read_table``: resolved once per session, with the
        runtime configs (``nanosAsLong``) applied."""
        from .session import read_table

        return read_table(self.spark, self.sf_dir, table)

    def register_views(self) -> None:
        for t in self.tables:
            self.df(t).createOrReplaceTempView(t)

    # --- feature encoding (§2.9) ----------------------------------------
    def attr_id(self, table: str, column: str) -> int:
        return self.offsets[table] + self.columns[table].index(column)

    def query_visible_attrs(self, q: ParsedQuery) -> set[int]:
        """Union of attribute ids referenced anywhere in the query
        (select/filters/joins) -- DbInfo.setCurrentQueryVisibleFeatures
        analog (QueryOptExperiment.java:649)."""
        alias_table = {a: t for t, a in q.tables}
        refs: list[ColumnRef] = [it.col for it in q.select]
        for p in q.join_preds + q.filters + q.post_join_filters:
            refs.append(p.col)
            if isinstance(p.operand, ColumnRef):
                refs.append(p.operand)
        refs += q.group_by + [c for c, _ in q.order_by]
        return {self.attr_id(alias_table[r.alias], r.column) for r in refs}

    def table_attrs(self, table: str) -> set[int]:
        off = self.offsets[table]
        return set(range(off, off + len(self.columns[table])))
