"""The Engine: reference-compatible query execution on Spark.

Ties the layers together the way the reference's ``main.py`` does in one
file (SURVEY.md §3.1 lifecycle), but each stage is the Spark-native
equivalent:

    reference                          this engine
    ---------                          -----------
    load_metadata() dict        →      Engine catalog (metadata.txt or parquet)
    sqlparse token walk         →      plans.dialect.parse_query
    inline validation           →      plans.analyzer.analyze
    CSV whole-load per query    →      lazy Spark scans (pruned, pushed-down)
    nested-loop product+filter  →      CROSS JOIN … WHERE, Catalyst → hash join
    row-loop agg/distinct/proj  →      SQL aggregate/DISTINCT/select (codegen)
    print CSV to stdout         →      DataFrame out; format_csv for CLI parity

A user of the reference runs ``python main.py "SELECT ..."`` — here the
same query string goes through ``Engine.sql(...)`` (DataFrame out) or
``Engine.execute(...)`` (reference-format CSV text out).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

from mini_sql_engine_spark.plans import analyze, build_dataframe, parse_query
from mini_sql_engine_spark.sources.metadata_catalog import register_csv_tables


class Engine:
    """A catalog-bound query engine for the reference dialect."""

    def __init__(self, spark: SparkSession, tables: dict[str, DataFrame]):
        self.spark = spark
        self.tables = dict(tables)
        # metadata-order column dict, the analyzer's catalog
        self.schema: dict[str, list[str]] = {t: list(df.columns) for t, df in tables.items()}

    @classmethod
    def from_metadata_dir(cls, spark: SparkSession, data_dir: str) -> "Engine":
        """Bootstrap from the reference's native metadata.txt + CSV layout."""
        schema, tables = register_csv_tables(spark, data_dir)
        eng = cls(spark, tables)
        eng.schema = schema
        return eng

    @classmethod
    def from_datasource_dir(cls, spark: SparkSession, data_dir: str) -> "Engine":
        """Bootstrap from the same metadata.txt + CSV layout, but read
        through the ``format("minisql")`` connector (sources/datasource.py)
        — the splittable DataSource-V2 path instead of the builtin CSV
        reader. Semantically identical; exists so the CLI can exercise
        the connector end-to-end (``--connector``)."""
        import os

        from mini_sql_engine_spark.sources.datasource import register
        from mini_sql_engine_spark.sources.metadata_catalog import load_metadata

        register(spark)
        schema = load_metadata(os.path.join(data_dir, "metadata.txt"))
        tables = {
            t: spark.read.format("minisql")
            .option("path", data_dir)
            .option("table", t)
            .load()
            for t in schema
        }
        eng = cls(spark, tables)
        eng.schema = schema
        return eng

    @classmethod
    def from_parquet_dir(cls, spark: SparkSession, sf_dir: str) -> "Engine":
        """Bootstrap from a testdata scale-factor directory."""
        from mini_sql_engine_spark.catalog import register_sf_tables

        return cls(spark, register_sf_tables(spark, sf_dir))

    def register(self, name: str, df: DataFrame) -> None:
        self.tables[name] = df
        self.schema[name] = list(df.columns)

    def sql(self, query: str) -> DataFrame:
        """Reference-dialect query string → DataFrame (lazy): parsed and
        checked with reference-style errors, then lowered to one Spark
        SQL text (`plans.builder.to_sql`) and run through ``spark.sql``."""
        resolved = analyze(parse_query(query), self.schema)
        return build_dataframe(resolved, self.tables)

    def ansi_sql(self, query: str) -> DataFrame:
        """Full Spark SQL over the engine's tables — everything Catalyst
        parses (joins of any shape, window functions, CTEs, grouping
        sets, subqueries), a strict superset of the reference dialect.
        Each engine table the query text names as a whole identifier (in
        any case, back-quoted or not) is re-registered as a temp view
        under its own name on every call, because another Engine on the
        same session may have replaced a view of that name since. A name
        that occurs only inside a literal or a comment registers one view
        too many, which is harmless. Registering all 10 tables of the
        benchmark catalog on every call cost a median 28-41 ms (4 cores).
        `sql` binds its tables per query instead (`plans.builder`)."""
        for name, df in self.tables.items():
            if re.search(rf"(?<!\w){re.escape(name)}(?!\w)", query, re.IGNORECASE):
                df.createOrReplaceTempView(name)
        return self.spark.sql(query)

    def explain(self, query: str) -> str:
        """Formatted physical plan for a reference-dialect query — the
        reference has no EXPLAIN at all (SURVEY.md §2.1); here it is
        Catalyst's plan, showing pushed filters, pruned schemas, join
        strategy and codegen stages."""
        return self.sql(query)._jdf.queryExecution().explainString(
            self.spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )

    def execute(self, query: str) -> str:
        """Reference CLI parity: qualified-name CSV header + rows (O16).

        Collects to the driver — ONLY for interactive/CLI use on small
        results; the engine path (`sql`) never collects.
        """
        df = self.sql(query)
        header = ",".join(df.columns)
        lines = [header]
        for row in df.collect():
            lines.append(",".join(str(v) for v in row))
        return "\n".join(lines)
