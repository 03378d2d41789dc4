"""LogDB — the user-facing facade of the engine.

The ergonomic surface a log-database user expects — ingest, search,
tail, time histograms, sessionize, stream — each method a thin
composition of the operator kernels in ``operators/`` returning plain
DataFrames (lazily: nothing executes until the caller acts). All
heavy lifting stays in Catalyst-optimized plans; the facade adds no
driver-side work.

    db = LogDB(spark)
    db.ingest_parquet("/data/events.parquet", "events")
    db.search("events", "error", columns=["event_type"],
              since="2024-01-02", until="2024-01-05")
    db.histogram("events", bucket="1 hour", by="event_type")
    db.sessionize("events", gap="30 minutes")
    db.sql("SELECT count(*) FROM events")
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.utils import AnalysisException

from logdb_spark.functions.ranking import bounded_global_window
from logdb_spark.plans.session import configure, get_spark
from logdb_spark.sources.load import normalize_ts


class LogDBError(ValueError):
    """User-input error surfaced eagerly with a plain message, instead
    of a Py4J stack trace at action time."""


class LogDB:
    def __init__(self, spark: SparkSession | None = None):
        self.spark = configure(spark or get_spark("logdb"))
        self._tables: dict[str, DataFrame] = {}

    # ------------------------------------------------------------ ingest

    def register(self, name: str, df: DataFrame) -> DataFrame:
        """Register a DataFrame as a queryable table."""
        self._tables[name] = df
        df.createOrReplaceTempView(name)
        return df

    def ingest_parquet(self, path: str, name: str) -> DataFrame:
        df = self.spark.read.parquet(path)
        # normalize event-time columns (nanos-long or naive-µs) to
        # session-TZ timestamps
        if "ts" in df.columns:
            df = normalize_ts(df)
        return self.register(name, df)

    def ingest_json(self, path: str, name: str, schema: str | None = None) -> DataFrame:
        reader = self.spark.read
        if schema:
            reader = reader.schema(schema)
        return self.register(name, reader.json(path))

    def ingest_loglines(
        self,
        path: str,
        name: str,
        pattern: str,
        fields: dict[str, str],
        ts_field: str | None = None,
        ts_format: str | None = None,
    ) -> DataFrame:
        """Grok-style ingestion: raw text lines -> regex groups -> typed
        columns. ``fields`` maps field name -> Spark type, in regex
        group order."""
        lines = self.spark.read.text(path)
        cols = [
            F.regexp_extract("value", pattern, i + 1).cast(t).alias(n)
            for i, (n, t) in enumerate(fields.items())
        ]
        df = lines.select(*cols)
        if ts_field:
            df = df.withColumn(
                ts_field, F.to_timestamp(ts_field, ts_format)
                if ts_format
                else F.to_timestamp(ts_field)
            )
        return self.register(name, df)

    # ------------------------------------------------------------- query

    # Input validation helpers — fail at call time with a plain
    # message; without these, a bad regex / table / timestamp surfaces
    # as a Py4J stack trace only when an action finally runs (or, for
    # a non-ANSI timestamp cast, silently matches nothing).

    def _check_regex(self, pattern: str) -> None:
        jvm = self.spark._jvm  # noqa: SLF001 — JVM regex IS the rlike dialect
        try:
            jvm.java.util.regex.Pattern.compile(pattern)
        except Exception as exc:  # Py4JJavaError, kept import-free
            jexc = getattr(exc, "java_exception", None)
            msg = str(jexc.getMessage() if jexc is not None else exc)
            first = msg.strip().splitlines()[0] if msg.strip() else "syntax error"
            raise LogDBError(f"invalid regex {pattern!r}: {first}") from None

    def _check_timestamps(self, **bounds: str) -> None:
        """Raise for the first of ``bounds`` (param -> value) that does
        not cast to a timestamp. The casts select from an inline VALUES
        row, which the optimizer folds into a LocalRelation, so the
        check starts no Spark job."""
        casts = ", ".join(f"try_cast(? AS TIMESTAMP) AS {p}" for p in bounds)
        row = self.spark.sql(
            f"SELECT {casts} FROM VALUES (1)", args=list(bounds.values())
        ).first()
        for param, value in bounds.items():
            if row[param] is None:
                raise LogDBError(
                    f"{param}={value!r} is not a parseable timestamp "
                    "(expected e.g. '2024-01-02' or '2024-01-02 03:04:05')"
                )

    def _check_columns(self, df: DataFrame, name: str, *cols: str) -> None:
        missing = [c for c in cols if c not in df.columns]
        if missing:
            raise LogDBError(
                f"column(s) {missing} not in table {name!r} "
                f"(has: {df.columns})"
            )

    def table(self, name: str) -> DataFrame:
        if name in self._tables:
            return self._tables[name]
        try:
            return self.spark.table(name)
        except AnalysisException:
            known = sorted(self._tables) + [
                t.name for t in self.spark.catalog.listTables()
            ]
            raise LogDBError(
                f"unknown table {name!r} (registered: {sorted(set(known))})"
            ) from None

    def sql(self, query: str) -> DataFrame:
        return self.spark.sql(query)

    def search(
        self,
        name: str,
        pattern: str,
        columns: list[str] | None = None,
        since: str | None = None,
        until: str | None = None,
        ts_col: str = "ts",
    ) -> DataFrame:
        """grep over a log table: regex match on the given string
        columns (default: all string columns), optional time range.
        The time predicates push down to the scan; the regex runs
        codegen'd on the survivors."""
        df = self.table(name)
        self._check_regex(pattern)
        if columns:
            self._check_columns(df, name, *columns)
        bounds = {p: v for p, v in (("since", since), ("until", until)) if v}
        if bounds:
            self._check_columns(df, name, ts_col)
            self._check_timestamps(**bounds)
        if since:
            df = df.filter(F.col(ts_col) >= F.lit(since).cast("timestamp"))
        if until:
            df = df.filter(F.col(ts_col) < F.lit(until).cast("timestamp"))
        str_cols = columns or [c for c, t in df.dtypes if t == "string"]
        if not str_cols:
            raise LogDBError(f"no string columns to search in {name}")
        cond = None
        for c in str_cols:
            m = F.col(c).rlike(pattern)
            cond = m if cond is None else (cond | m)
        return df.filter(cond)

    def tail(self, name: str, n: int = 10, ts_col: str = "ts") -> DataFrame:
        """Most recent n records (bounded heap, not a global sort)."""
        df = self.table(name)
        self._check_columns(df, name, ts_col)
        return df.orderBy(F.col(ts_col).desc()).limit(n)

    def histogram(
        self,
        name: str,
        bucket: str = "1 hour",
        by: str | None = None,
        ts_col: str = "ts",
    ) -> DataFrame:
        """Time-bucketed event counts, optionally split by a column."""
        df = self.table(name)
        self._check_columns(df, name, *([ts_col, by] if by else [ts_col]))
        keys = [F.window(ts_col, bucket).start.alias("bucket")]
        if by:
            keys.append(F.col(by))
        return df.groupBy(*keys).agg(F.count(F.lit(1)).alias("n")).orderBy("bucket")

    def sessionize(
        self,
        name: str,
        gap: str = "30 minutes",
        user_col: str = "user_id",
        ts_col: str = "ts",
    ) -> DataFrame:
        """Per-user session windows with the given inactivity gap."""
        df = self.table(name)
        self._check_columns(df, name, user_col, ts_col)
        return (
            df.groupBy(F.session_window(ts_col, gap).alias("w"), F.col(user_col))
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(
                user_col,
                F.col("w.start").alias("session_start"),
                F.col("w.end").alias("session_end"),
                "n_events",
            )
        )

    def top(
        self, name: str, by: str, n: int = 10, metric: str = "count"
    ) -> DataFrame:
        """Top-n groups by count (or sum of ``metric`` column)."""
        df = self.table(name)
        self._check_columns(df, name, *([by] if metric == "count" else [by, metric]))
        agg = (
            F.count(F.lit(1)).alias("value")
            if metric == "count"
            else F.sum(metric).alias("value")
        )
        return (
            df.groupBy(by)
            .agg(agg)
            .orderBy(F.col("value").desc(), F.col(by))
            .limit(n)
        )

    def search_ranked(
        self,
        name: str,
        terms: list[str],
        text_col: str = "text",
        k: int = 10,
        id_col: str | None = None,
        scorer: str = "bm25",
    ) -> DataFrame:
        """Ranked full-text retrieval over a document table: top-k rows
        by BM25 (default; k1=1.2, b=0.75, RSJ idf) or raw tf-idf over
        whitespace tokens. One bounded stats action (N, avgdl, per-term
        df) folds into the plan as literals; scoring is map-only and
        the top-k is a per-partition heap (TakeOrderedAndProject)."""
        if scorer not in ("bm25", "tfidf"):
            raise LogDBError(f"unknown scorer {scorer!r} (bm25|tfidf)")
        if not terms:
            raise LogDBError("terms must be non-empty")
        df = self.table(name)
        self._check_columns(df, name, *(
            [text_col, id_col] if id_col else [text_col]
        ))
        toks = F.split(text_col, " ")
        stats = df.select(
            F.size(toks).alias("dl"),
            *[
                F.array_contains(toks, t).cast("int").alias(f"df_{i}")
                for i, t in enumerate(terms)
            ],
        ).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("dl").alias("sum_dl"),
            *[F.sum(f"df_{i}").alias(f"df_{i}") for i in range(len(terms))],
        ).first()
        if not stats["n"]:
            raise LogDBError(f"table {name!r} is empty")
        n = float(stats["n"])
        avgdl = float(stats["sum_dl"]) / stats["n"]
        dl = F.size(toks).cast("double")
        score = None
        for i, t in enumerate(terms):
            df_t = float(stats[f"df_{i}"])
            cnt = F.size(
                F.filter(toks, (lambda term: lambda x: x == F.lit(term))(t))
            ).cast("double")
            if scorer == "bm25":
                idf = F.log(F.lit((n - df_t + 0.5) / (df_t + 0.5) + 1.0))
                norm = cnt + F.lit(1.2) * (
                    F.lit(0.25) + F.lit(0.75) * (dl / F.lit(avgdl))
                )
                term_score = idf * ((cnt * F.lit(2.2)) / norm)
            else:
                term_score = cnt * F.log(
                    F.lit(n) / F.lit(max(df_t, 1.0))
                )
            score = term_score if score is None else score + term_score
        out = df.withColumn("score", score).filter(F.col("score") > 0)
        # Deterministic tiebreak: id_col when given, else the text
        # itself — score ties otherwise resolve by partition order and
        # the top-k boundary flaps between runs.
        order = [
            F.col("score").desc(),
            F.col(id_col) if id_col else F.col(text_col),
        ]
        return out.orderBy(*order).limit(k)

    def lifecycle(
        self, name: str, user_col: str = "user_id", ts_col: str = "ts"
    ) -> DataFrame:
        """Daily growth accounting: actives split into new / retained /
        resurrected, plus churned (yesterday's actives − today's
        retained)."""
        df = self.table(name)
        self._check_columns(df, name, user_col, ts_col)
        daily = df.select(
            F.col(user_col).alias("u"), F.to_date(ts_col).alias("day")
        ).distinct()
        wu = Window.partitionBy("u").orderBy("day")
        staged = daily.select(
            "day",
            F.when(F.lag("day").over(wu).isNull(), "new")
            .when(F.datediff("day", F.lag("day").over(wu)) == 1, "retained")
            .otherwise("resurrected")
            .alias("stage"),
        )
        per_day = staged.groupBy("day").agg(
            F.count(F.lit(1)).alias("active_users"),
            F.count(F.when(F.col("stage") == "new", 1)).alias("new_users"),
            F.count(F.when(F.col("stage") == "retained", 1)).alias(
                "retained_users"
            ),
            F.count(F.when(F.col("stage") == "resurrected", 1)).alias(
                "resurrected_users"
            ),
        )
        wd = bounded_global_window(
            "day", max_rows=31, why="calendar day grid (<=31 rows)"
        )
        return per_day.withColumn(
            "churned_users",
            F.coalesce(F.lag("active_users").over(wd), F.lit(0))
            - F.col("retained_users"),
        ).orderBy("day")

    def catalog_stats(self, key_cols: dict[str, str]) -> DataFrame:
        """ANALYZE-style stats for registered tables: row count plus
        distinct/null counts of each table's probe key."""
        frames = []
        for t, k in key_cols.items():
            df = self.table(t)
            self._check_columns(df, t, k)
            frames.append(
                df.agg(
                    F.count(F.lit(1)).alias("n_rows"),
                    F.countDistinct(k).alias("n_distinct_key"),
                    (F.count(F.lit(1)) - F.count(k)).alias("n_null_key"),
                ).select(F.lit(t).alias("table_name"), "*")
            )
        if not frames:
            raise LogDBError("key_cols must be non-empty")
        out = frames[0]
        for f in frames[1:]:
            out = out.unionAll(f)
        return out

    # ----------------------------------------------------------- stream

    def stream_parquet(self, path: str, schema) -> DataFrame:
        """Unbounded file-source over a directory (micro-batch replay)."""
        configure(self.spark)
        df = self.spark.readStream.schema(schema).parquet(path)
        if "ts" in df.columns:
            df = normalize_ts(df)
        return df
