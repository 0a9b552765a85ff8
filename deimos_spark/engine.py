"""Engine facade: the user-facing API tying topics, producers, consumers,
pollers and the outbox together — the analogue of the reference's
`Deimos.configure` DSL + Karafka routing (behavior studied from
/root/reference/lib/deimos.rb and ext/schema_route.rb — behavior only).

    from deimos_spark.engine import Engine

    eng = Engine(spark, topic_prefix="prod.")
    eng.register_topic("widgets", schema_dict_or_json, key_field="test_id")
    eng.producer("widgets").publish(df, backend="outbox", outbox=eng.outbox("/p"))
    c = eng.consumer("widgets", table_path="/tables/widgets")
    c.consume_batch(kafka_shaped_df)              # batch mode
    c.attach(stream_df, checkpoint="/ckpt")       # streaming mode
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import SparkSession

from deimos_spark.schemas.avro import AvroSchema, parse_avsc
from deimos_spark.session import apply_runtime_confs
from deimos_spark.sources.outbox import OutboxTable
from deimos_spark.sources.poller import TimeBasedPoller
from deimos_spark.streaming.consumer import BatchConsumer, ConsumerConfig
from deimos_spark.streaming.producer import Producer, TopicConfig


class Engine:
    def __init__(
        self,
        spark: SparkSession,
        topic_prefix: str = "",
        default_codec: str = "json",
        registry: "Any | None" = None,  # InMemorySchemaRegistry
    ):
        self.spark = apply_runtime_confs(spark)
        self.topic_prefix = topic_prefix
        self.default_codec = default_codec
        self.registry = registry
        self._topics: dict[str, TopicConfig] = {}
        self._outboxes: dict[str, OutboxTable] = {}
        # view name → zero-arg DataFrame factory. Factories (not frozen
        # DataFrames) because a keyed table's content changes between
        # sql() calls; each sql() re-binds every view to a fresh plan.
        self._views: dict[str, Any] = {}

    # ---------------------------------------------------------- SQL entry

    def attach_catalog(self, sf_dir: str, tables=None) -> "Engine":
        """Register the standard parquet tables (catalog.TABLES) under
        `sf_dir` as queryable views for `sql()`. Returns self for
        chaining: `Engine(spark).attach_catalog(d).sql("SELECT ...")`."""
        from deimos_spark.catalog import TABLES, load_table

        for name in tables if tables is not None else TABLES:
            self._views[name] = (
                lambda n=name: load_table(self.spark, sf_dir, n)
            )
        return self

    def register_geo_functions(self) -> "Engine":
        """Expose the WKB kernels (functions/geo.py) to the SQL entry:
        `st_envelope(wkb)` → struct(xmin, ymin, xmax, ymax),
        `st_geomtype(wkb)` → OGC type name. (These are Spark-side only —
        the DuckDB oracle has its own spatial extension, not loaded in
        this sandbox — so no oracle-checked geo queries are declared;
        the kernels are pinned by tests/test_iceberg_geo.py.)"""
        from deimos_spark.functions import geo

        self.spark.udf.register("st_envelope", geo.wkb_envelope)
        self.spark.udf.register("st_geomtype", geo.wkb_geom_type)
        self.spark.udf.register(
            "st_bbox_intersects", geo.st_bbox_intersects
        )
        return self

    def register_view(self, name: str, source: Any) -> None:
        """Expose `source` to sql() as view `name`. Accepts a DataFrame
        (fixed plan), a zero-arg callable returning one, or any object
        with a .read() method (Delta/Iceberg keyed tables and readers)
        — re-read at every sql() call so views track table state."""
        from pyspark.sql import DataFrame as _DF

        if isinstance(source, _DF):
            self._views[name] = lambda df=source: df
        elif callable(source):
            self._views[name] = source
        elif hasattr(source, "read"):
            self._views[name] = source.read
        else:
            raise TypeError(
                f"register_view({name!r}): need DataFrame, callable, or "
                f".read()-bearing table, got {type(source).__name__}"
            )

    def sql(self, query: str) -> "Any":
        """Run a SQL string against the registered views (catalog
        tables, topic tables, ad-hoc views) and return the DataFrame.

        The user-facing analogue of the reference's query entry point;
        plans are fully declarative so Catalyst applies pushdown /
        pruning through the views exactly as through load_table.

        Binding is LAZY and SCOPED: only views whose name appears in
        the statement are materialized (a catalog of hundreds of
        delta/iceberg-backed topic tables would otherwise pay every
        table's snapshot/log-replay cost on every call — the name
        probe over-approximates, which costs at most a spurious bind,
        never a missing one), and the temp views are unbound again
        after analysis — a pre-existing session temp view with the
        same name is restored, so two Engines (or user temp views) on
        one SparkSession don't clobber each other. spark.sql analyzes
        eagerly, so the returned DataFrame stays valid after unbind."""
        import re as _re

        needed = [
            n
            for n in self._views
            if _re.search(
                # bare form (not part of a longer/qualified identifier)
                # OR the exactly-backtick-quoted form `name` — legal
                # Spark SQL that the bare pattern's lookbehind rejects
                rf"(?i)(?:(?<![\w.$`]){_re.escape(n)}(?![\w$])"
                rf"|`{_re.escape(n)}`)",
                query,
            )
        ]
        cat = self.spark.catalog
        restore: dict[str, Any] = {}
        bound: list[str] = []
        try:
            for name in needed:
                try:
                    t = cat.getTable(name)
                    if getattr(t, "tableType", "") == "TEMPORARY":
                        restore[name] = self.spark.table(name)
                except Exception:
                    pass  # not bound yet — plain create, plain drop
                self._views[name]().createOrReplaceTempView(name)
                bound.append(name)
            return self.spark.sql(query)
        finally:
            # unbind even when a factory raised mid-way — only the
            # views actually created are dropped/restored
            for name in bound:
                prev = restore.get(name)
                if prev is not None:
                    prev.createOrReplaceTempView(name)
                else:
                    cat.dropTempView(name)

    # -------------------------------------------------------- result fetch

    @staticmethod
    def fetch_arrow(df):
        """The engine's documented LARGE-RESULT fetch path: one Arrow
        batch stream to the driver (`DataFrame.toArrow()`) instead of
        py4j row serialization.

        `collect()` pickles every row through the py4j socket — fine
        for the dimension-sized outputs most declared queries return,
        but it DOMINATES wide fetches: x11 resample_ffill at the K=30
        stress scale computes in ~2s (noop sink) yet spends 4-12s
        collecting its 1.34M-row grid (WEAK_AB.json r16 carries both
        numbers). Arrow transfer is columnar, zero-copy on the Python
        side, and orders of magnitude faster for anything non-trivial;
        the session already enables spark.sql.execution.arrow.pyspark.
        Returns a pyarrow.Table (rows identical to collect(); pinned by
        tests/test_engine.py). The bench deliberately KEEPS collect()
        so its series stays comparable across rounds — this is the path
        a consumer of bulk results should use."""
        return df.toArrow()

    # ------------------------------------------------------------- topics

    def register_topic(
        self,
        topic: str,
        schema: str | dict | AvroSchema,
        key_field: str | None = None,
        key_schema: str | dict | AvroSchema | None = None,
        codec: str | None = None,
        **kw: Any,
    ) -> TopicConfig:
        """schema_route analogue: attach schema + key config to a topic."""
        if not isinstance(schema, AvroSchema):
            schema = parse_avsc(schema)
        if key_schema is not None and not isinstance(key_schema, AvroSchema):
            key_schema = parse_avsc(key_schema)
        if self.registry is not None:
            kw.setdefault("registry", self.registry)
        cfg = TopicConfig(
            topic=topic,
            schema=schema,
            key_field=key_field,
            key_schema=key_schema,
            codec=codec or self.default_codec,
            topic_prefix=self.topic_prefix,
            **kw,
        )
        self._topics[topic] = cfg
        return cfg

    def topic(self, name: str) -> TopicConfig:
        try:
            return self._topics[name]
        except KeyError:
            raise KeyError(
                f"topic {name!r} not registered; known: {sorted(self._topics)}"
            )

    # -------------------------------------------------------- produce side

    def producer(self, topic: str, transform=None) -> Producer:
        return Producer(self.topic(topic), transform=transform)

    def outbox(self, path: str) -> OutboxTable:
        if path not in self._outboxes:
            self._outboxes[path] = OutboxTable(self.spark, path)
        return self._outboxes[path]

    # -------------------------------------------------------- consume side

    def table(
        self,
        path: str,
        topic: str,
        key_cols: list[str] | None = None,
        table_format: str = "delta",
        **kw,
    ):
        """Keyed sink table for a topic. `table_format`:
        - "delta" (default): DeltaKeyedTable — real Delta layout (any
          engine can read it); every merge is one atomic log commit; kw
          passes through (use_dvs, enable_cdf, partition_by, ...); merge
          supports txn=(app, version) for exactly-once consumers.
        - "iceberg": IcebergKeyedTable — real Iceberg layout; kw passes
          through (delete_mode="position"|"equality"|"dv").
        Both formats register the topic name as a sql() view."""
        cfg = self.topic(topic)
        keys = key_cols or ([cfg.key_field] if cfg.key_field else None)
        if not keys:
            raise ValueError(f"topic {topic!r} has no key config; pass key_cols")
        if table_format == "delta":
            from deimos_spark.operators.delta_interop import DeltaKeyedTable

            tbl = DeltaKeyedTable(
                self.spark, path, keys, schema=cfg.schema.struct, **kw
            )
        elif table_format == "iceberg":
            from deimos_spark.operators.iceberg_interop import (
                IcebergKeyedTable,
            )

            tbl = IcebergKeyedTable(self.spark, path, keys, **kw)
        else:
            raise ValueError(
                f"table_format {table_format!r}: delta|iceberg"
            )
        # topic tables are sql()-queryable by topic name; empty schema-
        # typed view until the first write so catalog queries never
        # fail (DeltaKeyedTable.read already returns one). Only not-
        # born-yet signals map to empty — real read errors (corruption,
        # protocol refusals) must surface.
        def _view(t=tbl, s=cfg.schema.struct):
            try:
                return t.read()
            except FileNotFoundError:  # iceberg before first commit
                return self.spark.createDataFrame([], s)

        self._views[topic] = _view
        return tbl

    def consumer(
        self,
        topic: str,
        table_path: str,
        key_cols: list[str] | None = None,
        compacted: bool = True,
        table_format: str = "delta",
        table_kw: dict | None = None,
        **consumer_kw,
    ) -> BatchConsumer:
        """The consumer's sink is a real lakehouse table, Delta by
        default or `table_format="iceberg"` — combine with
        `attach(txn_app_id=...)` or `consume_batch(txn=...)` for
        exactly-once (Delta: the protocol txn action; Iceberg: the
        snapshot-summary watermark, Flink-style). `table_kw` passes
        through to the keyed table (use_dvs, enable_cdf,
        delete_mode, ...)."""
        cfg = self.topic(topic)
        tbl = self.table(
            table_path,
            topic,
            key_cols,
            table_format=table_format,
            **(table_kw or {}),
        )
        if cfg.registry is not None:
            consumer_kw.setdefault("registry", cfg.registry)
            consumer_kw.setdefault("subject", cfg.value_subject)
            consumer_kw.setdefault("key_subject", f"{cfg.topic}-key")
        return BatchConsumer(
            ConsumerConfig(
                schema=cfg.schema,
                key_cols=tbl.key_cols,
                codec=cfg.codec,
                compacted=compacted,
                **consumer_kw,
            ),
            tbl,
        )

    # ------------------------------------------------------------ CDC side

    def poller(
        self,
        topic: str,
        source,
        cursor_path: str,
        backend: str = "memory",
        publish_kw: dict | None = None,
        **poller_kw,
    ) -> TimeBasedPoller:
        """DB-poller analogue: incremental source → this topic's producer.
        poller_kw: ts_col/id_col/batch_size/delay_micros/full_table."""
        prod = self.producer(topic)
        sink: list = []

        def publish(df):
            out = prod.publish(df, backend=backend, **(publish_kw or {}))
            if out is not None:  # memory backend returns the messages df
                sink.extend(out.collect())

        p = TimeBasedPoller(source, publish, cursor_path, **poller_kw)
        p.published_messages = sink  # type: ignore[attr-defined]
        return p
