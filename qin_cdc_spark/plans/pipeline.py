"""Pipeline assembly: TOML config → schema registry → routed streaming
(or batch) CDC apply — the reference's server bootstrap, Spark-first.

Reference parity (SURVEY §3.1, app/server.go:26-166): plugin lookup →
meta load → router/column-mapper init → transform chain → channel wiring
→ stage start.  Here: the registry holds schemas, each router becomes a
CdcStreamRoute (its own decode/transform/merge against its target), and
Structured Streaming replaces the channel plumbing — one foreachBatch
fans the batch out to every route (per-table grouping, A21).

The reference's sink zoo maps to:
- starrocks/doris/mysql → BucketedUpsertTable locally (MERGE-capable
  table in production) or apply_batch_dbapi for DB-API targets
- kafka → sinks/kafka.py formatters + write_kafka_stream
"""

from __future__ import annotations

import functools
import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from qin_cdc_spark.cdc.registry import SchemaRegistry
from qin_cdc_spark.plans.config import PipelineConfig, load_config, parse_config
from qin_cdc_spark.streaming.cdc_stream import (
    DEFAULT_N_BUCKETS,
    CdcStreamRoute,
    file_envelope_stream,
    run_concurrently,
    start_cdc_stream,
)


class Pipeline:
    """A compiled pipeline: config + registry + routes."""

    def __init__(
        self,
        spark: SparkSession,
        config: PipelineConfig,
        registry: SchemaRegistry,
        *,
        primary_keys: dict[tuple[str, str], list[str]],
        target_root: str,
        n_buckets: int = DEFAULT_N_BUCKETS,
    ) -> None:
        self.spark = spark
        self.config = config
        self.registry = registry
        self.routes: list[CdcStreamRoute] = []
        tgt = config.output_config.get("target", {})
        # Reference sample configs ([output.config.target]): a
        # starrocks/doris output with a host + load-port pushes batches
        # over the stream-load HTTP protocol (outputs/starrocks/
        # starrocks.go:162-183); without connection info the pipeline
        # materializes locally (the MERGE-table stand-in).
        use_streamload = (
            config.output_type in ("starrocks", "doris")
            and tgt.get("host")
            and tgt.get("load-port")
        )
        for router in config.routers:
            db, table = router.source_schema, router.source_table
            schema = registry.get(db, table)
            keys = primary_keys[(db, table)]
            chain = config.transforms
            target_path = os.path.join(
                target_root, router.target_schema, router.target_table
            )
            sink = None
            if use_streamload:
                from qin_cdc_spark.sinks.starrocks import (
                    DEFAULT_BATCH_SIZE,
                    StarRocksStreamLoad,
                )

                opts = tgt.get("options", {})
                loader = StarRocksStreamLoad(
                    host=tgt["host"],
                    load_port=int(tgt["load-port"]),
                    database=router.target_schema,
                    table=router.target_table,
                    username=tgt.get("username", "root"),
                    password=tgt.get("password", ""),
                    columns=[
                        src for src, _ in router.column_mapping(schema.fieldNames())
                    ],
                    batch_size=int(opts.get("batch-size", DEFAULT_BATCH_SIZE)),
                    # output_type selects the delete-signalling dialect:
                    # doris → merge_type/delete headers, starrocks → __op
                    dialect=config.output_type,
                    # optional deterministic load labels (FE-side replay
                    # dedup); absent = reference's shipped behavior
                    label_prefix=opts.get("label-prefix"),
                )
                sink = loader.load_batch
            # a declared materialized view OR egress refreshes from the
            # target's change data feed — its route must retain versions;
            # a declared [coordinator] needs versions on EVERY route
            # (coordinates name per-table snapshot versions)
            has_mv = (
                any(
                    (m.source_schema, m.source_table) == (db, table)
                    for m in config.mviews
                )
                or router.egress_format is not None
                or config.coordinator is not None
            )
            self.routes.append(
                CdcStreamRoute(
                    spark,
                    db=db,
                    table=table,
                    schema=schema,
                    keys=keys,
                    target_path=target_path,
                    transform=(lambda df, _db=db, _t=table: chain.apply(_db, _t, df)),
                    n_buckets=n_buckets,
                    sink=sink,
                    versioned=has_mv,
                    # router-level layout extensions (config.py::Router):
                    # immutable-column partitioning + in-stream retention,
                    # and an SCD2 history table beside the target
                    partition_col=router.partition_col,
                    partition_keep_latest=router.partition_keep_latest,
                    history_path=(
                        target_path + "_history" if router.history else None
                    ),
                    # wire-format relay: re-emit the target's CDF after
                    # every batch, named for the TARGET (what a
                    # downstream Kafka consumer expects)
                    egress_format=router.egress_format,
                    egress_database=router.target_schema,
                    egress_table=router.target_table,
                    tombstone_gc_lag=router.tombstone_gc_lag,
                    history_expire_lag=router.history_expire_lag,
                )
            )

        # compile [[materialized-views]] blocks (engine extension): each
        # is a derived view rooted under <target_root>/_mv/<name>, bound
        # to its route, which refreshes it inside every micro-batch as
        # soon as the store it reads has landed
        from qin_cdc_spark.streaming.mviews import build_materialized_view

        self.mviews: dict[str, tuple[CdcStreamRoute, object]] = {}
        for m in config.mviews:
            route = next(
                (
                    r
                    for r in self.routes
                    if (r.db, r.table) == (m.source_schema, m.source_table)
                ),
                None,
            )
            if route is None:
                raise ValueError(
                    f"materialized view {m.name!r}: no router for "
                    f"{m.source_schema}.{m.source_table}"
                )
            if m.name in self.mviews:
                raise ValueError(f"duplicate materialized view {m.name!r}")
            if m.mv_type == "scd2-stats":
                # the SCD2 history's derived consumer: its source is
                # the route's HISTORY store (not the target CDF), so
                # it binds through the route rather than the factory
                if route.history_path is None:
                    raise ValueError(
                        f"materialized view {m.name!r}: scd2-stats "
                        "requires history = true on the router"
                    )
                mv = route.bind_history().history_stats_mv(
                    os.path.join(target_root, "_mv", m.name),
                    n_buckets=int(m.config.get("n-buckets", 32)),
                )
                route.history_views.append(mv)
            else:
                mv = build_materialized_view(
                    spark,
                    os.path.join(target_root, "_mv", m.name),
                    m.mv_type,
                    m.config,
                )
                route.target_views.append(mv)
            self.mviews[m.name] = (route, mv)
            # wire-relayed column renames on the route propagate to the
            # declared view's spec AND state before its next refresh
            # (VERDICT r9 #2) — without this, a RENAME COLUMN of a
            # group column broke the MV at its next refresh until an
            # operator ran mv.store.rename_columns by hand
            if hasattr(mv, "rename_columns"):
                route.rename_listeners.append(mv.rename_columns)

        # [coordinator] (engine extension): cross-table consistent
        # snapshots stamped per micro-batch across every route — plus
        # per-route egress publication ranges when egress is declared,
        # so wire consumers get the same boundary (coordinator.py)
        self.coordinator = None
        if config.coordinator is not None:
            from qin_cdc_spark.streaming.coordinator import SnapshotCoordinator

            cpath = config.coordinator.get("path") or os.path.join(
                target_root, "_coordinator"
            )
            self.coordinator = SnapshotCoordinator.for_routes(cpath, self.routes)

    def trigger_config(self) -> dict | None:
        """Map the reference's micro-batch knobs (A20: ``batch-size`` /
        ``batch-interval-ms`` under [output.config.target.options],
        defaults 10240 rows / 3000 ms per BASELINE.md) to a Structured
        Streaming trigger.  batch-size itself is a SOURCE rate limit
        (maxFilesPerTrigger / maxOffsetsPerTrigger) — exposed via
        ``batch_size()`` for the source builder."""
        opts = self.config.output_config.get("target", {}).get("options", {})
        interval_ms = opts.get("batch-interval-ms")
        if interval_ms is None:
            return None
        return {"processingTime": f"{int(interval_ms)} milliseconds"}

    def batch_size(self) -> int | None:
        opts = self.config.output_config.get("target", {}).get("options", {})
        size = opts.get("batch-size")
        return int(size) if size is not None else None

    def run_stream(
        self,
        envelope_stream: DataFrame,
        *,
        checkpoint_dir: str,
        trigger: dict | None = None,
    ):
        """Start the streaming apply across all routes.  With no
        explicit trigger, the config's batch-interval-ms applies
        (availableNow fallback when the config sets none).

        Each micro-batch is a set of dependency chains, not a sequence
        of barriers.  The routes apply concurrently; inside each route
        the history and the target land concurrently, and every
        declared view refreshes as soon as the store it reads has
        landed (``CdcStreamRoute.apply_batch``).  The coordinator then
        records the batch.  Every level waits for all of its calls; if
        one raised, the micro-batch fails with the first error after
        the rest have returned, and the restart from the checkpoint
        replays the batch (a landed store skips it by its batch guard or
        re-merges it idempotently; views catch up from their applied
        version).  See ``cdc_stream.run_concurrently``."""
        if trigger is None:
            trigger = self.trigger_config()
        post_batch = None
        if self.coordinator is not None:
            # record AFTER every route (and its views) landed: the
            # coordinate marks "this batch fully landed everywhere"
            c = self.config.coordinator
            post_batch = self.coordinator.post_batch_hook(
                retain_batches=int(c.get("retain-batches", 0)),
                gc_every=int(c.get("gc-every", 1)),
            )
        return start_cdc_stream(
            self.spark,
            envelope_stream,
            self.routes,
            checkpoint_dir=checkpoint_dir,
            trigger=trigger,
            # in-stream DDL: op='ddl' envelope rows evolve the registry and
            # every route's decode schema mid-stream (A11+A12 end to end)
            registry=self.registry,
            post_batch=post_batch,
        )

    def read_mview(self, name: str):
        """The current contents of a declared materialized view."""
        return self.mviews[name][1].read()

    def run_batch(self, envelope: DataFrame) -> None:
        """One-shot batch apply (bootstrap/backfill path).  In-band
        ``op='ddl'`` rows apply the same way the stream applies them:
        to the registry in seq order, and to each route's decode
        schema / local stores via the seq-segmented path (a backfill
        spanning a RENAME keeps the pre-rename rows' values)."""
        from qin_cdc_spark.streaming.cdc_stream import (
            _apply_ddl_rows_to_registry,
            _collect_ddl_rows,
        )

        ddl_rows = _collect_ddl_rows(envelope)
        if ddl_rows:
            _apply_ddl_rows_to_registry(ddl_rows, self.registry)
            envelope = envelope.filter(F.col("op") != "ddl")
        run_concurrently(
            self.spark,
            [
                functools.partial(
                    route.apply_batch, envelope, ddl_rows=ddl_rows or None
                )
                for route in self.routes
            ],
        )

    def read_target(self, target_schema: str, target_table: str) -> DataFrame | None:
        for route, router in zip(self.routes, self.config.routers):
            if (router.target_schema, router.target_table) == (target_schema, target_table):
                return route.bind_target().read()
        return None

    def read_history(self, target_schema: str, target_table: str) -> DataFrame | None:
        """The SCD2 history of a route declared with ``history = true``."""
        for route, router in zip(self.routes, self.config.routers):
            if (router.target_schema, router.target_table) == (target_schema, target_table):
                if route.history_path is None:
                    raise ValueError(
                        f"route {target_schema}.{target_table} declares no history"
                    )
                return route.bind_history().read_history()
        return None


def envelope_source_from_config(
    spark: SparkSession,
    config: PipelineConfig,
    *,
    envelope_dir: str | None = None,
    batch_size: int | None = None,
) -> DataFrame:
    """Build the envelope readStream the TOML ``[input]`` section names.

    - ``type = "kafka"``: spark-sql-kafka source decoding Debezium/Canal
      JSON (sources/kafka_source.py) — the streaming-transport analog of
      the reference's binlog tail (inputs/mysql/mysql_replication.go:38-65);
      ``[input.config]`` keys: ``bootstrap-servers``, ``topics``,
      ``format`` (debezium | canal | aliyun_dts_canal),
      ``starting-offsets``.
    - ``type = "binlog-dir"``: the explicit-offset Python DataSource
      over an append-only envelope directory (file index = binlog
      position analog; sources/binlog_dir.py).
    - ``type = "mysql"`` (and anything else): the file envelope stand-in
      (no MySQL server exists here); ``envelope_dir`` or
      ``[input.config] envelope-dir`` points at the directory.
    ``batch_size`` maps the reference's batch-size rate limit onto
    maxOffsetsPerTrigger / maxFilesPerTrigger (A20).
    """
    if config.input_type == "kafka":
        from qin_cdc_spark.sources.kafka_source import kafka_envelope_stream

        c = config.input_config
        return kafka_envelope_stream(
            spark,
            bootstrap_servers=c["bootstrap-servers"],
            topics=c["topics"],
            format=c.get("format", "debezium"),
            starting_offsets=c.get("starting-offsets", "earliest"),
            max_offsets_per_trigger=batch_size,
        )
    directory = envelope_dir or config.input_config.get("envelope-dir")
    if not directory:
        raise ValueError(
            f"input type {config.input_type!r}: no envelope directory configured "
            "(pass envelope_dir or set [input.config] envelope-dir)"
        )
    if config.input_type == "binlog-dir":
        # explicit-offset Python DataSource (file index = binlog
        # position analog); see sources/binlog_dir.py
        from qin_cdc_spark.sources.binlog_dir import register

        register(spark)
        return (
            spark.readStream.format("qin_binlog_dir")
            .option("path", directory)
            .load()
        )
    return file_envelope_stream(spark, directory, max_files_per_trigger=batch_size)


def compile_pipeline(
    spark: SparkSession,
    config_text_or_path: str,
    *,
    schemas: dict[tuple[str, str], StructType],
    primary_keys: dict[tuple[str, str], list[str]],
    target_root: str,
    n_buckets: int = DEFAULT_N_BUCKETS,
) -> Pipeline:
    """Parse config and bind schemas (the engine-side stand-in for the
    reference's live `show create table` meta load, A8)."""
    if os.path.exists(config_text_or_path):
        config = load_config(config_text_or_path)
    else:
        config = parse_config(config_text_or_path)
    registry = SchemaRegistry()
    for (db, table), schema in schemas.items():
        registry.add(db, table, schema)
    return Pipeline(
        spark,
        config,
        registry,
        primary_keys=primary_keys,
        target_root=target_root,
        n_buckets=n_buckets,
    )
