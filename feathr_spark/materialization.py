"""Materialization settings and sinks.

Re-expresses /root/reference/feathr-rs/src/materialization.rs: cutoff
stepping (DAILY/HOURLY, backwards from end), sinks (Redis / Generic /
CosmosDb / HDFS), multiple sinks per job.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from datetime import datetime, timedelta
from typing import Dict, List, Optional, Sequence

from pyspark.sql import DataFrame

DATETIME_FMT = "%Y-%m-%d %H:%M:%S"  # materialization.rs:6


class Sink:
    streaming: bool = False

    def write(self, df: DataFrame) -> None:
        raise NotImplementedError


@dataclass
class GenericSink(Sink):
    """Any Spark-writable location (materialization.rs:57-91).

    ``num_parts`` mirrors the reference's ``--num-parts`` /
    ``spark_result_output_parts`` output-partition control
    (job_client/mod.rs:289-292): the files of ONE write. The frame is
    round-robin ``repartition``-ed so exactly ``n`` files are written
    whenever it has at least ``n`` rows (empty partitions emit no file);
    ``coalesce(n)`` would be a no-op whenever the final stage already has
    fewer than ``n`` partitions (common with AQE-coalesced small outputs).
    The exactness costs one full shuffle of the output.

    A backfill (``materialize_features``) writes every cutoff in one write,
    so ``num_parts`` files hold all of them, each row tagged with its
    ``feathr_cutoff``; for a directory per cutoff pass
    ``partition_by=["feathr_cutoff"]``.
    """
    format: str = "parquet"
    path: Optional[str] = None
    mode: str = "overwrite"
    options: Dict[str, str] = field(default_factory=dict)
    streaming: bool = False
    timeout_ms: Optional[int] = None
    num_parts: Optional[int] = None
    # catalog-table output (required for bucketing: Spark persists bucket
    # metadata only through the catalog, not plain files)
    table: Optional[str] = None
    bucket_by: Optional[Sequence[str]] = None
    num_buckets: int = 32
    sort_by: Optional[Sequence[str]] = None
    partition_by: Optional[Sequence[str]] = None
    # Z-order clustering: range-partition + sort the output along the
    # bit-interleaved curve of these columns so every file is tight in
    # EVERY listed dimension — min-max footer pruning then skips files
    # for filters on any of them (operators/layout.py). Replaces the
    # round-robin num_parts repartition (round-robin would scatter the
    # clustering it just built).
    zorder_by: Optional[Sequence[str]] = None

    def write(self, df: DataFrame) -> None:
        if self.zorder_by:
            from .operators.layout import zorder_sort
            df = zorder_sort(df, self.zorder_by, num_parts=self.num_parts)
        elif self.num_parts is not None:
            df = df.repartition(self.num_parts)
        opts = {k.replace("__", "."): v for k, v in self.options.items()}
        writer = df.write.format(self.format).options(**opts).mode(self.mode)
        if self.partition_by:
            writer = writer.partitionBy(*self.partition_by)
        if self.bucket_by:
            # Hash-bucketed (and optionally sorted) feature table: a later
            # equi-join on the bucket keys against a table bucketed the same
            # way needs NO shuffle on either side (and no sort when sorted) —
            # the co-located-join path for repeatedly-joined feature
            # snapshots at 100 TB. Scan parallelism = num_buckets, so size
            # it to the cluster, not to the test.
            if not self.table:
                raise ValueError("bucket_by requires a catalog `table` name")
            writer = writer.bucketBy(self.num_buckets, *self.bucket_by)
            if self.sort_by:
                writer = writer.sortBy(*self.sort_by)
        if self.table:
            if self.path:
                writer = writer.option("path", self.path)  # external table
            writer.saveAsTable(self.table)
        elif self.path:
            writer.save(self.path)
        else:
            writer.save()


def sink_to_dict(sink: Sink) -> dict:
    """Serialize a sink in the reference's OutputSink shape
    (materialization.rs:28-98: RedisSink {table_name, streaming, timeoutMs},
    GenericSink {location + streaming flags})."""
    if isinstance(sink, RedisSink):
        d: dict = {"name": "REDIS", "params": {"tableName": sink.table_name,
                                               "host": sink.host,
                                               "port": sink.port}}
    elif isinstance(sink, GenericSink):
        d = {"name": "HDFS", "params": {"format": sink.format,
                                        "path": sink.path, "mode": sink.mode,
                                        "options": dict(sink.options)}}
        if sink.num_parts is not None:
            d["params"]["numParts"] = sink.num_parts
        if sink.table:
            d["params"]["table"] = sink.table
        if sink.bucket_by:
            d["params"]["bucketBy"] = list(sink.bucket_by)
            d["params"]["numBuckets"] = sink.num_buckets
        if sink.zorder_by:
            d["params"]["zorderBy"] = list(sink.zorder_by)
    else:
        d = {"name": type(sink).__name__, "params": {}}
    if sink.streaming:
        d["params"]["streaming"] = True
        if getattr(sink, "timeout_ms", None) is not None:
            d["params"]["timeoutMs"] = sink.timeout_ms
    return d


def HdfsSink(path: str, format: str = "parquet", **kw) -> GenericSink:
    return GenericSink(format=format, path=path, **kw)


def CosmosDbSink(endpoint: str, database: str, container: str, **kw) -> GenericSink:
    """CosmosDB preset over the generic sink (reference
    python/src/lib.rs:761-819). Requires the cosmos connector on the
    classpath; the option plumbing is what we own."""
    opts = {
        "spark__cosmos__accountEndpoint": endpoint,
        "spark__cosmos__database": database,
        "spark__cosmos__container": container,
    }
    opts.update(kw.pop("options", {}))
    return GenericSink(format="cosmos.oltp", options=opts, **kw)


@dataclass
class RedisSink(Sink):
    """Online-store sink (materialization.rs:28-55). The redis client is an
    optional plugin; core scope is the partition-parallel write plumbing.
    One hash per entity key holds one cutoff, so a backfill writes this
    sink the newest cutoff only."""
    table_name: str = ""
    streaming: bool = False
    timeout_ms: Optional[int] = None
    host: str = "localhost"
    port: int = 6379
    # Injectable executor-side client factory: () -> redis-like object with
    # .pipeline() -> (.hset(name, mapping=...), .execute()). Default builds
    # a real redis.Redis; tests inject an in-memory fake so the partition-
    # parallel write plumbing and the hash encoding are value-tested
    # without a server (the wire protocol itself stays plugin territory).
    client_factory: Optional[object] = None

    @staticmethod
    def encode_row(d: dict, key_cols, table: str):
        """(redis key, field mapping) for one feature row — the reference
        online layout: one hash per entity key, one field per column
        (materialization.rs:28-55)."""
        import json
        key = ":".join(str(d[k]) for k in key_cols)
        return f"{table}:{key}", {k: json.dumps(v, default=str)
                                  for k, v in d.items()}

    def write(self, df: DataFrame) -> None:
        factory = self.client_factory
        if factory is None:
            try:
                import redis
            except ImportError as e:
                raise NotImplementedError(
                    "redis-py not installed; RedisSink is an optional "
                    "plugin") from e
            host, port = self.host, self.port
            factory = lambda: redis.Redis(host=host, port=port)
        table = self.table_name
        key_cols = [c for c in df.columns if c.startswith("key_")] or [df.columns[0]]
        encode = RedisSink.encode_row

        def write_partition(rows):
            client = factory()
            pipe = client.pipeline()
            for row in rows:
                name, mapping = encode(row.asDict(), key_cols, table)
                pipe.hset(name, mapping=mapping)
            pipe.execute()

        df.foreachPartition(write_partition)


@dataclass(frozen=True)
class BackfillTime:
    start: datetime
    end: datetime
    step: str = "DAILY"  # DAILY | HOURLY (materialization.rs:22-25)

    @property
    def step_seconds(self) -> int:
        return {"DAILY": 86400, "HOURLY": 3600}[self.step]

    def cutoffs(self) -> List[datetime]:
        """One cutoff per step, iterating backwards from ``end`` while the
        cutoff stays after ``start`` (materialization.rs:200-231; the
        reference test asserts 3 hourly jobs for a 3-hour range,
        materialization.rs:234-289)."""
        out = []
        cur = self.end
        step = timedelta(seconds=self.step_seconds)
        while cur > self.start:
            out.append(cur)
            cur = cur - step
        return out


@dataclass
class MaterializationSettings:
    name: str
    sinks: Sequence[Sink]
    feature_names: Sequence[str]
    backfill_time: Optional[BackfillTime] = None
