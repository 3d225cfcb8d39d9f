"""Source descriptors → Spark readers.

Re-expresses /root/reference/feathr-rs/src/source.rs Spark-first: each
descriptor knows how to produce a DataFrame (batch) or streaming DataFrame
directly — no config round-trip, no job submission.
"""

from __future__ import annotations

import weakref
from dataclasses import dataclass, field
from typing import Callable, Dict, Optional, Tuple

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .model import timestamp_col_expr

# Internal canonical event-time column added by the planner.
EVENT_TS_COL = "__feathr_event_ts"

Preprocessing = Callable[[DataFrame], DataFrame]


@dataclass(frozen=True)
class TimeWindowParameters:
    """Marks a source time-aware (reference source.rs:266-271)."""
    timestamp_column: str
    timestamp_column_format: Optional[str] = None  # None = already timestamp


@dataclass(frozen=True)
class Source:
    """Base source. ``name`` is the registry handle."""
    name: str
    time_window_parameters: Optional[TimeWindowParameters] = None
    preprocessing: Optional[Preprocessing] = None

    @property
    def is_input_context(self) -> bool:
        return False

    def read(self, spark: SparkSession) -> DataFrame:
        raise NotImplementedError

    def load(self, spark: SparkSession) -> DataFrame:
        """Read + preprocessing hook + event-time annotation.

        Preprocessing mirrors the reference's per-source Python UDF
        (source.rs:286, job_client/mod.rs:806-864) — here it is simply a
        ``DataFrame -> DataFrame`` callable applied before feature
        extraction.

        File sources infer their schema once per session and reuse it
        while their file listing is unchanged (see :meth:`HdfsSource.read`),
        so only the first load of a path in a session runs Spark's
        inference job(s).
        """
        df = self.read(spark)
        if self.preprocessing is not None:
            df = self.preprocessing(df)
        if self.time_window_parameters is not None:
            twp = self.time_window_parameters
            df = df.withColumn(
                EVENT_TS_COL,
                F.expr(timestamp_col_expr(twp.timestamp_column, twp.timestamp_column_format)),
            )
        return df


@dataclass(frozen=True)
class InputContext(Source):
    """The observation table itself (reference source.rs:297-309).

    Features anchored here are computed directly on observation rows —
    no join (serialized as "PASSTHROUGH" in the reference, source.rs:173-177).
    """
    name: str = "PASSTHROUGH"

    @property
    def is_input_context(self) -> bool:
        return True

    def read(self, spark: SparkSession) -> DataFrame:
        raise RuntimeError("INPUT_CONTEXT has no standalone data; it is the observation")


INPUT_CONTEXT = InputContext()


@dataclass(frozen=True)
class HdfsSource(Source):
    """File source at any Hadoop-compatible path (reference source.rs:415-465).

    Format is inferred from the file extension unless given explicitly.
    """
    path: str = ""
    format: Optional[str] = None
    options: Dict[str, str] = field(default_factory=dict)

    def _infer_format(self) -> str:
        if self.format:
            return self.format
        p = self.path.lower().rstrip("/")
        for ext, fmt in ((".parquet", "parquet"), (".csv", "csv"), (".json", "json"),
                         (".orc", "orc"), (".avro", "avro"), (".tsv", "csv")):
            if p.endswith(ext):
                return fmt
        return "parquet"

    def read(self, spark: SparkSession) -> DataFrame:
        """Read the files at ``path`` with the schema Spark infers for them.

        Inference is a Spark job (one per parquet read, two per CSV read
        with ``inferSchema``), so each ``(format, path, options)`` is
        inferred once per session: the inferred schema is kept with a
        fingerprint of the file listing that read made — a hash of its
        set of file paths, and their total bytes. A later read hands the
        kept schema to the reader, which lists the files afresh but runs
        no job, and keeps it only if the new listing has the same
        fingerprint; otherwise (a file added, removed or resized) it
        infers again. The memo is per session and dies with it, because
        session confs (case sensitivity, parquet timestamp/binary
        inference) shape what inference returns.

        Blind spot: a rewrite in place that keeps every file name and the
        total byte count is not seen; Spark's catalog tables have the same
        gap and need ``REFRESH TABLE`` for it. Likewise a session conf
        changed after a path's first read reaches that path's schema only
        once its files change; a new session starts empty.
        """
        fmt = self._infer_format()
        opts = dict(self.options)
        if fmt == "csv":
            opts.setdefault("header", "true")
            opts.setdefault("inferSchema", "true")
            if self.path.lower().endswith(".tsv"):
                opts.setdefault("sep", "\t")

        def reader():
            return spark.read.format(fmt).options(**opts)

        memo = _SCHEMA_MEMO.setdefault(spark, {})
        key = (fmt, self.path, tuple(sorted(opts.items())))
        # one .get() and one assignment: two queries may plan at once
        hit = memo.get(key)
        if hit is not None:
            schema, fingerprint = hit
            df = reader().schema(schema).load(self.path)
            if _listing_fingerprint(df) == fingerprint:
                return df
        df = reader().load(self.path)
        fingerprint = _listing_fingerprint(df)
        if fingerprint is not None:
            memo[key] = (df.schema, fingerprint)
        return df


# SparkSession -> {(format, path, options): (inferred schema, listing
# fingerprint)}; see HdfsSource.read
_SCHEMA_MEMO: "weakref.WeakKeyDictionary[SparkSession, dict]" = \
    weakref.WeakKeyDictionary()


def _listing_fingerprint(df: DataFrame) -> Optional[Tuple[int, int]]:
    """(hash of the set of file paths, their total bytes) of the file
    listing Spark made when ``df`` was read, read off its file index in a
    fixed number of py4j calls whatever the file count: no listing and no
    job. None when the read is not a file relation (a format switched to
    DataSource V2), which is then inferred on every read."""
    try:
        index = df._jdf.queryExecution().analyzed().relation().location()
    except Py4JError:
        return None
    return index.allFiles().toSet().hashCode(), index.sizeInBytes()


@dataclass(frozen=True)
class DataFrameSource(Source):
    """Engine-native source wrapping an existing DataFrame (no reference
    analogue needed — we are already in-process)."""
    df: Optional[DataFrame] = None

    def read(self, spark: SparkSession) -> DataFrame:
        assert self.df is not None
        return self.df


@dataclass(frozen=True)
class JdbcSource(Source):
    """JDBC table/query source (reference source.rs:466-561).

    Credentials resolve from env vars ``{NAME}_USER`` / ``{NAME}_PASSWORD``
    / ``{NAME}_TOKEN`` mirroring the reference's placeholder scheme
    (source.rs:508-524).
    """
    url: str = ""
    dbtable: Optional[str] = None
    query: Optional[str] = None
    auth: str = "anonymous"  # anonymous | userpass | token
    options: Dict[str, str] = field(default_factory=dict)

    def read(self, spark: SparkSession) -> DataFrame:
        import os
        if bool(self.dbtable) == bool(self.query):
            raise ValueError("JdbcSource requires exactly one of dbtable/query (source.rs:466-561)")
        reader = spark.read.format("jdbc").option("url", self.url)
        if self.dbtable:
            reader = reader.option("dbtable", self.dbtable)
        else:
            reader = reader.option("query", self.query)
        prefix = self.name.upper()
        if self.auth == "userpass":
            reader = (reader.option("user", os.environ[f"{prefix}_USER"])
                      .option("password", os.environ[f"{prefix}_PASSWORD"]))
        elif self.auth == "token":
            reader = reader.option("accessToken", os.environ[f"{prefix}_TOKEN"])
        return reader.options(**self.options).load()


@dataclass(frozen=True)
class GenericSource(Source):
    """Any Spark connector: format + mode + options (reference
    source.rs:652-743). Option keys may escape dots as ``__``
    (source.rs:686-694); ``${VAR}`` placeholders in option keys or values
    resolve from the environment at read time (the reference's secret
    scheme, source.rs:317-330 — secrets stay out of configs/registry and
    are injected where the job runs)."""
    format: str = "parquet"
    path: Optional[str] = None
    mode: Optional[str] = None
    options: Dict[str, str] = field(default_factory=dict)

    def secret_keys(self) -> list:
        """Env-var names referenced by ``${...}`` placeholders
        (source.rs get_secret_keys parity)."""
        import re
        found = []
        for k, v in self.options.items():
            found += re.findall(r"\$\{([^}]+)\}", k) + \
                re.findall(r"\$\{([^}]+)\}", str(v))
        return found

    def read(self, spark: SparkSession) -> DataFrame:
        import os
        import re

        def resolve(s: str) -> str:
            return re.sub(r"\$\{([^}]+)\}",
                          lambda m: os.environ[m.group(1)], s)

        opts = {resolve(k.replace("__", ".")): resolve(str(v))
                for k, v in self.options.items()}
        reader = spark.read.format(self.format).options(**opts)
        return reader.load(self.path) if self.path else reader.load()


@dataclass(frozen=True)
class KafkaSource(Source):
    """Kafka streaming source + Avro payload (reference source.rs:563-650)."""
    brokers: tuple = ()
    topics: tuple = ()
    avro_schema_json: Optional[str] = None
    options: Dict[str, str] = field(default_factory=dict)

    def stream_options(self) -> Dict[str, str]:
        """The exact option dict handed to ``readStream.format("kafka")``
        — pure and testable without the connector jar on the classpath
        (the JVM branch's construction is contract-tested even though
        the container can't execute it; reference source.rs:563-650)."""
        opts = {"kafka.bootstrap.servers": ",".join(self.brokers),
                "subscribe": ",".join(self.topics)}
        opts.update(self.options)
        return opts

    def read_stream(self, spark: SparkSession) -> DataFrame:
        reader = (spark.readStream.format("kafka")
                  .options(**self.stream_options()))
        df = reader.load()
        if self.avro_schema_json:
            # JVM from_avro when spark-avro is on the classpath, else the
            # Arrow-batched pure-Python fallback (compile_schema's codec).
            from .streaming.avro import decode_avro_payload
            df = decode_avro_payload(df, self.avro_schema_json,
                                     keep_cols=("timestamp",))
        return df

    def read(self, spark: SparkSession) -> DataFrame:
        raise RuntimeError("KafkaSource is streaming-only; use read_stream()")


@dataclass(frozen=True)
class ObservationSettings:
    """The driving table of a feature join (reference observation.rs:6-9,
    50-97): path/DataFrame + event-timestamp column and format."""
    observation_path: Optional[str] = None
    timestamp_column: Optional[str] = None
    timestamp_format: Optional[str] = None
    format: Optional[str] = None

    def load(self, spark: SparkSession) -> DataFrame:
        assert self.observation_path is not None
        src = HdfsSource(name="__observation__", path=self.observation_path,
                         format=self.format)
        return src.read(spark)

    def with_event_ts(self, df: DataFrame) -> DataFrame:
        if self.timestamp_column is None:
            return df
        return df.withColumn(
            EVENT_TS_COL,
            F.expr(timestamp_col_expr(self.timestamp_column, self.timestamp_format)),
        )
