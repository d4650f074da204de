"""Parquet source table with declared partitions and URI-prefix pruning.

Parity target: reference ParquetTable (parquet_table.py:152-313) and its
partition-pruning algorithm ``_build_uri_from_filters``
(parquet_table.py:333-424, rationale comment :338-365 — shrinking the
object-store List() prefix turned a 12 s read into 1.5 s on ~1M rows).

Spark-first notes:
  - HIVE layout (``k=v/`` dirs) is native: partition discovery + Catalyst
    partition pruning already skip directories. We *still* fold exact-match
    equality filters into the read path prefix, because at 100 TB the win is
    not Catalyst's pruning (free either way) but the driver-side file
    listing: listing ``uri/date=2024-03-24/`` is O(one partition) while
    listing ``uri/`` is O(all partitions). Same rationale as the reference.
  - DIRECTORY layout (bare ``5956/2024-03-24/`` dirs) is invisible to Spark's
    partition discovery. We read with ``recursiveFileLookup`` and reconstruct
    partition columns *distributedly* from the hidden ``_metadata.file_path``
    column (no driver-side listing, no collect) — each row's path is parsed
    with a regexp and cast to the declared partition type.
  - Residual (non-pruned) filters compile to a Catalyst ``Column`` and push
    into the parquet scan (row-group stat skipping) for free.
"""

from __future__ import annotations

from typing import Any, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..core.compile import filters_to_column
from ..core.readconf import apply_parquet_read_compat
from ..core.filters import (
    Filter,
    InputFilters,
    NormalizedFilters,
    exactly_one_equality_filter,
    normalize_filters,
    validate_filters,
)
from .storage import apply_storage_options, get_storage_options
from .metadata import (
    Partition,
    PartitioningScheme,
    TableColumn,
    TableMetadata,
    TablePartition,
    TableSchema,
    TableType,
)


def _active_spark(spark: Optional[SparkSession]) -> SparkSession:
    session = spark or SparkSession.getActiveSession()
    if session is None:
        raise RuntimeError(
            "No SparkSession: pass spark=... or create one first "
            "(datarepo_spark.session.get_spark())."
        )
    return session


class ParquetTable:
    """A lazily-scanned, optionally partitioned parquet table."""

    def __init__(
        self,
        name: str,
        uri: str | Sequence[str],
        partitioning: Sequence[Partition] = (),
        partitioning_scheme: PartitioningScheme = PartitioningScheme.HIVE,
        schema: Optional[T.StructType] = None,
        description: str = "",
        docs_filters: Sequence[Filter] = (),
        docs_columns: Optional[Sequence[str]] = None,
        table_metadata: Optional[TableMetadata] = None,
        parquet_file_name: str = "df.parquet",
        boto3_session: Optional[Any] = None,
        endpoint_url: Optional[str] = None,
        storage_options: Optional[dict[str, str]] = None,
    ) -> None:
        self.name = name
        # A list of URIs = explicit multi-file fetch + union (reference
        # fetch_dfs_by_paths, deltalake_table.py:343-374): Spark reads the
        # file list in parallel natively — one task per split — and
        # normalization handles schema drift across the files.
        if isinstance(uri, str):
            self.uri = uri.rstrip("/")
            self.uris: Optional[list[str]] = None
        else:
            self.uris = [u.rstrip("/") for u in uri]
            self.uri = self.uris[0]
        self.partitioning = list(partitioning)
        self.partitioning_scheme = partitioning_scheme
        self.schema = schema
        self.docs_filters = list(docs_filters)
        self.docs_columns = list(docs_columns) if docs_columns else None
        self.parquet_file_name = parquet_file_name
        # reference parquet_table.py accepts boto3_session/endpoint_url and
        # threads them to pyarrow's S3 filesystem (util.py:103-142); the
        # Spark equivalent is per-bucket fs.s3a.* confs, applied lazily at
        # first read (tables/storage.py).
        self.storage_options = dict(storage_options or {})
        if boto3_session is not None or endpoint_url is not None:
            self.storage_options.update(
                get_storage_options(boto3_session, endpoint_url)
            )
        self.table_metadata = table_metadata or TableMetadata(
            table_type=TableType.PARQUET.value,
            description=description,
            docs_args={"filters": self.docs_filters, "columns": self.docs_columns},
        )

    # -- pruning ---------------------------------------------------------

    def build_uri_from_filters(
        self, filters: NormalizedFilters
    ) -> tuple[str, list[Partition], NormalizedFilters, list[tuple[Partition, Any]]]:
        """Fold leading exact-equality partition filters into the read path.

        Walk declared partitions in order; a partition folds into the prefix
        only when *every* OR-branch constrains it with exactly one ``=``
        filter on the same value (reference rule, util.py:46-61). Stop at the
        first partition that doesn't qualify — later ones can't fold because
        the path is hierarchical. Returns
        ``(pruned_uri, remaining_partitions, residual_filters, applied)``.
        """
        uri = self.uri
        applied: list[tuple[Partition, Any]] = []
        remaining = list(self.partitioning)
        residual = [list(conj) for conj in filters]

        for partition in self.partitioning:
            value = exactly_one_equality_filter(partition.column, residual)
            if value is None:
                break
            if self.partitioning_scheme is PartitioningScheme.HIVE:
                segment = f"{partition.column}={value}"
            else:
                segment = str(value)
            # Trailing slash guards against prefix collisions between e.g.
            # id 595 and id 5956 (reference parquet_table.py:367-374).
            uri = f"{uri}/{segment}"
            applied.append((partition, value))
            remaining.pop(0)
            residual = [
                [f for f in conj if f.column != partition.column]
                for conj in residual
            ]
        # A conjunction emptied by pruning is TRUE; TRUE OR ... is TRUE.
        if any(not conj for conj in residual):
            residual = []
        return uri + "/", remaining, residual, applied

    def build_file_fragment(self, filters: Sequence[Filter]) -> str:
        """Relative path of one representative data file under the filters'
        partition directory — every partition must be pinned by an exact
        equality filter, or this raises. ROAPI uses the fragment to infer
        the table schema from a single file instead of listing the whole
        table (reference parquet_table.py:315-331)."""
        dnf = normalize_filters(list(filters))
        pruned_uri, remaining, _residual, _applied = (
            self.build_uri_from_filters(dnf)
        )
        if remaining:
            missing = [p.column for p in remaining]
            raise ValueError(
                f"Not enough partitions specified, missing: {missing}"
            )
        fragment = pruned_uri[len(self.uri):].strip("/")
        return f"{fragment}/{self.parquet_file_name}" if fragment else (
            self.parquet_file_name
        )

    # -- read ------------------------------------------------------------

    def __call__(
        self,
        filters: InputFilters = None,
        columns: Optional[Sequence[str]] = None,
        spark: Optional[SparkSession] = None,
        boto3_session: Optional[Any] = None,
        endpoint_url: Optional[str] = None,
        storage_options: Optional[dict[str, str]] = None,
        **kwargs: Any,
    ) -> DataFrame:
        """Read the table. Per-call ``boto3_session``/``endpoint_url``/
        ``storage_options`` override the constructor's (reference
        parquet_table.py:247-276 accepts credentials per call — e.g. a
        catalog's global args carrying one session for every table);
        they map to per-bucket ``fs.s3a.*`` confs before the scan.
        Unknown keyword arguments raise instead of being silently
        ignored."""
        if kwargs:
            raise TypeError(
                f"{type(self).__name__}.__call__ got unknown arguments: "
                f"{sorted(kwargs)}"
            )
        session = _active_spark(spark)
        apply_parquet_read_compat(session)
        effective_storage = dict(self.storage_options)
        if storage_options:
            effective_storage.update(storage_options)
        if boto3_session is not None or endpoint_url is not None:
            effective_storage.update(
                get_storage_options(boto3_session, endpoint_url)
            )
        if effective_storage:
            apply_storage_options(session, effective_storage, self.uri)
        dnf = normalize_filters(filters)
        known = self._known_columns()
        if known:
            validate_filters(dnf, known)

        if self.uris is not None:
            # Explicit file list: no path pruning; a declared schema gives
            # missing-column tolerance + declared order, else mergeSchema.
            if self.schema is not None:
                df = session.read.schema(self.schema).parquet(*self.uris)
            else:
                df = session.read.option("mergeSchema", "true").parquet(
                    *self.uris
                )
            predicate = filters_to_column(dnf)
            if predicate is not None:
                df = df.filter(predicate)
            if columns is not None:
                df = df.select(*columns)
            return df

        uri, remaining_parts, residual, applied = self.build_uri_from_filters(dnf)

        if self.partitioning_scheme is PartitioningScheme.HIVE:
            df = self._read_hive(session, uri, applied)
        else:
            df = self._read_directory(session, uri, remaining_parts, applied)

        predicate = filters_to_column(residual)
        if predicate is not None:
            df = df.filter(predicate)
        if columns is not None:
            df = df.select(*columns)
        return df

    def _full_schema_with_partitions(self) -> Optional[T.StructType]:
        """Declared data schema extended with typed partition fields (a
        user-specified read schema must cover partition columns too, or
        Spark drops them from the output)."""
        if self.schema is None:
            return None
        fields = list(self.schema.fields)
        present = {f.name for f in fields}
        for p in self.partitioning:
            if p.column not in present:
                fields.append(T.StructField(p.column, p.col_type))
        return T.StructType(fields)

    def _data_only_schema(self) -> Optional[T.StructType]:
        """Declared schema minus partition fields (DIRECTORY layout stores
        partition values in the path, never in the files)."""
        if self.schema is None:
            return None
        part_names = {p.column for p in self.partitioning}
        return T.StructType(
            [f for f in self.schema.fields if f.name not in part_names]
        )

    def _read_hive(
        self,
        spark: SparkSession,
        uri: str,
        applied: list[tuple[Partition, Any]],
    ) -> DataFrame:
        reader = spark.read
        full_schema = self._full_schema_with_partitions()
        if full_schema is not None:
            reader = reader.schema(full_schema)
        if applied:
            # basePath keeps the pruned-away k=v segments as columns.
            reader = reader.option("basePath", self.uri)
        df = reader.parquet(uri)
        # Enforce declared partition types where the read schema does not
        # already give them (discovery infers int/string). Without a
        # declared schema only the JVM knows which columns the scan has.
        if full_schema is None:
            read_types = dict.fromkeys(df.columns)
        else:
            read_types = {f.name: f.dataType for f in full_schema.fields}
        casts = {
            p.column: F.col(p.column).cast(p.col_type)
            for p in self.partitioning
            if p.column in read_types and read_types[p.column] != p.col_type
        }
        return df.withColumns(casts) if casts else df

    def _read_directory(
        self,
        spark: SparkSession,
        uri: str,
        remaining: list[Partition],
        applied: list[tuple[Partition, Any]],
    ) -> DataFrame:
        reader = spark.read.option("recursiveFileLookup", "true")
        data_schema = self._data_only_schema()
        if data_schema is not None:
            reader = reader.schema(data_schema)
        df = reader.parquet(uri)
        parts: dict[str, Any] = {}
        # Reconstruct un-pruned partition columns from each row's file path —
        # distributed (uses the hidden _metadata column), no driver listing.
        if remaining:
            # Path shape: .../<base>/<p1>/<p2>/.../<file>. Segment i (from the
            # file, counting backwards) = partition len(remaining)-i.
            segments = F.split(F.col("_metadata.file_path"), "/")
            n = F.size(segments)
            for i, partition in enumerate(remaining):
                # element_at is 1-based; file name is the last element.
                idx = n - (len(remaining) - i)
                parts[partition.column] = F.element_at(segments, idx).cast(
                    partition.col_type
                )
        # Re-add pruned partition values as typed literals (reference
        # parquet_table.py:290-303).
        for partition, value in applied:
            parts[partition.column] = F.lit(value).cast(partition.col_type)
        return df.withColumns(parts) if parts else df

    # -- introspection ----------------------------------------------------

    def _known_columns(self) -> Optional[list[str]]:
        if self.schema is None:
            return None
        cols = [f.name for f in self.schema.fields]
        for partition in self.partitioning:
            if partition.column not in cols:
                cols.append(partition.column)
        return cols

    def get_schema(self, spark: Optional[SparkSession] = None) -> TableSchema:
        partitions = [
            TablePartition(
                column_name=p.column, type_annotation=str(p.col_type)
            )
            for p in self.partitioning
        ]
        if self.schema is not None:
            fields = self.schema.fields
        else:
            df = self(filters=self.docs_filters or None, spark=spark)
            fields = df.schema.fields
        part_names = {p.column for p in self.partitioning}
        columns = [
            TableColumn(column=f.name, type=f.dataType.simpleString())
            for f in fields
            if f.name not in part_names
        ]
        return TableSchema(columns=columns, partitions=partitions)
