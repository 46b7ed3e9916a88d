"""Index config interfaces (reference: index/Index.scala:22-168,
IndexConfigTrait.scala:46-59), and the shared lifecycle steps every
index kind's incremental refresh and optimize go through: reading the
appended source files like the build did, and carrying retained index
files into a new version."""

from __future__ import annotations

import json
import os
from dataclasses import dataclass
from typing import TYPE_CHECKING

if TYPE_CHECKING:
    from pyspark.sql import DataFrame, SparkSession

    from hyperspace_spark.config import HyperspaceConf
    from hyperspace_spark.metadata.entry import FileInfo, IndexLogEntry, Relation


@dataclass
class IndexConfig:
    name: str

    @property
    def kind(self) -> str:
        raise NotImplementedError

    def referenced_columns(self) -> list[str]:
        raise NotImplementedError


class FallBackToFull(Exception):
    """Raised by a kind's incremental refresh when a full rebuild is the
    honest cost (drift past its bound, deletes without lineage)."""


def _relation_reader(spark, rel: "Relation", with_base_path: bool = False):
    """DataFrameReader configured exactly like the relation's build scan:
    stored schema + reader options (minus path).  Shared by the build
    source, incremental refresh and the hybrid search APIs — without the
    options, an appended CSV with header=true would be parsed with
    defaults, header rows becoming index data.  ``with_base_path`` adds
    basePath for partitioned sources when loading an explicit file
    subset (keeps partition columns resolvable)."""
    from pyspark.sql.types import StructType

    reader = spark.read.format(rel.file_format)
    if rel.data_schema_json:
        reader = reader.schema(StructType.fromJson(json.loads(rel.data_schema_json)))
    if rel.options:
        reader = reader.options(**{k: v for k, v in rel.options.items() if k != "path"})
    if with_base_path and rel.partition_columns:
        reader = reader.option("basePath", rel.root_paths[0])
    return reader


def _carry_index_files(fs, entry, data_dir: str, skip_subdirs=(), skip_files=()) -> None:
    """Hardlink every current index content file into a new version
    dir, preserving subpaths (cluster=N partitions and flat bucketed
    layouts alike): the O(1)-per-file carry of incremental refresh and
    quick optimize.  ``skip_subdirs`` drops files under the named
    first-level subpaths (e.g. re-clustered ``cluster=3`` partitions
    whose rows were rewritten elsewhere); ``skip_files`` drops individual
    files by absolute old path (files rewritten elsewhere)."""
    old_base = entry.index_data_dirs[-1].rstrip("/")
    skip = tuple(s.rstrip("/") + "/" for s in skip_subdirs)
    skip_f = {os.path.normpath(p) for p in skip_files}
    for f in entry.content_files:
        rel_path = (
            f.path[len(old_base) + 1 :]
            if f.path.startswith(old_base + "/")
            else f.path.rsplit("/", 1)[-1]
        )
        if skip and rel_path.startswith(skip):
            continue
        if skip_f and os.path.normpath(f.path) in skip_f:
            continue
        fs.link_or_copy(f.path, os.path.join(data_dir, rel_path))


@dataclass
class Refresh:
    """One incremental refresh as its index kind sees it: the source
    delta (``appended`` files already carry ids) and the new version's
    data dir, plus the shared read and carry steps."""

    spark: "SparkSession"
    conf: "HyperspaceConf"
    fs: object
    entry: "IndexLogEntry"
    live: list["FileInfo"]
    appended: list["FileInfo"]
    deleted: list["FileInfo"]
    data_dir: str
    version: int

    @property
    def props(self) -> dict:
        return self.entry.derived_properties

    @property
    def append_ratio(self) -> float:
        """Appended bytes vs the previously indexed corpus (live minus
        appended): how much the data the index was built on grew."""
        app = sum(f.size for f in self.appended)
        return app / max(1, sum(f.size for f in self.live) - app)

    def deleted_ids(self) -> list[int]:
        tracker = self.entry.file_id_tracker
        return [i for i in (tracker.get(f) for f in self.deleted) if i is not None]

    def read_appended(self) -> "DataFrame":
        """The appended files, read like the build scan, narrowed to a
        partial index's predicate and carrying the lineage column when
        the index has them (create-path parity)."""
        rel = self.entry.relations[0]
        df = _relation_reader(self.spark, rel, with_base_path=True).load(
            [f.path for f in self.appended]
        )
        if self.props.get("filterPredicate"):
            df = df.filter(self.props["filterPredicate"])
        if self.props.get("lineage"):
            from hyperspace_spark.indexes.covering import with_lineage

            df = with_lineage(df, self.spark, self.appended, self.entry.file_id_tracker)
        return df

    def carry(self, skip_subdirs=(), skip_files=()) -> None:
        _carry_index_files(self.fs, self.entry, self.data_dir, skip_subdirs, skip_files)
