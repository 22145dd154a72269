"""Parquet relations over file statuses taken from the Delta log.

The log records each data file's path, size and modification time, so a
reader never lists the store (the Delta paper's design; the reference
Hive connector plans its splits from the AddFiles,
``DeltaHelper.listDeltaFiles``). ``spark.read.parquet(*paths)`` cannot be
told this: it stats every path, and past
``spark.sql.sources.parallelPartitionDiscovery.threshold`` (32) paths it
runs a listing job with one task per file.

:func:`parquet_relation` builds the relation ``DataFrameReader.load``
would build, ``HadoopFsRelation`` over an ``InMemoryFileIndex`` with
``ParquetFileFormat``, but hands the index its leaf ``FileStatus``es
through a ``FileStatusCache`` client of its own: one entry per parent
directory, the index's root paths. The index finds every root in the
cache and lists nothing; the cache is emptied once the index holds the
statuses, so no JVM cache keeps them. Spark refreshes a file index only
under a cached relation whose root path is refreshed (``refreshByPath``)
or lies under a path Spark writes to; the engine stages its writes in a
directory under the table root, never above a root. A refresh would
list the directories, files outside the snapshot included.

Spark counts two such relations equal when their root paths, schemas
and options are equal (``InMemoryFileIndex`` compares root paths only),
and then serves one from the other's cached data or shuffle. Two reads
of one directory over different files (two versions, or one before and
one after an append) share their roots, so each relation carries the
digest of its file set as an option (``_FILE_SET_OPTION``, which Parquet
ignores): relations over different files are never equal.

Each status is built over py4j: a ``Path``, a ``FileStatus`` and an
array slot per file, so a read makes about 30 JVM calls plus three per
file and four per directory.
"""

from __future__ import annotations

import hashlib
from typing import Dict, Optional, Sequence, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

_DATASOURCES = "org.apache.spark.sql.execution.datasources."
_FILE_SET_OPTION = "connectors_spark.fileSet"


def parquet_relation(spark: SparkSession,
                     files: Sequence[Tuple[str, Optional[int], int]],
                     data_schema: T.StructType,
                     partition_schema: Optional[T.StructType] = None,
                     base_path: Optional[str] = None) -> DataFrame:
    """The Parquet relation over ``files``: ``(physical path, size,
    modification ms)``; a path listed twice is read once. ``data_schema``
    is read from the files. With ``base_path``, Spark's partition discovery
    reads the columns of ``partition_schema`` from the directory names
    under it, typed by that schema.

    Each path is qualified as ``spark.read`` qualifies it: an absolute
    path takes the default file system's scheme and authority, a path
    with its own (under a table root that has one) is kept. A file with
    no size (such as a RemoveFile without ``extendedFileMetadata``) is
    stat'ed, one ``getFileStatus`` each; Spark lists nothing."""
    from py4j.java_gateway import JavaClass
    client = spark.sparkContext._gateway._gateway_client
    jspark = spark._jsparkSession

    def jclass(name):
        # built from the name: no JVM lookup per package segment
        return JavaClass(name, client)

    Path = jclass("org.apache.hadoop.fs.Path")
    conf = jspark.sessionState().newHadoopConf()
    root = Path("/")
    prefix = root.getFileSystem(conf).makeQualified(root).toString()
    prefix = prefix.rstrip("/")
    by_dir: Dict[str, Dict[str, Tuple[Optional[int], int]]] = {}
    for path, size, mtime in files:
        q = prefix + path if path.startswith("/") else path
        by_dir.setdefault(q.rpartition("/")[0], {})[q] = (size, mtime)

    FileStatus = jclass("org.apache.hadoop.fs.FileStatus")
    new_array = spark.sparkContext._gateway.new_array
    # no size bound and no expiry: an evicted directory would be listed
    cache = jclass(_DATASOURCES + "SharedInMemoryCache")(
        (1 << 63) - 1, -1).createForNewClient()
    roots = []
    # one call a slot: py4j's own item assignment also asks the length
    set_slot = jclass("java.lang.reflect.Array").set
    for d, statuses in by_dir.items():
        leaves = new_array(FileStatus, len(statuses))
        for i, (q, (size, mtime)) in enumerate(statuses.items()):
            p = Path(q)
            set_slot(leaves, i, FileStatus(size, False, 0, 0, mtime, p)
                     if size else p.getFileSystem(conf).getFileStatus(p))
        roots.append(Path(d))
        cache.putLeafFiles(roots[-1], leaves)
    digest = hashlib.sha1("\n".join(sorted(
        q for statuses in by_dir.values() for q in statuses)).encode())
    utils = spark._jvm.PythonUtils
    options = {_FILE_SET_OPTION: digest.hexdigest()}
    if base_path:
        options["basePath"] = base_path
    options = utils.toScalaMap(options)
    none = getattr(jclass("scala.None$"), "MODULE$")
    # as DataSource does: a file may hold a null in a NOT NULL column
    jdata = jspark.parseDataType(data_schema.json()).asNullable()
    index = jclass(_DATASOURCES + "InMemoryFileIndex")(
        jspark, utils.toSeq(roots), options,
        jclass("scala.Some")(jspark.parseDataType(partition_schema.json()))
        if base_path else none, cache, none, none)
    cache.invalidateAll()
    # the partition columns the index discovered, as DataSource takes them
    relation = jclass(_DATASOURCES + "HadoopFsRelation")(
        index, index.partitionSchema(), jdata, none,
        jclass(_DATASOURCES + "parquet.ParquetFileFormat")(), options,
        jspark)
    return DataFrame(jspark.baseRelationToDataFrame(relation), spark)
