package graft.core

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation,
  InMemoryFileIndex, PartitionSpec}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader,
  ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** Filesystem ops for the maintenance paths. `Fs` owns the on-disk store
 *  protocol every writer shares: how a store's `key=value` partitions are
 *  listed ([[partitions]]), how expired ones are dropped
 *  ([[dropPartitions]]), how the files a rewrite planned are read
 *  ([[readPlanned]]), and how a rewrite is staged, swapped in and
 *  cleaned up ([[rewritePlanned]]). Everything goes through the Hadoop
 *  FileSystem API so purge and compaction work on HDFS/S3-style stores,
 *  not just local disk. */
object Fs {

  def hadoopConf(): Configuration =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new Configuration())

  /** The data files (non-hidden, non-marker) directly under `dir`, with
   *  their lengths. */
  def dataFileStatuses(conf: Configuration, dir: String): Seq[FileStatus] = {
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_")
        && !s.getPath.getName.startsWith("."))
  }

  /** The data files (non-hidden, non-marker) directly under `dir`. */
  def dataFiles(conf: Configuration, dir: String): Seq[Path] =
    dataFileStatuses(conf, dir).map(_.getPath)

  /** The `key=value` partition dirs directly under `dir`, as (dir, value)
   *  pairs in listing order; empty when `dir` does not exist. */
  def partitions(conf: Configuration, dir: String, key: String): Seq[(Path, String)] = {
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    val prefix = s"$key="
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(prefix))
      .map(s => s.getPath -> s.getPath.getName.stripPrefix(prefix))
  }

  /** Delete the `key=value` partitions of `dir` whose value is `expired`
   *  (a whole-directory drop, no data rewrite). Returns the values of
   *  only the partitions actually deleted: a failed delete stays on disk
   *  and is retried by the next pass. */
  def dropPartitions(conf: Configuration, dir: String, key: String)(
      expired: String => Boolean): Seq[String] = {
    val fs = new Path(dir).getFileSystem(conf)
    partitions(conf, dir, key).filter { case (p, v) => expired(v) && fs.delete(p, true) }
      .map(_._2)
  }

  /** Recursive directory copy (FileUtil.copy semantics: a non-existent
   *  `dst` becomes the copy itself). Harness/test use — production
   *  compaction rewrites in place. */
  def copyDir(conf: Configuration, src: String, dst: String): Unit = {
    val s = new Path(src)
    val d = new Path(dst)
    if (!org.apache.hadoop.fs.FileUtil.copy(
        s.getFileSystem(conf), s, d.getFileSystem(conf), d, false, conf))
      throw new java.io.IOException(s"copy $src -> $dst failed")
  }

  /** Race-safe rewrite swap for a directory other writers may append to
   *  concurrently: move the staged replacement files INTO `liveDir`
   *  (Spark part-file names are task-UUID-unique, so no collisions), then
   *  delete exactly the files the caller planned the rewrite over — never
   *  the whole directory. A file appended between plan time and the swap
   *  is neither deleted nor double-counted (the rewrite read only the
   *  planned files). Crash window: after the move-in, before the deletes,
   *  both copies briefly coexist — readers' (ts, seq) last-write-wins
   *  fold collapses such duplicates, which is the safe failure direction
   *  (a whole-directory replace would lose data instead). */
  def swapInFiles(conf: Configuration, stagingDir: String, liveDir: String,
      plannedOld: Seq[Path]): Unit = {
    moveIn(conf, new Path(stagingDir), new Path(liveDir))
    deleteFiles(conf, plannedOld)
  }

  /** Move the data files directly under `staged` into `live`, creating
   *  `live` if absent. */
  private def moveIn(conf: Configuration, staged: Path, live: Path): Unit = {
    val fs = live.getFileSystem(conf)
    val files = dataFiles(conf, staged.toString)
    if (files.nonEmpty && !fs.exists(live) && !fs.mkdirs(live))
      throw new java.io.IOException(s"mkdirs $live failed")
    files.foreach { f =>
      if (!fs.rename(f, new Path(live, f.getName)))
        throw new java.io.IOException(s"rename $f into $live failed")
    }
  }

  /** Delete `files`. A file someone else already deleted counts as
   *  deleted: only a file that survives a failed delete throws, so two
   *  cleaners racing over the same files never fail each other. */
  def deleteFiles(conf: Configuration, files: Seq[Path]): Unit =
    files.foreach { f =>
      val fs = f.getFileSystem(conf)
      if (!fs.delete(f, false) && fs.exists(f))
        throw new java.io.IOException(s"delete $f failed")
    }

  /** A frame over exactly the `planned` data files, served from the
   *  statuses the caller listed at plan time: the file index is an
   *  `InMemoryFileIndex` over a cache pre-filled with those statuses, so
   *  no listing job starts, however many files there are (a
   *  `spark.read.parquet` of more than 32 paths re-lists them in a
   *  parallel job). With `basePath`, the `key=value` partition columns
   *  under it come back; without, only the files' data columns. A
   *  declared `schema` types the columns (partition columns included)
   *  and starts no inference job; otherwise the data schema is read from
   *  the first planned file's footer on the driver. Files a concurrent
   *  writer adds after planning are never read. */
  def readPlanned(spark: SparkSession, planned: Seq[FileStatus],
      basePath: Option[String] = None, schema: Option[StructType] = None): DataFrame = {
    require(planned.nonEmpty, "readPlanned needs at least one planned file")
    val byDir = planned.groupBy(_.getPath.getParent).view.mapValues(_.toArray).toMap
    val listed = new FileStatusCache {
      override def getLeafFiles(path: Path): Option[Array[FileStatus]] = byDir.get(path)
      def putLeafFiles(path: Path, leafFiles: Array[FileStatus]): Unit = ()
      def invalidateAll(): Unit = ()
    }
    val options = basePath.map("basePath" -> _).toMap
    val index = new InMemoryFileIndex(spark, byDir.keys.toSeq, options, schema, listed,
      if (basePath.isEmpty) Some(PartitionSpec(new StructType(), Nil)) else None)
    val partitionSchema = StructType(index.partitionSchema.map(p =>
      schema.flatMap(_.find(_.name == p.name)).getOrElse(p)))
    val dataSchema = schema.getOrElse {
      val conf = spark.sessionState.newHadoopConf()
      val head = planned.head
      val footer = ParquetFooterReader.readFooter(
        HadoopInputFile.fromStatus(head, conf), ParquetMetadataConverter.NO_FILTER)
      ParquetFileFormat.readSchemaFromFooter(new Footer(head.getPath, footer),
        new ParquetToSparkSchemaConverter(spark.sessionState.conf))
    }
    // every data column reads as nullable, as in a `spark.read` relation
    val dataOnly = nullable(StructType(
      dataSchema.filterNot(f => partitionSchema.fieldNames.contains(f.name))))
    spark.baseRelationToDataFrame(HadoopFsRelation(index, partitionSchema,
      dataOnly.asInstanceOf[StructType], None, new ParquetFileFormat, options)(spark))
  }

  private def nullable(t: DataType): DataType = t match {
    case s: StructType =>
      StructType(s.map(f => f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType), valueContainsNull = true)
    case other => other
  }

  /** Rewrite exactly the `planned` data files of the store at `root`,
   *  race-safe against concurrent appends:
   *   1. read the planned files through [[readPlanned]] (`basePath =
   *      root`, so partition columns come back; `schema` as there);
   *   2. `write(frame, staging)` writes the replacement — same layout as
   *      `root` — into the hidden staging dir `<parent>/.<name>_compact_tmp`;
   *   3. EVERY staged file is moved into the same relative dir under
   *      `root` (a staged partition the plan never touched is created);
   *   4. only then are the planned files deleted — nothing else, so a
   *      batch appended between plan and swap keeps its rows exactly once;
   *   5. the staging dir is deleted, whether or not 2–4 succeeded.
   *  Steps 3 and 4 are ordered across the whole store, not per partition:
   *  a reader that lists the store while the planned files are going
   *  away has already been able to see every replacement. The LWW
   *  stores' reads collapse the duplicates of the window between 3 and
   *  4; the count stores ([[graft.streaming.StoreCompaction]]) rely on
   *  the order itself.
   *  A planned file sits directly under `root` (an unpartitioned store)
   *  or under one of its partition dirs. No-op when nothing is planned. */
  def rewritePlanned(spark: SparkSession, root: String, planned: Seq[FileStatus],
      schema: Option[StructType])(write: (DataFrame, String) => Unit): Unit = {
    if (planned.isEmpty) return
    val conf = spark.sessionState.newHadoopConf()
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(conf)
    val qualifiedRoot = fs.makeQualified(rootPath).toString
    planned.foreach { f =>
      require(fs.makeQualified(f.getPath.getParent).toString.startsWith(qualifiedRoot),
        s"planned file ${f.getPath} is not under $root")
    }
    val staging = new Path(rootPath.getParent, s".${rootPath.getName}_compact_tmp")
    val frame = readPlanned(spark, planned, Some(root), schema)
    try {
      fs.delete(staging, true) // what a crashed rewrite left staged is never moved in
      write(frame, staging.toString)
      stagedDirs(fs, staging, "").foreach { rel =>
        moveIn(conf, new Path(s"$staging$rel"), new Path(s"$rootPath$rel"))
      }
      deleteFiles(conf, planned.map(_.getPath))
    } finally {
      fs.delete(staging, true): Unit
    }
  }

  /** `dir` and its non-hidden subdirectories, as paths relative to the
   *  staging root (`rel`, "" for the root itself). */
  private def stagedDirs(fs: org.apache.hadoop.fs.FileSystem, dir: Path, rel: String): Seq[String] =
    if (!fs.exists(dir)) Nil
    else rel +: fs.listStatus(dir).toSeq
      .filter(s => s.isDirectory && !s.getPath.getName.startsWith("_")
        && !s.getPath.getName.startsWith("."))
      .flatMap(s => stagedDirs(fs, s.getPath, s"$rel/${s.getPath.getName}"))
}
