package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, LocatedFileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{FileStatusCache,
  HadoopFsRelation, InMemoryFileIndex, PartitionSpec}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** Driver-side access to a parquet directory that is never modified
  * in place (a GraphStore version, a compaction source): listing,
  * schema and scan, with no Spark job.
  *
  * `spark.read.parquet` pays per job, not per byte: above 32 leaf
  * paths (`spark.sql.sources.parallelPartitionDiscovery.threshold`)
  * it lists the directory with a distributed job, and it infers the
  * schema with another. [[open]] lists with `listStatus` on the
  * driver, reads the schema from ONE data file's footer (Spark
  * writes its schema there) and hands both to the same
  * `InMemoryFileIndex` / `HadoopFsRelation` scan `spark.read.parquet`
  * builds, so the executed plan is unchanged.
  */
object ParquetDir {

  /** Spark's hidden-path rule, what its own listing skips: `_` and
    * `.` prefixes (markers, checksums, temp files) unless the name
    * is a partition directory (`_c=1`), and in-flight copies. */
  def hidden(name: String): Boolean =
    (name.startsWith("_") && !name.contains("=")) ||
      name.startsWith(".") || name.endsWith("._COPYING_")

  /** Every visible file under `dir`, in path order, one `listStatus`
    * per directory. Not `listFiles(dir, true)`: its LocatedFileStatus
    * loads each file's permissions, which on the local filesystem
    * without native Hadoop forks a process per file. */
  def leafFiles(fs: FileSystem, dir: Path): Seq[FileStatus] =
    fs.listStatus(dir).toSeq.filterNot(s => hidden(s.getPath.getName))
      .sortBy(_.getPath.getName).flatMap { s =>
        if (s.isDirectory) leafFiles(fs, s.getPath) else Seq(s)
      }

  /** Written by [[keepSchemaIfEmpty]]: a partitioned write of an empty
    * frame leaves no data file, so no footer carries its schema. */
  private val SchemaFile = "_schema"

  /** Open `dir` as a DataFrame equal to `spark.read.parquet(dir)`:
    * same columns, order, types and rows. Costs one listing and one
    * footer read; starts no Spark job. The listing is final — the
    * directory is assumed immutable. A directory with no data file
    * opens as an empty frame with the schema [[keepSchemaIfEmpty]]
    * recorded. */
  def open(spark: SparkSession, dir: String): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    val raw = new Path(dir)
    val fs = raw.getFileSystem(conf)
    val root = fs.makeQualified(raw)
    // block locations as Spark's own listing attaches them (without
    // touching permissions), so scan tasks keep their locality
    val files: Array[FileStatus] = leafFiles(fs, root).map { f =>
      new LocatedFileStatus(f.getLen, false, f.getReplication,
        f.getBlockSize, f.getModificationTime, 0L, null, null, null, null,
        f.getPath, false, false, false,
        fs.getFileBlockLocations(f, 0, f.getLen))
    }.toArray
    val listed = new FileStatusCache {
      override def getLeafFiles(p: Path): Option[Array[FileStatus]] =
        if (p == root) Some(files) else None
      override def putLeafFiles(p: Path, f: Array[FileStatus]): Unit = ()
      override def invalidateAll(): Unit = ()
    }
    val (dataSchema, partitions) = files.headOption match {
      case Some(f) => (nullable(footerSchema(f, conf)), None)
      case None =>
        val (data, part) = recordedSchema(fs, root)
        (data, Some(PartitionSpec(part, Nil)))
    }
    val index = new InMemoryFileIndex(spark, Seq(root), Map.empty, None,
      listed, partitions, None)
    spark.baseRelationToDataFrame(HadoopFsRelation(index,
      index.partitionSchema, dataSchema, None, new ParquetFileFormat,
      Map.empty)(spark))
  }

  /** Call after a `partitionBy(partCols)` write of `schema` to `dir`:
    * when the write left no data file, record the schema so [[open]]
    * still resolves it (data columns, then partition columns — the
    * order a read returns them in). One `listStatus`. */
  def keepSchemaIfEmpty(spark: SparkSession, dir: String,
      schema: StructType, partCols: Seq[String]): Unit = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.listStatus(p).forall(s => hidden(s.getPath.getName))) {
      val data = StructType(schema.filterNot(f => partCols.contains(f.name)))
      val part = StructType(partCols.map(schema(_)))
      val out = fs.create(new Path(p, SchemaFile), true)
      try out.write(Seq(data, part).map(s => nullable(s).json)
        .mkString("\n").getBytes("UTF-8"))
      finally out.close()
    }
  }

  private def recordedSchema(fs: FileSystem, root: Path)
      : (StructType, StructType) = {
    val p = new Path(root, SchemaFile)
    require(fs.exists(p),
      s"$root holds no data file and no $SchemaFile record; its schema is unknown")
    val in = fs.open(p)
    val lines = try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .map(DataType.fromJson(_).asInstanceOf[StructType]).toList
    finally in.close()
    (lines(0), lines(1))
  }

  /** The schema Spark's inference reads from a file: its own schema
    * string in the footer, else the parquet schema converted under
    * the session's settings. */
  private def footerSchema(f: FileStatus,
      conf: org.apache.hadoop.conf.Configuration): StructType = {
    val meta = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(f, conf),
      ParquetMetadataConverter.SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, meta),
      new ParquetToSparkSchemaConverter(SQLConf.get))
  }

  /** A file source's data schema is read as nullable throughout,
    * whatever the writer declared (Spark's `asNullable`, which is
    * package-private). */
  private def nullable(s: StructType): StructType =
    StructType(s.map(f => f.copy(dataType = nullable(f.dataType),
      nullable = true)))

  private def nullable(t: DataType): DataType = t match {
    case s: StructType => nullable(s)
    case a: ArrayType => ArrayType(nullable(a.elementType), true)
    case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType), true)
    case other => other
  }
}
